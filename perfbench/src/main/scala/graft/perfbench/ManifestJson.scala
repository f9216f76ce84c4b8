package graft.perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.iceberg.ManifestWriter

/** Checks a `manifest2json` dump against the manifest it came from. */
object ManifestJson {
  private val mapper = new ObjectMapper()

  def records(json: String): Seq[JsonNode] =
    mapper.readTree(json).elements().asScala.toSeq

  /** One record per manifest entry, and for one seeded live data file the
    * decoded l_orderkey bounds equal that file's actual min and max, as
    * `orderkeys` gives them. */
  def check(records: Seq[JsonNode], entries: Seq[ManifestWriter.EntryData],
      rnd: SplittableRandom, orderkeys: String => (Long, Long)): Option[String] =
    if (records.size != entries.size) Some(s"${records.size} records for ${entries.size} entries")
    else {
      val live = entries.filter(e => e.status != 2 && e.content == 0)
      if (live.isEmpty) None
      else {
        val e = live(rnd.nextInt(live.size))
        records.find(r => r.path("data_file").path("file_path").asText() == e.filePath) match {
          case None => Some(s"no record for ${e.filePath}")
          case Some(r) =>
            val lo = bound(r, "lower_bounds", 1)
            val hi = bound(r, "upper_bounds", 1)
            val (min, max) = orderkeys(e.filePath)
            if (lo.contains(min.toString) && hi.contains(max.toString)) None
            else Some(s"bounds $lo..$hi for ${e.filePath}, file holds $min..$max")
        }
      }
    }

  private val Rendered = "value:(.*);type:.*".r

  /** The decoded bound of field `id` in a record's `data_file.<name>`,
    * which the tool renders as `"<id>": "value:<v>;type:<t>"`. */
  def bound(r: JsonNode, name: String, id: Int): Option[String] =
    Option(r.path("data_file").path(name).get(id.toString)).map(_.asText()).collect {
      case Rendered(v) => v
    }
}

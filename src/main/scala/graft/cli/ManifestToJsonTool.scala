package graft.cli

import java.io.{InputStream, PrintStream}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

import graft.functions.BoundDecode
import graft.iceberg.{HadoopConfs, ManifestReader, TableMetadata}

/** `manifest2json`: decode an Iceberg manifest Avro file to JSON with typed
  * bound statistics — the reference's one registered tool
  * (/root/reference/src/main/java/dev/liliwei/iceberg/tool/ManifestFileReadTool.java:89-161).
  *
  * Option semantics preserved: `--pretty`, `--head[=X]` (bare `--head`
  * defaults to 10, ManifestFileReadTool.java:52; negative rejected, :67-69),
  * `--reader-schema <json>`, `--reader-schema-file <path>`.
  *
  * Documented deviations (SURVEY.md §7 "output parity decisions"):
  *   - always-valid JSON — the reference emits a trailing comma when
  *     `--head` stops mid-file (bug, ManifestFileReadTool.java:149-153);
  *   - nullable values are printed plainly, not as Avro `{"long": v}` union
  *     wrappers (IcebergEncoder.java:293-303).
  */
class ManifestToJsonTool extends Tool {
  val name = "manifest2json"
  val shortDescription =
    "Dumps an Iceberg manifest Avro file as JSON, one record per line, with decoded bound statistics"

  private val mapper = new ObjectMapper()

  override def run(spark: SparkSession, in: InputStream, out: PrintStream,
      err: PrintStream, args: Seq[String]): Int =
    try runChecked(spark, in, out, err, args)
    catch {
      // graceful failure on bad inputs (missing/corrupt files): message +
      // rc=1, never a stack trace on the user's console
      case e: Exception =>
        err.println(s"manifest2json: ${e.getMessage}")
        1
    }

  private def runChecked(spark: SparkSession, in: InputStream, out: PrintStream,
      err: PrintStream, args: Seq[String]): Int = {
    var pretty = false
    var head = Long.MaxValue
    var readerSchema: Option[String] = None
    val positional = scala.collection.mutable.Buffer[String]()

    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--pretty" => pretty = true
        case h if h == "--head" || h.startsWith("--head=") =>
          val inlined = if (h.startsWith("--head=")) Some(h.drop("--head=".length)) else None
          // Bare --head: an optional count may follow positionally; if the
          // next token is non-numeric it falls back to a positional arg
          // (reference head-count semantics, ManifestFileReadTool.java:54-76).
          val next = inlined.orElse(
            args.lift(i + 1).filter(_.matches("-?\\d+")).map { v => i += 1; v })
          head = next.map(_.toLong).getOrElse(10L)
          if (head < 0) { err.println(s"Invalid head count: $head"); return 1 }
        case "--reader-schema" =>
          i += 1; readerSchema = args.lift(i)
        case "--reader-schema-file" =>
          i += 1
          readerSchema = args.lift(i).map(p =>
            new String(HadoopConfs.readFully(p), java.nio.charset.StandardCharsets.UTF_8))
        case other => positional += other
      }
      i += 1
    }

    if (positional.size < 2) {
      err.println("Usage: manifest2json [--pretty] [--head[=X]] [--reader-schema[-file] S] <manifest.avro> <metadata.json>")
      return 1
    }
    val Seq(manifestArg, metadataPath) = positional.take(2).toSeq

    // "-" reads the manifest from stdin (parity with Util.fileOrStdin,
    // /root/reference/src/main/java/dev/liliwei/iceberg/tool/Util.java:41-44).
    // stdin has no distributed analog: spool to a temp file the tasks read.
    val manifestPath =
      if (manifestArg == "-") {
        val tmp = Files.createTempFile("graft-manifest-", ".avro")
        Files.copy(in, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp.toFile.deleteOnExit()
        tmp.toString
      } else manifestArg

    val meta = TableMetadata.parseFile(metadataPath)
    val entries = ManifestReader.entriesHead(spark,
      Seq(manifestPath), head)
    val withSchema = readerSchema match {
      case Some(rs) => ManifestReader.entries(spark, Seq(manifestPath), Some(rs))
        .limit(if (head == Long.MaxValue) Int.MaxValue else head.toInt)
      case None => entries
    }
    val decoded = BoundDecode.withDecodedBounds(withSchema, meta.fieldTypes)

    // toJSON keeps the engine distributed up to the final driver collect —
    // the same boundary the reference's stdout sink forces (SURVEY.md §3 EP1).
    val jsons = decoded.toJSON.collect()
    out.println("[")
    jsons.zipWithIndex.foreach { case (j, idx) =>
      val rendered =
        if (pretty) mapper.writerWithDefaultPrettyPrinter().writeValueAsString(mapper.readTree(j))
        else j
      out.print(rendered)
      out.println(if (idx < jsons.length - 1) "," else "")
    }
    out.println("]")
    out.flush()
    0
  }
}

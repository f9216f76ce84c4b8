package graft.cli

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec
import graft.iceberg._

/** `manifest2json` takes `file:` URIs for all three of its path
  * arguments: the manifest, the metadata document and
  * `--reader-schema-file`. */
class ManifestToJsonUriSpec extends SparkSpec {

  test("--reader-schema-file, manifest and metadata given as file: URIs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-m2j").toString + "/t"
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000a2j01", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, (0L until 10L).toDF("k"))
    val metadata = GraftTable.latestMetadataPath(dir)
    val manifest = ManifestListReader.read(
      TableMetadata.parseFile(metadata).currentSnapshot.get.manifestList.get).head.path
    // the writer schema less snapshot_id: a projection the output shows
    val mapper = new ObjectMapper()
    val readerSchema = mapper.readTree(ManifestReader.avroSchema(manifest).toString)
    val fields = readerSchema.get("fields")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    fields.remove((0 until fields.size()).find(i =>
      fields.get(i).get("name").asText == "snapshot_id").get)
    val schemaFile = java.nio.file.Files.createTempFile("graft-m2j-schema", ".json")
    java.nio.file.Files.writeString(schemaFile, readerSchema.toString)
    val out = new java.io.ByteArrayOutputStream()
    val err = new java.io.ByteArrayOutputStream()
    val rc = new ManifestToJsonTool().run(spark, System.in,
      new java.io.PrintStream(out, true, "UTF-8"), new java.io.PrintStream(err, true, "UTF-8"),
      Seq("--reader-schema-file", s"file:$schemaFile", s"file:$manifest", s"file://$metadata"))
    assert(rc == 0, err.toString("UTF-8"))
    val tree = mapper.readTree(out.toString("UTF-8"))
    import scala.jdk.CollectionConverters._
    val entries = tree.elements().asScala.toSeq
    assert(entries.nonEmpty && entries.forall(e =>
      !e.has("snapshot_id") && e.get("status").asInt() == 1), tree)
    assert(entries.map(_.get("data_file").get("record_count").asLong()).sum == 10L, tree)
  }
}

package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg._

/** Pins st11's ingest-commit contract across the multi-batch and replay
  * cases the single-file AvailableNow drive cannot exercise. */
class TableIngestSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def freshTable(subdir: String = ""): String = {
    val out = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      java.nio.file.Files.createTempDirectory("graft-ingest-spec").toString, subdir)).toString
    MetadataWriter.write(s"$out/v1.metadata.json", TableMetadata(
      2, "spec-uuid", out, T0, None, Some(0),
      Seq(IcebergSchema(0, Seq(
        IcebergField(1, "event_id", required = false, "long"),
        IcebergField(2, "event_type", required = false, "string"),
        IcebergField(3, "value", required = false, "double")))),
      Seq(PartitionSpec(0, Nil)), 0, Seq(SortOrder(0, Nil)), 0,
      Map.empty, None, Nil, Nil, Nil, Nil))
    out
  }

  test("two batches commit two chained snapshots; each list covers all manifests") {
    import spark.implicits._
    val out = freshTable()
    val b0 = Seq((1L, "view", 1.5), (2L, "purchase", 2.5)).toDF("event_id", "event_type", "value")
    val b1 = Seq((3L, "view", 0.5)).toDF("event_id", "event_type", "value")
    val v2 = EventStreams.ingestBatch(spark, out, b0, 0L, 1)
    val v3 = EventStreams.ingestBatch(spark, out, b1, 1L, v2)
    assert((v2, v3) === (2, 3))
    val meta = TableMetadata.parseFile(s"$out/v3.metadata.json")
    assert(meta.snapshots.map(_.snapshotId) === Seq(1L, 2L))
    assert(meta.currentSnapshotId === Some(2L))
    assert(meta.snapshot(2L).get.parentSnapshotId === Some(1L), "parent chain must link")
    // the CURRENT list must cover both batches' manifests
    val manifests = MetadataTables.manifests(spark, meta.currentSnapshot.get.manifestList.get)
      .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
    assert(manifests.size === 2)
    val entries = ManifestReader.entries(spark, manifests)
      .select(col("data_file.record_count")).collect().map(_.getLong(0))
    assert(entries.sorted.toSeq === Seq(1L, 2L), "derived record counts per batch file")
    // and the scanned table equals the union of the batches
    val paths = ManifestReader.entries(spark, manifests)
      .select(col("data_file.file_path")).collect().map(_.getString(0)).toIndexedSeq
    assert(spark.read.parquet(paths: _*).count() === 3)
  }

  test("a replayed batch id does not commit a duplicate snapshot (exactly-once)") {
    import spark.implicits._
    val out = freshTable()
    val b0 = Seq((1L, "view", 1.5)).toDF("event_id", "event_type", "value")
    val v2 = EventStreams.ingestBatch(spark, out, b0, 0L, 1)
    val v2again = EventStreams.ingestBatch(spark, out, b0, 0L, v2) // replay
    assert(v2again === v2, "replay must not advance the metadata version")
    val meta = TableMetadata.parseFile(s"$out/v$v2.metadata.json")
    assert(meta.snapshots.size === 1, "replay must not append a snapshot")
    // the data file is re-landed idempotently, never duplicated
    val paths = MetadataTables.manifests(spark, meta.currentSnapshot.get.manifestList.get)
      .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
    val files = ManifestReader.entries(spark, paths)
      .select(col("data_file.file_path")).collect().map(_.getString(0))
    assert(files.length === 1)
    assert(spark.read.parquet(files.head).count() === 1)
  }

  test("a table directory whose name holds '%' and a space ingests") {
    import spark.implicits._
    val out = freshTable("a b%c")
    val b0 = Seq((1L, "view", 1.5), (2L, "purchase", 2.5)).toDF("event_id", "event_type", "value")
    assert(EventStreams.ingestBatch(spark, out, b0, 0L, 1) === 2)
    val read = GraftTable.read(spark, s"$out/v2.metadata.json")
    assert(read.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }
}

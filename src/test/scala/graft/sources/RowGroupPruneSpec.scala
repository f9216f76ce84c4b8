package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg._

/** Level-3 pruning: the footer the row-group SPLIT pass already reads
  * carries per-group column statistics — groups the pushed filters
  * provably exclude are never emitted as partitions. On a sorted 100 TB
  * table this turns "scan the whole file the key landed in" into "scan
  * one row group". Position deletes stay file-absolute across the
  * skipped groups (rowStart counts them). */
class RowGroupPruneSpec extends SparkSpec {

  test("pushed point and range filters skip whole row groups by footer stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rgprune").toString
    val tmp = s"$dir/tmpdir"
    spark.range(0, 20000).orderBy(col("id")).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write
      .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
      .mode("overwrite").parquet(tmp)
    val fs = HadoopConfs.fileSystemFor(dir)
    val partFile = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet")).get
    val f = s"$dir/data/d.parquet"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data"))
    fs.rename(partFile, new org.apache.hadoop.fs.Path(f))
    // a position delete in a LATE row group: pruning must not shift pos
    val delF = s"$dir/data/del.parquet"
    import spark.implicits._
    ParquetFiles.writeOne(Seq((f, 15000L)).toDF("file_path", "pos"), delF)
    val mData = s"$dir/m-data.avro"
    ManifestWriter.write(mData, Seq(ManifestWriter.EntryData(
      1, 1L, f, 20000L, HadoopConfs.length(f),
      Map.empty, Map.empty, content = 0, sequenceNumber = Some(1L))))
    val mDel = s"$dir/m-del.avro"
    ManifestWriter.write(mDel, Seq(ManifestWriter.EntryData(
      1, 2L, delF, 1L, HadoopConfs.length(delF),
      Map.empty, Map.empty, content = 1, sequenceNumber = Some(2L))))
    val list = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list, Seq(mData, mDel), 1L, contents = Map(mDel -> 1))
    val schema = IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, "long"),
      IcebergField(2, "v", required = false, "long")))
    val meta = TableMetadata(
      formatVersion = 2, tableUuid = "b6b9a6a1-0000-4000-8000-0000000000rp",
      location = dir, lastUpdatedMs = 1700000000000L, topLevelSchema = None,
      currentSchemaId = Some(0), schemas = Seq(schema),
      partitionSpecs = Seq(PartitionSpec(0, Nil)), defaultSpecId = 0,
      sortOrders = Seq(SortOrder(0, Nil)), defaultSortOrderId = 0,
      properties = Map.empty, currentSnapshotId = None, refs = Nil,
      snapshots = Nil, snapshotLog = Nil, metadataLog = Nil)
    val v1 = s"$dir/v1.metadata.json"
    MetadataWriter.write(v1, MetadataWriter.commitSnapshot(meta,
      Snapshot(1L, None, 1700000001000L, Some("append"), Map.empty,
        Some(list), Some(0)), None))
    def scan() = spark.read.format("graft-table")
      .option("metadata", v1).option("split-size", "1").load()
    val full = scan()
    val nAll = full.rdd.getNumPartitions
    assert(nAll > 4, s"fixture needs many row groups, got $nAll")
    // point lookup: one surviving group
    val point = scan().filter(col("id") === 17500L)
    val nPoint = point.rdd.getNumPartitions
    assert(nPoint < nAll && nPoint <= 2,
      s"point filter kept $nPoint of $nAll row groups")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(17500L))
    // range across a few groups
    val range = scan().filter(col("id") >= 14990L && col("id") <= 15010L)
    assert(range.rdd.getNumPartitions < nAll)
    // the deleted row (pos 15000 == id 15000, sorted identity layout) is
    // excluded even when earlier groups were pruned away
    assert(range.collect().map(_.getLong(0)).sorted.toSeq ==
      ((14990L to 15010L).filterNot(_ == 15000L)))
    // sanity: unfiltered totals unchanged by the pruning code path
    assert(full.count() == 19999L)
  }
}

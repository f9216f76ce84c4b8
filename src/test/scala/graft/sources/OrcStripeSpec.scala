package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg._

/** ORC stripe-level splitting and pruning — the parquet row-group rules
  * applied to imported ORC files: above-split-size files fan out one
  * partition per stripe, stripe statistics prune partitions the pushed
  * filters provably exclude, and position deletes stay file-absolute
  * across stripes. */
class OrcStripeSpec extends SparkSpec {

  test("stripes fan out, prune on stats, and keep positions absolute") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orcstripe").toString
    val f = s"$dir/data/d.orc"
    new java.io.File(s"$dir/data").mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    // sorted ids, tiny stripes → several stripes with disjoint id ranges
    val rows = (0L until 200000L).map(i => org.apache.spark.sql.Row(i, i * 2))
    OrcDataFiles.write(f, schema, rows, stripeRowLimit = Some(40000))
    val nStripes = OrcDataFiles.stripes(f, Seq(
      IcebergField(1, "id", required = false, "long"),
      IcebergField(2, "v", required = false, "long"))).size
    assert(nStripes > 3, s"fixture needs several stripes, got $nStripes")
    // position delete in a late stripe
    val delF = s"$dir/data/del.parquet"
    import spark.implicits._
    ParquetFiles.writeOne(Seq((f, 150000L)).toDF("file_path", "pos"), delF)
    val mData = s"$dir/m-data.avro"
    ManifestWriter.write(mData, Seq(ManifestWriter.EntryData(
      1, 1L, f, 200000L, new java.io.File(f).length(),
      Map.empty, Map.empty, content = 0, sequenceNumber = Some(1L),
      fileFormat = "ORC")))
    val mDel = s"$dir/m-del.avro"
    ManifestWriter.write(mDel, Seq(ManifestWriter.EntryData(
      1, 2L, delF, 1L, HadoopConfs.length(delF),
      Map.empty, Map.empty, content = 1, sequenceNumber = Some(2L))))
    val list = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list, Seq(mData, mDel), 1L, contents = Map(mDel -> 1))
    val meta = TableMetadata(
      formatVersion = 2, tableUuid = "b6b9a6a1-0000-4000-8000-0000000000os",
      location = dir, lastUpdatedMs = 1700000000000L, topLevelSchema = None,
      currentSchemaId = Some(0), schemas = Seq(IcebergSchema(0, Seq(
        IcebergField(1, "id", required = false, "long"),
        IcebergField(2, "v", required = false, "long")))),
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
    assert(full.rdd.getNumPartitions == nStripes,
      s"expected one partition per stripe: ${full.rdd.getNumPartitions} vs $nStripes")
    assert(full.count() == 199999L) // the deleted position is gone
    assert(full.filter(col("id") === 150000L).count() == 0L)
    // stripe pruning: a point filter keeps a strict subset of stripes
    val point = scan().filter(col("id") === 190000L)
    assert(point.rdd.getNumPartitions < nStripes,
      s"point filter kept ${point.rdd.getNumPartitions} of $nStripes stripes")
    assert(point.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((190000L, 380000L)))
    // un-split route agrees
    val whole = spark.read.format("graft-table").option("metadata", v1).load()
    assert(whole.rdd.getNumPartitions == 1 && whole.count() == 199999L)
  }
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** Delete-side MANIFEST pruning (the round-9 wave): a delete manifest the
  * planner can prove irrelevant is never opened — by the sequence ceiling
  * (list field 515 bounds every entry inside; a manifest wholly below the
  * surviving data's field-516 floor can't address any live row) or by the
  * pushed predicate's transform-space summary prune applied symmetrically
  * to the delete side. Every proof here is DESTRUCTIVE: the manifest that
  * should be skipped is corrupted on disk first, so the read succeeds
  * ONLY if planning truly never opened it. */
class DeleteManifestPruneSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def corrupt(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "corrupted: manifest-level pruning must keep this unopened".getBytes)

  test("sequence ceiling: a carried delete manifest below the data floor is never opened") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delseq").toString
    import spark.implicits._
    val nation = Tables.load(spark, sfDir, "nation")
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "n_nationkey", required = false, "int"),
      IcebergField(2, "n_name", required = false, "string"),
      IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-00000000d9a1", timestampMs = T0)
    GraftTable.append(spark, dir, nation.orderBy(col("n_nationkey")))  // seq 1
    GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)       // seq 2
    // the merge rewrites the table's ONLY data file (it holds the matched
    // key), materializing the pending deletes; the delete manifest still
    // carries forward at its original sequence
    GraftTable.merge(spark, dir, Seq((1, "ARGENTINA*", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey"),
      keyCols = Seq("n_nationkey"))                                    // seq 3
    val metaPath = GraftTable.latestMetadataPath(dir)
    val infos = ManifestListReader.read(
      TableMetadata.parseFile(metaPath).currentSnapshot.get.manifestList.get)
    val delM = infos.filter(_.content == 1)
    val dataFloor = infos.filter(_.content == 0).map(_.minSequenceNumber).min
    // structural precondition: the ceiling sits strictly below the floor
    assert(delM.nonEmpty && delM.forall(_.sequenceNumber < dataFloor),
      s"fixture drift: deletes ${delM.map(_.sequenceNumber)} vs floor $dataFloor")
    delM.foreach(i => corrupt(i.path))
    val expected = nation.filter(col("n_regionkey") =!= 2).count()
    // native route
    val df = GraftTable.read(spark, metaPath)
    assert(df.count() == expected)
    assert(df.filter(col("n_nationkey") === 1).head().getString(1) == "ARGENTINA*")
    // DSv2 route (plannedFor's minKeptSeq lever)
    val dsv2 = spark.read.format("graft-table").option("metadata", metaPath).load()
    assert(dsv2.count() == expected)
  }

  test("partition summaries: predicate-pruned delete manifests are never opened") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delsum").toString
    val nation = Tables.load(spark, sfDir, "nation")
    // foreign-writer-shaped table: per-region data manifests AND per-region
    // pos-delete manifests, all carrying field-507 summaries at the list
    val regions = Seq(1, 3)
    val built = regions.map { r =>
      val f = s"$dir/data/region-$r.parquet"
      LakehouseExec.writeOneParquet(nation.filter(col("n_regionkey") === r)
        .orderBy(col("n_nationkey")), f)
      val dataEntry = LakehouseExec.deriveEntry(spark, f, snapshotId = 1L)
      val m = s"$dir/m-$r.avro"
      ManifestWriter.write(m, Seq(dataEntry))
      // position delete: the first row of the region's file
      val posFile = s"$dir/data/pos-delete-$r.parquet"
      LakehouseExec.writeOneParquet(spark.read.parquet(f)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"))
        .orderBy(col("pos")).limit(1), posFile)
      val mDel = s"$dir/m-del-$r.avro"
      ManifestWriter.write(mDel, Seq(ManifestWriter.EntryData(
        1, 2L, posFile, 1L, HadoopConfs.length(posFile),
        Map.empty, Map.empty, content = 1, sequenceNumber = Some(2L))))
      val summary = ManifestListWriter.FieldSummary(containsNull = false,
        dataEntry.lowerBounds(3), dataEntry.upperBounds(3))
      (r, m, mDel, summary)
    }
    val list = s"$dir/snap-2-list.avro"
    ManifestListWriter.write(list,
      built.map(_._2) ++ built.map(_._3), 2L,
      addedDataFilesCount = regions.size,
      contents = built.map(b => b._3 -> 1).toMap,
      specIds = Map.empty,
      summaries = (built.map(b => b._2 -> Seq(b._4)) ++
        built.map(b => b._3 -> Seq(b._4))).toMap,
      addedSnapshotIds = (built.map(b => b._2 -> 1L) ++
        built.map(b => b._3 -> 2L)).toMap,
      seqNums = (built.map(b => b._2 -> 1L) ++ built.map(b => b._3 -> 2L)).toMap,
      minSeqNums = (built.map(b => b._2 -> 1L) ++ built.map(b => b._3 -> 2L)).toMap)
    val snap = Snapshot(2L, None, T0 + 2000, Some("delete"),
      Map("added-delete-files" -> regions.size.toString), Some(list), Some(0))
    val withSpec = LakehouseExec.baseMetadata(dir).copy(partitionSpecs =
      Seq(PartitionSpec(0, Seq(PartitionField("n_regionkey", "identity", 3, 1000)))))
    val metaPath = s"$dir/v1.metadata.json"
    MetadataWriter.write(metaPath, MetadataWriter.commitSnapshot(withSpec, snap, None))

    // corrupt region 1's delete manifest: a region-3 read survives only if
    // the summary prune skipped it at the LIST level
    corrupt(built.find(_._1 == 1).get._3)
    val expected3 = nation.filter(col("n_regionkey") === 3).count() - 1
    // programmatic pruned read
    val (df, keptData, totalData) = GraftTable.readWhere(spark, metaPath, 3, 3)
    assert(df.count() == expected3)
    assert(keptData == 1 && totalData == 2)
    // DSv2 route with the pushed filter
    val dsv2 = spark.read.format("graft-table").option("metadata", metaPath)
      .load().filter(col("n_regionkey") === 3)
    assert(dsv2.count() == expected3)
    // negative control: an UNFILTERED read must open the corrupted
    // manifest and fail — proving the corruption (and thus the proof) real
    intercept[Exception] {
      GraftTable.read(spark, metaPath).count()
    }
  }

  test("deleteWhere on a partitioned table writes a prunable delete-manifest summary") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delsumapi").toString
    val nation = Tables.load(spark, sfDir, "nation")
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "n_nationkey", required = false, "int"),
      IcebergField(2, "n_name", required = false, "string"),
      IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-00000000d9a3", timestampMs = T0,
      spec = PartitionSpec(0,
        Seq(PartitionField("n_regionkey", "identity", 3, 1000))))
    GraftTable.append(spark, dir, nation.orderBy(col("n_nationkey")))
    // two partition-scoped deletes, each addressing one region's file
    GraftTable.deleteWhere(spark, dir,
      col("n_regionkey") === 1 && col("n_nationkey") === 1)
    GraftTable.deleteWhere(spark, dir,
      col("n_regionkey") === 3 && col("n_nationkey") === 3)
    val metaPath = GraftTable.latestMetadataPath(dir)
    val infos = ManifestListReader.read(
      TableMetadata.parseFile(metaPath).currentSnapshot.get.manifestList.get)
    val delM = infos.filter(_.content == 1)
    assert(delM.size == 2 && delM.forall(_.summaries.isDefined),
      "deleteWhere must write union summaries on partitioned tables")
    def regionOf(i: ManifestListReader.ManifestFileInfo): Int =
      SingleValueCodec.decode(IcebergTypes.TInt,
        i.summaries.get.head.lower.get).asInstanceOf[Int]
    // corrupt the region-1 delete manifest: region-3 reads survive only if
    // the summary prune never opens it
    corrupt(delM.find(regionOf(_) == 1).get.path)
    val expected3 = nation.filter(col("n_regionkey") === 3).count() - 1
    val (df, _, _) = GraftTable.readWhere(spark, metaPath, 3, 3)
    assert(df.count() == expected3)
    assert(!df.collect().exists(_.getInt(0) == 3), "key 3 must be deleted")
    val dsv2 = spark.read.format("graft-table").option("metadata", metaPath)
      .load().filter(col("n_regionkey") === 3)
    assert(dsv2.count() == expected3)
    // a SQL merge-on-read DELETE whose predicate does not push (the
    // row-level delta route) writes the same summary
    val wh = java.nio.file.Files.createTempDirectory("graft-delsumsql").toString
    spark.conf.set("spark.sql.catalog.g_dsum", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.g_dsum.warehouse", wh)
    nation.createOrReplaceTempView("dsum_src")
    spark.sql("""CREATE TABLE g_dsum.db.n (n_nationkey INT, n_name STRING, n_regionkey INT)
      PARTITIONED BY (n_regionkey)
      TBLPROPERTIES ('write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO g_dsum.db.n SELECT n_nationkey, n_name, n_regionkey FROM dsum_src")
    spark.sql("DELETE FROM g_dsum.db.n WHERE n_regionkey = 4 AND length(n_name) > 5")
    val sqlDel = ManifestListReader.read(TableMetadata.parseFile(
        GraftTable.latestMetadataPath(s"$wh/db/n")).currentSnapshot.get.manifestList.get)
      .filter(_.content == 1)
    assert(sqlDel.size == 1 && sqlDel.forall(_.summaries.isDefined),
      "the delta route must write union summaries on partitioned tables")
    assert(regionOf(sqlDel.head) == 4)
    assert(spark.sql("SELECT count(*) FROM g_dsum.db.n").head().getLong(0) ==
      nation.filter(!(col("n_regionkey") === 4 && length(col("n_name")) > 5)).count())
  }
}

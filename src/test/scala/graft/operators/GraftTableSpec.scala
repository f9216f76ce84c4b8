package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg.{GraftTable, MetadataWriter, TableMetadata}

/** The one-call table read: head resolution, snapshot-id and ref time
  * travel, and the composed sequence-scoped MOR semantics (i39's table:
  * seq1 append <13, seq2 equality-delete {2,20}, seq3 append >=13, seq4
  * position-delete key 5). */
class GraftTableSpec extends SparkSpec {

  private lazy val dir: String = {
    LakehouseMaint.tableRead(spark, sfDir).collect() // builds + commits
    LakehouseExec.entryDir("i39", sfDir)
  }

  test("head read composes both delete kinds with sequence scoping") {
    val row = LakehouseMaint.tableRead(spark, sfDir).head()
    assert(row.getAs[Long]("n_live") == 23L) // 25 - {2, 5}
    assert(row.getAs[Long]("n_late_key_present") == 1L)
    assert(row.getAs[Long]("n_deleted_present") == 0L)
  }

  test("snapshot-id time travel reads the table as of that commit") {
    val asOf1 = GraftTable.read(spark, s"$dir/v4.metadata.json", snapshotId = Some(1L))
    val keys = asOf1.select("n_nationkey").collect().map(_.getInt(0)).sorted
    assert(keys.toSeq == (0 until 13)) // pre-delete, pre-late-append
  }

  test("i40: create/append/deleteWhere through the CAS loop, racing appends land linearly") {
    val row = LakehouseMaint.tableDml(spark, sfDir)
      .filter(col("n_regionkey") === 0).head()
    assert(row.getAs[Int]("n_snapshots") == 3)       // 2 appends + 1 delete
    assert(row.getAs[Int]("metadata_version") == 4)  // create + 3 commits
    val dir = LakehouseExec.entryDir("i40", sfDir)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    // linear chain regardless of which racing append won
    val log = meta.snapshotLog.map(_.snapshotId)
    assert(log.size == 3)
    log.sliding(2).foreach { case Seq(p, c) =>
      assert(meta.snapshot(c).get.parentSnapshotId.contains(p))
    case _ => () }
    // data sequence numbers follow commit order: every entry's seq equals
    // its snapshot id in a linear history
    val entries = meta.currentSnapshot.toSeq
      .flatMap(s => graft.iceberg.ManifestListReader.read(s.manifestList.get))
      .flatMap(i => graft.iceberg.ManifestWriter.read(i.path))
    assert(entries.nonEmpty && entries.forall(e => e.sequenceNumber.contains(e.snapshotId)))
  }

  test("i41: COW merge updates, re-inserts a deleted key, preserves untouched-file deletes") {
    val rows = LakehouseMaint.mergeApi(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // region 2 has exactly the re-inserted INDIA* row; regions keep sums
    val r2 = rows.find(_._1 == 2).get
    assert(r2._2 == 1L && r2._3 == 8L && r2._4 == 1L)
    val r1 = rows.find(_._1 == 1).get
    assert(r1._4 == 2L) // ARGENTINA* and CANADA* updated in place
    val r4 = rows.find(_._1 == 4).get
    assert(r4._2 == 5L + 1L) // ATLANTIS inserted into region 4
  }

  test("i42: compact materializes deletes away and drops delete manifests") {
    val row = LakehouseMaint.compactApi(spark, sfDir).head()
    assert(row.getAs[Int]("n_data_manifests") == 1)
    assert(row.getAs[Int]("n_delete_manifests") == 0)
    assert(row.getAs[String]("op") == "replace")
    assert(row.getAs[Long]("n_live") == 20L) // 25 - 5 region-2 rows
  }

  test("i43: partitioned append writes prunable summaries; readWhere opens 1 of 4") {
    val row = LakehouseMaint.partitionedWrite(spark, sfDir).head()
    assert(row.getAs[Int]("n_manifests_total") == 4)
    assert(row.getAs[Int]("n_manifests_opened") == 1)
    assert(row.getAs[Long]("n_rows") == 1L)
    assert(row.getAs[Long]("sum_key") == 17L)
    // readWhere COMPOSES pruning with the MOR apply: on a table with a
    // live position delete, a pruned read must still hide deleted rows
    // (this used to be a documented refusal — SURVEY §2.3 i43)
    val fresh = java.nio.file.Files.createTempDirectory("graft-readwhere").toString
    GraftTable.create(fresh, graft.iceberg.IcebergSchema(0, Seq(
      graft.iceberg.IcebergField(1, "n_nationkey", required = false, "int"),
      graft.iceberg.IcebergField(2, "n_name", required = false, "string"),
      graft.iceberg.IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000t1", timestampMs = 1700000000000L)
    GraftTable.append(spark, fresh, graft.Tables.load(spark, sfDir, "nation"))
    GraftTable.deleteWhere(spark, fresh, col("n_regionkey") === 2)
    val path = GraftTable.latestMetadataPath(fresh)
    // synthetic nation: n_regionkey = key % 5 — key 17 is region 2
    // (deleted), key 18 is region 3 (live)
    val (gone, _, _) = GraftTable.readWhere(spark, path, 1, 17)
    assert(gone.count() == 0L)
    val (kept, _, _) = GraftTable.readWhere(spark, path, 1, 18)
    assert(kept.count() == 1L && kept.head().getAs[Int]("n_nationkey") == 18)
  }

  test("i44: expiry drops snapshots and physically deletes only-expired artifacts") {
    val row = LakehouseMaint.expireApi(spark, sfDir).head()
    assert(row.getAs[Int]("n_snapshots") == 1)
    assert(row.getAs[Int]("n_files_on_disk") == 1)
    assert(row.getAs[Long]("n_rows") == 20L)
  }

  test("i45: pruned MOR read hides the deleted key and opens 1 of 4 manifests") {
    val row = LakehouseMaint.prunedMorRead(spark, sfDir).head()
    assert(row.getAs[Int]("n_manifests_total") == 4)
    assert(row.getAs[Int]("opened_deleted_key") == 1)
    assert(row.getAs[Int]("opened_live_key") == 1)
    assert(row.getAs[Long]("n_deleted_rows") == 0L)
    assert(row.getAs[Long]("n_live_rows") == 1L)
    assert(row.getAs[Long]("live_key") == 18L)
  }

  test("i46: timestamp time travel resolves through the snapshot-log") {
    val row = LakehouseMaint.asofRead(spark, sfDir).head()
    assert(row.getAs[Long]("n_rows_early") == 13L)
    assert(row.getAs[Long]("sum_early") == 78L)
    assert(row.getAs[Long]("n_rows_mid") == 25L)
    assert(row.getAs[Long]("sum_mid") == 300L)
    // an instant before the first commit resolves to no snapshot
    intercept[IllegalArgumentException] {
      GraftTable.read(spark,
        GraftTable.latestMetadataPath(LakehouseExec.entryDir("i46", sfDir)),
        asOfTimestampMs = Some(0L))
    }
  }

  test("MOR read is one graft-table BatchScan and no join however many snapshots") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    val fresh = java.nio.file.Files.createTempDirectory("graft-planshape").toString
    GraftTable.create(fresh, graft.iceberg.IcebergSchema(0, Seq(
      graft.iceberg.IcebergField(1, "n_nationkey", required = false, "int"),
      graft.iceberg.IcebergField(2, "n_name", required = false, "string"),
      graft.iceberg.IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000t2", timestampMs = 1700000000000L)
    val nation = graft.Tables.load(spark, sfDir, "nation")
    // five append snapshots (five distinct data sequence numbers), then a
    // position delete and an equality-delete upsert
    (0 until 5).foreach(r =>
      GraftTable.append(spark, fresh, nation.filter(col("n_regionkey") === r)))
    GraftTable.deleteWhere(spark, fresh, col("n_nationkey") === 3)
    GraftTable.upsert(spark, fresh,
      Seq((5, "UPSERTED", 0)).toDF("n_nationkey", "n_name", "n_regionkey"), Seq("n_nationkey"))
    val df = GraftTable.read(spark, GraftTable.latestMetadataPath(fresh))
    assert(df.count() == 24L)
    assert(df.filter(col("n_name") === "UPSERTED").count() == 1L)
    // both delete kinds apply inside the scan's tasks: one scan for every
    // snapshot's files, and no join in the executed plan
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val plan = nodes(df.queryExecution.executedPlan)
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.scan.isInstanceOf[graft.sources.GraftTableScan],
      df.queryExecution.executedPlan.toString)
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      df.queryExecution.executedPlan.toString)
  }

  test("i50: schema evolution through the API — old rows null-fill, new rows carry values") {
    val row = LakehouseMaint.schemaEvolutionApi(spark, sfDir).head()
    assert(row.getAs[Long]("n_rows") == 25L)
    assert(row.getAs[Long]("n_null_comment") == 13L)
    assert(row.getAs[Long]("n_with_comment") == 12L)
    assert(row.getAs[String]("first_comment") == "c-NATION_13")
  }

  test("partition-spec evolution through the API: later appends write prunable summaries") {
    val fresh = java.nio.file.Files.createTempDirectory("graft-specevolve").toString
    val nation = graft.Tables.load(spark, sfDir, "nation")
    GraftTable.create(fresh, graft.iceberg.IcebergSchema(0, Seq(
      graft.iceberg.IcebergField(1, "n_nationkey", required = false, "int"),
      graft.iceberg.IcebergField(2, "n_name", required = false, "string"),
      graft.iceberg.IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000t3", timestampMs = 1700000000000L)
    GraftTable.append(spark, fresh, nation.filter(col("n_nationkey") < 13))
    GraftTable.evolvePartitionSpec(fresh, graft.iceberg.PartitionSpec(1,
      Seq(graft.iceberg.PartitionField("n_regionkey_id", "identity", 3, 1001))))
    GraftTable.append(spark, fresh, nation.filter(col("n_nationkey") >= 13))
    val path = GraftTable.latestMetadataPath(fresh)
    val infos = graft.iceberg.ManifestListReader.read(
      TableMetadata.parseFile(path).currentSnapshot.get.manifestList.get)
    // pre-evolution manifest keeps spec 0 / no summary; post-evolution
    // manifests carry spec 1 with identity summaries (one per region)
    assert(infos.exists(i => i.specId == 0 && i.summaries.isEmpty))
    assert(infos.count(i => i.specId == 1 && i.summaries.isDefined) == 5)
    // mixed-spec pruned read: spec-1 manifests prune to region 4, the
    // spec-0 manifest survives unprunable (the i32 rule)
    val (df, opened, total) = GraftTable.readWhere(spark, path, 3, 4)
    assert(total == 6 && opened == 2, s"opened $opened of $total")
    // region 4 = keys {4, 9} (pre-evolution file) + {14, 19, 24}
    assert(df.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(4, 9, 14, 19, 24))
  }

  test("i57: upsert lands eq-delete + data in one commit; strict scoping keeps replacements") {
    val row = LakehouseMaint.upsertApi(spark, sfDir).head()
    assert(row.getAs[Long]("n_rows") == 26L) // 25 nations + new key 99
    assert(row.getAs[String]("name_3") == "UPS_3")
    assert(row.getAs[String]("name_5") == "UPS_5")
    assert(row.getAs[String]("name_99") == "NEW_99")
    // repeated upserts of one key: latest wins on BOTH read routes (the
    // second eq-delete out-sequences the first upsert's data row too)
    val dir = java.nio.file.Files.createTempDirectory("graft-ups2").toString
    GraftTable.create(dir, graft.iceberg.IcebergSchema(0, Seq(
      graft.iceberg.IcebergField(1, "n_nationkey", required = false, "int"),
      graft.iceberg.IcebergField(2, "n_name", required = false, "string"),
      graft.iceberg.IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = java.util.UUID.randomUUID().toString, timestampMs = 1700000000000L)
    val nation = graft.Tables.load(spark, sfDir, "nation")
    GraftTable.append(spark, dir, nation)
    import spark.implicits._
    GraftTable.upsert(spark, dir,
      Seq((3, "FIRST", 3)).toDF("n_nationkey", "n_name", "n_regionkey"), Seq("n_nationkey"))
    GraftTable.upsert(spark, dir,
      Seq((3, "SECOND", 3)).toDF("n_nationkey", "n_name", "n_regionkey"), Seq("n_nationkey"))
    val path = GraftTable.latestMetadataPath(dir)
    val native = GraftTable.read(spark, path)
      .filter(col("n_nationkey") === 3).select(col("n_name")).collect()
    assert(native.map(_.getString(0)).toSeq == Seq("SECOND"))
    val dsv2 = spark.read.format("graft-table").option("metadata", path).load()
      .filter(col("n_nationkey") === 3).select(col("n_name")).collect()
    assert(dsv2.map(_.getString(0)).toSeq == Seq("SECOND"))
    assert(GraftTable.read(spark, path).count() == 25L)
  }

  test("ref time travel resolves tags through the committed refs map") {
    val v4 = TableMetadata.parseFile(s"$dir/v4.metadata.json")
    val v5 = s"$dir/v5.metadata.json"
    MetadataWriter.write(v5, MetadataWriter.createTag(v4, "before-pos-delete", 3L))
    val atTag = GraftTable.read(spark, v5, ref = Some("before-pos-delete"))
    // snapshot 3: equality delete applied (2 gone, 20 escaped), position
    // delete of key 5 not yet committed
    assert(atTag.count() == 24L)
    assert(atTag.filter(col("n_nationkey") === 5).count() == 1L)
    intercept[IllegalArgumentException] {
      GraftTable.read(spark, v5, ref = Some("no-such-ref")).collect()
    }
  }

  test("a deleteWhere matching no live row commits nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delnoop").toString
    GraftTable.create(dir, graft.iceberg.IcebergSchema(0, Seq(
      graft.iceberg.IcebergField(1, "n_nationkey", required = false, "int"),
      graft.iceberg.IcebergField(2, "n_name", required = false, "string"))),
      tableUuid = java.util.UUID.randomUUID().toString, timestampMs = 1700000000000L)
    GraftTable.append(spark, dir,
      graft.Tables.load(spark, sfDir, "nation").select("n_nationkey", "n_name"))
    GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 5)
    def head() = {
      val path = GraftTable.latestMetadataPath(dir)
      (path, TableMetadata.parseFile(path).currentSnapshotId)
    }
    val before = head()
    // no such key, and a key whose only row is already deleted
    GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 99)
    GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 5)
    assert(head() == before)
    assert(GraftTable.read(spark, before._1).count() == 24L)
  }
}


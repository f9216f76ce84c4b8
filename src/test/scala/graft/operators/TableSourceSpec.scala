package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.iceberg._

/** The DSv2 `graft-table` route: whole-table reads with in-reader
  * position-delete MOR, Catalyst-pushed filters pruning manifests and
  * files, column pruning with schema-evolution null-fill, and time travel
  * via options. */
class TableSourceSpec extends SparkSpec {

  private val nationSchema = IcebergSchema(0, Seq(
    IcebergField(1, "n_nationkey", required = false, "int"),
    IcebergField(2, "n_name", required = false, "string"),
    IcebergField(3, "n_regionkey", required = false, "int")))

  test("i47: DSv2 read applies position deletes inside the partition readers") {
    val rows = LakehouseMaint.dsv2TableRead(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    // synthetic nation: region = key % 5, 5 keys per region, region 2 gone
    assert(rows == Seq((0, 5L), (1, 5L), (3, 5L), (4, 5L)))
  }

  test("i48: pushed filter prunes manifests that are provably corrupt-unopened") {
    val df = LakehouseMaint.dsv2TablePruned(spark, sfDir)
    val row = df.head()
    assert(row.getInt(0) == 18 && row.getInt(2) == 3)
    // the filter must actually reach the source (v2 pushdown)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_nationkey"),
      s"filter not pushed:\n$plan")
  }

  test("column pruning and count(*) survive an empty projection") {
    val dir = LakehouseExec.entryDir("i47", sfDir)
    LakehouseMaint.dsv2TableRead(spark, sfDir).collect() // ensure table built
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    assert(df.select("n_name").distinct().count() == 20L)
    assert(df.count() == 20L) // empty required schema still iterates rows
  }

  test("snapshot-id and as-of-timestamp options time-travel the scan") {
    val dir = LakehouseExec.entryDir("i47", sfDir)
    LakehouseMaint.dsv2TableRead(spark, sfDir).collect()
    val path = GraftTable.latestMetadataPath(dir)
    // snapshot 1 = the append before the delete commit
    val atAppend = spark.read.format("graft-table")
      .option("metadata", path).option("snapshot-id", "1").load()
    assert(atAppend.count() == 25L)
    val asOf = spark.read.format("graft-table")
      .option("metadata", path)
      .option("as-of-timestamp-ms", (LakehouseExec.T0 + 1500).toString).load()
    assert(asOf.count() == 25L)
  }

  test("a required column the data file predates null-fills") {
    // table schema has a column the parquet never carried — the v2
    // reader's projection must null-fill instead of failing
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    val f = s"$dir/data/d.parquet"
    ParquetFiles.writeOne(graft.Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") === 3)
      .select(col("n_nationkey"), col("n_name")), f)
    val m = s"$dir/m.avro"
    ManifestWriter.write(m, Seq(ManifestWriter.EntryData(
      1, 1L, f, 1L, HadoopConfs.length(f), Map.empty, Map.empty,
      content = 0, sequenceNumber = Some(1L))))
    val list = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list, Seq(m), 1L)
    val snap = Snapshot(1L, None, 1700000001000L, Some("append"),
      Map.empty, Some(list), Some(0))
    val v1 = s"$dir/v1.metadata.json"
    MetadataWriter.write(v1, MetadataWriter.commitSnapshot(
      LakehouseExec.baseMetadata(dir).copy(schemas = Seq(nationSchema)), snap, None))
    val row = spark.read.format("graft-table").option("metadata", v1).load().head()
    assert(row.getInt(0) == 3 && row.isNullAt(2))
  }

  test("position-delete file_path bounds scope delete loads per data file") {
    import graft.iceberg.IcebergTypes.{TInt, TString}
    val dir = java.nio.file.Files.createTempDirectory("graft-delscope").toString
    GraftTable.create(dir, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000s1", timestampMs = 1700000000000L)
    val nation = graft.Tables.load(spark, sfDir, "nation")
    GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13))  // file A
    GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13)) // file B
    GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 3)  // addresses A only
    GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 18) // addresses B only
    val path = GraftTable.latestMetadataPath(dir)
    val meta = TableMetadata.parseFile(path)
    def norm(p: String) = p.replaceFirst("^[a-z0-9+.-]+:(//)?", "")
    val entries = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .flatMap(i => ManifestWriter.read(i.path))
    val fileB = entries.find(e => e.content == 0 &&
      SingleValueCodec.decode(TInt, e.lowerBounds(1)) == 13).get.filePath
    // the delete file whose bounds DON'T cover file B gets corrupted: reads
    // over file B succeed only if its bound stats kept it unopened
    val delA = entries.find(e => e.content == 1 &&
      norm(SingleValueCodec.decode(TString,
        e.lowerBounds(ManifestWriter.PosDeleteFilePathId)).asInstanceOf[String])
        != norm(fileB)).get.filePath
    java.nio.file.Files.write(java.nio.file.Paths.get(delA),
      "corrupted: path-bound scoping must keep this unopened".getBytes)
    val df = spark.read.format("graft-table").option("metadata", path).load()
    assert(df.filter(col("n_nationkey") === 18).count() == 0L) // deleted in B
    assert(df.filter(col("n_nationkey") === 14).count() == 1L) // alive in B
  }

  test("row-group splits fan out partitions; position deletes stay file-absolute") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rgsplit").toString
    // one physical file, MANY row groups (tiny block size)
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
    // position delete addressing rows 100 and 15000 — the second lands in
    // a LATER row group, so a wrong rowStart would delete the wrong row
    val delF = s"$dir/data/del.parquet"
    import spark.implicits._
    ParquetFiles.writeOne(Seq((f, 100L), (f, 15000L)).toDF("file_path", "pos")
      .orderBy(col("pos")), delF)
    // data and delete entries in separate manifests (list-level content
    // routing is per manifest)
    val mData = s"$dir/m-data.avro"
    ManifestWriter.write(mData, Seq(ManifestWriter.EntryData(
      1, 1L, f, 20000L, HadoopConfs.length(f),
      Map.empty, Map.empty, content = 0, sequenceNumber = Some(1L))))
    val mDel = s"$dir/m-del.avro"
    ManifestWriter.write(mDel, Seq(ManifestWriter.EntryData(
      1, 2L, delF, 2L, HadoopConfs.length(delF),
      Map.empty, Map.empty, content = 1, sequenceNumber = Some(2L))))
    val list2 = s"$dir/snap-1b-list.avro"
    ManifestListWriter.write(list2, Seq(mData, mDel), 1L, contents = Map(mDel -> 1))
    val schema = IcebergSchema(0, Seq(
      IcebergField(1, "id", required = false, "long"),
      IcebergField(2, "v", required = false, "long")))
    val meta = TableMetadata(
      formatVersion = 2, tableUuid = "b6b9a6a1-0000-4000-8000-0000000000r1",
      location = dir, lastUpdatedMs = 1700000000000L, topLevelSchema = None,
      currentSchemaId = Some(0), schemas = Seq(schema),
      partitionSpecs = Seq(PartitionSpec(0, Nil)), defaultSpecId = 0,
      sortOrders = Seq(SortOrder(0, Nil)), defaultSortOrderId = 0,
      properties = Map.empty, currentSnapshotId = None, refs = Nil,
      snapshots = Nil, snapshotLog = Nil, metadataLog = Nil)
    val v1 = s"$dir/v1.metadata.json"
    MetadataWriter.write(v1, MetadataWriter.commitSnapshot(meta,
      Snapshot(1L, None, 1700000001000L, Some("append"), Map.empty,
        Some(list2), Some(0)), None))
    val df = spark.read.format("graft-table")
      .option("metadata", v1).option("split-size", "1").load()
    assert(df.rdd.getNumPartitions > 1,
      s"expected row-group fan-out, got ${df.rdd.getNumPartitions} partition(s)")
    assert(df.count() == 19998L)
    assert(df.filter(col("id").isin(100L, 15000L)).count() == 0L)
    val expected = (0L until 20000L).sum - 100L - 15000L
    assert(df.agg(sum(col("id"))).head().getLong(0) == expected)
    // un-split route agrees
    val whole = spark.read.format("graft-table").option("metadata", v1).load()
    assert(whole.rdd.getNumPartitions == 1 && whole.count() == 19998L)
  }

  test("i51: DSv2 writes commit CAS snapshots with task-derived prunable stats") {
    val row = LakehouseMaint.dsv2Write(spark, sfDir).head()
    assert(row.getAs[Int]("n_snapshots") == 2)
    assert(row.getAs[Int]("n_nationkey") == 18 && row.getAs[Int]("n_regionkey") == 3)
  }

  test("DSv2 writes and native DML land on one linear history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-w2").toString
    GraftTable.create(dir, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000w2", timestampMs = 1700000000000L)
    graft.Tables.load(spark, sfDir, "nation")
      .write.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir))
      .mode("append").save()
    // native row-level DELETE over files the DSv2 writer produced
    GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
    val back = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
    assert(back.count() == 20L)
    assert(back.filter(col("n_regionkey") === 2).count() == 0L)
    // and the DSv2 read route agrees (in-reader MOR over the same files)
    val dsv2 = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    assert(dsv2.count() == 20L)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.snapshots.map(_.snapshotId).sorted == Seq(1L, 2L))
  }

  test("i52: partitioned DSv2 writes land per-tuple files with prunable summaries") {
    val row = LakehouseMaint.dsv2PartitionedWrite(spark, sfDir).head()
    assert(row.getBoolean(0), "pruning must skip at least one manifest")
    assert(row.getAs[Int]("n_nationkey") == 18)
    // every DSv2-written manifest carries a single-tuple summary, and the
    // table content survives the per-tuple split intact... verified over a
    // FRESH table (the entry's table has corrupted pruned manifests)
    val fresh = java.nio.file.Files.createTempDirectory("graft-pwrite").toString
    GraftTable.create(fresh, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000p2", timestampMs = 1700000000000L,
      spec = PartitionSpec(0,
        Seq(PartitionField("n_nationkey_bucket", "bucket[4]", 1, 1000))))
    graft.Tables.load(spark, sfDir, "nation")
      .write.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(fresh))
      .mode("append").save()
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(fresh))
    val infos = graft.iceberg.ManifestListReader.read(
      meta.currentSnapshot.get.manifestList.get)
    assert(infos.nonEmpty && infos.forall(_.summaries.isDefined))
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(fresh)).count() == 25L)
    val (kept, opened, total) = GraftTable.readWhere(
      spark, GraftTable.latestMetadataPath(fresh), 1, 17)
    assert(opened < total)
    assert(kept.select("n_nationkey").collect().map(_.getInt(0)).toSeq == Seq(17))
  }

  test("i53: SQL lifecycle entry — CREATE/INSERT/DELETE/SELECT via catalog") {
    val rows = LakehouseMaint.sqlLifecycle(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((0, 5L), (1, 5L), (3, 5L), (4, 5L)))
  }

  test("SQL catalog: overwrite mode, ALTER TABLE ADD COLUMN, drop/list") {
    val wh = java.nio.file.Files.createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graft_t",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_t.warehouse", wh)
    spark.sql("CREATE TABLE graft_t.db.n (k INT, name STRING, r INT)")
    graft.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey AS k", "n_name AS name", "n_regionkey AS r")
      .createOrReplaceTempView("cat_src")
    spark.sql("INSERT INTO graft_t.db.n SELECT * FROM cat_src")
    assert(spark.sql("SELECT COUNT(*) FROM graft_t.db.n").head().getLong(0) == 25L)
    // mode("overwrite") = one atomic replace snapshot (truncate semantics)
    spark.sql("SELECT * FROM cat_src WHERE r = 4").write
      .format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(s"$wh/db/n"))
      .mode("overwrite").save()
    assert(spark.sql("SELECT COUNT(*) FROM graft_t.db.n").head().getLong(0) == 5L)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/n"))
    assert(meta.currentSnapshot.get.operation.contains("overwrite"))
    // pre-overwrite history intact (time travel still sees 25 rows)
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(s"$wh/db/n"),
      snapshotId = Some(1L)).count() == 25L)
    // schema evolution through SQL
    spark.sql("ALTER TABLE graft_t.db.n ADD COLUMN note STRING")
    val after = spark.sql("SELECT * FROM graft_t.db.n")
    assert(after.schema.fieldNames.toSeq == Seq("k", "name", "r", "note"))
    assert(after.filter(col("note").isNotNull).count() == 0L)
    // catalog surface: list + drop
    val idents = spark.sql("SHOW TABLES IN graft_t.db").collect().map(_.getString(1))
    assert(idents.contains("n"))
    spark.sql("DROP TABLE graft_t.db.n")
    assert(spark.sql("SHOW TABLES IN graft_t.db").count() == 0L)
  }

  test("SQL time travel and TRUNCATE TABLE through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-tt").toString
    spark.conf.set("spark.sql.catalog.graft_tt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tt.warehouse", wh)
    // determinism is opt-IN now (the default is the real clock, so SQL
    // TIMESTAMP AS OF works with wall-clock instants on real tables)
    spark.sql("""CREATE TABLE graft_tt.db.n (k INT, name STRING, r INT)
      TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')""")
    graft.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey AS k", "n_name AS name", "n_regionkey AS r")
      .createOrReplaceTempView("tt_src")
    spark.sql("INSERT INTO graft_tt.db.n SELECT * FROM tt_src WHERE k < 13")
    spark.sql("INSERT INTO graft_tt.db.n SELECT * FROM tt_src WHERE k >= 13")
    assert(spark.sql("SELECT COUNT(*) FROM graft_tt.db.n").head().getLong(0) == 25L)
    // VERSION AS OF <snapshot-id>
    assert(spark.sql("SELECT COUNT(*) FROM graft_tt.db.n VERSION AS OF 1")
      .head().getLong(0) == 13L)
    // TIMESTAMP AS OF — commit timestamps are deterministic from the
    // pinned T0 (1700000000000L): snap1 at +1000, snap2 at +2000
    assert(spark.sql( // session TZ is UTC; T0+1500ms
      "SELECT COUNT(*) FROM graft_tt.db.n TIMESTAMP AS OF '2023-11-14 22:13:21.5'")
      .head().getLong(0) == 13L)
    // TRUNCATE = SupportsDelete's delete-everything (MOR, history intact)
    spark.sql("TRUNCATE TABLE graft_tt.db.n")
    assert(spark.sql("SELECT COUNT(*) FROM graft_tt.db.n").head().getLong(0) == 0L)
    assert(spark.sql("SELECT COUNT(*) FROM graft_tt.db.n VERSION AS OF 2")
      .head().getLong(0) == 25L)
  }

  test("SQL metadata tables: t.snapshots / t.files / t.history resolve via the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mt").toString
    spark.conf.set("spark.sql.catalog.graft_mt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mt.warehouse", wh)
    spark.sql("CREATE TABLE graft_mt.db.n (k INT, name STRING, r INT)")
    graft.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey AS k", "n_name AS name", "n_regionkey AS r")
      .createOrReplaceTempView("mt_src")
    spark.sql("INSERT INTO graft_mt.db.n SELECT * FROM mt_src WHERE k < 13")
    spark.sql("DELETE FROM graft_mt.db.n WHERE k = 3")
    val snaps = spark.sql(
      "SELECT snapshot_id, operation FROM graft_mt.db.n.snapshots ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps == Seq((1L, "append"), (2L, "delete")))
    assert(spark.sql("SELECT COUNT(*) FROM graft_mt.db.n.history").head().getLong(0) == 2L)
    val files = spark.sql(
      "SELECT content, record_count FROM graft_mt.db.n.files ORDER BY content")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(files == Seq((0, 13L), (1, 1L))) // one data file, one pos-delete file
    // the delete-side half: only delete files, with their sequence
    val dels = spark.sql(
      "SELECT content, record_count, sequence_number FROM graft_mt.db.n.delete_files")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dels == Seq((1, 1L, 2L)), dels.toString)
    // history-wide variants: snapshot 1 references only the data
    // manifest; snapshot 2 references data + delete manifests
    val allM = spark.sql(
      """SELECT reference_snapshot_id, content FROM graft_mt.db.n.all_manifests
        ORDER BY reference_snapshot_id, content""")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(allM == Seq((1L, 0), (2L, 0), (2L, 1)), allM.toString)
    val allF = spark.sql(
      """SELECT reference_snapshot_id, content, record_count
        FROM graft_mt.db.n.all_files ORDER BY reference_snapshot_id, content""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(allF == Seq((1L, 0, 13L), (2L, 0, 13L), (2L, 1, 1L)), allF.toString)
    // the local scan shape: metadata rows never launch tasks
    val plan = spark.sql("SELECT * FROM graft_mt.db.n.snapshots")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected LocalTableScan:\n$plan")
  }

  test("DESCRIBE surfaces the partition spec as Spark transforms") {
    val wh = java.nio.file.Files.createTempDirectory("graft-desc").toString
    spark.conf.set("spark.sql.catalog.graft_desc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_desc.warehouse", wh)
    spark.sql("""CREATE TABLE graft_desc.db.t (k BIGINT, d DATE, s STRING)
      PARTITIONED BY (bucket(8, k), days(d))""")
    val rows = spark.sql("DESCRIBE TABLE graft_desc.db.t")
      .collect().map(_.getString(0)).toSeq
    assert(rows.exists(_.contains("Part 0")) || rows.contains("bucket(8, k)") ||
      rows.exists(_.contains("bucket")), s"DESCRIBE lacks partitioning: $rows")
    val parts = spark.table("graft_desc.db.t").queryExecution
      .analyzed.collectLeaves().head match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.partitioning().map(_.toString).toSeq
      case other => fail(s"unexpected leaf $other")
    }
    assert(parts == Seq("bucket(8, k)", "days(d)"), parts.toString)
  }

  test("i54: range predicates prune manifests through monotonic transforms") {
    val rows = LakehouseMaint.rangePrunedScan(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(rows == Seq((3, 5L), (4, 5L)))
    // the pure pruning function: truncate is monotonic, bucket is not
    import graft.iceberg.ScanPlanning
    val dir = LakehouseExec.entryDir("i54", sfDir)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val infos = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
    assert(ScanPlanning.pruneManifestsByRange(infos, meta, 3, Some(3), None).size == 2)
    assert(ScanPlanning.pruneManifestsByRange(infos, meta, 3, None, Some(1)).size == 2)
    assert(ScanPlanning.pruneManifestsByRange(infos, meta, 3, Some(1), Some(3)).size == 3)
    // a range on a non-partition column keeps everything (conservative)
    assert(ScanPlanning.pruneManifestsByRange(infos, meta, 1, Some(3), None).size == 5)
    // the programmatic range read over a FRESH table (the entry's table
    // has corrupted pruned manifests) — pruning + MOR + residual composed
    val fresh = java.nio.file.Files.createTempDirectory("graft-rrange").toString
    GraftTable.create(fresh, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000r2", timestampMs = 1700000000000L,
      spec = PartitionSpec(0, Seq(PartitionField("n_regionkey_id", "identity", 3, 1000))))
    GraftTable.append(spark, fresh, graft.Tables.load(spark, sfDir, "nation"))
    GraftTable.deleteWhere(spark, fresh, col("n_nationkey") === 19) // region 4
    val (df, opened, total) = GraftTable.readWhereRange(
      spark, GraftTable.latestMetadataPath(fresh), 3, Some(3), None)
    assert(opened == 2 && total == 5)
    val keys = df.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(keys == Seq(3, 4, 8, 9, 13, 14, 18, 23, 24)) // regions 3,4 minus 19
  }

  test("metadata columns _file and _pos are selectable through the DSv2 scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-metacols").toString
    GraftTable.create(dir, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000mc", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, graft.Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") < 13).orderBy(col("n_nationkey")))
    GraftTable.append(spark, dir, graft.Tables.load(spark, sfDir, "nation")
      .filter(col("n_nationkey") >= 13).orderBy(col("n_nationkey")))
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    // never in SELECT *
    assert(df.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    val rows = df.select(col("n_nationkey"), col("_file"), col("_pos"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._2).distinct.length == 2) // two physical files
    // _pos is the file-absolute row index (files written key-ordered)
    assert(rows.find(_._1 == 0).get._3 == 0L)
    assert(rows.find(_._1 == 14).get._3 == 1L) // second row of the second file
  }

  test("cross-route racing commits serialize onto one linear history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-race").toString
    GraftTable.create(dir, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000rc", timestampMs = 1700000000000L)
    val nation = graft.Tables.load(spark, sfDir, "nation")
    val lo = nation.filter(col("n_nationkey") < 13)
    val hi = nation.filter(col("n_nationkey") >= 13)
    // one DSv2 writer and one programmatic append race on the CAS loop
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val f1 = scala.concurrent.Future {
      lo.write.format("graft-table")
        .option("metadata", GraftTable.latestMetadataPath(dir))
        .mode("append").save()
    }
    val f2 = scala.concurrent.Future { GraftTable.append(spark, dir, hi) }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(f1, f2)),
      scala.concurrent.duration.Duration(120, "s"))
    finally pool.shutdown()
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.snapshots.map(_.snapshotId).sorted == Seq(1L, 2L))
    meta.snapshotLog.map(_.snapshotId).sliding(2).foreach {
      case Seq(p, c) => assert(meta.snapshot(c).get.parentSnapshotId.contains(p))
      case _ => ()
    }
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == 25L)
  }

  test("SQL UPDATE and MERGE INTO: group-based copy-on-write through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-dml").toString
    spark.conf.set("spark.sql.catalog.graft_dml",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dml.warehouse", wh)
    spark.sql("CREATE TABLE graft_dml.db.n (k INT, name STRING, r INT)")
    graft.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey AS k", "n_name AS name", "n_regionkey AS r")
      .createOrReplaceTempView("dml_src")
    // two appends → two files, so the UPDATE below can prune one
    spark.sql("INSERT INTO graft_dml.db.n SELECT * FROM dml_src WHERE k < 13")
    spark.sql("INSERT INTO graft_dml.db.n SELECT * FROM dml_src WHERE k >= 13")
    spark.sql("UPDATE graft_dml.db.n SET name = concat('upd-', name) WHERE k = 3")
    val updated = spark.sql("SELECT name FROM graft_dml.db.n WHERE k = 3")
      .head().getString(0)
    assert(updated == "upd-NATION_3")
    assert(spark.sql("SELECT COUNT(*) FROM graft_dml.db.n").head().getLong(0) == 25L)
    // the replace swapped only the affected group: the high-key file
    // carried forward (still EXISTING after the overwrite snapshot)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/n"))
    assert(meta.currentSnapshot.get.operation.contains("overwrite"))
    val entries = graft.iceberg.ManifestListReader.read(
        meta.currentSnapshot.get.manifestList.get)
      .filter(_.content == 0).flatMap(i => ManifestWriter.read(i.path))
      .filter(_.status != 2)
    assert(entries.exists(_.sequenceNumber.contains(2L)),
      "untouched file must keep its original sequence number")
    // MERGE INTO: update one key, insert a new one
    spark.sql("""SELECT 5 AS k, CAST('MERGED_5' AS STRING) AS name, 0 AS r
      UNION ALL SELECT 99, 'NEW_99', 4""").createOrReplaceTempView("dml_merge_src")
    spark.sql("""MERGE INTO graft_dml.db.n t USING dml_merge_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT name FROM graft_dml.db.n WHERE k = 5")
      .head().getString(0) == "MERGED_5")
    assert(spark.sql("SELECT name FROM graft_dml.db.n WHERE k = 99")
      .head().getString(0) == "NEW_99")
    assert(spark.sql("SELECT COUNT(*) FROM graft_dml.db.n").head().getLong(0) == 26L)
    assert(spark.sql("SELECT name FROM graft_dml.db.n WHERE k = 3")
      .head().getString(0) == "upd-NATION_3") // earlier update survives
  }

  test("SQL CTAS and INSERT OVERWRITE route through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ctas").toString
    spark.conf.set("spark.sql.catalog.graft_ct",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ct.warehouse", wh)
    graft.Tables.load(spark, sfDir, "nation")
      .selectExpr("n_nationkey AS k", "n_name AS name", "n_regionkey AS r")
      .createOrReplaceTempView("ctas_src")
    // CREATE TABLE AS SELECT: create + append in one statement
    spark.sql("CREATE TABLE graft_ct.db.n AS SELECT * FROM ctas_src WHERE r <> 2")
    assert(spark.sql("SELECT COUNT(*) FROM graft_ct.db.n").head().getLong(0) == 20L)
    // INSERT OVERWRITE = truncate + append as ONE atomic replace snapshot
    spark.sql("INSERT OVERWRITE graft_ct.db.n SELECT * FROM ctas_src WHERE r = 2")
    assert(spark.sql("SELECT COUNT(*) FROM graft_ct.db.n").head().getLong(0) == 5L)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/n"))
    assert(meta.currentSnapshot.get.operation.contains("overwrite"))
    // pre-overwrite content still time-travelable
    assert(spark.sql("SELECT COUNT(*) FROM graft_ct.db.n VERSION AS OF 1")
      .head().getLong(0) == 20L)
  }

  test("st13: streaming sink entry commits epoch-tagged snapshots") {
    val rows = graft.streaming.EventStreams.queries("st13_table_sink")(spark, sfDir)
    assert(rows.count() > 0)
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st13-${graft.Scratch.procToken}",
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(out))
    assert(meta.snapshots.nonEmpty)
    assert(meta.snapshots.forall(_.summary.contains("streaming-query-epoch")))
  }

  test("streaming epoch replay is idempotent: same epoch never commits twice") {
    import graft.sources.{GraftFileMessage, GraftTableStreamingWrite, GraftWriteMessage}
    val dir = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    GraftTable.create(dir, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000ep", timestampMs = 1700000000000L)
    val fields = Seq((1, "n_nationkey", graft.iceberg.IcebergTypes.TInt: graft.iceberg.IcebergType),
      (2, "n_name", graft.iceberg.IcebergTypes.TString: graft.iceberg.IcebergType),
      (3, "n_regionkey", graft.iceberg.IcebergTypes.TInt: graft.iceberg.IcebergType))
    val w = new GraftTableStreamingWrite(dir, GraftTable.sparkSchema(
      TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))), fields, None,
      "q-test",
      new graft.iceberg.SerializableHadoopConf(graft.iceberg.HadoopConfs.active()))
    def landFile(name: String): String = {
      val f = s"$dir/data/$name.parquet"
      ParquetFiles.writeOne(graft.Tables.load(spark, sfDir, "nation")
        .filter(col("n_nationkey") < 5), f)
      f
    }
    def msg(f: String) = GraftWriteMessage(Seq(
      GraftFileMessage(f, 5L, HadoopConfs.length(f), Map.empty, Map.empty, None, 0)))
    w.commit(0L, Array(msg(landFile("e0-a"))))
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).snapshots.size == 1)
    // the replayed epoch re-writes its file under a new attempt name —
    // commit must find the epoch tag, drop the file, add NO snapshot
    val replayFile = landFile("e0-b")
    w.commit(0L, Array(msg(replayFile)))
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.snapshots.size == 1)
    assert(!HadoopConfs.fileSystemFor(replayFile)
      .exists(new org.apache.hadoop.fs.Path(replayFile)))
    // the NEXT epoch commits normally
    w.commit(1L, Array(msg(landFile("e1-a"))))
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).snapshots.size == 2)
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == 10L)
  }

  test("SQL namespaces and RENAME TABLE through the catalog") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ns").toString
    spark.conf.set("spark.sql.catalog.graft_ns",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ns.warehouse", wh)
    spark.sql("CREATE NAMESPACE graft_ns.db1")
    spark.sql("CREATE NAMESPACE graft_ns.db2")
    val namespaces = spark.sql("SHOW NAMESPACES IN graft_ns")
      .collect().map(_.getString(0)).toSet
    assert(namespaces == Set("db1", "db2"))
    spark.sql("CREATE TABLE graft_ns.db1.t (k INT, name STRING)")
    spark.sql("INSERT INTO graft_ns.db1.t VALUES (1, 'one'), (2, 'two')")
    spark.sql("INSERT INTO graft_ns.db1.t VALUES (3, 'three')")
    spark.sql("DELETE FROM graft_ns.db1.t WHERE k = 2")
    // rename ACROSS namespaces: directory move + metadata path rewrite —
    // reads, MOR deletes, and time travel all survive under the new name
    spark.sql("ALTER TABLE graft_ns.db1.t RENAME TO db2.t2")
    assert(spark.sql("SHOW TABLES IN graft_ns.db1").collect().isEmpty)
    val rows = spark.sql("SELECT k, name FROM graft_ns.db2.t2 ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "one"), (3, "three")))
    assert(spark.sql("SELECT COUNT(*) FROM graft_ns.db2.t2 VERSION AS OF 2")
      .head().getLong(0) == 3L) // pre-delete snapshot, post-rename
    // the native route agrees on the moved metadata
    assert(GraftTable.read(spark,
      GraftTable.latestMetadataPath(s"$wh/db2/t2")).count() == 2L)
    // the rewritten position-delete file's entry records its new length
    val moved = ManifestListReader.read(TableMetadata.parseFile(
        GraftTable.latestMetadataPath(s"$wh/db2/t2")).currentSnapshot.get.manifestList.get)
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2)
    assert(moved.count(_.content == 1) == 1)
    moved.foreach(e => assert(e.fileSizeInBytes == HadoopConfs.length(e.filePath), e.filePath))
    // RESTRICT drop refuses a non-empty namespace; cascade removes it
    intercept[Exception] { spark.sql("DROP NAMESPACE graft_ns.db2") }
    spark.sql("DROP NAMESPACE graft_ns.db2 CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN graft_ns")
      .collect().map(_.getString(0)).toSet == Set("db1"))
  }

  test("i56: DECIMAL columns round-trip the SQL route with prunable bound stats") {
    val row = LakehouseMaint.sqlDecimal(spark, sfDir).head()
    assert(row.getAs[Long]("n_big") > 0L)
    assert(row.getAs[java.math.BigDecimal]("min_price")
      .compareTo(new java.math.BigDecimal("300000.00")) > 0)
    // destructive pruning proof: a file whose decimal bounds exclude the
    // pushed predicate is never opened. Two price-banded files; corrupt
    // the low one; the high-band query still answers.
    val wh = java.nio.file.Files.createTempDirectory("graft-decp").toString
    spark.conf.set("spark.sql.catalog.graft_decp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_decp.warehouse", wh)
    spark.sql("CREATE TABLE graft_decp.db.t (k BIGINT, price DECIMAL(12,2))")
    spark.sql("INSERT INTO graft_decp.db.t VALUES (1, 10.50), (2, 20.25)")
    spark.sql("INSERT INTO graft_decp.db.t VALUES (3, 90000.75), (4, 80000.00)")
    val meta = graft.iceberg.TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/t"))
    val lowFile = graft.iceberg.ManifestListReader
      .read(meta.currentSnapshot.get.manifestList.get)
      .flatMap(i => graft.iceberg.ManifestWriter.read(i.path))
      .find(_.snapshotId == 1L).get.filePath // the low-band INSERT
    java.nio.file.Files.write(java.nio.file.Paths.get(lowFile),
      "corrupted: decimal bound pruning must skip this file".getBytes)
    val got = spark.sql(
      "SELECT k, price FROM graft_decp.db.t WHERE price > 50000.00 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
    assert(got.toSeq == Seq((3L, "90000.75"), (4L, "80000.00")))
  }

  test("BINARY columns round-trip the SQL/DSv2 route on both decode paths") {
    val wh = java.nio.file.Files.createTempDirectory("graft-binp").toString
    spark.conf.set("spark.sql.catalog.graft_binp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_binp.warehouse", wh)
    spark.sql("CREATE TABLE graft_binp.db.t (k BIGINT, payload BINARY)")
    spark.sql(
      "INSERT INTO graft_binp.db.t SELECT id, unhex(concat('ab', lpad(hex(id), 6, '0'))) " +
      "FROM range(0, 100)")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      assert(rows.length == 100)
      rows.foreach { case (k, b) =>
        assert(b.length == 4 && (b(0) & 0xff) == 0xab && (b(3) & 0xff) == (k & 0xff)) }
    }
    // columnar (clean scan, binary is in the vectorized palette)
    val clean = spark.sql("SELECT k, payload FROM graft_binp.db.t")
    assert(clean.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    check(clean)
    // and the native GraftTable.read path
    val meta = GraftTable.latestMetadataPath(s"$wh/db/t")
    check(GraftTable.read(spark, meta).select("k", "payload"))
  }

  test("ALTER TABLE DROP COLUMN; re-adding a historical name is refused") {
    val wh = java.nio.file.Files.createTempDirectory("graft-dropc").toString
    spark.conf.set("spark.sql.catalog.graft_dropc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dropc.warehouse", wh)
    spark.sql("CREATE TABLE graft_dropc.db.t (k BIGINT, v STRING, extra INT)")
    spark.sql("INSERT INTO graft_dropc.db.t VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql("ALTER TABLE graft_dropc.db.t DROP COLUMN extra")
    val rows = spark.sql("SELECT * FROM graft_dropc.db.t ORDER BY k").collect()
    assert(rows.map(_.length).toSeq == Seq(2, 2)) // extra is gone
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // a FRESH name evolves fine...
    spark.sql("ALTER TABLE graft_dropc.db.t ADD COLUMN extra2 INT")
    // ...but re-adding the dropped name would resurrect old file contents
    // under name-based resolution — refused with a clear message
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_dropc.db.t ADD COLUMN extra INT")
    }
    assert(e.getMessage.contains("resurrect") ||
      Option(e.getCause).exists(_.getMessage.contains("resurrect")), e.getMessage)
    // partition sources cannot be dropped
    spark.sql("CREATE TABLE graft_dropc.db.p (k BIGINT, r INT) PARTITIONED BY (r)")
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_dropc.db.p DROP COLUMN r")
    }
    assert(e2.getMessage.contains("partition source") ||
      Option(e2.getCause).exists(_.getMessage.contains("partition source")), e2.getMessage)
  }

  test("equality deletes apply in-reader with strict sequence scoping") {
    // seq 1: keys < 13; seq 2: equality delete on names of 3 (present) and
    // 20 (future); seq 3: keys >= 13 — nation 20 arrives AFTER the delete
    // and must escape (strict rule); the delete never selects n_name in
    // the query, so the reader's projection must widen to cover it
    val dir = java.nio.file.Files.createTempDirectory("graft-eqdsv2").toString
    val nation = graft.Tables.load(spark, sfDir, "nation")
    GraftTable.create(dir, nationSchema,
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000e1", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13))
    // hand-commit an equality-delete file (deleteWhere only writes positions)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val eqF = s"$dir/data/eq.parquet"
    ParquetFiles.writeOne(nation.filter(col("n_nationkey").isin(3, 20))
      .select(col("n_name")).orderBy(col("n_name")), eqF)
    val mEq = s"$dir/m-eq.avro"
    ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
      1, 2L, eqF, 2L, HadoopConfs.length(eqF), Map.empty, Map.empty,
      content = 2, sequenceNumber = Some(2L))))
    val carried = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
    val list2 = s"$dir/snap-2-list.avro"
    ManifestListWriter.write(list2, carried.map(_.path) :+ mEq, 2L,
      contents = Map(mEq -> 1), seqNums = carried.map(i => i.path -> i.sequenceNumber).toMap)
    val v2 = s"$dir/v2.metadata.json"
    MetadataWriter.write(v2, MetadataWriter.commitSnapshot(meta,
      Snapshot(2L, meta.currentSnapshotId, 1700000002000L, Some("delete"),
        Map.empty, Some(list2), Some(0)), None))
    // seq 3 lands through the CAS loop on top of the hand-written v2
    // (refresh walks the version chain forward, stale hints tolerated)
    GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13))
    val df = spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
    val keys = df.select("n_nationkey").collect().map(_.getInt(0)).sorted.toSeq
    assert(!keys.contains(3), "equality-deleted key leaked")
    assert(keys.contains(20), "strictly-later append must escape the delete")
    assert(keys.size == 24)
  }
}

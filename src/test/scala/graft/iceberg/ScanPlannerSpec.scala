package graft.iceberg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one scan planner behind every `GraftTable` read: pruned reads keep
  * their rows and their `(opened, total)` data-manifest counts, traveled
  * reads resolve the schema the catalog's `VERSION AS OF` resolves, a
  * branch DELETE scans the branch head, and a keyed read or DELETE opens
  * only the data manifests whose partition summaries can hold the key. */
class ScanPlannerSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-planner-$tag").toString

  private def catalog(name: String): String = {
    val wh = freshDir(name)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s"$wh/db/t"
  }

  /** Runs `op` with the counting filesystem serving `file:` paths. */
  private def counted[T](op: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CommitIoCountingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    CommitIoCountingFs.reset()
    try op
    finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  private def listRows(dir: String): Seq[ManifestListReader.ManifestFileInfo] =
    TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))

  private def opened(paths: Seq[String]): Seq[String] =
    paths.filter(p => CommitIoCountingFs.opened.contains(PathId(p)))

  private val kv = IcebergSchema(0, Seq(
    IcebergField(1, "k", required = false, "long"),
    IcebergField(2, "v", required = false, "string")))

  /** k in [0, 40) appended under bucket[4](k): one data manifest per
    * bucket, each with its bucket ordinal as its field-507 summary. */
  private def bucketed(tag: String): String = {
    val dir = freshDir(tag)
    GraftTable.create(dir, kv, tableUuid = s"5ca90000-0000-4000-8000-0000000000$tag",
      timestampMs = T0,
      spec = PartitionSpec(0, Seq(PartitionField("k_bucket", "bucket[4]", 1, 1000))))
    GraftTable.append(spark, dir,
      spark.range(0, 40).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    dir
  }

  private def kvRows(df: DataFrame): Seq[(Long, String)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  test("readWhere and readWhereRange keep their rows and manifest counts under both delete kinds") {
    val dir = bucketed("01")
    GraftTable.deleteWhere(spark, dir, col("k") === 3L)
    GraftTable.upsert(spark, dir,
      spark.range(5, 7).select(col("id").as("k"), lit("new").as("v")), Seq("k"))
    val path = GraftTable.latestMetadataPath(dir)
    val dataManifests = listRows(dir).count(_.content == 0)
    assert(dataManifests == 6, listRows(dir))

    // a key's bucket holds one appended manifest, plus the upsert's
    // manifest when the key shares a bucket with 5 or 6
    def bucket(k: Long): Int = PartitionTransforms.bucketLong(k, 4)
    def manifestsOf(k: Long): Int = 1 + Seq(5L, 6L).map(bucket).distinct.count(_ == bucket(k))
    val (gone, goneOpened, goneTotal) = GraftTable.readWhere(spark, path, 1, 3L)
    assert(kvRows(gone).isEmpty)
    assert((goneOpened, goneTotal) == (manifestsOf(3L), 6))
    val (upserted, upsertedOpened, upsertedTotal) = GraftTable.readWhere(spark, path, 1, 5L)
    assert(kvRows(upserted) == Seq((5L, "new")))
    assert((upsertedOpened, upsertedTotal) == (2, 6))
    val plainKey = (7L until 40L).find(manifestsOf(_) == 1).get
    val (plain, plainOpened, _) = GraftTable.readWhere(spark, path, 1, plainKey)
    assert(kvRows(plain) == Seq((plainKey, s"v$plainKey")))
    assert(plainOpened == 1)

    // bucket hashes are not monotonic: a range opens every data manifest
    val (range, rangeOpened, rangeTotal) =
      GraftTable.readWhereRange(spark, path, 1, Some(2L), Some(6L))
    assert(kvRows(range) == Seq((2L, "v2"), (4L, "v4"), (5L, "new"), (6L, "new")))
    assert((rangeOpened, rangeTotal) == (6, 6))
    val (above, _, _) = GraftTable.readWhereRange(spark, path, 1, Some(37L), None)
    assert(kvRows(above).map(_._1) == Seq(37L, 38L, 39L))
  }

  test("a traveled GraftTable.read resolves the schema VERSION AS OF resolves") {
    val dir = catalog("sptravel")
    spark.sql("CREATE TABLE sptravel.db.t (k BIGINT, a STRING, b INT)")
    spark.sql("INSERT INTO sptravel.db.t VALUES (1, 'x', 10), (2, 'y', 20)")
    def head(): Long = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .currentSnapshotId.get
    val beforeDrop = head()
    spark.sql("ALTER TABLE sptravel.db.t DROP COLUMN b")
    spark.sql("INSERT INTO sptravel.db.t VALUES (3, 'z')")
    spark.sql("DELETE FROM sptravel.db.t WHERE k = 1")
    val beforeRename = head()
    GraftTable.createTag(dir, "pre_rename", Some(beforeRename))
    spark.sql("ALTER TABLE sptravel.db.t RENAME COLUMN a TO c")
    spark.sql("INSERT INTO sptravel.db.t VALUES (4, 'w')")
    val metaPath = GraftTable.latestMetadataPath(dir)

    def same(api: DataFrame, version: String, columns: Seq[String]): Unit = {
      val sql = spark.sql(s"SELECT * FROM sptravel.db.t VERSION AS OF $version")
      assert(api.columns.toSeq == columns && sql.columns.toSeq == columns,
        s"${api.columns.toSeq} / ${sql.columns.toSeq}")
      assert(api.collect().map(_.toString).sorted.toSeq ==
        sql.collect().map(_.toString).sorted.toSeq)
    }
    same(GraftTable.read(spark, metaPath, snapshotId = Some(beforeDrop)),
      beforeDrop.toString, Seq("k", "a", "b"))
    same(GraftTable.read(spark, metaPath, snapshotId = Some(beforeRename)),
      beforeRename.toString, Seq("k", "a"))
    same(GraftTable.read(spark, metaPath, ref = Some("pre_rename")),
      "'pre_rename'", Seq("k", "a"))
    assert(GraftTable.read(spark, metaPath, snapshotId = Some(beforeRename))
      .orderBy("k").collect().toSeq == Seq(Row(2L, "y"), Row(3L, "z")))
    // the head reads under the current schema
    assert(GraftTable.read(spark, metaPath).columns.toSeq == Seq("k", "c"))
    assert(GraftTable.read(spark, metaPath).orderBy("k").collect().toSeq ==
      Seq(Row(2L, "y"), Row(3L, "z"), Row(4L, "w")))
  }

  test("the graft-table reader's snapshot-id option reads under the snapshot's schema") {
    val dir = catalog("spoption")
    spark.sql("CREATE TABLE spoption.db.t (k BIGINT, a STRING, b INT)")
    spark.sql("INSERT INTO spoption.db.t VALUES (1, 'x', 10)")
    val before = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).currentSnapshotId.get
    spark.sql("ALTER TABLE spoption.db.t DROP COLUMN b")
    spark.sql("INSERT INTO spoption.db.t VALUES (2, 'y')")
    val path = GraftTable.latestMetadataPath(dir)
    def at(opt: String, v: String) =
      spark.read.format("graft-table").option("metadata", path).option(opt, v).load()
    assert(at("snapshot-id", before.toString).collect().toSeq == Seq(Row(1L, "x", 10)))
    assert(spark.sql(s"SELECT * FROM spoption.db.t VERSION AS OF $before").collect().toSeq ==
      Seq(Row(1L, "x", 10)))
    assert(spark.read.format("graft-table").option("metadata", path).load()
      .orderBy("k").collect().toSeq == Seq(Row(1L, "x"), Row(2L, "y")))
  }

  test("a branch deleteWhere scans the branch head and moves only the branch") {
    val dir = freshDir("branch")
    GraftTable.create(dir, kv, tableUuid = "5ca90000-0000-4000-8000-0000000000b1",
      timestampMs = T0)
    GraftTable.append(spark, dir,
      spark.range(0, 20).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    GraftTable.createBranch(dir, "audit")
    val mainHead = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).currentSnapshotId
    GraftTable.deleteWhere(spark, dir, col("k") < 5L, branch = Some("audit"))
    GraftTable.deleteWhere(spark, dir, col("k") === 7L || col("k") === 2L, branch = Some("audit"))
    val version = OptimisticCommit.currentVersion(dir)
    // a predicate matching no live branch row commits nothing
    GraftTable.deleteWhere(spark, dir, col("k") === 3L, branch = Some("audit"))
    assert(OptimisticCommit.currentVersion(dir) == version)
    val path = GraftTable.latestMetadataPath(dir)
    assert(TableMetadata.parseFile(path).currentSnapshotId == mainHead)
    assert(GraftTable.read(spark, path).count() == 20L)
    assert(kvRows(GraftTable.read(spark, path, ref = Some("audit"))).map(_._1) ==
      ((5L until 20L).filterNot(_ == 7L)))
  }

  test("a SQL point read opens the list and only the data manifests of its key's bucket") {
    val dir = catalog("sppoint")
    spark.sql("CREATE TABLE sppoint.db.t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k)) " +
      "TBLPROPERTIES ('write.delete.mode'='merge-on-read')")
    spark.sql("INSERT INTO sppoint.db.t SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("INSERT INTO sppoint.db.t SELECT id, concat('w', id) FROM range(100, 200)")
    // a delete in another bucket than the read key's
    val deletedKey = (0L until 100L).find(k =>
      PartitionTransforms.bucketLong(k, 4) != PartitionTransforms.bucketLong(42L, 4)).get
    spark.sql(s"DELETE FROM sppoint.db.t WHERE k = $deletedKey AND length(v) > 1")
    val rows = listRows(dir)
    val got = counted(spark.sql("SELECT v FROM sppoint.db.t WHERE k = 42").collect())
    assert(got.map(_.getString(0)).toSeq == Seq("v42"))
    val list = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .currentSnapshot.get.manifestList.get
    assert(opened(Seq(list)) == Seq(list))
    // the two inserts each wrote one manifest per bucket; the key's bucket
    // is one manifest of each, and the delete's manifest is another bucket's
    assert(rows.count(_.content == 0) == 8 && rows.count(_.content == 1) == 1, rows)
    assert(opened(rows.filter(_.content == 0).map(_.path)).size == 2)
    assert(opened(rows.filter(_.content == 1).map(_.path)).isEmpty)
  }

  test("deleteWhere(k = v) on a 4-bucket table scans only the one surviving data manifest") {
    val dir = bucketed("02")
    val rows = listRows(dir)
    assert(rows.count(_.content == 0) == 4, rows)
    counted(GraftTable.deleteWhere(spark, dir, col("k") === 7L))
    // the DELETE's scan opens the key's manifest; the commit's liveness
    // check of the addressed file then opens every data manifest once
    val opens = rows.map(i => i.path ->
      Option(CommitIoCountingFs.opens.get(PathId(i.path))).map(_.get).getOrElse(0)).toMap
    assert(opens.values.toSeq.sorted == Seq(1, 1, 1, 2), opens)
    val holdsKey = ManifestWriter.read(opens.find(_._2 == 2).get._1).exists(e =>
      SingleValueCodec.decode(IcebergTypes.TLong, e.lowerBounds(1)).asInstanceOf[Long] <= 7L &&
        SingleValueCodec.decode(IcebergTypes.TLong, e.upperBounds(1)).asInstanceOf[Long] >= 7L)
    assert(holdsKey)
    val path = GraftTable.latestMetadataPath(dir)
    assert(GraftTable.read(spark, path).count() == 39L)
    assert(GraftTable.read(spark, path).filter(col("k") === 7L).count() == 0L)
  }

  test("add_files refuses a file the table already lists") {
    val dir = catalog("spadd")
    spark.sql("CREATE TABLE spadd.db.t (k BIGINT, v STRING)")
    val staged = freshDir("staged")
    spark.range(0, 10).select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(staged)
    spark.sql(s"CALL spadd.system.add_files(table => 'db.t', source_dir => '$staged')")
    val version = OptimisticCommit.currentVersion(dir)
    val file = new java.io.File(staged).listFiles().map(_.getName)
      .find(_.endsWith(".parquet")).get
    val err = intercept[Exception] {
      spark.sql(s"CALL spadd.system.add_files(table => 'db.t', source_dir => '$staged')")
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains(file))), err)
    assert(OptimisticCommit.currentVersion(dir) == version)
    assert(spark.sql("SELECT count(*) FROM spadd.db.t").head().getLong(0) == 10L)
  }
}

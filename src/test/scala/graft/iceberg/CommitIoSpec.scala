package graft.iceberg

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local filesystem, recording the paths it is asked to stat (outside
  * of an `open`, which stats the file it opens) and the paths it opens,
  * with how often. */
class CommitIoCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CommitIoCountingFs.opened.add(PathId(f.toString))
    CommitIoCountingFs.opens.computeIfAbsent(PathId(f.toString),
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    CommitIoCountingFs.inOpen.set(true)
    try super.open(f, bufferSize) finally CommitIoCountingFs.inOpen.set(false)
  }
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    if (!CommitIoCountingFs.inOpen.get()) CommitIoCountingFs.statted.add(PathId(f.toString))
    super.getFileStatus(f)
  }
}

object CommitIoCountingFs {
  val statted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val opens = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
  private[iceberg] val inOpen = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  def reset(): Unit = { statted.clear(); opened.clear(); opens.clear() }
}

/** What a commit reads and writes besides its answer: the manifest-list
  * rows it writes, the files it stats and the delete files it reads. */
class CommitIoSpec extends SparkSpec {

  private def meta(dir: String): TableMetadata =
    TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))

  private def listRows(dir: String): Seq[ManifestListReader.ManifestFileInfo] =
    meta(dir).currentSnapshot.toSeq.flatMap(s => ManifestListReader.read(s.manifestList.get))

  private def catalog(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-cio-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s"$wh/db/t"
  }

  /** The Spark jobs started while `op` runs. */
  private def jobsDuring(op: => Any): Int = {
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val ends = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = starts.incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      op
      // listener events post asynchronously — wait for them to drain
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((starts.get() == 0 || starts.get() != ends.get()) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      starts.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val morProps = "TBLPROPERTIES ('write.update.mode'='merge-on-read', " +
    "'write.delete.mode'='merge-on-read', 'write.merge.mode'='merge-on-read')"

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

  test("the manifests table lists each new manifest's own count of added files (field 504)") {
    val t = catalog("cio1")
    spark.sql("CREATE TABLE cio1.db.t (k BIGINT, r INT, v STRING) PARTITIONED BY (r) " +
      morProps.dropRight(1) + ", 'format-version'='2')")
    spark.sql("INSERT INTO cio1.db.t SELECT /*+ COALESCE(1) */ id, CAST(id % 3 AS INT), 'a' " +
      "FROM range(0, 9)")
    def manifests() = MetadataTables.manifests(spark, meta(t).currentSnapshot.get.manifestList.get)
      .select("manifest_path", "added_snapshot_id", "added_data_files_count", "content")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    // a 3-tuple partitioned append: three manifests adding one file each
    val appended = manifests()
    assert(appended.map(_._3) == Seq(1, 1, 1), appended)
    // a pure DELETE: its delete manifest adds its delete files
    spark.sql("DELETE FROM cio1.db.t WHERE k = 4")
    val head = meta(t).currentSnapshotId.get
    val del = manifests().filter(_._2 == head)
    assert(del.map(m => (m._4, m._3)) ==
      Seq((1, meta(t).currentSnapshot.get.summary("added-delete-files").toInt)), del)
    assert(del.forall(_._3 > 0), del)
  }

  test("an append, a merge-on-read DELETE and rewrite_manifests stat no carried manifest") {
    val t = catalog("cio2")
    spark.sql(s"CREATE TABLE cio2.db.t (k BIGINT, v STRING) $morProps")
    (0 until 20).foreach(i => spark.sql(
      s"INSERT INTO cio2.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(${i * 5}, ${i * 5 + 5})"))
    def carriedStats(op: => Any): Set[String] = {
      val carried = listRows(t).map(i => PathId(i.path)).toSet
      assert(carried.size >= 20)
      counted(op)
      carried.filter(CommitIoCountingFs.statted.contains)
    }
    assert(carriedStats(spark.sql(
      "INSERT INTO cio2.db.t SELECT /*+ COALESCE(1) */ id, 'b' FROM range(100, 105)")).isEmpty)
    assert(carriedStats(spark.sql("DELETE FROM cio2.db.t WHERE k = 7")).isEmpty)
    assert(carriedStats(spark.sql("CALL cio2.system.rewrite_manifests('db.t')")).isEmpty)
    assert(spark.sql("SELECT count(*) FROM cio2.db.t").head().getLong(0) == 104L)
  }

  test("a merge-on-read UPDATE reads none of its own delete files to commit") {
    val t = catalog("cio3")
    spark.sql(s"CREATE TABLE cio3.db.t (k BIGINT, v STRING) $morProps")
    spark.sql("INSERT INTO cio3.db.t SELECT id, concat('v', id) FROM range(0, 1000)")
    spark.sql("INSERT INTO cio3.db.t SELECT id, concat('v', id) FROM range(1000, 2000)")
    val jobs = jobsDuring(
      counted(spark.sql("UPDATE cio3.db.t SET v = 'u' WHERE k % 100 = 7 AND length(v) > 2")))
    val delReads = CommitIoCountingFs.opened.toArray(Array.empty[String])
      .filter(_.split('/').last.startsWith("del-"))
    // the scan-and-write job alone (4 jobs when the commit re-read the
    // delete files to learn their targets)
    assert(jobs == 1, s"$jobs Spark jobs per merge-on-read UPDATE")
    assert(delReads.isEmpty, s"the UPDATE read its delete files: ${delReads.mkString(", ")}")
    // k % 100 = 7 holds for 20 keys; 'v7' is too short for the predicate
    assert(spark.sql("SELECT count(*) FROM cio3.db.t WHERE v = 'u'").head().getLong(0) == 19L)
    assert(spark.sql("SELECT count(*) FROM cio3.db.t").head().getLong(0) == 2000L)
  }

  test("v2 rewrite_position_delete_files writes the manifests' spelling of each data file") {
    val base = java.nio.file.Files.createTempDirectory("graft-cio-uri").toString
    val dir = s"file://$base"
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "5a9c0000-0000-4000-8000-000000000009", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir, spark.range(0, 10, 1, 1).select(col("id").as("k"), lit("a").as("v")))
    GraftTable.append(spark, dir, spark.range(10, 20, 1, 1).select(col("id").as("k"), lit("a").as("v")))
    GraftTable.deleteWhere(spark, dir, col("k") === 3 || col("k") === 13)
    GraftTable.rewritePositionDeleteFiles(spark, dir)
    val rows = listRows(dir)
    val dataPaths = rows.filter(_.content == 0).flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 0).map(_.filePath).toSet
    val delFiles = rows.filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
      .filter(_.status != 2).map(_.filePath)
    assert(delFiles.size == 1)
    val written = spark.read.parquet(delFiles: _*).select("file_path").collect()
      .map(_.getString(0)).toSeq
    assert(written.size == 2)
    assert(written.forall(dataPaths), s"${written.mkString(", ")} vs ${dataPaths.mkString(", ")}")
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == 18L)
  }

  test("bin-pack compaction, upsert and v2 rewrite_position_delete_files write without a stats job") {
    def table(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cio-jobs").toString
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "k", required = false, "long"),
        IcebergField(2, "v", required = false, "string"))),
        tableUuid = java.util.UUID.randomUUID().toString, timestampMs = 1700000000000L)
      dir
    }
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 1).select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
    def live(dir: String) = GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count()
    // one bin: two small files compact into one
    val c = table()
    GraftTable.append(spark, c, rows(0, 10))
    GraftTable.append(spark, c, rows(10, 20))
    val compactJobs = jobsDuring(GraftTable.compact(spark, c))
    assert(meta(c).currentSnapshot.get.summary("added-data-files") == "1")
    // an unpartitioned upsert: one equality-delete file and one data file
    val u = table()
    GraftTable.append(spark, u, rows(0, 10))
    val upsertJobs = jobsDuring(GraftTable.upsert(spark, u, rows(3, 5), Seq("k")))
    // its equality delete resolves into one position-delete file
    val rewriteJobs = jobsDuring(GraftTable.rewritePositionDeleteFiles(spark, u))
    assert(meta(u).currentSnapshot.get.summary("added-delete-files") == "1")
    // a file written through Spark's DataFrame writer and then re-read
    // for its stats ran 5, 6 and 8 jobs here: each written file (one,
    // two, one) now costs at least one job fewer
    assert(compactJobs <= 4, s"$compactJobs Spark jobs per one-bin compaction")
    assert(upsertJobs <= 4, s"$upsertJobs Spark jobs per unpartitioned upsert")
    assert(rewriteJobs <= 7, s"$rewriteJobs Spark jobs per v2 rewrite_position_delete_files")
    assert(live(c) == 20L && live(u) == 10L)
  }

  test("a catalog point read opens the head document once") {
    val t = catalog("cio5")
    spark.sql("CREATE TABLE cio5.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO cio5.db.t SELECT id, concat('v', id) FROM range(0, 100)")
    val head = PathId(GraftTable.latestMetadataPath(t))
    val got = counted(spark.sql("SELECT v FROM cio5.db.t WHERE k = 42").collect())
    assert(got.map(_.getString(0)).toSeq == Seq("v42"))
    val opens = Option(CommitIoCountingFs.opens.get(head)).map(_.get).getOrElse(0)
    assert(opens == 1, s"$opens opens of $head")
  }

  test("a merge-on-read read opens each delete file once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cio-opens").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "5a9c0000-0000-4000-8000-00000000000c", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir,
      spark.range(0, 100, 1, 1).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    // one position-delete file and one equality-delete file, both
    // addressing the one appended data file
    GraftTable.deleteWhere(spark, dir, col("k") === 3)
    GraftTable.upsert(spark, dir,
      spark.range(5, 6, 1, 1).select(col("id").as("k"), lit("new").as("v")), Seq("k"))
    val deletes = listRows(dir).filter(_.content == 1).flatMap(i => ManifestWriter.read(i.path))
      .filter(_.status != 2)
    assert(deletes.map(_.content).sorted == Seq(1, 2), deletes.map(_.filePath))
    val got = counted(spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .agg(count(lit(1)), count(when(col("v") === "new", 1)),
        count(when(col("k") === 3, 1))).head())
    assert(got == org.apache.spark.sql.Row(99L, 1L, 0L), got)
    deletes.foreach { e =>
      val opens = Option(CommitIoCountingFs.opens.get(PathId(e.filePath))).map(_.get).getOrElse(0)
      assert(opens == 1, s"$opens opens of ${e.filePath}")
    }
  }

  test("a changelog and rewrite_position_delete_files over one delete file of each kind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cio-dels").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "5a9c0000-0000-4000-8000-00000000000d", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir,
      spark.range(0, 100, 1, 1).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    // one position-delete commit, then one equality-delete commit
    GraftTable.deleteWhere(spark, dir, col("k") === 3)
    GraftTable.upsert(spark, dir,
      spark.range(5, 6, 1, 1).select(col("id").as("k"), lit("new").as("v")), Seq("k"))
    val changelogJobs = jobsDuring(GraftTable.changelog(spark, dir).collect())
    val deleted = GraftTable.changelog(spark, dir).filter(col("_change_type") === "delete")
      .select("k", "_change_ordinal").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(deleted == Set((3L, 1), (5L, 2)), deleted)
    val rewriteJobs = jobsDuring(GraftTable.rewritePositionDeleteFiles(spark, dir))
    assert(meta(dir).currentSnapshot.get.summary("added-delete-files") == "1")
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == 99L)
    // one scan per commit with the commit's added deletes as its
    // deleted-by set, no join: the changelog is its insert leg's broadcast
    // lookup and the collect; the rewrite is its resolving scan and the
    // delete-file write (5 and 6 jobs when the changelog joined the delete
    // files' rows back and the rewrite read each delete file as a
    // DataFrame)
    assert(changelogJobs <= 2, s"$changelogJobs Spark jobs per changelog")
    assert(rewriteJobs <= 2, s"$rewriteJobs Spark jobs per rewrite_position_delete_files")
  }

  test("a v3 deletion-vector merge opens each old delete file once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cio-dvmerge").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "5a9c0000-0000-4000-8000-00000000000e", timestampMs = 1700000000000L)
    GraftTable.append(spark, dir,
      spark.range(0, 100, 1, 1).select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
    // a v2 position-delete file, then (after the upgrade) a deletion vector
    // that absorbs its positions
    GraftTable.deleteWhere(spark, dir, col("k") === 3)
    GraftTable.upgradeFormatVersion(dir, 3)
    GraftTable.deleteWhere(spark, dir, col("k") === 5)
    def deleteFiles() = listRows(dir).filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2)
    val old = deleteFiles()
    assert(old.map(_.fileFormat).sorted == Seq("PARQUET", "PUFFIN"), old.map(_.filePath))
    val dataFile = listRows(dir).filter(_.content == 0)
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2).head.filePath
    val written = graft.sources.GraftTableWrites.writePositionDeleteFile(
      spark.range(7, 8, 1, 1).select(lit(dataFile).as("file_path"), col("id").as("pos")),
      s"$dir/data/delete-merge").get
    // the merge alone: the DELETE's own scan is not counted
    counted(GraftTable.commitDeltaFiles(dir, Nil, Seq(GraftTable.PendingFile(
      written.path, written.rows, written.bytes, written.lower, written.upper)), Set(dataFile)))
    old.foreach { e =>
      val opens = Option(CommitIoCountingFs.opens.get(PathId(e.filePath))).map(_.get).getOrElse(0)
      assert(opens == 1, s"$opens opens of ${e.filePath}")
    }
    val now = deleteFiles()
    assert(now.count(_.fileFormat == "PUFFIN") == 1, now.map(_.filePath))
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).select("k").collect()
      .map(_.getLong(0)).toSet == (0L until 100L).toSet -- Set(3L, 5L, 7L))
  }
}

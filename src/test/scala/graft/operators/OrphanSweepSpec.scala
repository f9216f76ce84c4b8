package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.SparkSpec
import graft.iceberg._

/** The orphan sweep's SCALE contract (VERDICT r19 "what's wrong" #2): the
  * file-count-proportional work — referenced-path enumeration, the data-
  * directory listing, the difference, the deletes — must run as Spark
  * jobs, never as a driver-side full-file-inventory Set. These tests pin
  * the plan shape (a LEFT ANTI join whose build side is the
  * graft-manifest DSv2 scan) and that executing the sweep actually
  * schedules distributed jobs, alongside the correctness the
  * ManifestMaintSpec sweep test already covers. */
class OrphanSweepSpec extends SparkSpec {

  private def mkTable(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-osw-$tag").toString + "/t"
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "int"))),
      tableUuid = s"b6b9a6a1-0000-4000-8000-00000000a1f$tag",
      timestampMs = 1700000000000L)
    import spark.implicits._
    GraftTable.append(spark, dir, Seq(1, 2, 3).toDF("k").coalesce(1))
    dir
  }

  private def dropDebris(dir: String, name: String): Unit = {
    val fs = HadoopConfs.fileSystemFor(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/data/$name"))
    out.write("failed-write debris, never committed".getBytes); out.close()
  }

  test("the candidate plan is a LEFT ANTI join over the DSv2 manifest scan " +
      "— no driver-side referenced set") {
    val dir = mkTable("0")
    dropDebris(dir, "zz-debris.parquet")
    val qe = GraftTable.orphanFileCandidates(spark, dir).queryExecution
    val antiJoins = qe.optimizedPlan.collect {
      case j: Join if j.joinType.sql == "LEFT ANTI" => j
    }
    assert(antiJoins.size == 1,
      s"the difference must be ONE left-anti join, got:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.toString.contains("graft-manifest"),
      "the referenced side must be the distributed graft-manifest DSv2 scan, " +
        s"not a collected set:\n${qe.optimizedPlan}")
  }

  test("executing the sweep schedules Spark jobs (listing + anti-join + " +
      "delete run distributed, not on the driver)") {
    val dir = mkTable("1")
    dropDebris(dir, "zz-debris.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(GraftTable.removeOrphanFiles(spark, dir) == 1L)
      // listener events post asynchronously — wait for them to drain
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() >= 2,
        s"expected the tree walk and the delete job at minimum, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!HadoopConfs.fileSystemFor(dir)
      .exists(new org.apache.hadoop.fs.Path(s"$dir/data/zz-debris.parquet")))
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == 3)
  }

  test("the sweep recurses into partition-style subdirectories (foreign " +
      "layouts) and leaves referenced files alone") {
    val dir = mkTable("2")
    val fs = HadoopConfs.fileSystemFor(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data/k=1"))
    dropDebris(dir, "k=1/zz-nested.parquet")
    dropDebris(dir, "zz-flat.orc")
    assert(GraftTable.removeOrphanFiles(spark, dir) == 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/k=1/zz-nested.parquet")))
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == 3)
  }

  test("expiry's file-tier difference runs distributed above the manifest-" +
      "bytes threshold and reclaims exactly the expired-only files") {
    val dir = mkTable("4")
    import spark.implicits._
    GraftTable.append(spark, dir, Seq(7, 8, 9).toDF("k").coalesce(1))
    // a replace snapshot tombstones both appended files: once their
    // append snapshots expire, the pre-compaction files are reclaimable
    GraftTable.compact(spark, dir)
    val metaBefore = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val preCompactionFiles = metaBefore.snapshots.sortBy(_.snapshotId).init
      .flatMap(_.manifestList)
      .flatMap(ManifestListReader.read).map(_.path).distinct
      .flatMap(m => ManifestWriter.read(m).filter(_.status != 2).map(_.filePath))
      .distinct
    assert(preCompactionFiles.size == 2, preCompactionFiles.toString)
    val fs = HadoopConfs.fileSystemFor(dir)
    spark.conf.set("graft.expiry.distributedSweepBytes", "0") // force the job path
    try GraftTable.expireSnapshots(spark, dir, keepLast = 1)
    finally spark.conf.unset("graft.expiry.distributedSweepBytes")
    preCompactionFiles.foreach(p => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(p)), s"expired-only file survived: $p"))
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .orderBy("k").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 7, 8, 9))
  }

  test("a gc.enabled=false fork refuses the sweep — its data dir holds " +
      "files the SOURCE owns") {
    val src = mkTable("5")
    val dst = src.stripSuffix("/t") + "/fork"
    GraftTable.snapshotTable(src, dst)
    val e = intercept[IllegalArgumentException] {
      GraftTable.removeOrphanFiles(spark, dst)
    }
    assert(e.getMessage.contains("gc.enabled"), e.getMessage)
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(src)).count() == 3)
  }

  test("a live file referenced only under a foreign scheme'd spelling " +
      "(file:/...) survives the sweep — normalization never aliases into " +
      "a deletion") {
    // the catastrophic direction: the listing yields file:/-scheme'd (or
    // plain) forms, a FOREIGN writer's manifest may spell the same file
    // 'file:' + path — if the two sides normalized differently the anti-
    // join would classify a LIVE file as orphan and delete data. A
    // spelling under another authority (file://localhost, as s3 vs s3a or
    // a dropped port) may name the same file too, so it is kept as well.
    for (spell <- Seq("file:", "file://localhost")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-osw-scheme").toString + "/t"
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "k", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-0000000000ab",
        timestampMs = 1700000000000L)
      val fs = HadoopConfs.fileSystemFor(dir)
      val live = s"$dir/data/foreign-00000.parquet"
      val out = fs.create(new org.apache.hadoop.fs.Path(live))
      out.write("bytes the sweep must never open".getBytes); out.close()
      dropDebris(dir, "zz-debris.parquet")
      // snapshot 1 references the live file ONLY as the spelling + absolute path
      val manifest = s"$dir/m-foreign-1.avro"
      ManifestWriter.write(manifest, Seq(ManifestWriter.EntryData(
        status = 1, snapshotId = 1L, filePath = s"$spell$live",
        recordCount = 1L, fileSizeInBytes = 31L,
        lowerBounds = Map.empty, upperBounds = Map.empty,
        sequenceNumber = Some(1L))))
      val list = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list, Seq(manifest), 1L, addedDataFilesCount = 1)
      val base = TableMetadata.parseFile(s"$dir/v1.metadata.json")
      MetadataWriter.write(s"$dir/v2.metadata.json", MetadataWriter.commitSnapshot(
        base, Snapshot(1L, None, 1700000001000L, Some("append"),
          Map("added-data-files" -> "1"), Some(list), Some(0))))
      val cands = GraftTable.orphanFileCandidates(spark, dir)
        .select("path").collect().map(r =>
          new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSeq
      assert(cands == Seq("zz-debris.parquet"), s"$spell: candidates were $cands")
      assert(GraftTable.removeOrphanFiles(spark, dir) == 1L)
      assert(fs.exists(new org.apache.hadoop.fs.Path(live)),
        s"the $spell-referenced live file must survive the sweep")
    }
  }

  test("delete_reachable_files' content tier is a distributed job and its " +
      "dry-run count matches the deletion") {
    val dir = mkTable("3")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val dry = GraftTable.deleteReachableFiles(spark,
        GraftTable.latestMetadataPath(dir), dryRun = true)
      val real = GraftTable.deleteReachableFiles(spark,
        GraftTable.latestMetadataPath(dir))
      assert(real == dry && real.contentFilesCount == 1L)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (jobs.get() < 2 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.get() >= 2,
        s"dry-run probe and deletion must each run as a job, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    val it = HadoopConfs.fileSystemFor(dir)
      .listFiles(new org.apache.hadoop.fs.Path(dir), true)
    assert(!it.hasNext, "every reachable file must be gone")
  }
}

package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.iceberg.{GraftTable, IcebergField, IcebergSchema, TableMetadata}

/** The local filesystem with one armed hook, fired by the first write
  * whose file name starts with the armed prefix: `compacted-` fires on
  * the rename onto a compaction output (after the compaction planned and
  * wrote, before it commits); `delete-`/`dv-` fire when a DELETE writes
  * its position-delete or deletion-vector file (after it scanned, before
  * it commits), whether the file is created in place or renamed into
  * place. The hook runs on its own thread, joined before the call
  * returns, so it may run Spark jobs even when the write happens inside
  * a task. Deterministic, with no sleeps. */
class CompactRaceFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    CompactRaceFs.fire(dst)
    ok
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    CompactRaceFs.fire(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CompactRaceFs {
  private var hook: Option[(String, () => Unit)] = None
  private var fired = false
  def arm(f: () => Unit): Unit = armOn("compacted-")(f)
  def armOn(prefix: String)(f: () => Unit): Unit =
    synchronized { hook = Some((prefix, f)); fired = false }
  def fire(p: Path): Unit = {
    val h = synchronized {
      val h = hook.filter(x => p.getName.startsWith(x._1))
      if (h.isDefined) hook = None
      h
    }
    h.foreach { case (_, f) =>
      var failure: Option[Throwable] = None
      val t = new Thread(() => try f() catch { case e: Throwable => failure = Some(e) })
      t.start()
      t.join()
      failure.foreach(throw _)
      synchronized { fired = true }
    }
  }
  def disarm(): Boolean = synchronized { hook = None; fired }
}

class CompactConcurrencySpec extends SparkSpec {

  private def table(version: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-delete-race").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = java.util.UUID.randomUUID().toString, timestampMs = 1700000000000L,
      formatVersion = version)
    dir
  }

  /** Runs `body` with [[CompactRaceFs]] serving `file:` paths. */
  private def withRaceFs[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CompactRaceFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  private def live(dir: String): Seq[Long] =
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .select("k").collect().map(_.getLong(0)).toSeq.sorted

  private def rows(ks: Seq[Long]) = {
    import spark.implicits._
    ks.map(k => (k, s"v$k")).toDF("k", "v")
  }

  test("an append committed while compacting carries forward with its delete") {
    val dir = table(2)
    GraftTable.append(spark, dir, rows(0L until 20L))
    // a delete the compaction plans with, and materializes
    GraftTable.deleteWhere(spark, dir, col("k") === 0L)
    val before = live(dir)
    assert(before == (1L until 20L))
    // after planning, before the commit: an append, and a delete that
    // addresses only the appended file
    CompactRaceFs.arm { () =>
      GraftTable.append(spark, dir, rows(100L until 110L))
      GraftTable.deleteWhere(spark, dir, col("k") === 105L)
    }
    withRaceFs(GraftTable.compact(spark, dir))
    assert(CompactRaceFs.disarm(), "the append never raced the compaction")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.currentSnapshot.flatMap(_.operation).contains("replace"))
    assert(live(dir) == before ++ (100L until 110L).filterNot(_ == 105L))
  }

  test("a compaction committed after a DELETE's scan conflicts the DELETE; a rerun deletes") {
    val dir = table(2)
    GraftTable.append(spark, dir, rows(0L until 10L))
    GraftTable.append(spark, dir, rows(10L until 20L))
    // after the DELETE scanned and while it writes its delete file: a
    // compaction rewrites (and removes) the files the DELETE addresses
    CompactRaceFs.armOn("delete-") { () => GraftTable.compact(spark, dir) }
    intercept[graft.iceberg.OptimisticCommit.CommitConflictException](
      withRaceFs(GraftTable.deleteWhere(spark, dir, col("k") === 3L)))
    assert(CompactRaceFs.disarm(), "the compaction never raced the DELETE")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.currentSnapshot.flatMap(_.operation).contains("replace"))
    assert(live(dir) == (0L until 20L))
    GraftTable.deleteWhere(spark, dir, col("k") === 3L)
    assert(live(dir) == (0L until 20L).filterNot(_ == 3L))
  }

  test("v3: an append committed while a DELETE writes its deletion vectors commits alongside") {
    val dir = table(3)
    GraftTable.append(spark, dir, rows(0L until 10L))
    // the append adds a file the DELETE does not address
    CompactRaceFs.armOn("dv-") { () => GraftTable.append(spark, dir, rows(10L until 20L)) }
    withRaceFs(GraftTable.deleteWhere(spark, dir, col("k") === 3L))
    assert(CompactRaceFs.disarm(), "the append never raced the DELETE")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.currentSnapshot.flatMap(_.operation).contains("delete"))
    assert(live(dir) == (0L until 20L).filterNot(_ == 3L))
  }
}

package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.iceberg.{GraftTable, IcebergField, IcebergSchema, TableMetadata}

/** The local filesystem with one armed hook: the first rename onto a
  * compaction output (`compacted-*`) runs the hook on the renaming thread
  * before returning — after the compaction planned and wrote, before it
  * commits. Deterministic, with no sleeps. */
class CompactRaceFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (dst.getName.startsWith("compacted-")) CompactRaceFs.fire()
    ok
  }
}

object CompactRaceFs {
  private var hook: Option[() => Unit] = None
  private var fired = false
  def arm(f: () => Unit): Unit = synchronized { hook = Some(f); fired = false }
  def fire(): Unit = synchronized {
    val h = hook
    hook = None
    h.foreach { f => f(); fired = true }
  }
  def disarm(): Boolean = synchronized { hook = None; fired }
}

class CompactConcurrencySpec extends SparkSpec {

  test("an append committed while compacting carries forward with its delete") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-race").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = java.util.UUID.randomUUID().toString, timestampMs = 1700000000000L)
    def rows(ks: Seq[Long]) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    GraftTable.append(spark, dir, rows(0L until 20L))
    // a delete the compaction plans with, and materializes
    GraftTable.deleteWhere(spark, dir, col("k") === 0L)
    def live(): Seq[Long] = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .select("k").collect().map(_.getLong(0)).toSeq.sorted
    val before = live()
    assert(before == (1L until 20L))
    // after planning, before the commit: an append, and a delete that
    // addresses only the appended file
    CompactRaceFs.arm { () =>
      GraftTable.append(spark, dir, rows(100L until 110L))
      GraftTable.deleteWhere(spark, dir, col("k") === 105L)
    }
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CompactRaceFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try GraftTable.compact(spark, dir)
    finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
    assert(CompactRaceFs.disarm(), "the append never raced the compaction")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.currentSnapshot.flatMap(_.operation).contains("replace"))
    assert(live() == before ++ (100L until 110L).filterNot(_ == 105L))
  }
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** The local filesystem, counting `open` calls on the one path `watch`
  * names (the fact table's current manifest list). */
class ListOpenCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    ListOpenCountingFs.saw(f)
    super.open(f, bufferSize)
  }
}

object ListOpenCountingFs {
  private var watched: Option[String] = None
  private var opens = 0
  private def key(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
  def watch(path: String): Unit = synchronized { watched = Some(key(path)); opens = 0 }
  def saw(f: org.apache.hadoop.fs.Path): Unit = synchronized {
    if (watched.contains(f.toUri.getPath)) opens += 1
  }
  def count: Int = synchronized(opens)
}

/** DPP-style runtime filtering on the DSv2 scan
  * (`SupportsRuntimeFiltering`): a broadcast join's build side
  * materializes, Spark hands its key set to the probe-side scan as
  * In-filters, and planning re-runs — manifests prune in transform
  * space, files prune on bound stats, before any fact byte is read.
  * The proof is destructive: the partitions the runtime filter must
  * exclude are corrupted on disk, so the join answers only if they were
  * never scanned. */
class RuntimeFilterSpec extends SparkSpec {

  private val T0 = 1700000000000L

  test("a broadcast join's keys prune fact partitions at runtime") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rtf").toString
    import spark.implicits._
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "r", required = false, "int"),
      IcebergField(3, "v", required = false, "string"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000f1", timestampMs = T0,
      spec = PartitionSpec(0, Seq(PartitionField("r_id", "identity", 2, 1000))))
    spark.range(0, 80)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("r"),
        concat(lit("v"), col("id")).as("v"))
      .write.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir))
      .mode("append").save()
    val metaPath = GraftTable.latestMetadataPath(dir)
    // corrupt every data file OUTSIDE partition r=1: the join below can
    // only succeed if the runtime filter keeps them unread
    val meta = TableMetadata.parseFile(metaPath)
    val entries = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
      .filter(_.content == 0).flatMap(i => ManifestWriter.read(i.path))
    val doomed = entries.filter(e =>
      SingleValueCodec.decode(IcebergTypes.TInt, e.lowerBounds(2)) != 1)
    assert(doomed.size == 3, s"expected 3 non-r1 files, got ${doomed.size}")
    doomed.foreach(e => java.nio.file.Files.write(
      java.nio.file.Paths.get(e.filePath),
      "corrupted: runtime filtering must keep this unread".getBytes))

    // the DPP benefit heuristic reads table stats sized for real data;
    // pin it for KB-scale test tables (values restored below)
    val pinned = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0")
    val saved = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.format("graft-table").option("metadata", metaPath).load()
      // the dim must be a real source with a surviving Filter node — a
      // local relation folds the filter away and DPP sees no selective
      // predicate to propagate
      val dimPath = s"$dir/dim"
      Seq((1, "one"), (2, "two"), (7, "seven")).toDF("r", "name")
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath).filter(col("name") === "one")
      val joined = fact.join(broadcast(dim), "r")
      // the mechanism must be IN the plan before execution: a runtime
      // pruning subquery feeding the BatchScan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(3000))
      val rows = joined.select("k").collect().map(_.getLong(0)).sorted
      assert(rows.length == 20 && rows.forall(_ % 4 == 1))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime IN filters plan in one manifest-list read, whatever the key count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rtf-cost").toString
    import spark.implicits._
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "b6b9a6a1-0000-4000-8000-0000000000f2", timestampMs = T0)
    // four appends: four data manifests, one key range each
    (0 until 4).foreach { i =>
      spark.range(i * 2000L, (i + 1) * 2000L)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
        .write.format("graft-table")
        .option("metadata", GraftTable.latestMetadataPath(dir))
        .mode("append").save()
    }
    val metaPath = GraftTable.latestMetadataPath(dir)
    val listPath = TableMetadata.parseFile(metaPath).currentSnapshot.get.manifestList.get
    assert(ManifestListReader.read(listPath).count(_.content == 0) == 4)

    val pinned = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0")
    val saved = pinned.map { case (k, _) => k -> spark.conf.getOption(k) }
    pinned.foreach { case (k, v) => spark.conf.set(k, v) }
    val hc = spark.sparkContext.hadoopConfiguration
    /** Joins the fact table with a broadcast dim whose filtered side holds
      * `keys`; returns the joined keys and the list opens it cost. */
    def join(keys: Seq[Long]): (Seq[Long], Int) = {
      val dimPath = s"$dir/dim-${keys.size}"
      (keys.map(k => (k, "pick")) ++ Seq((-1L, "skip"), (-2L, "skip"))).toDF("k", "tag")
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath).filter(col("tag") === "pick")
      hc.set("fs.file.impl", classOf[ListOpenCountingFs].getName)
      hc.setBoolean("fs.file.impl.disable.cache", true)
      try {
        ListOpenCountingFs.watch(listPath)
        val fact = spark.read.format("graft-table").option("metadata", metaPath).load()
        // one query, planned and run once: its opens are the whole cost
        val joined = fact.join(broadcast(dim), "k").select("k")
        val rows = joined.collect().map(_.getLong(0)).sorted.toSeq
        val opens = ListOpenCountingFs.count
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(3000))
        (rows, opens)
      } finally {
        hc.unset("fs.file.impl")
        hc.unset("fs.file.impl.disable.cache")
      }
    }
    try {
      val few = (0 until 10).map(i => 2000L + i * 3)
      val many = (0 until 5000).map(i => i * 2L)
      val (fewRows, fewOpens) = join(few)
      val (manyRows, manyOpens) = join(many)
      assert(fewRows == few)
      assert(manyRows == many.filter(_ < 8000L))
      // the static pass plus the runtime pass: one list read each
      assert(fewOpens == manyOpens, s"10 keys: $fewOpens opens, 5000 keys: $manyOpens")
      assert(manyOpens >= 1 && manyOpens <= 2, s"$manyOpens manifest-list opens")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

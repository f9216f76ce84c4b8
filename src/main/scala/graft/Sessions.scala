package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local-mode defaults tuned for the test harness (local[32], 32 shuffle
  * partitions) while keeping every setting cluster-safe: on a real cluster the
  * same code runs with `spark.sql.shuffle.partitions` sized to the cluster and
  * AQE coalescing/skew-join handling enabled, so the plans produced here scale
  * to 1000-executor deployments without change.
  */
object Sessions {
  def local(appName: String = "graft", cores: String = "32"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // VARIANT columns stay in the UNSHREDDED parquet layout: the
      // engine's parquet reader and its compaction/COW rewrites speak
      // the (metadata, value) group; shredding is a Spark-reader-side
      // pushdown optimization the engine's bound-stat model doesn't use
      .config("spark.sql.variant.writeShredding.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

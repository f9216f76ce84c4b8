package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet testdata (see /root/repo/TESTDATA.md).
  *
  * All reads go through `spark.read.parquet`, so Catalyst predicate pushdown,
  * column pruning and partition pruning apply automatically; at 100 TB these
  * would be partitioned/bucketed tables behind the same call sites.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped in three physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (Spark reads a raw nanos long
    * under `spark.sql.legacy.parquet.nanosAsLong`), micros TIMESTAMP_NTZ
    * (the current form), and plain micros TIMESTAMP. Normalize by the
    * type Spark ACTUALLY read — self-describing, no flag dependence:
    *   - nanos long → exact integer `DIV` to micros (float division
    *     would lose precision above 2^53 ns);
    *   - NTZ → cast to TimestampType, value-preserving because every
    *     engine session is pinned to UTC;
    *   - TimestampType → already canonical. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df
    case other => throw new IllegalArgumentException(
      s"unsupported physical type for events.ts: $other")
  }

  /** Inferred schema per (dir, table, file length, file mtime), cached
    * for the JVM. Every schemaless `spark.read.parquet` launches a 1-task
    * schema-inference job (~40-60 ms of fixed planning and scheduling cost; r22
    * action audit: q05 paid SIX per run, once per load, ×3 bench passes).
    * The key carries the file's identity, so a `$name.parquet` rewritten
    * in the same JVM (a new length or mtime) infers afresh rather than
    * reading under a stale schema. Only the StructType is cached, never
    * data or results: each load still plans and scans the parquet files
    * from scratch. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long, Long),
      org.apache.spark.sql.types.StructType]

  /** The table's schema exactly as Spark infers it from the file
    * (pre-`normalizeTs` — the physical form the streaming source needs).
    * A missing file keys as (-1, -1) and fails in Spark's own read. */
  def physicalSchema(spark: SparkSession, dir: String, name: String)
      : org.apache.spark.sql.types.StructType = {
    val file = s"$dir/$name.parquet"
    val path = new org.apache.hadoop.fs.Path(file)
    val (len, mtime) = scala.util.Try {
      val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(path)
      (st.getLen, st.getModificationTime)
    }.getOrElse((-1L, -1L))
    schemaCache.computeIfAbsent((dir, name, len, mtime),
      _ => spark.read.parquet(file).schema)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.schema(physicalSchema(spark, dir, name))
      .parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Registers every testdata table as a temp view named after the table. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

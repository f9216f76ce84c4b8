package graft.iceberg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Single-parquet-file sink: a data/delete FILE is the unit Iceberg
  * manifests track, so maintenance/DML/ingest writes land as exactly one
  * file with a stable name (Spark's directory output renamed into place,
  * through the session's Hadoop FileSystem). */
object ParquetFiles {

  def writeOne(df: DataFrame, outFile: String): Unit = {
    val tmp = outFile + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = HadoopConfs.fileSystemFor(outFile)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    fs.delete(new Path(outFile), false) // replays overwrite, never duplicate
    if (!fs.rename(part, new Path(outFile)))
      throw new IllegalStateException(s"rename $part -> $outFile failed")
    fs.delete(new Path(tmp), true)
  }

  def length(p: String): Long =
    HadoopConfs.fileSystemFor(p).getFileStatus(new Path(p)).getLen

  /** Read parquet FILES under the footer schema of the first path, probed
    * on the driver (KB-scale metadata) — skips the 1-task schema-inference
    * job every schemaless read launches (r22 action audit: 1-6 such jobs
    * per lakehouse entry). For files written by one route in one entry the
    * schemas are homogeneous, so the head footer is exact; directory/glob
    * reads that rely on partition discovery keep the plain reader. */
  def read(spark: org.apache.spark.sql.SparkSession, paths: Seq[String])
      : DataFrame = {
    require(paths.nonEmpty, "ParquetFiles.read needs at least one path")
    spark.read.schema(GraftTable.footerSparkSchema(spark, paths.head)).parquet(paths: _*)
  }
}

package graft.iceberg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Spark-written parquet by exact file name (`writeOne`: Spark's
  * directory output renamed into place) and footer-schema reads. The
  * engine's own table files never land here — they go through the task
  * writer ([[graft.sources.GraftFileWriter]]). `writeOne` serves what is
  * meant to be foreign, Spark-written parquet (the lakehouse entries'
  * fixture files) and the event streams' files, whose replay re-lands a
  * file under the same name. */
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

  /** Read parquet FILES under their footer schema, probed on the driver
    * (KB-scale metadata, the footers read in parallel) — skips the 1-task
    * schema-inference job every schemaless read launches (r22 action
    * audit: 1-6 such jobs per lakehouse entry). Files whose schemas
    * differ are refused, naming both paths and the first differing
    * field, rather than read under another file's schema. Directory/glob
    * reads that rely on partition discovery keep the plain reader. */
  def read(spark: org.apache.spark.sql.SparkSession, paths: Seq[String])
      : DataFrame = {
    require(paths.nonEmpty, "ParquetFiles.read needs at least one path")
    val schemas = Par.inParallel(paths)(GraftTable.footerSparkSchema(spark, _))
    paths.zip(schemas).tail.foreach { case (p, s) =>
      firstDifference(schemas.head, s).foreach(d => throw new IllegalArgumentException(
        s"parquet files ${paths.head} and $p have different schemas: $d"))
    }
    spark.read.schema(schemas.head).parquet(paths: _*)
  }

  /** The first field, by name, on which `a` and `b` disagree (field
    * order and field metadata aside). */
  private def firstDifference(a: StructType, b: StructType): Option[String] = {
    def types(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (ta, tb) = (types(a), types(b))
    (a.fieldNames ++ b.fieldNames.filterNot(ta.contains))
      .find(n => ta.get(n) != tb.get(n))
      .map(n => s"field $n is ${ta.getOrElse(n, "absent")} vs ${tb.getOrElse(n, "absent")}")
  }
}

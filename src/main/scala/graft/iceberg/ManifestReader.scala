package graft.iceberg

import java.io.BufferedInputStream

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Distributed scan of Iceberg manifest files (Avro object-container files
  * of `manifest_entry` records).
  *
  * Replaces the reference's single-threaded pull loop
  * (/root/reference/src/main/java/dev/liliwei/iceberg/tool/ManifestFileReadTool.java:140-153)
  * with one Spark task per manifest file — exactly Iceberg's own scan-planning
  * granularity: a 100 TB table has thousands of manifests, each small (KB–MB),
  * so per-file tasks parallelize planning across the cluster while a single
  * manifest never needs splitting.
  *
  * Files open through the Hadoop FileSystem API (parity with
  * /root/reference/src/main/java/dev/liliwei/iceberg/tool/Util.java:41-56), so
  * `file:`, `hdfs://` and `s3a://` URIs all resolve.
  */
object ManifestReader {

  /** Writer schema from the container header (driver-side, first file). */
  def avroSchema(path: String, conf: Configuration = HadoopConfs.active()): Schema = {
    val in = new BufferedInputStream(HadoopConfs.open(path, conf))
    try {
      val stream = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      try stream.getSchema finally stream.close()
    } finally in.close()
  }

  /** All `manifest_entry` records of the given manifest files as a DataFrame.
    *
    * Each container resolves with its OWN header schema as the writer
    * schema (DataFileStream hands it to the reader), against one common
    * reader schema — so a manifest set spanning a schema evolution
    * (v1 + v2 manifests of the same table) decodes correctly file by file.
    * The common reader schema defaults to the first file's writer schema.
    *
    * @param readerSchemaJson optional Avro reader schema (projection /
    *   schema evolution via Avro schema resolution — parity with
    *   `--reader-schema`, ManifestFileReadTool.java:114-119,137-139).
    */
  def entries(
      spark: SparkSession,
      paths: Seq[String],
      readerSchemaJson: Option[String] = None): DataFrame = {
    require(paths.nonEmpty, "no manifest paths given")
    val effectiveJson = readerSchemaJson.getOrElse(
      avroSchema(paths.head, spark.sessionState.newHadoopConf()).toString)
    val structType = AvroConversions.toStructType(new Schema.Parser().parse(effectiveJson))

    // session Hadoop conf shipped into the tasks — executor-side opens
    // must see the session's fs.* settings/credentials, not a default conf
    val sconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val rdd = spark.sparkContext
      .parallelize(paths, paths.size)
      .flatMap { p =>
        // Schemas are not serializable across tasks: re-parse per task.
        // Writer schema deliberately unset — DataFileStream fills it in
        // from THIS container's header, then Avro schema resolution maps
        // it onto the common reader schema (per-file evolution).
        val reader = new GenericDatumReader[GenericRecord](
          null: Schema, new Schema.Parser().parse(effectiveJson))
        val in = new BufferedInputStream(HadoopConfs.open(p, sconf.value))
        val stream = new DataFileStream[GenericRecord](in, reader)
        // Convert with the reader (expected) schema: DataFileStream.getSchema
        // reports the writer schema, but records resolve to the reader's.
        val schema = new Schema.Parser().parse(effectiveJson)
        // Manifests are small (KB–MB): buffering one file per task is the
        // right trade vs. keeping a stream open past the flatMap.
        try {
          val buf = Vector.newBuilder[Row]
          while (stream.hasNext) buf += AvroConversions.toRow(schema, stream.next())
          buf.result()
        } finally { stream.close(); in.close() }
      }
    spark.createDataFrame(rdd, structType)
  }

  /** Entries with a `limit` short-circuit (parity with `--head`,
    * ManifestFileReadTool.java:145-147 — Spark's LocalLimit stops the scan
    * the same way the reference's loop guard does). */
  def entriesHead(spark: SparkSession, paths: Seq[String], head: Long): DataFrame = {
    val df = entries(spark, paths)
    if (head == Long.MaxValue) df else df.limit(head.min(Int.MaxValue.toLong).toInt)
  }
}

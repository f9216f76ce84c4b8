package graft.iceberg

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter,
  GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Avro DATA files (as opposed to manifest metadata): the import/fixture
  * writer and the metadata-only record counter for `add_files(format =>
  * 'avro')`. The SCALE surface is the read side — GraftTableAvro
  * PartitionReader streams these in executors; this writer is the
  * driver-side onboarding/fixture path (a foreign engine normally wrote
  * the files). Reference anchor: the reference is itself an Avro
  * object-container decoder (`ManifestFileReadTool.java:140`); data
  * files reuse the identical container format with a row schema.
  */
object AvroDataFiles {

  /** Spark schema → Avro record schema: nullable unions, date /
    * timestamp-micros logical types — the standard Avro mapping for the
    * engine's primitive palette. */
  def avroSchema(schema: StructType, recordName: String = "row"): Schema = {
    def prim(dt: DataType): Schema = dt match {
      case IntegerType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case DateType =>
        LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
      case TimestampNTZType =>
        LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
      case other => throw new UnsupportedOperationException(
        s"avro data files do not support column type $other")
    }
    val fields = schema.fields.map(f => new Schema.Field(f.name,
      Schema.createUnion(Schema.create(Schema.Type.NULL), prim(f.dataType)),
      null, Schema.Field.NULL_DEFAULT_VALUE))
    Schema.createRecord(recordName, null, "graft", false, fields.toSeq.asJava)
  }

  /** Write external Rows as one Avro object container. Values follow the
    * external row domain (String / Int / Long / java.sql.Date / ...). */
  def write(path: String, schema: StructType, rows: Seq[Row],
      codec: String = "deflate"): Unit = {
    val avro = avroSchema(schema)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    w.setCodec(org.apache.avro.file.CodecFactory.fromString(codec))
    w.create(avro, HadoopConfs.fileSystemFor(path)
      .create(new org.apache.hadoop.fs.Path(path), true))
    try rows.foreach { row =>
      val rec = new GenericData.Record(avro)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val v = if (row.isNullAt(i)) null else (f.dataType, row.get(i)) match {
          case (DateType, d: java.sql.Date) => Int.box(d.toLocalDate.toEpochDay.toInt)
          case (DateType, d: java.time.LocalDate) => Int.box(d.toEpochDay.toInt)
          case (TimestampType, t: java.sql.Timestamp) =>
            Long.box(t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L)
          case (TimestampType, t: java.time.Instant) =>
            Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000L)
          case (TimestampNTZType, t: java.time.LocalDateTime) =>
            val i2 = t.toInstant(java.time.ZoneOffset.UTC)
            Long.box(i2.getEpochSecond * 1000000L + i2.getNano / 1000L)
          case (BinaryType, b: Array[Byte]) => java.nio.ByteBuffer.wrap(b)
          case (_, x) => x.asInstanceOf[AnyRef]
        }
        rec.put(f.name, v)
      }
      w.append(rec)
    } finally w.close()
  }

  /** Record count from the container's BLOCK HEADERS alone — each Avro
    * block declares its object count, so the sweep never decodes a
    * record (the metadata-only cost model `add_files` promises). */
  def countRecords(path: String): Long = {
    val in = new java.io.BufferedInputStream(HadoopConfs.open(path))
    val stream = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try {
      var n = 0L
      while (stream.hasNext) {
        n += stream.getBlockCount
        stream.nextBlock()
      }
      n
    } finally { stream.close(); in.close() }
  }
}

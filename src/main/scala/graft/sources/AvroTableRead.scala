package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._

/** Row-route reader for AVRO data files — the format the reference
  * itself decodes (`ManifestFileReadTool.java:140`): a foreign Iceberg
  * table may mark entries `file_format = AVRO`, and the scan streams
  * them through Avro's object-container reader with the same semantics
  * the parquet decoder provides:
  *
  *  - record order IS the position coordinate (`pos` / `_pos`), so
  *    position deletes apply by file-absolute index;
  *  - required columns resolve by name with RENAME COLUMN history and
  *    null-fill for pre-evolution files;
  *  - type widening promotes int→long / float→double losslessly;
  *  - date / timestamp-micros logical types decode into the external
  *    row domain the Catalyst converter expects;
  *  - deletes apply through the shared [[TaskDeletes]]: equality keys
  *    compare against this reader's Catalyst row (built over the
  *    equality columns too), in the same value domain as the parquet
  *    reader — a streaming upsert over an imported Avro table applies
  *    exactly like over parquet.
  *
  * Avro containers have no row-group index, so files never split —
  * per-file parallelism, the granularity Avro supports without
  * block-seeking. */
class GraftTableAvroPartitionReader(part: GraftTableInputPartition,
    required: StructType, conf: Configuration) extends PartitionReader[InternalRow] {
  import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

  private val deletes = new TaskDeletes(part, required, conf)
  private val working = deletes.working

  private val in =
    new java.io.BufferedInputStream(graft.iceberg.HadoopConfs.open(part.filePath, conf))
  private val stream = new org.apache.avro.file.DataFileStream[GenericRecord](
    in, new GenericDatumReader[GenericRecord]())

  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(working)
  private var rowIndex: Long = -1L
  private var current: InternalRow = _

  private def logicalName(s: org.apache.avro.Schema): Option[String] = {
    val unwrapped =
      if (s.getType == org.apache.avro.Schema.Type.UNION)
        s.getTypes.stream().filter(_.getType != org.apache.avro.Schema.Type.NULL)
          .findFirst().orElse(s)
      else s
    Option(unwrapped.getLogicalType).map(_.getName)
  }

  private def convert(v: AnyRef, dt: DataType, schema: org.apache.avro.Schema): Any =
    (v, dt) match {
      case (null, _) => null
      case (u: org.apache.avro.util.Utf8, StringType) => u.toString
      case (s: String, StringType) => s
      case (i: java.lang.Integer, IntegerType) => i
      case (i: java.lang.Integer, LongType) => i.longValue() // widened schema
      case (i: java.lang.Integer, DateType) =>
        java.time.LocalDate.ofEpochDay(i.longValue())
      case (l: java.lang.Long, LongType) => l
      case (l: java.lang.Long, TimestampType) =>
        java.time.Instant.ofEpochSecond(Math.floorDiv(l, 1000000L),
          Math.floorMod(l, 1000000L) * 1000L)
      case (l: java.lang.Long, TimestampNTZType) =>
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(l, 1000000L),
          (Math.floorMod(l, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case (f: java.lang.Float, FloatType) => f
      case (f: java.lang.Float, DoubleType) => f.doubleValue() // widened schema
      case (d: java.lang.Double, DoubleType) => d
      case (b: java.lang.Boolean, BooleanType) => b
      case (bb: java.nio.ByteBuffer, BinaryType) =>
        val dup = bb.duplicate(); val arr = new Array[Byte](dup.remaining())
        dup.get(arr); arr
      case (fixed: org.apache.avro.generic.GenericFixed, BinaryType) => fixed.bytes()
      case (other, want) => throw new UnsupportedOperationException(
        s"avro data reader cannot decode ${other.getClass.getName} " +
          s"(logical ${logicalName(schema).getOrElse("none")}) as $want")
    }

  private def valueOf(r: GenericRecord, name: String, dt: DataType): Any = {
    val schema = r.getSchema
    // the file's own name generation (RENAME COLUMN), else null-fill
    val actual =
      if (schema.getField(name) != null) name
      else part.nameAlternates.getOrElse(name, Nil)
        .find(schema.getField(_) != null).getOrElse(return null)
    convert(r.get(actual), dt, schema.getField(actual).schema())
  }

  private def rowOf(r: GenericRecord): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(working.fields.toSeq.map { f =>
      f.name match {
        case "_file" => part.filePath
        case "_pos" => rowIndex
        case _ => valueOf(r, f.name, f.dataType)
      }
    })

  override def next(): Boolean = {
    while (stream.hasNext) {
      val rec = stream.next()
      rowIndex += 1
      val row = toCatalyst(rowOf(rec)).asInstanceOf[InternalRow]
      if (!deletes.deleted(rowIndex, row)) {
        current = deletes.project(row)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = { stream.close(); in.close() }
}

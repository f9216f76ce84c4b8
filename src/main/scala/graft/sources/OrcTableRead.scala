package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.orc.OrcFile
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._

/** Row-route reader for ORC data files (`file_format = ORC` entries in a
  * foreign or imported table). Same contract as the Avro route:
  * record order is the position coordinate, required columns resolve by
  * name with RENAME COLUMN history and null-fill, int→long /
  * float→double widening promotes losslessly, and deletes apply through
  * the shared [[TaskDeletes]] over this reader's Catalyst row (built over
  * the equality columns too). The decode is batch-at-a-time through
  * ORC's own vectorized reader. Files above the split threshold fan out
  * one partition per STRIPE (the planner prunes stripes against their
  * statistics exactly like parquet row groups), each reading only its
  * byte range. */
class GraftTableOrcPartitionReader(part: GraftTableInputPartition,
    required: StructType, conf: Configuration) extends PartitionReader[InternalRow] {

  private val deletes = new TaskDeletes(part, required, conf)
  private val working = deletes.working

  private val reader = OrcFile.createReader(
    new org.apache.hadoop.fs.Path(part.filePath), OrcFile.readerOptions(conf))
  private val orcSchema = reader.getSchema
  // a stripe split (rowGroup >= 0) reads EXACTLY its byte range — ORC's
  // range option selects the stripes starting inside it, here one; the
  // un-split case streams the whole file. rowStart keeps position
  // deletes file-absolute across stripes, like parquet row groups.
  private val rows =
    if (part.rowGroup < 0) reader.rows()
    else reader.rows(reader.options.range(part.splitStart, part.splitBytes))
  private val batch: VectorizedRowBatch = orcSchema.createRowBatch()
  private var batchPos = 0

  /** Resolve a CURRENT-generation column name to its ORC ordinal through
    * the rename history; -1 = absent under every name (null-fill). */
  private def resolveOrdinal(n: String): Int = {
    val names = orcSchema.getFieldNames
    def indexOf(x: String): Int = {
      var i = 0
      while (i < names.size()) { if (names.get(i) == x) return i; i += 1 }
      -1
    }
    val direct = indexOf(n)
    if (direct >= 0) direct
    else part.nameAlternates.getOrElse(n, Nil).map(indexOf).find(_ >= 0).getOrElse(-1)
  }

  /** Working field name → ORC column ordinal (-2/-3 = metadata columns). */
  private val ordinals: Array[Int] =
    working.fields.map { f =>
      f.name match {
        case "_file" => -2
        case "_pos" => -3
        case _ => resolveOrdinal(f.name)
      }
    }

  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(working)
  private var rowIndex: Long = part.rowStart - 1L
  private var current: InternalRow = _

  private def value(col: ColumnVector, dt: DataType, row0: Int): Any = {
    val row = if (col.isRepeating) 0 else row0
    if (!col.noNulls && col.isNull(row)) return null
    (dt, col) match {
      case (IntegerType, v: LongColumnVector) => v.vector(row).toInt
      case (LongType, v: LongColumnVector) => v.vector(row) // covers widened int
      case (BooleanType, v: LongColumnVector) => v.vector(row) != 0L
      case (DateType, v: LongColumnVector) =>
        java.time.LocalDate.ofEpochDay(v.vector(row))
      case (FloatType, v: DoubleColumnVector) => v.vector(row).toFloat
      case (DoubleType, v: DoubleColumnVector) => v.vector(row) // covers widened float
      case (StringType, v: BytesColumnVector) =>
        new String(v.vector(row), v.start(row), v.length(row),
          java.nio.charset.StandardCharsets.UTF_8)
      case (BinaryType, v: BytesColumnVector) =>
        java.util.Arrays.copyOfRange(v.vector(row),
          v.start(row), v.start(row) + v.length(row))
      case (TimestampType, v: TimestampColumnVector) =>
        v.asScratchTimestamp(row).toInstant
      case (TimestampNTZType, v: TimestampColumnVector) =>
        v.asScratchTimestamp(row).toLocalDateTime
      case (want, got) => throw new UnsupportedOperationException(
        s"orc reader cannot decode ${got.getClass.getSimpleName} as $want")
    }
  }

  private def rowOf(row: Int): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(working.fields.toSeq.zipWithIndex.map {
      case (f, i) => ordinals(i) match {
        case -2 => part.filePath
        case -3 => rowIndex
        case -1 => null // pre-evolution file under every name generation
        case c => value(batch.cols(c), f.dataType, row)
      }
    })

  override def next(): Boolean = {
    while (true) {
      if (batchPos >= batch.size) {
        if (!rows.nextBatch(batch)) return false
        batchPos = 0
      }
      val p = batchPos
      batchPos += 1
      rowIndex += 1
      val row = toCatalyst(rowOf(p)).asInstanceOf[InternalRow]
      if (!deletes.deleted(rowIndex, row)) {
        current = deletes.project(row)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = {
    rows.close()
    reader.close() // the Reader holds its own input stream — per-task leak otherwise
  }
}

package graft.iceberg

import org.apache.hadoop.hive.ql.exec.vector._
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** ORC DATA files: the import-side footer statistics (ORC footers carry
  * row counts AND per-column min/max — `add_files(format => 'orc')`
  * stays metadata-only like parquet, unlike stat-less Avro) and the
  * driver-side fixture/onboarding writer. The scale surface is the read
  * side — GraftTableOrcPartitionReader streams batches in executors. */
object OrcDataFiles {

  private def orcType(dt: DataType): TypeDescription = dt match {
    case IntegerType => TypeDescription.createInt()
    case LongType => TypeDescription.createLong()
    case FloatType => TypeDescription.createFloat()
    case DoubleType => TypeDescription.createDouble()
    case BooleanType => TypeDescription.createBoolean()
    case StringType => TypeDescription.createString()
    case BinaryType => TypeDescription.createBinary()
    case DateType => TypeDescription.createDate()
    // Iceberg timestamptz ↔ ORC "timestamp with local time zone"
    case TimestampType => TypeDescription.createTimestampInstant()
    case TimestampNTZType => TypeDescription.createTimestamp()
    case other => throw new UnsupportedOperationException(
      s"orc data files do not support column type $other")
  }

  def orcSchema(schema: StructType): TypeDescription = {
    val root = TypeDescription.createStruct()
    schema.fields.foreach(f => root.addField(f.name, orcType(f.dataType)))
    root
  }

  /** Write external Rows as one ORC file (driver-side fixture path).
    * `stripeRowLimit` caps rows per stripe — the deterministic way to
    * produce multi-stripe fixtures (the byte-based stripe size only
    * flushes at the writer's memory-check cadence). */
  def write(path: String, schema: StructType, rows: Seq[Row],
      stripeRowLimit: Option[Int] = None): Unit = {
    val orc = orcSchema(schema)
    val conf = new org.apache.hadoop.conf.Configuration(HadoopConfs.active())
    stripeRowLimit.foreach(n => conf.setInt("orc.stripe.row.count", n))
    val p = new org.apache.hadoop.fs.Path(path)
    val opts = OrcFile.writerOptions(conf).setSchema(orc).overwrite(true)
      .fileSystem(HadoopConfs.fileSystemFor(p, conf))
    val writer = OrcFile.createWriter(p, opts)
    val batch = orc.createRowBatch()
    try {
      rows.foreach { row =>
        val i = batch.size
        schema.fields.zipWithIndex.foreach { case (f, c) =>
          val col = batch.cols(c)
          if (row.isNullAt(c)) { col.noNulls = false; col.isNull(i) = true }
          else (f.dataType, row.get(c)) match {
            case (IntegerType, v: Int) =>
              col.asInstanceOf[LongColumnVector].vector(i) = v.toLong
            case (LongType, v: Long) =>
              col.asInstanceOf[LongColumnVector].vector(i) = v
            case (BooleanType, v: Boolean) =>
              col.asInstanceOf[LongColumnVector].vector(i) = if (v) 1L else 0L
            case (DateType, v: java.sql.Date) =>
              col.asInstanceOf[LongColumnVector].vector(i) = v.toLocalDate.toEpochDay
            case (FloatType, v: Float) =>
              col.asInstanceOf[DoubleColumnVector].vector(i) = v.toDouble
            case (DoubleType, v: Double) =>
              col.asInstanceOf[DoubleColumnVector].vector(i) = v
            case (StringType, v: String) =>
              col.asInstanceOf[BytesColumnVector].setVal(i,
                v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            case (BinaryType, v: Array[Byte]) =>
              col.asInstanceOf[BytesColumnVector].setVal(i, v)
            case (TimestampType, v: java.sql.Timestamp) =>
              col.asInstanceOf[TimestampColumnVector].set(i, v)
            case (TimestampNTZType, v: java.time.LocalDateTime) =>
              col.asInstanceOf[TimestampColumnVector].set(i,
                java.sql.Timestamp.valueOf(v))
            case (t, v) => throw new UnsupportedOperationException(
              s"orc writer: $t <- ${v.getClass.getName}")
          }
        }
        batch.size += 1
        if (batch.size == batch.getMaxSize) { writer.addRowBatch(batch); batch.reset() }
      }
      if (batch.size > 0) writer.addRowBatch(batch)
    } finally writer.close()
  }

  /** Row count + bound stats from the ORC FOOTER alone — zero data
    * bytes read. Bounds decode for the unambiguous stat families
    * (integer/floating/string/date/timestamp); column order follows the
    * flat schema (statistics index 0 is the root struct). */
  def footerStats(path: String, fields: Seq[IcebergField])
      : (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    val reader = OrcFile.createReader(new org.apache.hadoop.fs.Path(path),
      OrcFile.readerOptions(HadoopConfs.active()))
    try {
      val rows = reader.getNumberOfRows
      val schema = reader.getSchema
      val names = schema.getFieldNames
      val stats = reader.getStatistics
      val byName = fields.flatMap(f =>
        IcebergTypes.fromStringOpt(f.fieldType).map(t => f.name -> (f, t))).toMap
      // statistics are indexed by the FLATTENED column id (nested fields
      // claim ids too) — TypeDescription.getId, never the field ordinal,
      // or a struct column would shift every later field onto the wrong
      // column's bounds
      val acc = (0 until names.size()).flatMap { c =>
        val statIx = schema.getChildren.get(c).getId
        byName.get(names.get(c)).flatMap { case (f, t) =>
          decode(t, stats(statIx)).map(lh => f.id -> ((lh._1, lh._2, t)))
        }
      }.toMap
      (rows,
        acc.map { case (id, (lo, _, t)) => id -> SingleValueCodec.encode(t, lo) },
        acc.map { case (id, (_, hi, t)) => id -> SingleValueCodec.encode(t, hi) })
    } finally reader.close()
  }

  /** Per-STRIPE layout + encoded bound stats — the planner's analog of
    * parquet row-group splitting/pruning: (rowCount, byteOffset,
    * byteLength, encodedLower, encodedUpper) per stripe, in file order.
    * One footer+stripe-stats read per above-split-size file, at
    * planning time. */
  def stripes(path: String, fields: Seq[IcebergField])
      : Seq[(Long, Long, Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]])] = {
    import scala.jdk.CollectionConverters._
    val reader = OrcFile.createReader(new org.apache.hadoop.fs.Path(path),
      OrcFile.readerOptions(HadoopConfs.active()))
    try {
      val schema = reader.getSchema
      val names = schema.getFieldNames
      val byName = fields.flatMap(f =>
        IcebergTypes.fromStringOpt(f.fieldType).map(t => f.name -> (f, t))).toMap
      val infos = reader.getStripes.asScala.toSeq
      val stats = scala.util.Try(reader.getStripeStatistics.asScala.toSeq)
        .getOrElse(Nil)
      infos.zipWithIndex.map { case (s, i) =>
        val (lo, hi) =
          if (i >= stats.size) (Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]])
          else {
            val cs = stats(i).getColumnStatistics
            // flattened column ids, as in footerStats — never ordinals
            val acc = (0 until names.size()).flatMap { c =>
              val statIx = schema.getChildren.get(c).getId
              byName.get(names.get(c)).flatMap { case (f, t) =>
                decode(t, cs(statIx)).map(lh => f.id -> ((lh._1, lh._2, t)))
              }
            }.toMap
            (acc.map { case (id, (l, _, t)) => id -> SingleValueCodec.encode(t, l) },
              acc.map { case (id, (_, h, t)) => id -> SingleValueCodec.encode(t, h) })
          }
        (s.getNumberOfRows, s.getOffset, s.getLength, lo, hi)
      }
    } finally reader.close()
  }

  private def decode(t: IcebergType, st: org.apache.orc.ColumnStatistics)
      : Option[(Any, Any)] = {
    if (st.getNumberOfValues == 0) return None
    (t, st) match {
      case (IcebergTypes.TInt, s: org.apache.orc.IntegerColumnStatistics) =>
        Some((s.getMinimum.toInt, s.getMaximum.toInt))
      case (IcebergTypes.TLong, s: org.apache.orc.IntegerColumnStatistics) =>
        Some((s.getMinimum, s.getMaximum))
      case (IcebergTypes.TFloat, s: org.apache.orc.DoubleColumnStatistics) =>
        Some((s.getMinimum.toFloat, s.getMaximum.toFloat))
      case (IcebergTypes.TDouble, s: org.apache.orc.DoubleColumnStatistics) =>
        Some((s.getMinimum, s.getMaximum))
      case (IcebergTypes.TString, s: org.apache.orc.StringColumnStatistics) =>
        // ORC may truncate long string stats, surfacing null here —
        // no bound then (unprunable, correct)
        for (lo <- Option(s.getMinimum); hi <- Option(s.getMaximum)) yield (lo, hi)
      case (IcebergTypes.TDate, s: org.apache.orc.DateColumnStatistics) =>
        Some((java.time.LocalDate.ofEpochDay(s.getMinimumDayOfEpoch),
          java.time.LocalDate.ofEpochDay(s.getMaximumDayOfEpoch)))
      case (IcebergTypes.TTimestamptz, s: org.apache.orc.TimestampColumnStatistics) =>
        for (lo <- Option(s.getMinimum); hi <- Option(s.getMaximum))
          yield (lo.toInstant, hi.toInstant)
      case (IcebergTypes.TTimestamp, s: org.apache.orc.TimestampColumnStatistics) =>
        for (lo <- Option(s.getMinimum); hi <- Option(s.getMaximum))
          yield (lo.toLocalDateTime, hi.toLocalDateTime)
      case _ => None
    }
  }
}

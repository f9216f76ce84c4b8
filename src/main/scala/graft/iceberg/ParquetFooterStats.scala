package graft.iceberg

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}

/** Decoding parquet FOOTER column statistics into the Iceberg value
  * domain — shared by the `add_files` import (whole-file merge) and the
  * scan planner's ROW-GROUP pruning (per-block). Only types whose
  * parquet statistics map unambiguously decode (int/long/float/double/
  * date/timestamp/string); anything else yields no bound — unprunable
  * but correct. String footer bounds may be writer-truncated, which is
  * SAFE for pruning (parquet truncates min down and max up, so the
  * interval only widens) but NOT for serving values — the import path
  * clears the exact-bounds stamp for exactly that reason. */
object ParquetFooterStats {

  /** Decoded (min, max, type) per field id for one row group. */
  def blockBounds(block: BlockMetaData, fields: Seq[IcebergField])
      : Map[Int, (Any, Any, IcebergType)] = {
    val byName = fields.flatMap(f =>
      IcebergTypes.fromStringOpt(f.fieldType).map(t => f.name -> (f, t))).toMap
    val out = Map.newBuilder[Int, (Any, Any, IcebergType)]
    for {
      c <- block.getColumns.asScala
      if c.getPath.size == 1
      (f, t) <- byName.get(c.getPath.iterator().next())
      st <- Option(c.getStatistics)
      if st.hasNonNullValue
      lo <- decode(t, st.genericGetMin)
      hi <- decode(t, st.genericGetMax)
    } out += f.id -> ((lo, hi, t))
    out.result()
  }

  /** [[blockBounds]] with the values re-encoded as Iceberg single-value
    * bounds — the shape `FileBoundsEval.skippable` consumes. */
  def blockBoundsEncoded(block: BlockMetaData, fields: Seq[IcebergField])
      : (Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    val b = blockBounds(block, fields)
    (b.map { case (id, (lo, _, t)) => id -> SingleValueCodec.encode(t, lo) },
      b.map { case (id, (_, hi, t)) => id -> SingleValueCodec.encode(t, hi) })
  }

  /** Spec field 110 (null value counts) by field id for a parquet
    * file's top-level primitive columns, summed over its row groups'
    * footer statistics. A field counts only when every row group records
    * its nulls — a partial sum would claim a null-free proof it lacks. */
  def nullCounts(footer: ParquetMetadata, fields: Seq[IcebergField]): Map[Int, Long] = {
    val schema = footer.getFileMetaData.getSchema
    val blocks = footer.getBlocks.asScala.toSeq
    fields.filter(f => schema.containsField(f.name) &&
        schema.getType(schema.getFieldIndex(f.name)).isPrimitive)
      .flatMap { f =>
        val perBlock = blocks.map(_.getColumns.asScala
          .find(c => c.getPath.size == 1 && c.getPath.iterator().next() == f.name)
          .flatMap(c => Option(c.getStatistics)).filter(_.isNumNullsSet))
        if (perBlock.forall(_.isDefined)) Some(f.id -> perBlock.flatten.map(_.getNumNulls).sum)
        else None
      }.toMap
  }

  private def decode(t: IcebergType, v: Any): Option[Any] = (t, v) match {
    // a type-widened (or narrower-physical imported) file carries INT32/
    // FLOAT stats under a long/double declared column — promote, or the
    // value-domain encode would ClassCastException at planning time
    case (IcebergTypes.TInt, x: java.lang.Integer) => Some(x)
    case (IcebergTypes.TLong, x: java.lang.Integer) => Some(x.longValue())
    case (IcebergTypes.TLong, x: java.lang.Long) => Some(x)
    case (IcebergTypes.TFloat, x: java.lang.Float) => Some(x)
    case (IcebergTypes.TDouble, x: java.lang.Float) => Some(x.doubleValue())
    case (IcebergTypes.TDouble, x: java.lang.Double) => Some(x)
    case (IcebergTypes.TString, b: org.apache.parquet.io.api.Binary) =>
      Some(b.toStringUsingUTF8)
    case (IcebergTypes.TDate, d: java.lang.Integer) =>
      Some(java.time.LocalDate.ofEpochDay(d.toLong))
    case (IcebergTypes.TTimestamptz, us: java.lang.Long) =>
      Some(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    case (IcebergTypes.TTimestamp, us: java.lang.Long) =>
      Some(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
    // v3 nanosecond timestamps: footer stats of a TIMESTAMP(NANOS)
    // column are INT64 nanos — exactly the type's value domain
    case (IcebergTypes.TTimestampNs | IcebergTypes.TTimestamptzNs,
        ns: java.lang.Long) => Some(ns.longValue())
    case _ => None
  }
}

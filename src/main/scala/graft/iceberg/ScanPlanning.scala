package graft.iceberg

import graft.iceberg.IcebergTypes._

/** The pruning rules behind the one scan planner
  * ([[graft.sources.GraftTableScan.plan]]), the stats-based skipping the
  * reference's bound decoding enables but never performs (SURVEY.md §4):
  * predicate values convert into each spec's partition-transform space
  * and prune manifests against their list summaries unopened, and
  * [[cmpValues]] orders every decoded bound against a predicate value.
  *
  * At 100 TB this is the difference between scanning everything and
  * scanning the handful of files whose [lower, upper] range intersects the
  * predicate: planning cost is proportional to metadata, not data.
  */
object ScanPlanning {

  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncateRe = """truncate\[(\d+)\]""".r

  /** A source-column equality value converted into a partition-transform's
    * value space — what makes Iceberg's partitioning "hidden": the reader
    * never names partition columns, the planner derives them. Returns the
    * transformed value and its type, or None for transforms that cannot
    * serve an equality predicate (e.g. `void`, or a type the transform
    * does not apply to) — unprunable, never wrong. */
  def transformValue(transform: String, sourceType: IcebergType, value: Any): Option[(IcebergType, Any)] =
    transformer(transform, sourceType).flatMap { case (t, f) => f(value).map((t, _)) }

  /** [[transformValue]] resolved once per (transform, source type): the
    * result type plus the per-value conversion, so a value SET converts
    * without re-matching the transform name for every value. None when no
    * value of `sourceType` can convert; the conversion yields None for a
    * value of the wrong runtime class. */
  private def transformer(transform: String, sourceType: IcebergType)
      : Option[(IcebergType, Any => Option[Any])] = {
    def ordinal(t: IcebergType, f: Int => Int): Option[(IcebergType, Any => Option[Any])] =
      t match {
        case TDate => Some((TInt, v => epochDays(v).map(f)))
        case TTimestamp | TTimestamptz => Some((TInt, v => epochMicros(v).map(us =>
          f(PartitionTransforms.epochDaysOfMicros(us)))))
        case _ => None
      }
    (transform, sourceType) match {
      case ("identity", t) => Some((t, v => Some(v)))
      case (BucketRe(n), TInt) => Some((TInt, {
        case v: Int => Some(PartitionTransforms.bucketLong(v.toLong, n.toInt))
        case _ => None }))
      case (BucketRe(n), TLong) => Some((TInt, {
        case v: Long => Some(PartitionTransforms.bucketLong(v, n.toInt))
        case _ => None }))
      case (BucketRe(n), TString) => Some((TInt, {
        case v: String => Some(PartitionTransforms.bucketString(v, n.toInt))
        case _ => None }))
      case (TruncateRe(w), TInt) => Some((TInt, {
        case v: Int => Some(PartitionTransforms.truncateLong(v.toLong, w.toLong).toInt)
        case _ => None }))
      case (TruncateRe(w), TLong) => Some((TLong, {
        case v: Long => Some(PartitionTransforms.truncateLong(v, w.toLong))
        case _ => None }))
      case (TruncateRe(w), TString) => Some((TString, {
        case v: String => Some(PartitionTransforms.truncateString(v, w.toInt))
        case _ => None }))
      case ("year", t) => ordinal(t, PartitionTransforms.yearOrdinal)
      case ("month", t) => ordinal(t, PartitionTransforms.monthOrdinal)
      case ("day", t) => ordinal(t, PartitionTransforms.dayOrdinal)
      case ("hour", TTimestamp | TTimestamptz) => Some((TInt, v => epochMicros(v).map(
        PartitionTransforms.hourOrdinal)))
      case _ => None
    }
  }

  /** Pushed filter values for DATE columns arrive in whatever form the
    * session's datetime API produced (java.sql.Date, LocalDate, or an
    * already-normalized epoch-day Int) — fold them all to epoch days;
    * unknown forms stay unprunable, never wrong. */
  private def epochDays(v: Any): Option[Int] = v match {
    case d: Int => Some(d)
    case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toInt)
    case _ => None
  }

  /** Same for TIMESTAMP values → epoch micros (timestamps compare as
    * instants; the session is pinned UTC, so NTZ literals are exact). */
  private def epochMicros(v: Any): Option[Long] = v match {
    case us: Long => Some(us)
    case t: java.time.Instant =>
      Some(java.lang.Math.addExact(
        java.lang.Math.multiplyExact(t.getEpochSecond, 1000000L), t.getNano / 1000L))
    case t: java.sql.Timestamp => epochMicros(t.toInstant)
    case t: java.time.LocalDateTime => epochMicros(t.toInstant(java.time.ZoneOffset.UTC))
    case _ => None
  }

  /** The one ordering of decoded bound values against each other and
    * against predicate values, for every pruning site (manifest
    * summaries, entry bounds, row-group stats, key-range guards, the
    * partition envelopes). Numerics widen through BigDecimal; strings,
    * booleans, dates (a `java.sql.Date` predicate value as its local
    * date) and instants (a `java.sql.Timestamp` as its instant) compare
    * within their kind. None means unorderable, and every caller then
    * keeps its file or manifest: a null, a pair of unrelated kinds, or
    * NaN/Infinity, which have no BigDecimal rendering — toString would
    * throw NumberFormatException out of a pruning decision and fail the
    * whole read. */
  private[graft] def cmpValues(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number) =>
      def finite(n: Number): Boolean = n match {
        case d: java.lang.Double => !d.isNaN && !d.isInfinite
        case f: java.lang.Float => !f.isNaN && !f.isInfinite
        case _ => true
      }
      if (!finite(x) || !finite(y)) None
      else Some(new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case (x: java.time.LocalDate, y: java.sql.Date) => Some(x.compareTo(y.toLocalDate))
    case (x: java.time.LocalDate, y: java.time.LocalDate) => Some(x.compareTo(y))
    case (x: java.time.Instant, y: java.sql.Timestamp) => Some(x.compareTo(y.toInstant))
    case (x: java.time.Instant, y: java.time.Instant) => Some(x.compareTo(y))
    case _ => None
  }

  /** Result TYPE of a partition transform over `sourceType` — the type
    * field-507 summary bounds of that transform decode as. None for
    * transforms this planner doesn't model (void, unknown). */
  def transformResultType(transform: String, sourceType: IcebergType): Option[IcebergType] =
    transform match {
      case "identity" => Some(sourceType)
      case BucketRe(_) => Some(TInt)
      case TruncateRe(_) => sourceType match {
        case TInt | TLong | TString => Some(sourceType)
        case _ => None
      }
      case "year" | "month" | "day" | "hour" => Some(TInt)
      case _ => None
    }

  /** Typed per-field UNION of the field-507 summaries of a set of
    * manifests under ONE spec — what a delete commit writes for its new
    * delete manifest: the deletes address only files OWNED by these
    * manifests, so the addressed partitions lie inside the union of the
    * owners' summaries, and the symmetric delete-side prune can skip the
    * delete manifest for partition-disjoint reads. Conservative by
    * construction: None unless every owner shares one spec id, carries a
    * summary of the spec's width, and every bound decodes and compares —
    * no summary always beats a wrong summary. */
  def unionSummaries(meta: TableMetadata,
      owners: Seq[ManifestListReader.ManifestFileInfo])
      : Option[(Int, Seq[ManifestListReader.FieldSummary])] = {
    def minMax(vs: Seq[Any]): Option[(Any, Any)] =
      vs.foldLeft(Option(vs.head, vs.head)) { case (acc, v) =>
        for {
          (lo, hi) <- acc
          cl <- cmpValues(v, lo)
          ch <- cmpValues(v, hi)
        } yield (if (cl < 0) v else lo, if (ch > 0) v else hi)
      }
    def decoded(b: Option[Array[Byte]], t: IcebergType): Option[Any] =
      b.filter(_.nonEmpty).flatMap(bytes =>
        scala.util.Try(SingleValueCodec.decode(t, bytes)).toOption)
    for {
      specId <- owners.map(_.specId).distinct match {
        case collection.Seq(one) => Some(one)
        case _ => None
      }
      spec <- meta.partitionSpecs.find(_.specId == specId)
      sums = owners.flatMap(_.summaries)
      if sums.size == owners.size && sums.forall(_.size == spec.fields.length)
      fields <- spec.fields.zipWithIndex.foldLeft(
          Option(Vector.empty[ManifestListReader.FieldSummary])) {
        case (accOpt, (pf, i)) =>
          for {
            acc <- accOpt
            srcType <- meta.fieldTypes.get(pf.sourceId)
              .flatMap(IcebergTypes.fromStringOpt)
            tt <- transformResultType(pf.transform, srcType)
            lows <- Some(sums.map(s => decoded(s(i).lower, tt)))
              .filter(_.forall(_.isDefined)).map(_.flatten)
            highs <- Some(sums.map(s => decoded(s(i).upper, tt)))
              .filter(_.forall(_.isDefined)).map(_.flatten)
            (lo, _) <- minMax(lows)
            (_, hi) <- minMax(highs)
          } yield acc :+ ManifestListReader.FieldSummary(
            sums.exists(_(i).containsNull),
            Some(SingleValueCodec.encode(tt, lo)), Some(SingleValueCodec.encode(tt, hi)))
      }
    } yield (specId, fields)
  }

  /** A field-507 summary bound decoded as `t`; empty or undecodable bytes
    * (a null-valued partition's summary writes zero bytes) mean "no
    * bound" — keep, never throw. */
  private def summaryBound(b: Option[Array[Byte]], t: IcebergType): Option[Any] =
    b.filter(_.nonEmpty).flatMap(bytes =>
      scala.util.Try(SingleValueCodec.decode(t, bytes)).toOption)

  /** Manifest-level hidden-partition pruning for `sourceFieldId IN values`
    * (equality is the one-value set): each value converts into each
    * manifest's partition-transform space and is tested against the
    * manifest-list's field-507 summaries — a manifest no value can land in
    * is skipped WITHOUT BEING OPENED. A manifest survives when ANY value
    * survives it, the union of the single-value prunes. Spec-id aware
    * (each manifest prunes under ITS spec, the i32 mixed-spec rule); a
    * manifest with no summary, an unknown transform, or an undecodable
    * bound survives — pruning is conservative.
    *
    * Cost: the caller's already-read list, no I/O. The source type and
    * each spec field's transform resolve once and the values convert once
    * per spec field; each manifest's summary bounds decode once, and a
    * manifest whose spec has no field sourced from `sourceFieldId` is kept
    * without touching the values. `values` must be non-empty. */
  def pruneManifestsByTransform(infos: Seq[ManifestListReader.ManifestFileInfo],
      meta: TableMetadata, sourceFieldId: Int, values: Seq[Any])
      : Seq[ManifestListReader.ManifestFileInfo] = {
    require(values.nonEmpty, "pruneManifestsByTransform needs at least one value")
    val sourceType = IcebergTypes.fromString(meta.fieldTypes(sourceFieldId))
    // per spec id: (summary index, result type, converted values) of each
    // field sourced from the column whose transform can convert a value
    val specFields = infos.map(_.specId).distinct.map { id =>
      id -> meta.partitionSpecs.find(_.specId == id).map(_.fields.zipWithIndex.collect {
        case (pf, i) if pf.sourceId == sourceFieldId => transformer(pf.transform, sourceType)
          .map { case (tt, f) => (i, tt, values.map(f).toIndexedSeq) }
      }.flatten)
    }.toMap
    infos.filter { info =>
      val keep = for {
        fields <- specFields(info.specId)
        sums <- info.summaries
      } yield {
        val bounds = fields.filter(_._1 < sums.size).map { case (i, tt, tvs) =>
          (summaryBound(sums(i).lower, tt), summaryBound(sums(i).upper, tt), tvs) }
        bounds.isEmpty || values.indices.exists(j => bounds.forall { case (lo, hi, tvs) =>
          tvs(j).forall(tv => lo.flatMap(cmpValues(_, tv)).forall(_ <= 0) &&
            hi.flatMap(cmpValues(_, tv)).forall(_ >= 0))
        })
      }
      keep.getOrElse(true)
    }
  }

  /** Transforms that preserve ordering — a VALUE range [lo, hi] maps to
    * the transform range [t(lo), t(hi)], so summaries prune range
    * predicates too. Bucket hashes are non-monotonic: never range-prunable. */
  private def isMonotonic(transform: String): Boolean = transform match {
    case "identity" | "year" | "month" | "day" | "hour" => true
    case TruncateRe(_) => true
    case _ => false
  }

  /** Manifest-level pruning for a VALUE RANGE `lower <= field <= upper`
    * (either side optional): the range converts through each spec's
    * MONOTONIC transforms and manifests whose field-507 summary interval
    * cannot overlap it are skipped WITHOUT BEING OPENED. Equality is the
    * degenerate range; bucket specs stay unpruned here (see
    * pruneManifestsByTransform for the equality-in-bucket-space rule).
    * Conservative on every missing/undecodable piece. Filters the caller's
    * already-read list: no I/O. */
  def pruneManifestsByRange(infos: Seq[ManifestListReader.ManifestFileInfo],
      meta: TableMetadata, sourceFieldId: Int, lower: Option[Any], upper: Option[Any])
      : Seq[ManifestListReader.ManifestFileInfo] = {
    val sourceType = IcebergTypes.fromString(meta.fieldTypes(sourceFieldId))
    infos.filter { info =>
      val keep = for {
        spec <- meta.partitionSpecs.find(_.specId == info.specId)
        sums <- info.summaries
      } yield spec.fields.zip(sums).forall { case (pf, s) =>
        if (pf.sourceId != sourceFieldId || !isMonotonic(pf.transform)) true
        else {
          // overlap test: summary.max >= t(lower) AND summary.min <= t(upper)
          val loOk = lower.flatMap(v => transformValue(pf.transform, sourceType, v))
            .forall { case (tt, tv) =>
              summaryBound(s.upper, tt).flatMap(cmpValues(_, tv)).forall(_ >= 0) }
          val hiOk = upper.flatMap(v => transformValue(pf.transform, sourceType, v))
            .forall { case (tt, tv) =>
              summaryBound(s.lower, tt).flatMap(cmpValues(_, tv)).forall(_ <= 0) }
          loOk && hiOk
        }
      }
      keep.getOrElse(true)
    }
  }
}

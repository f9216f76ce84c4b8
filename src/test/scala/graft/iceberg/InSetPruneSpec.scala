package graft.iceberg

import org.apache.spark.sql.sources
import org.scalatest.funsuite.AnyFunSuite

import graft.iceberg.IcebergTypes._
import graft.iceberg.ManifestListReader.{FieldSummary, ManifestFileInfo}
import graft.sources.FileBoundsEval

/** Set-valued pruning must keep exactly what value-at-a-time pruning
  * keeps. Manifests: `pruneManifestsByTransform(infos, …, values)` against
  * the union of its single-value calls and against the value-at-a-time
  * rule written out below, over identity, bucket[16], truncate[10] and
  * day specs mixed in one list. Files: `FileBoundsEval.skippable(In)`
  * against `EqualTo` per value, on normal, missing, empty and undecodable
  * bounds. Random summaries and value sets, fixed seed. */
class InSetPruneSpec extends AnyFunSuite {

  private val schema = IcebergSchema(0, Seq(
    IcebergField(1, "a", required = false, "int"),
    IcebergField(2, "b", required = false, "long"),
    IcebergField(3, "s", required = false, "string"),
    IcebergField(4, "d", required = false, "date")))

  private val specs = Seq(
    PartitionSpec(0, Seq(PartitionField("a", "identity", 1, 1000))),
    PartitionSpec(1, Seq(PartitionField("b_bucket", "bucket[16]", 2, 1000))),
    PartitionSpec(2, Seq(PartitionField("a_trunc", "truncate[10]", 1, 1000))),
    PartitionSpec(3, Seq(PartitionField("d_day", "day", 4, 1000))),
    PartitionSpec(4, Seq(PartitionField("s_trunc", "truncate[10]", 3, 1000),
      PartitionField("b_bucket", "bucket[16]", 2, 1001),
      PartitionField("b_trunc", "truncate[10]", 2, 1002))))

  private val meta = TableMetadata(2, "b6b9a6a1-0000-4000-8000-0000000000e9", "/tmp/in-set",
    0L, Some(schema), Some(0), Seq(schema), specs, 0, Nil, 0, Map.empty, None,
    Nil, Nil, Nil, Nil)

  private val rnd = new scala.util.Random(20261017)

  /** A random [lo, hi] summary in the field's transform space. */
  private def summary(pf: PartitionField): FieldSummary = {
    val (t, lo, hi): (IcebergType, Any, Any) = pf.transform match {
      case "identity" =>
        val lo = rnd.nextInt(120); (TInt, lo, lo + rnd.nextInt(15))
      case "bucket[16]" =>
        val lo = rnd.nextInt(16); (TInt, lo, lo + rnd.nextInt(16 - lo))
      case "truncate[10]" if pf.sourceId == 1 =>
        val lo = rnd.nextInt(12) * 10; (TInt, lo, lo + rnd.nextInt(3) * 10)
      case "truncate[10]" if pf.sourceId == 2 =>
        val lo = rnd.nextInt(100) * 10L; (TLong, lo, lo + rnd.nextInt(20) * 10L)
      case "truncate[10]" =>
        val lo = f"key-${rnd.nextInt(40)}%04d"; (TString, lo, f"key-${rnd.nextInt(40) + 40}%04d")
      case "day" =>
        val lo = 19000 + rnd.nextInt(60); (TInt, lo, lo + rnd.nextInt(10))
    }
    FieldSummary(containsNull = false, Some(SingleValueCodec.encode(t, lo)),
      Some(SingleValueCodec.encode(t, hi)))
  }

  private val infos: Seq[ManifestFileInfo] = specs.flatMap { spec =>
    def info(tag: String, sums: Option[Seq[FieldSummary]]) = ManifestFileInfo(
      s"/tmp/in-set/spec${spec.specId}-$tag.avro", 100L, spec.specId, 1L, 1, 0, sums)
    (0 until 12).map(i => info(s"m$i", Some(spec.fields.map(summary)))) ++ Seq(
      // a null partition's summary writes zero-byte bounds
      info("null-partition", Some(spec.fields.map(_ =>
        FieldSummary(containsNull = true, Some(Array.emptyByteArray), Some(Array.emptyByteArray))))),
      info("no-summary", None),
      info("undecodable", Some(spec.fields.map(_ =>
        FieldSummary(containsNull = false, Some(Array[Byte](7)), Some(Array[Byte](7)))))))
  }

  /** Value-at-a-time manifest rule: a manifest survives `sourceFieldId =
    * value` unless a summary of a field sourced from the column provably
    * excludes the transformed value. */
  private def keepsValue(info: ManifestFileInfo, fid: Int, value: Any): Boolean = {
    val sourceType = IcebergTypes.fromString(meta.fieldTypes(fid))
    (for {
      spec <- meta.partitionSpecs.find(_.specId == info.specId)
      sums <- info.summaries
    } yield spec.fields.zip(sums).forall { case (pf, s) =>
      if (pf.sourceId != fid) true
      else ScanPlanning.transformValue(pf.transform, sourceType, value) match {
        case Some((tType, tv)) =>
          def cmp(bound: Option[Array[Byte]]): Option[Int] = bound.filter(_.nonEmpty)
            .flatMap(b => scala.util.Try(SingleValueCodec.decode(tType, b)).toOption)
            .flatMap(ScanPlanning.cmpValues(_, tv))
          cmp(s.lower).forall(_ <= 0) && cmp(s.upper).forall(_ >= 0)
        case None => true
      }
    }).getOrElse(true)
  }

  private def randomValue(fid: Int): Any = fid match {
    case 1 => rnd.nextInt(140)
    case 2 => rnd.nextInt(1100).toLong
    case 3 => f"key-${rnd.nextInt(90)}%04d"
    case 4 => rnd.nextInt(3) match {
      case 0 => 19000 + rnd.nextInt(75)
      case 1 => java.time.LocalDate.ofEpochDay(19000L + rnd.nextInt(75))
      case _ => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000L + rnd.nextInt(75)))
    }
  }

  test("manifests: an IN set keeps exactly the union of its single-value prunes") {
    def paths(is: Seq[ManifestFileInfo]): Set[String] = is.map(_.path).toSet
    var prunedSome = false
    for (fid <- 1 to 4; size <- Seq(1, 2, 5, 40, 300); _ <- 0 until 6) {
      val values = Seq.fill(size)(randomValue(fid))
      val batched = paths(ScanPlanning.pruneManifestsByTransform(infos, meta, fid, values))
      val union = values.map(v =>
        paths(ScanPlanning.pruneManifestsByTransform(infos, meta, fid, Seq(v)))).reduce(_ union _)
      val rule = paths(infos.filter(i => values.exists(v => keepsValue(i, fid, v))))
      assert(batched == union, s"field $fid, ${values.take(8)}")
      assert(batched == rule, s"field $fid, ${values.take(8)}")
      // (a one-byte bound decodes as a one-char STRING, so it is only
      // undecodable for the numeric fields)
      val alwaysKept = Seq("null-partition", "no-summary") ++
        (if (fid == 3) Nil else Seq("undecodable"))
      alwaysKept.foreach { tag =>
        assert(infos.filter(_.path.endsWith(s"-$tag.avro")).forall(i => batched(i.path)),
          s"field $fid dropped a $tag manifest")
      }
      prunedSome ||= batched.size < infos.size
    }
    assert(prunedSome, "no value set pruned any manifest: the spec proves nothing")
  }

  test("manifests: a value of the wrong runtime class is unprunable, never dropped") {
    // bucket[16] over a LONG column cannot hash an Int value: spec 1 keeps all
    val kept = ScanPlanning.pruneManifestsByTransform(infos, meta, 2, Seq(7, 8))
    assert(infos.filter(_.specId == 1).forall(kept.contains))
  }

  private val entries: Seq[ManifestWriter.EntryData] = {
    def entry(tag: String, lo: Map[Int, Array[Byte]], hi: Map[Int, Array[Byte]]) =
      ManifestWriter.EntryData(1, 1L, s"/tmp/in-set/$tag.parquet", 10L, 100L, lo, hi)
    def enc(v: Int) = SingleValueCodec.encode(TInt, v)
    (0 until 20).map { i =>
      val lo = rnd.nextInt(120)
      entry(s"f$i", Map(1 -> enc(lo)), Map(1 -> enc(lo + rnd.nextInt(10))))
    } ++ Seq(
      entry("missing", Map.empty, Map.empty),
      entry("lower-only", Map(1 -> enc(60)), Map.empty),
      entry("upper-only", Map.empty, Map(1 -> enc(30))),
      entry("empty", Map(1 -> Array.emptyByteArray), Map(1 -> Array.emptyByteArray)),
      entry("undecodable", Map(1 -> Array[Byte](1, 2, 3)), Map(1 -> Array[Byte](4))))
  }

  /** Value-at-a-time file rule: skippable only when every value falls
    * below the decoded lower bound or above the decoded upper bound. */
  private def outsideValue(e: ManifestWriter.EntryData, v: Any): Boolean = {
    def bound(m: Map[Int, Array[Byte]]): Option[Any] = m.get(1).filter(_.nonEmpty)
      .flatMap(b => scala.util.Try(SingleValueCodec.decode(TInt, b)).toOption)
    bound(e.lowerBounds).flatMap(ScanPlanning.cmpValues(_, v)).exists(_ > 0) ||
      bound(e.upperBounds).flatMap(ScanPlanning.cmpValues(_, v)).exists(_ < 0)
  }

  test("files: skippable(In) == every value skippable as EqualTo, on every bound shape") {
    var skippedSome = false
    for (size <- Seq(0, 1, 2, 5, 40); _ <- 0 until 10; e <- entries) {
      val values: Seq[Any] = Seq.fill(size)(
        if (rnd.nextInt(20) == 0) "not-an-int" else rnd.nextInt(140))
      val in = FileBoundsEval.skippable(sources.In("a", values.toArray), e, meta)
      val perValue = values.nonEmpty &&
        values.forall(v => FileBoundsEval.skippable(sources.EqualTo("a", v), e, meta))
      assert(in == perValue, s"${e.filePath}: ${values.take(8)}")
      assert(in == (values.nonEmpty && values.forall(outsideValue(e, _))), e.filePath)
      skippedSome ||= in
    }
    assert(skippedSome, "no IN set skipped any file: the spec proves nothing")
    // an empty set and a column outside the schema never skip
    entries.foreach { e =>
      assert(!FileBoundsEval.skippable(sources.In("a", Array.empty), e, meta))
      assert(!FileBoundsEval.skippable(sources.In("zz", Array[Any](-1)), e, meta))
    }
    // bounds that are missing, empty or undecodable keep the file
    entries.filter(e => Set("missing", "empty", "undecodable")
        .exists(t => e.filePath.endsWith(s"/$t.parquet")))
      .foreach(e => assert(!FileBoundsEval.skippable(
        sources.In("a", Array[Any](-5, 500)), e, meta), e.filePath))
  }
}

package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{AvroConversions, IcebergType, IcebergTypes, ScanPlanning, SingleValueCodec,
  TableMetadata}

/** DataSource V2 connector for Iceberg manifest files:
  * `spark.read.format("graft-manifest").load(path, ...)`.
  *
  * The v2 upgrade of ManifestReader (SURVEY.md §7 M4 "optional DSv2"):
  * Catalyst drives the scan — one InputPartition per manifest file
  * (Iceberg's own planning granularity), column pruning
  * (`SupportsPushDownRequiredColumns`) is an Avro reader-schema projection
  * so pruned fields are never even decoded (the mechanism the reference
  * exposes as `--reader-schema`, ManifestFileReadTool.java:114-119,137-139),
  * and with `option("metadata", <metadata.json>)` the table grows TYPED
  * virtual stat columns `lower_<col>`/`upper_<col>` (Iceberg's
  * readable_metrics idea) decoded from the binary bound blobs
  * (IcebergDatumWriter.java:194-202). Filters on those columns — and on
  * entry columns — push down (`SupportsPushDownFilters`): rows are skipped
  * during Avro decode and whole manifests whose entries ALL fail the
  * predicate are dropped at planning time (fewer InputPartitions), which is
  * exactly Iceberg's stats-based scan pruning, now reachable as
  * `df.filter($"upper_id" >= 2)`.
  */
class ManifestDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest"
  // nothing below is manifest-specific: the schema comes from the
  // container header, so this provider reads ANY Avro object-container
  // file (see AvroContainerDataSource for the generic-name registration)

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    // `manifest-list` resolves the manifest set FROM the snapshot's list
    // container (one KB-scale driver read) — the two-level planning entry
    // point; explicit load() paths are the direct route
    val fromList = Option(options.get("manifest-list")).toSeq
      .flatMap(l => graft.iceberg.ManifestListReader.read(l).map(_.path))
    // multi-path load() hands the source a JSON-encoded string array
    val multi = Option(options.get("paths")).map { s =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(s, classOf[Array[String]]).toSeq
    }.getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    val all = (fromList ++ multi ++ single).filter(_.nonEmpty).distinct
    require(all.nonEmpty, "graft-manifest requires a path or a manifest-list")
    all
  }

  private def virtuals(options: CaseInsensitiveStringMap): Seq[VirtualBoundCol] =
    Option(options.get("metadata")).map(VirtualBoundCol.fromMetadata).getOrElse(Nil)

  /** Per-manifest aggregate partition bounds decoded from the list's
    * field-507 summaries, keyed by the same virtual column names filters
    * push on: `lower_<col>` → min-over-files lower bound, `upper_<col>` →
    * max-over-files upper. Only identity-transform spec fields map to a
    * source column's value domain; others stay unpruned (conservative).
    * Needs both the list (summaries) and the metadata (spec + types). */
  private def listBounds(options: CaseInsensitiveStringMap): Map[String, Map[String, Any]] =
    (Option(options.get("manifest-list")), Option(options.get("metadata"))) match {
      case (Some(list), Some(metaPath)) =>
        val meta = TableMetadata.parseFile(metaPath)
        val fieldsById = meta.currentSchema.fields.map(f => f.id -> f).toMap
        graft.iceberg.ManifestListReader.read(list).flatMap { info =>
          val spec = meta.partitionSpecs.find(_.specId == info.specId)
          (spec, info.summaries) match {
            case (Some(sp), Some(sums)) =>
              val bounds = sp.fields.zip(sums).flatMap { case (pf, s) =>
                if (pf.transform != "identity") Nil
                else fieldsById.get(pf.sourceId).toSeq.flatMap { f =>
                  IcebergTypes.fromStringOpt(f.fieldType).toSeq.flatMap { t =>
                    s.lower.map(b => s"lower_${f.name}" -> SingleValueCodec.decode(t, b)).toSeq ++
                      s.upper.map(b => s"upper_${f.name}" -> SingleValueCodec.decode(t, b)).toSeq
                  }
                }
              }.toMap
              if (bounds.isEmpty) Nil else Seq(info.path -> bounds)
            case _ => Nil
          }
        }.toMap
      case _ => Map.empty
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val writer = graft.iceberg.ManifestReader.avroSchema(paths(options).head)
    val base = AvroConversions.toStructType(writer)
    StructType(base.fields ++ virtuals(options).map(v =>
      StructField(v.name, v.icebergType.sparkType, nullable = true)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ManifestTable(schema, paths(opts),
      graft.iceberg.ManifestReader.avroSchema(paths(opts).head).toString, virtuals(opts),
      listBounds(opts))
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** Generic Avro container source: `spark.read.format("graft-avro")` — the
  * environment ships no spark-avro jar (SURVEY.md §7 constraints), so this
  * provider fills the gap for any Avro object-container file using the
  * core avro jar, with the same per-file partitioning and reader-schema
  * column pruning as the manifest source. */
class AvroContainerDataSource extends ManifestDataSource {
  override def shortName(): String = "graft-avro"
}

/** A typed virtual stat column `lower_<col>` / `upper_<col>` decoded from
  * the manifest's bound blobs against the table schema's field id. */
case class VirtualBoundCol(name: String, fieldId: Int, isLower: Boolean, icebergType: IcebergType)

object VirtualBoundCol {
  /** One lower/upper pair per primitive column of the table's current
    * schema (nested/unsupported types carry no usable single-value bound). */
  def fromMetadata(metadataPath: String): Seq[VirtualBoundCol] = {
    val meta = TableMetadata.parseFile(metadataPath)
    meta.currentSchema.fields.flatMap { f =>
      IcebergTypes.fromStringOpt(f.fieldType).toSeq.flatMap { t =>
        Seq(VirtualBoundCol(s"lower_${f.name}", f.id, isLower = true, t),
          VirtualBoundCol(s"upper_${f.name}", f.id, isLower = false, t))
      }
    }
  }
}

class ManifestTable(schema: StructType, paths: Seq[String], writerSchemaJson: String,
    virtuals: Seq[VirtualBoundCol],
    listBounds: Map[String, Map[String, Any]] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"graft-manifest(${paths.mkString(",")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(schema, paths, writerSchemaJson, virtuals, listBounds)
}

class ManifestScanBuilder(fullSchema: StructType, paths: Seq[String], writerSchemaJson: String,
    virtuals: Seq[VirtualBoundCol],
    listBounds: Map[String, Map[String, Any]] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit {
  private var required: StructType = fullSchema
  private var pushed: Array[sources.Filter] = Array.empty
  private var limit: Int = Int.MaxValue

  /** `--head` parity through Catalyst (ManifestFileReadTool.java:145-147):
    * each partition reader stops decoding after `n` surviving rows —
    * per-partition is the safe over-approximation, Spark's global limit
    * still applies on top. */
  override def pushLimit(n: Int): Boolean = { limit = n; false }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep Catalyst's pruned schema verbatim — including NESTED pruning
    // (e.g. data_file.file_path only); the reader derives a matching Avro
    // reader schema so skipped fields are never decoded
    required = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(EntryFilterEval.supported(_, fullSchema, virtuals))
    // everything stays residual: the source's evaluation is a best-effort
    // skip (conservative three-valued logic), Spark re-checks post-scan
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new ManifestScan(required, paths, writerSchemaJson, virtuals, pushed, limit, listBounds)
}

object ManifestScan {
  /** Shared deadline for the planning-time pruning probes: generous for
    * KB-scale manifest reads, small next to a query's execution time. */
  val ProbeTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(30, java.util.concurrent.TimeUnit.SECONDS)
}

class ManifestScan(required: StructType, paths: Seq[String], writerSchemaJson: String,
    virtuals: Seq[VirtualBoundCol], filters: Array[sources.Filter],
    limit: Int = Int.MaxValue,
    listBounds: Map[String, Map[String, Any]] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required

  /** Session Hadoop conf captured at scan build (driver-side) and shipped
    * to the partition readers — executor-side manifest opens must see the
    * session's fs.* settings and credentials (s3a://, hdfs://), which a
    * fresh `new Configuration()` at the open site would silently drop. */
  private val hadoopConf = new graft.iceberg.SerializableHadoopConf(
    graft.iceberg.HadoopConfs.active())

  /** Size estimate from the container file lengths (one KB-scale FS stat
    * per manifest, cached for the scan's lifetime) — lets Catalyst treat
    * a manifest relation as the small side of a join (broadcast) instead
    * of assuming the conservative default. Row count stays unknown: it
    * would need a decode pass, which planning must not pay. */
  // None when any stat fails: an unknown size must stay unknown — summing
  // failures as 0 would understate sizeInBytes and bias Catalyst toward
  // broadcasting a relation whose size it cannot actually see.
  private lazy val totalBytes: Option[Long] = {
    val lens = paths.map { p =>
      try Some(graft.iceberg.HadoopConfs.length(p))
      catch { case _: Exception => None }
    }
    if (lens.forall(_.isDefined)) Some(lens.flatten.sum) else None
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      totalBytes.map(java.util.OptionalLong.of).getOrElse(java.util.OptionalLong.empty())
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def description(): String =
    s"graft-manifest scan, ReadSchema: ${required.catalogString}" +
      (if (filters.nonEmpty) s", PushedFilters: ${filters.mkString("[", ", ", "]")}" else "") +
      (if (limit != Int.MaxValue) s", PushedLimit: $limit" else "")
  override def toBatch: Batch = this

  /** Manifests where no entry can satisfy the pushed filters produce no
    * partition at all — stats-based scan pruning at planning time, in the
    * two Iceberg levels. Level 1 (list): manifests whose partition
    * summaries prove the filters unsatisfiable are dropped WITHOUT EVER
    * BEING OPENED — at millions of files this keeps planning proportional
    * to matching manifests. Level 2 (entry): survivors are probed by
    * decoding their entries against the filters. The driver-side pass
    * mirrors Iceberg's own planning (manifests are KB-sized). */
  override def planInputPartitions(): Array[InputPartition] = {
    val listSurvivors =
      if (filters.isEmpty || listBounds.isEmpty) paths
      else paths.filterNot(p =>
        ListPruneEval.skippable(filters, listBounds.getOrElse(p, Map.empty)))
    val survivors =
      if (filters.isEmpty) listSurvivors
      else {
        val probeSchema = EntryFilterEval.schemaForRefs(
          filters.flatMap(_.references).toSet,
          AvroConversions.toStructType(new Schema.Parser().parse(writerSchemaJson)), virtuals)
        // probe manifests concurrently — each is an independent KB-scale
        // read, so planning latency stays flat as the manifest count grows
        // (the driver-side analog of Iceberg's planning thread pool)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, math.max(1, listSurvivors.size)))
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          val checks = listSurvivors.map { p =>
            p -> scala.concurrent.Future {
              val probe = new ManifestPartitionReader(
                p, probeSchema, writerSchemaJson, virtuals, filters,
                hadoopConf = hadoopConf.value)
              try probe.next() finally probe.close()
            }
          }
          // Bounded wait: one hung filesystem must not stall planning
          // forever. A probe that misses the shared deadline keeps its
          // manifest un-pruned — pruning is conservative, so a timeout
          // safely degrades to no-prune for that file. Non-timeout probe
          // failures still propagate (the scan would fail on them anyway).
          val deadline = System.nanoTime() + ManifestScan.ProbeTimeout.toNanos
          checks.collect { case (p, fut)
              if (try scala.concurrent.Await.result(fut,
                    scala.concurrent.duration.Duration.fromNanos(
                      math.max(0L, deadline - System.nanoTime())))
                  catch { case _: java.util.concurrent.TimeoutException => true }) => p }
        } finally pool.shutdownNow()
      }
    survivors.map(p => ManifestInputPartition(p): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(required, writerSchemaJson, virtuals, filters, limit, hadoopConf)
}

case class ManifestInputPartition(path: String) extends InputPartition

class ManifestReaderFactory(required: StructType, writerSchemaJson: String,
    virtuals: Seq[VirtualBoundCol], filters: Array[sources.Filter], limit: Int,
    hadoopConf: graft.iceberg.SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ManifestPartitionReader(
      partition.asInstanceOf[ManifestInputPartition].path, required, writerSchemaJson,
      virtuals, filters, limit, hadoopConf.value)
}

/** Conservative three-valued evaluation of v1 `sources.Filter`s over
  * decoded manifest entries: Some(true/false) when decidable, None when a
  * referenced value is missing or the comparison is type-unsupported —
  * None keeps the row/partition (pruning must never be wrong, only
  * incomplete). */
object EntryFilterEval {

  private val comparableOps = Set("EqualTo", "GreaterThan", "GreaterThanOrEqual",
    "LessThan", "LessThanOrEqual", "IsNull", "IsNotNull", "In", "And", "Or", "Not")

  def supported(f: sources.Filter, schema: StructType,
      virtuals: Seq[VirtualBoundCol]): Boolean = {
    val known = virtuals.map(_.name).toSet
    def resolvable(ref: String): Boolean =
      known.contains(ref) || resolvePath(schema, ref.split('.').toList).isDefined
    comparableOps.contains(f.getClass.getSimpleName) && f.references.forall(resolvable)
  }

  private def resolvePath(dt: DataType, path: List[String]): Option[DataType] = (dt, path) match {
    case (t, Nil) => Some(t)
    case (st: StructType, h :: rest) =>
      st.fields.find(_.name == h).flatMap(f => resolvePath(f.dataType, rest))
    case _ => None
  }

  /** Minimal read schema covering the filter references (virtual columns
    * and dotted entry paths) — what the planning-time probe decodes. */
  def schemaForRefs(refs: Set[String], full: StructType,
      virtuals: Seq[VirtualBoundCol]): StructType = {
    val byName = virtuals.map(v => v.name -> v).toMap
    val (virtRefs, realRefs) = refs.partition(byName.contains)
    def mergePath(acc: StructType, path: List[String], from: StructType): StructType = path match {
      case Nil => acc
      case h :: rest =>
        val fromField = from.fields.find(_.name == h).getOrElse(return acc)
        val sub: StructField = (fromField.dataType, rest) match {
          case (st: StructType, _ :: _) =>
            val existing = acc.fields.find(_.name == h).map(_.dataType.asInstanceOf[StructType])
              .getOrElse(new StructType())
            fromField.copy(dataType = mergePath(existing, rest, st))
          case _ => fromField
        }
        StructType(acc.fields.filterNot(_.name == h) :+ sub)
    }
    val real = realRefs.foldLeft(new StructType())((acc, r) => mergePath(acc, r.split('.').toList, full))
    StructType(real.fields ++ virtRefs.toSeq.sorted.map(n =>
      StructField(n, byName(n).icebergType.sparkType, nullable = true)))
  }

  /** `get` returns None = unresolvable, Some(null) = SQL NULL. */
  def eval(f: sources.Filter, get: String => Option[Any]): Option[Boolean] = {
    def cmp(a: Option[Any], v: Any) = a.flatMap(ScanPlanning.cmpValues(_, v))
    f match {
      case sources.EqualTo(a, v) => cmp(get(a), v).map(_ == 0)
      case sources.GreaterThan(a, v) => cmp(get(a), v).map(_ > 0)
      case sources.GreaterThanOrEqual(a, v) => cmp(get(a), v).map(_ >= 0)
      case sources.LessThan(a, v) => cmp(get(a), v).map(_ < 0)
      case sources.LessThanOrEqual(a, v) => cmp(get(a), v).map(_ <= 0)
      case sources.IsNull(a) => get(a).map(_ == null)
      case sources.IsNotNull(a) => get(a).map(_ != null)
      case sources.In(a, vs) =>
        val results = vs.map(v => cmp(get(a), v))
        if (results.exists(_.contains(0))) Some(true)
        else if (results.forall(r => r.isDefined && !r.contains(0))) Some(false)
        else None
      case sources.And(l, r) => (eval(l, get), eval(r, get)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case sources.Or(l, r) => (eval(l, get), eval(r, get)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case sources.Not(c) => eval(c, get).map(!_)
      case _ => None
    }
  }
}

/** List-level (manifest-skipping) filter evaluation — EXISTENTIAL
  * semantics, distinct from EntryFilterEval's per-row logic: the question
  * is "can ANY entry in this manifest satisfy the filter?", answered from
  * the manifest-list's aggregate partition summaries. `bounds` maps
  * `lower_<col>` to the manifest's MIN over file lower bounds and
  * `upper_<col>` to its MAX over file uppers, so:
  *   - `lower_c <= v` is satisfiable iff min-lower <= v (exact);
  *   - `upper_c >= v` is satisfiable iff max-upper >= v (exact);
  *   - the reverse directions (`lower_c >= v`, `upper_c <= v`) are only
  *     one-sided — the aggregate can prove satisfiable, never empty;
  *   - And must NOT conjoin existentials (a manifest can satisfy A and B
  *     in different files) — only a definitely-false side skips;
  *   - Not is never decidable from aggregates.
  * Some(false) = provably no matching entry (safe to skip unopened);
  * anything else keeps the manifest for the entry-level probe. */
object ListPruneEval {

  def sat(f: sources.Filter, bounds: Map[String, Any]): Option[Boolean] = {
    def minLower(a: String): Option[Any] =
      if (a.startsWith("lower_")) bounds.get(a) else None
    def maxUpper(a: String): Option[Any] =
      if (a.startsWith("upper_")) bounds.get(a) else None
    f match {
      case sources.LessThan(a, v) =>
        minLower(a).flatMap(lo => ScanPlanning.cmpValues(lo, v).map(_ < 0))
          .orElse(maxUpper(a).flatMap(hi =>
            ScanPlanning.cmpValues(hi, v).flatMap(c => if (c < 0) Some(true) else None)))
      case sources.LessThanOrEqual(a, v) =>
        minLower(a).flatMap(lo => ScanPlanning.cmpValues(lo, v).map(_ <= 0))
          .orElse(maxUpper(a).flatMap(hi =>
            ScanPlanning.cmpValues(hi, v).flatMap(c => if (c <= 0) Some(true) else None)))
      case sources.GreaterThan(a, v) =>
        maxUpper(a).flatMap(hi => ScanPlanning.cmpValues(hi, v).map(_ > 0))
          .orElse(minLower(a).flatMap(lo =>
            ScanPlanning.cmpValues(lo, v).flatMap(c => if (c > 0) Some(true) else None)))
      case sources.GreaterThanOrEqual(a, v) =>
        maxUpper(a).flatMap(hi => ScanPlanning.cmpValues(hi, v).map(_ >= 0))
          .orElse(minLower(a).flatMap(lo =>
            ScanPlanning.cmpValues(lo, v).flatMap(c => if (c >= 0) Some(true) else None)))
      case sources.EqualTo(a, v) =>
        // lower_c = v needs a file-lower equal to v: impossible when even
        // the minimum exceeds v; upper_c = v: impossible when the maximum
        // is below v. Equality at the aggregate itself proves existence.
        minLower(a).flatMap(lo => ScanPlanning.cmpValues(lo, v).flatMap(c =>
          if (c > 0) Some(false) else if (c == 0) Some(true) else None))
          .orElse(maxUpper(a).flatMap(hi => ScanPlanning.cmpValues(hi, v).flatMap(c =>
            if (c < 0) Some(false) else if (c == 0) Some(true) else None)))
      case sources.In(a, vs) =>
        val results = vs.toSeq.map(v => sat(sources.EqualTo(a, v), bounds))
        if (results.exists(_.contains(true))) Some(true)
        else if (results.nonEmpty && results.forall(_.contains(false))) Some(false)
        else None
      case sources.And(l, r) => (sat(l, bounds), sat(r, bounds)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case _ => None
      }
      case sources.Or(l, r) => (sat(l, bounds), sat(r, bounds)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case _ => None
    }
  }

  /** True when any pushed filter is provably unsatisfiable over the whole
    * manifest (pushed filters are conjunctive at the top level). */
  def skippable(filters: Array[sources.Filter], bounds: Map[String, Any]): Boolean =
    bounds.nonEmpty && filters.exists(f => sat(f, bounds).contains(false))
}

/** Streams one manifest file; projection happens inside Avro decode via a
  * derived reader schema containing only the required REAL fields (plus
  * the bound maps when virtual stat columns are in play); pushed filters
  * skip rows before they are materialized to Catalyst. */
class ManifestPartitionReader(path: String, required: StructType, writerSchemaJson: String,
    virtuals: Seq[VirtualBoundCol], filters: Array[sources.Filter],
    limit: Int = Int.MaxValue,
    hadoopConf: Configuration = graft.iceberg.HadoopConfs.active())
    extends PartitionReader[InternalRow] {

  private var emitted = 0

  private val writerSchema = new Schema.Parser().parse(writerSchemaJson)
  private val byName = virtuals.map(v => v.name -> v).toMap
  private val virtualFields: Seq[StructField] = required.fields.filter(f => byName.contains(f.name)).toSeq
  private val realRequired = StructType(required.fields.filterNot(f => byName.contains(f.name)))

  /** Avro-decoded shape: the real required fields, with data_file's bound
    * maps merged in when any virtual column must be computed. */
  private val avroRequired: StructType =
    if (virtualFields.isEmpty) realRequired
    else {
      val full = AvroConversions.toStructType(writerSchema)
      val dfFull = full.fields.find(_.name == "data_file").getOrElse(
        throw new IllegalArgumentException(
          s"virtual bound columns need a data_file field; not a manifest? $path"))
      val boundFields = dfFull.dataType.asInstanceOf[StructType].fields
        .filter(f => f.name == "lower_bounds" || f.name == "upper_bounds")
      realRequired.fields.find(_.name == "data_file") match {
        case Some(df) =>
          val cur = df.dataType.asInstanceOf[StructType]
          val merged = StructType(cur.fields ++ boundFields.filterNot(b => cur.fieldNames.contains(b.name)))
          StructType(realRequired.fields.map(f =>
            if (f.name == "data_file") f.copy(dataType = merged) else f))
        case None =>
          StructType(realRequired.fields :+ dfFull.copy(dataType = StructType(boundFields)))
      }
    }

  private val readerSchema: Schema =
    AvroConversions.pruneAvroSchema(writerSchema, avroRequired)

  private val in =
    new java.io.BufferedInputStream(graft.iceberg.HadoopConfs.open(path, hadoopConf))
  // writer schema comes from THIS container's header (per-file schema
  // evolution); records resolve onto the derived reader schema. A corrupt
  // container fails the constructor — close the stream we opened first.
  private val stream =
    try new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord](null: Schema, readerSchema))
    catch { case e: Throwable => in.close(); throw e }
  private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(required)
  private var current: InternalRow = _

  private def resolve(row: org.apache.spark.sql.Row, name: String): Option[Any] =
    byName.get(name) match {
      case Some(v) => Some(decodeVirtual(row, v))
      case None =>
        def walk(r: org.apache.spark.sql.Row, st: StructType, path: List[String]): Option[Any] =
          path match {
            case h :: rest =>
              st.fields.zipWithIndex.find(_._1.name == h).flatMap { case (f, i) =>
                val v = r.get(i)
                rest match {
                  case Nil => Some(v)
                  case _ => (v, f.dataType) match {
                    case (null, _) => Some(null)
                    case (sub: org.apache.spark.sql.Row, sst: StructType) => walk(sub, sst, rest)
                    case _ => None
                  }
                }
              }
            case Nil => None
          }
        walk(row, avroRequired, name.split('.').toList)
    }

  private def decodeVirtual(row: org.apache.spark.sql.Row, v: VirtualBoundCol): Any = {
    val dfIdx = avroRequired.fieldIndex("data_file")
    val df = row.get(dfIdx).asInstanceOf[org.apache.spark.sql.Row]
    if (df == null) return null
    val dfType = avroRequired.fields(dfIdx).dataType.asInstanceOf[StructType]
    val boundsName = if (v.isLower) "lower_bounds" else "upper_bounds"
    val m = df.get(dfType.fieldIndex(boundsName)).asInstanceOf[Map[Int, Array[Byte]]]
    if (m == null) null
    else m.get(v.fieldId).map(SingleValueCodec.decode(v.icebergType, _)).orNull
  }

  /** Project a decoded value from the avro shape down to the (possibly
    * narrower) required shape — data_file may carry extra bound maps that
    * only existed to feed the virtual columns. */
  private def project(value: Any, from: DataType, to: DataType): Any = (value, from, to) match {
    case (null, _, _) => null
    case (r: org.apache.spark.sql.Row, f: StructType, t: StructType) if f != t =>
      org.apache.spark.sql.Row.fromSeq(t.fields.toSeq.map { tf =>
        project(r.get(f.fieldIndex(tf.name)), f(tf.name).dataType, tf.dataType)
      })
    case _ => value
  }

  override def next(): Boolean = {
    if (emitted >= limit) return false
    while (stream.hasNext) {
      val row = AvroConversions.toRow(readerSchema, stream.next())
      // decode each required virtual column once, shared by filter eval
      // and output construction
      val virtVals: Map[String, Any] =
        virtualFields.map(f => f.name -> decodeVirtual(row, byName(f.name))).toMap
      def get(name: String): Option[Any] =
        if (virtVals.contains(name)) Some(virtVals(name)) else resolve(row, name)
      val keep = filters.forall(f => EntryFilterEval.eval(f, get).getOrElse(true))
      if (keep) {
        val out = org.apache.spark.sql.Row.fromSeq(required.fields.toSeq.map { f =>
          if (virtVals.contains(f.name)) virtVals(f.name)
          else {
            val i = avroRequired.fieldIndex(f.name)
            project(row.get(i), avroRequired.fields(i).dataType, f.dataType)
          }
        })
        current = toCatalyst(out).asInstanceOf[InternalRow]
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = { stream.close(); in.close() }
}

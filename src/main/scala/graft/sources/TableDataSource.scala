package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.{DataFrame, SparkSession, sources}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{GraftTable, IcebergType, ManifestListReader, ManifestWriter, Par,
  PathId, ScanPlanning, SingleValueCodec, Snapshot, IcebergTypes, TableMetadata}

/** DataSource V2 connector for whole-TABLE reads:
  * `spark.read.format("graft-table").option("metadata", <metadata.json>)`.
  *
  * This is the engine's ONE merge-on-read reader behind ONE planner
  * ([[GraftTableScan.plan]]). SQL, the catalog, streaming reads and
  * `GraftTable`'s reads and DELETE (read, readWhere, readWhereRange,
  * deleteWhere) are this relation with their predicate pushed
  * ([[TableDataSource.read]]); readKeyRange and the changelog's parent
  * plan call the planner directly. Rewrites (MERGE, compaction, the
  * stats passes, the changelog legs) hand [[TableDataSource.scanPlan]]
  * an explicit entry set instead:
  *
  *   - level 1 (manifest-list): pushed equalities, In-sets and ranges
  *     convert into each spec's partition-transform space and prune data
  *     and delete manifests against their field-507 summaries WITHOUT
  *     OPENING THEM; a delete manifest below the kept data's minimum
  *     sequence is never opened either;
  *   - level 2 (manifest entry): surviving files prune against their
  *     decoded column bounds (fields 125/128);
  *   - level 3 (row group / stripe): files above the split size fan out
  *     one partition per row group, and groups whose footer statistics
  *     exclude the filters are never emitted — all three levels are
  *     conservative, and every pushed filter stays residual;
  *   - BOTH delete kinds apply INSIDE each task — the partition carries
  *     its sequence-scoped delete files (position: data seq <= delete
  *     seq, narrowed by the delete file's file_path bound stats;
  *     equality: strictly lower data seq only; v3 deletion vectors by
  *     referenced file), so NO join appears in the plan;
  *   - `_file`, `_pos`, `_row_id` and `_last_updated_sequence_number`
  *     are metadata columns the reader serves per row;
  *   - `snapshot-id` / `ref` / `as-of-timestamp-ms` options time-travel
  *     with GraftTable.read's resolution rules (a traveled read's schema:
  *     [[GraftTable.readMeta]]).
  *
  * Decoding: every parquet data file decodes through Spark's vectorized
  * reader ([[GraftTableColumnarReader]]): position and equality deletes
  * apply as a per-batch row selection, and the metadata columns, v3
  * initial defaults and renamed columns are vectors in the batch. A scan
  * holding an Avro or ORC file emits rows; its parquet files flatten
  * through [[GraftTableParquetRowReader]]. Statistics report the exact
  * byte size from manifest entries so Catalyst can broadcast small
  * tables. */
object TableDataSource {
  /** v3 initial-defaults (external row domain) by column name — what a
    * reader fills for a column the file predates, instead of null. */
  private[sources] def initialDefaultsOf(meta: TableMetadata): Map[String, Any] =
    meta.currentSchema.fields.flatMap(f =>
      f.initialDefault.flatMap(d => IcebergTypes.fromStringOpt(f.fieldType)
        .map(t => f.name -> graft.iceberg.DefaultValues.fromJson(t, d)))).toMap

  /** A table read as the catalog reads it: the relation over
    * [[GraftSparkTable.at]]. A filter on the frame pushes into the scan's
    * one planning pass. */
  private[graft] def read(spark: SparkSession, metadataPath: String, meta: TableMetadata,
      snapshotId: Option[Long] = None, ref: Option[String] = None,
      asOfTimestampMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    org.apache.spark.sql.GraftSqlShim.ofRows(spark, DataSourceV2Relation.create(
      GraftSparkTable.at(metadataPath, meta, snapshotId, ref, asOfTimestampMs),
      None, None, CaseInsensitiveStringMap.empty()))
  }

  /** (opened, listed) data manifests of the graft-table scan in `df`'s
    * plan, from the scan's own planning pass (which this runs). */
  private[graft] def dataManifests(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftTableScan] =>
        r.scan.asInstanceOf[GraftTableScan].dataManifests
    }.getOrElse(throw new IllegalArgumentException("no graft-table scan in the plan"))
  }

  /** Merge-on-read read of an EXPLICIT plan: `data` entries with their
    * data sequence numbers, and the position- and equality-delete
    * entries (with theirs) that may apply to them. The plan is pinned
    * into the scan in place of its own manifest planning; everything
    * after planning — per-file delete scoping, row-group splits and
    * pruning of pushed filters, the decode — is the ordinary graft-table
    * scan. The frame's columns are the table
    * schema of `meta` plus the scan's metadata columns (`_file` — the
    * path exactly as the entry records it —, `_pos`, `_row_id`,
    * `_last_updated_sequence_number`) as ordinary columns — their
    * metadata-column marking is dropped, so a rewrite can write them out
    * as physical lineage columns; unselected ones prune away.
    *
    * `deletedBy` (position and equality entries with their sequence
    * numbers) turns the scan around: it emits only the rows the plan's
    * own deletes keep AND `deletedBy` deletes, each delete entry scoped
    * per data file by the same rules, and plans no data file the set
    * cannot reach — the rows a commit's added deletes remove, or the
    * addresses a delete set resolves to. */
  private[graft] def scanPlan(spark: SparkSession, meta: TableMetadata,
      data: Seq[(ManifestWriter.EntryData, Long)],
      deletes: Seq[(ManifestWriter.EntryData, Long)],
      deletedBy: Option[Seq[(ManifestWriter.EntryData, Long)]] = None): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.functions.col
    val relation = DataSourceV2Relation.create(
      new GraftPinnedTable(PinnedPlan(meta, data, deletes, deletedBy)),
      None, None, CaseInsensitiveStringMap.empty())
    val df = org.apache.spark.sql.GraftSqlShim.ofRows(spark, relation.withMetadataColumns())
    val metaCols = GraftSparkTable.MetadataColumns.map(_.name).toSet
    df.select(df.columns.toIndexedSeq.map(c =>
      if (metaCols(c)) col(c).as(c, Metadata.empty) else col(c)): _*)
  }
}

/** An explicit scan plan (see [[TableDataSource.scanPlan]]): data
  * entries and delete entries (position and equality) with their
  * sequence numbers. */
private[graft] case class PinnedPlan(meta: TableMetadata,
    data: Seq[(ManifestWriter.EntryData, Long)],
    deletes: Seq[(ManifestWriter.EntryData, Long)],
    deletedBy: Option[Seq[(ManifestWriter.EntryData, Long)]])

/** A scan's planning pass: the kept data entries with their data
  * sequence numbers and owning manifests, the delete entries (position
  * and equality) that may apply to them, a pinned plan's deleted-by set,
  * and how many of the snapshot's data manifests it opened of those
  * listed (0 of 0 for a pinned plan). */
private[graft] final case class Planned(
    kept: Seq[(ManifestWriter.EntryData, Long, Option[ManifestListReader.ManifestFileInfo])],
    deletes: Seq[(ManifestWriter.EntryData, Long)],
    deletedBy: Option[Seq[(ManifestWriter.EntryData, Long)]],
    dataManifests: (Int, Int) = (0, 0))

/** The delete files one data file's task applies: v2 position-delete
  * files, equality-delete files and v3 deletion vectors as (puffin path,
  * blob offset, blob length) — the manifest's field-143/144/145 triplet,
  * so the reader seeks to the bitmap with no footer read. At most one DV
  * per file in a well-formed v3 table; a malformed multi-DV table still
  * reads correctly (union). */
private[sources] case class FileDeletes(pos: Seq[String], eq: Seq[String],
    dvs: Seq[(String, Long, Long)]) {
  def isEmpty: Boolean = pos.isEmpty && eq.isEmpty && dvs.isEmpty
}

private[sources] object FileDeletes {
  val none: FileDeletes = FileDeletes(Nil, Nil, Nil)
}

/** Which of a scan's delete entries apply to a data file, by the v2
  * rules: a position delete addresses data files with sequence <= its
  * own, further scoped by the delete file's file_path bound stats; an
  * equality delete applies only to STRICTLY lower data sequence numbers;
  * a v3 deletion vector addresses exactly its referenced file. DVs index
  * by that file UP FRONT: a v3 table carries one DV per data file, so a
  * linear scan per data file would be O(files²) planning at 10⁵ files.
  * v2 position deletes stay a linear filter (their count tracks DELETE
  * commits, not files, and the path-bound check is the pruning that
  * matters). */
private[sources] final class DeleteScope(deletes: Seq[(ManifestWriter.EntryData, Long)]) {
  private val (dvs, pos) = deletes.filter(_._1.content == 1)
    .partition(_._1.fileFormat == "PUFFIN")
  private val eq = deletes.filter(_._1.content == 2)
  private val dvByFile = dvs.groupBy(d => PathId(d._1.referencedDataFile.getOrElse("")))

  def of(dataFile: String, seq: Long): FileDeletes = {
    val me = PathId(dataFile)
    FileDeletes(
      pos.filter { case (d, dseq) => dseq >= seq && DeleteScope.mayAddress(d, me) }
        .map(_._1.filePath),
      eq.filter(_._2 > seq).map(_._1.filePath),
      dvByFile.getOrElse(me, Nil).filter(_._2 >= seq).map { case (d, _) =>
        (d.filePath, d.contentOffset.getOrElse(0L), d.contentSizeInBytes.getOrElse(0L)) })
  }
}

private[sources] object DeleteScope {
  /** The entries that can apply to some data file of sequence >= `minSeq`
    * (a position delete or DV: its sequence >= it; an equality delete:
    * strictly above it). */
  def reaching(deletes: Seq[(ManifestWriter.EntryData, Long)],
      minSeq: Long): Seq[(ManifestWriter.EntryData, Long)] =
    deletes.filter { case (d, dseq) => if (d.content == 2) dseq > minSeq else dseq >= minSeq }

  /** Does this position-delete file possibly address the data file with
    * path id `me`? Bound stats under the RESERVED file_path field id
    * (written by every engine position-delete writer) answer without
    * opening the delete file — missing bounds keep it. This is what
    * bounds per-task delete loads at 10⁵ delete files. */
  private def mayAddress(del: ManifestWriter.EntryData, me: String): Boolean = {
    val (lo, hi) = ManifestWriter.posDeletePathBounds(del)
    lo.forall(_ <= me) && hi.forall(_ >= me)
  }
}

/** The read-only table behind [[TableDataSource.scanPlan]]. */
private[graft] class GraftPinnedTable(plan: PinnedPlan) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft-table(${plan.meta.location}, pinned plan)"
  override def schema(): StructType = GraftTable.sparkSchema(plan.meta)
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftSparkTable.MetadataColumns
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftTableScanBuilder(schema(), plan.meta.location, None, None, None,
      128L * 1024 * 1024, pinned = Some(plan))
}

class TableDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  private def metadataPath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("metadata")
    require(p != null && p.nonEmpty, "graft-table requires option(\"metadata\", <metadata.json>)")
    p
  }

  /** The read's snapshot selectors: `snapshot-id`, `ref`,
    * `as-of-timestamp-ms`. */
  private def travel(o: CaseInsensitiveStringMap): (Option[Long], Option[String], Option[Long]) =
    (Option(o.get("snapshot-id")).map(_.toLong), Option(o.get("ref")),
      Option(o.get("as-of-timestamp-ms")).map(_.toLong))

  /** The schema [[GraftTable.readMeta]] resolves, as for `VERSION AS OF`. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (snapshotId, ref, asOf) = travel(options)
    GraftTable.sparkSchema(GraftTable.readMeta(
      TableMetadata.parseFile(metadataPath(options)), snapshotId, ref, asOf))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (snapshotId, ref, asOf) = travel(opts)
    new GraftSparkTable(schema, metadataPath(opts), snapshotId, ref, asOf,
      Option(opts.get("split-size")).map(_.toLong).getOrElse(128L * 1024 * 1024),
      // write-side: option("branch", "audit") stages appends on that ref
      Option(opts.get("branch")).filter(_.nonEmpty))
  }

  override def supportsExternalMetadata(): Boolean = false
}

class GraftSparkTable private[graft] (tableSchema: StructType, metadataPath: String,
    snapshotId: Option[Long], ref: Option[String], asOfTimestampMs: Option[Long],
    splitSize: Long,
    writeBranch: Option[String] = None,
    // set for identifiers that must stay read-only (tag_<name>): any
    // write surface refuses with this message instead of silently
    // landing the commit on main
    refuseWriteReason: Option[String] = None,
    // the document at `metadataPath` when the caller already parsed it
    parsed: Option[TableMetadata] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** The table's document, parsed once: `metadataPath` names one
    * immutable version, so its scans, partitioning and row-level mode
    * all read this parse. */
  private lazy val meta: TableMetadata =
    parsed.getOrElse(TableMetadata.parseFile(metadataPath))

  /** SQL UPDATE / DELETE / MERGE INTO, two modes per the Iceberg table
    * properties `write.update.mode` / `write.delete.mode` /
    * `write.merge.mode`:
    *
    *   - **copy-on-write** (default): Spark reads the AFFECTED groups
    *     through the operation's scan (pushed conditions prune unaffected
    *     files at both metadata levels — those carry forward untouched),
    *     computes the replacement rows, and the commit swaps exactly the
    *     scanned files in one CAS replace snapshot. Best for read-heavy
    *     tables: no delete files accumulate.
    *   - **merge-on-read**: the delta route (`SupportsDelta`) — Spark
    *     hands per-row operations keyed by the scan's (_file, _pos) row
    *     coordinates, and the commit lands position-delete files + new
    *     data files in ONE snapshot: O(changed rows) write I/O, no
    *     rewrite of untouched data. Best for write-heavy / CDC tables. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => {
      refuseWriteReason.foreach(r => throw new UnsupportedOperationException(r))
      // With a `t.branch_<name>` identifier the whole operation is
      // BRANCH-SCOPED (the WAP story for edits): the operation's scan
      // plans against the branch head (ref-resolved, like any branch
      // read), and the replace/delta commit validates against and chains
      // from that head, moving only the branch ref — main never sees the
      // edit until fast_forward publishes it.
      import org.apache.spark.sql.connector.write.RowLevelOperation.Command._
      val modeKey = info.command() match {
        case UPDATE => "write.update.mode"
        case DELETE => "write.delete.mode"
        case _ => "write.merge.mode"
      }
      val mor = meta.properties.get(modeKey).contains("merge-on-read")
      if (mor)
        new GraftDeltaRowLevelOperation(info.command(), tableSchema,
          metadataPath, splitSize, branch = writeBranch)
      else
        new GraftRowLevelOperation(info.command(), tableSchema,
          metadataPath, splitSize, branch = writeBranch)
    }
  override def name(): String = s"graft-table($metadataPath)"
  override def schema(): StructType = tableSchema

  /** The default partition spec surfaced as Spark transforms — what
    * `DESCRIBE TABLE` prints and catalog tooling introspects. Unknown
    * transform strings (a foreign writer's) surface as identity on the
    * source column rather than failing the table load. */
  override def partitioning(): Array[Transform] = SpecTransforms.of(meta)

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftSparkTable.MetadataColumns
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftTableScanBuilder(tableSchema, metadataPath, snapshotId, ref,
      asOfTimestampMs, splitSize, head = Some(meta),
      streamOpts = StreamReadOptions(
        skipOverwrites = Option(options.get("streaming-skip-overwrite-snapshots"))
          .exists(_.toBoolean),
        startingSnapshotId = Option(options.get("starting-snapshot-id"))
          .map(_.toLong),
        startingTimestampMs = Option(options.get("starting-timestamp-ms"))
          .map(_.toLong),
        maxSnapshotsPerTrigger = Option(options.get("max-snapshots-per-trigger"))
          .map(_.toInt)))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    refuseWriteReason.foreach(r => throw new UnsupportedOperationException(r))
    new GraftTableWriteBuilder(metadataPath, info, writeBranch)
  }

  /** SQL `DELETE FROM ... WHERE ...`: the pushed predicate translates to
    * a Column for GraftTable.deleteWhere, which scans the live rows
    * through this table's reader and commits their (_file, _pos) as
    * position deletes through the same commit as the merge-on-read delta
    * route — no rewrite, CAS-serialized with every other writer. */
  private def toColumn(f: sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case sources.Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case sources.Not(c) => toColumn(c).map(not)
      case _: sources.AlwaysTrue => Some(lit(true))
      case _: sources.AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(toColumn(_).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    refuseWriteReason.foreach(r => throw new UnsupportedOperationException(r))
    import org.apache.spark.sql.functions.lit
    val cond = filters.flatMap(toColumn).reduceOption(_ && _).getOrElse(lit(true))
    val tableDir = new org.apache.hadoop.fs.Path(metadataPath).getParent.toString
    // a branch-suffixed identifier stages the delete on the BRANCH:
    // scan, carried manifests and the ref move are all branch-scoped
    GraftTable.deleteWhere(
      org.apache.spark.sql.SparkSession.active, tableDir, cond, writeBranch)
  }
}

object GraftSparkTable {
  /** The table over the already-parsed document `meta` at
    * `metadataPath`, at its head or at the snapshot `snapshotId` / `ref`
    * / `asOfTimestampMs` selects, under the schema [[GraftTable.readMeta]]
    * resolves — what the catalog loads and `GraftTable.read` reads. */
  private[graft] def at(metadataPath: String, meta: TableMetadata,
      snapshotId: Option[Long] = None, ref: Option[String] = None,
      asOfTimestampMs: Option[Long] = None, writeBranch: Option[String] = None,
      refuseWriteReason: Option[String] = None): GraftSparkTable =
    new GraftSparkTable(
      GraftTable.sparkSchema(GraftTable.readMeta(meta, snapshotId, ref, asOfTimestampMs)),
      metadataPath, snapshotId, ref, asOfTimestampMs, 128L * 1024 * 1024, writeBranch,
      refuseWriteReason, Some(meta))

  /** Iceberg's inspection columns: `_file` (the data file serving the
    * row) and `_pos` (its file-absolute row index — the coordinate
    * position deletes address). Selectable like any column; never in
    * `SELECT *`. */
  private[graft] val MetadataColumns
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
    },
    // v3 row lineage (null on pre-v3 tables): _row_id = the file's
    // first_row_id + pos, or the materialized column a rewrite carried;
    // _last_updated_sequence_number = the row's data sequence likewise
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_row_id"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_last_updated_sequence_number"
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
    })
}

/** The default partition spec as Spark connector transforms — shared by
  * `Table.partitioning()` (DESCRIBE / catalog introspection) and the
  * scan's `KeyGroupedPartitioning` report, so the two can never drift.
  * Unknown transform strings (a foreign writer's) surface as identity on
  * the source column rather than failing the table load — callers that
  * need strictness (SPJ) gate on `ScanPlanning.transformResultType`. */
private[sources] object SpecTransforms {
  def of(meta: TableMetadata): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val BucketRe = """bucket\[(\d+)\]""".r
    val TruncateRe = """truncate\[(\d+)\]""".r
    meta.partitionSpecs.find(_.specId == meta.defaultSpecId).toArray
      .flatMap(_.fields).flatMap { pf =>
        meta.currentSchema.fields.find(_.id == pf.sourceId).map { f =>
          pf.transform match {
            case "identity" => Expressions.identity(f.name)
            case BucketRe(n) => Expressions.bucket(n.toInt, f.name)
            case TruncateRe(w) => Expressions.apply("truncate",
              Expressions.literal(w.toInt), Expressions.column(f.name))
            case "year" => Expressions.years(f.name)
            case "month" => Expressions.months(f.name)
            case "day" => Expressions.days(f.name)
            case "hour" => Expressions.hours(f.name)
            case _ => Expressions.identity(f.name)
          }
        }
      }
  }
}

class GraftTableScanBuilder(tableSchema: StructType, metadataPath: String,
    snapshotId: Option[Long], ref: Option[String], asOfTimestampMs: Option[Long],
    splitSize: Long, onPlanned: Option[(Seq[String], Seq[String]) => Unit] = None,
    streamOpts: StreamReadOptions = StreamReadOptions(),
    pinned: Option[PinnedPlan] = None,
    // the document at `metadataPath`, when the table already parsed it
    head: Option[TableMetadata] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = tableSchema
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    // accept what the two pruning levels can use; EVERYTHING stays
    // residual — pruning is a best-effort skip, Spark re-checks rows
    pushed = filters.filter(FileBoundsEval.supported(_, tableSchema))
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  /** Aggregate pushdown from manifest STATS — `SELECT COUNT(*) | MIN(c) |
    * MAX(c) FROM t` answers in one KB-scale metadata pass with ZERO data
    * bytes read: record counts sum from the entries, MIN/MAX decode from
    * the entry bound stats. This is what the stats exist for, and at
    * 100 TB it is the difference between milliseconds and a full scan.
    * Strictly exactness-gated — served ONLY when every entry can prove
    * the answer (Spark offers the pushdown only on filterless scans):
    *   - COUNT(*): no pending deletes (deleted rows are unknowable
    *     unscanned); record counts always present;
    *   - MIN/MAX(c): additionally every entry carries decodable bounds
    *     for c (an all-null or stats-less file refuses the push), and
    *     floating-point columns refuse (NaN sorts above +Inf in Spark
    *     but writers exclude it from bounds — the stats can't see it);
    *   - MIN/MAX over string/binary-ordered columns additionally
    *     requires PROOF the bounds are whole values: the Iceberg spec
    *     allows truncated bounds (production writers default to
    *     `truncate(16)`, where the upper bound is a prefix-incremented
    *     value that need not exist in the data), so the push is only
    *     legal on tables stamped `graft.metrics=full` — set by this
    *     engine's own writer, whose stats are always derived whole from
    *     the written file. A foreign table without the stamp falls back
    *     to the scan. Numeric/date/timestamp/decimal bounds are exact
    *     single-value encodings whenever present — no stamp needed.
    * Anything unprovable falls back to the ordinary scan.
    *
    * Spark probes `supportCompletePushDown`, `pushAggregation`, and then
    * `build()` on one builder — the manifest sweep is memoized per
    * Aggregation instance so planning pays it once. */
  private var aggResult: Option[(StructType, Seq[Any])] = None
  private var aggMemo: Option[(AnyRef, Option[(StructType, Seq[Any])])] = None

  private def serveFromStatsMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = aggMemo match {
    case Some((key, cached)) if key eq agg => cached
    case _ =>
      val computed = serveFromStats(agg)
      aggMemo = Some((agg, computed))
      computed
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    serveFromStatsMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = serveFromStatsMemo(agg)
    aggResult.isDefined
  }

  private def serveFromStats(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (pushed.nonEmpty || onPlanned.isDefined || pinned.isDefined ||
        agg.groupByExpressions().nonEmpty)
      return None
    val meta = head.orElse(scala.util.Try(TableMetadata.parseFile(metadataPath)).toOption)
      .getOrElse(return None)
    val empty = meta.currentSnapshotId.isEmpty && snapshotId.isEmpty &&
      ref.isEmpty && asOfTimestampMs.isEmpty
    val entries: Seq[ManifestWriter.EntryData] =
      if (empty) Nil
      else scala.util.Try {
        val snap = GraftTable.resolveForScan(meta, snapshotId, ref, asOfTimestampMs)
        val infos = snap.manifestList.toSeq.flatMap(ManifestListReader.read)
        val live = Par.inParallel(infos)(i => ManifestWriter.read(i.path)
          .filter(_.status != 2).map(e => (i.content, e))).flatten
        // any live delete entry → rows are unknowable from stats
        if (live.exists(_._2.content != 0)) return None
        live.collect { case (0, e) if e.content == 0 => e }
      }.getOrElse(return None)
    def fieldOf(name: String) = meta.currentSchema.fields.find(_.name == name)
    def boundValue(e: ManifestWriter.EntryData, fieldId: Int, t: IcebergType,
        lower: Boolean): Option[Any] =
      (if (lower) e.lowerBounds else e.upperBounds).get(fieldId).filter(_.nonEmpty)
        .flatMap(b => scala.util.Try(SingleValueCodec.decode(t, b)).toOption)
    // string/binary-ordered bounds may be TRUNCATED by foreign writers
    // (spec-legal; `truncate(16)` is the production default) — serve
    // them only when the table's writer proved whole-value bounds
    val exactBounds = meta.properties.get("graft.metrics").contains("full")
    def truncatable(t: IcebergType): Boolean = t match {
      case IcebergTypes.TString | IcebergTypes.TBinary | IcebergTypes.TUuid |
           IcebergTypes.TFixed(_) => true
      case _ => false
    }
    def extreme(colName: String, lower: Boolean): Option[(DataType, Any)] = for {
      f <- fieldOf(colName)
      t <- IcebergTypes.fromStringOpt(f.fieldType)
      // float/double bounds exclude NaN, which Spark's MIN/MAX must see
      if !t.sparkType.isInstanceOf[FloatType] && !t.sparkType.isInstanceOf[DoubleType]
      if exactBounds || !truncatable(t)
      vs <- Some(entries.map(e => boundValue(e, f.id, t, lower)))
        .filter(_.forall(_.isDefined)).map(_.flatten)
      v <- vs.reduceOption { (a, b) =>
        ScanPlanning.cmpValues(a, b) match {
          case Some(c) => if ((c < 0) == lower) a else b
          case None => return None
        }
      }
    } yield (t.sparkType, v)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case ref: NamedReference if ref.fieldNames().length == 1 =>
          Some(ref.fieldNames().head)
        case _ => None
      }
    val served = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some((StructField("count(*)", LongType, nullable = false),
          entries.map(_.recordCount).sum: Any))
      case m: Min => for {
        c <- colOf(m.column()); (dt, v) <-
          (if (entries.isEmpty) fieldOf(c).flatMap(f =>
            IcebergTypes.fromStringOpt(f.fieldType)).map(t => (t.sparkType, null: Any))
          else extreme(c, lower = true).map { case (dt, v) => (dt, v: Any) })
      } yield (StructField(s"min($c)", dt), v)
      case m: Max => for {
        c <- colOf(m.column()); (dt, v) <-
          (if (entries.isEmpty) fieldOf(c).flatMap(f =>
            IcebergTypes.fromStringOpt(f.fieldType)).map(t => (t.sparkType, null: Any))
          else extreme(c, lower = false).map { case (dt, v) => (dt, v: Any) })
      } yield (StructField(s"max($c)", dt), v)
      case _ => None
    }
    if (served.exists(_.isEmpty)) None
    else Some((StructType(served.flatten.map(_._1)), served.flatten.map(_._2)))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) =>
      val converted = schema.fields.zip(values).map { case (f, v) =>
        if (v == null) null
        else CatalystTypeConverters.createToCatalystConverter(f.dataType)(v)
      }
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[InternalRow] = Array(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            converted.toArray[Any]))
        override def readSchema(): StructType = schema
        override def description(): String =
          s"graft-table stats-served aggregate $metadataPath"
      }
    case None =>
      new GraftTableScan(required, pushed, metadataPath, snapshotId, ref,
        asOfTimestampMs, splitSize, onPlanned, streamOpts, pinned, head)
  }
}

class GraftTableScan(required: StructType, filters: Array[sources.Filter],
    metadataPath: String, snapshotId: Option[Long], ref: Option[String],
    asOfTimestampMs: Option[Long], splitSize: Long = 128L * 1024 * 1024,
    onPlanned: Option[(Seq[String], Seq[String]) => Unit] = None,
    streamOpts: StreamReadOptions = StreamReadOptions(),
    // an explicit plan (TableDataSource.scanPlan) replacing manifest
    // planning; its metadata replaces the document at `metadataPath`
    pinned: Option[PinnedPlan] = None,
    // the document at `metadataPath`, when the table already parsed it
    head: Option[TableMetadata] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftTableMicroBatchStream(metadataPath, required, streamOpts, hadoopConf)
  override def description(): String =
    s"graft-table scan $metadataPath, ReadSchema: ${required.catalogString}" +
      (if (filters.nonEmpty) s", PushedFilters: ${filters.mkString("[", ", ", "]")}" else "")

  private val hadoopConf = new graft.iceberg.SerializableHadoopConf(
    graft.iceberg.HadoopConfs.active())

  /** The snapshot is PINNED at first use and every subsequent planning
    * pass — static, runtime-filtered, and row-level bookkeeping — reuses
    * it: re-resolving the head per pass would let a concurrent commit
    * slide a different snapshot under one query (two scans of the same
    * table in one join disagreeing, a row-level operation recording
    * files from a snapshot newer than its intent). Iceberg pins at scan
    * creation; so do we. */
  private lazy val pinnedMeta: TableMetadata =
    pinned.map(_.meta).orElse(head).getOrElse(TableMetadata.parseFile(metadataPath))

  /** The driver-side planning pass, shared by partitions and
    * statistics; runs once per scan. Each surviving data entry carries
    * its OWNING manifest info (the list row: spec id + field-507
    * summaries, which is what derives storage-partitioned-join keys; None
    * under a pinned plan, which therefore reports no key grouping). */
  private lazy val planned: Planned = {
    // a freshly created (never-appended) table has no snapshot: it reads
    // as zero rows, not an error — explicit time travel still throws
    if (emptyTable) Planned(Nil, Nil, None)
    else plannedWith(pinnedMeta, filters)
  }

  /** (opened, listed) data manifests of this scan's planning pass. */
  private[graft] def dataManifests: (Int, Int) = planned.dataManifests

  private def emptyTable: Boolean = pinned.isEmpty &&
    pinnedMeta.currentSnapshotId.isEmpty && snapshotId.isEmpty && ref.isEmpty &&
      asOfTimestampMs.isEmpty

  /** EVERY live delete file in the pinned scan snapshot — not just the
    * subset the pruning kept. Row-level commits validate "no delete
    * landed between my scan and my commit" by subtracting this set from
    * the commit base's; recording only the pruned-applied subset would
    * misclassify a legitimately pruned pre-existing delete (sequence
    * ceiling, partition summaries) as concurrent and permanently block
    * valid UPDATE/MERGE. Computed only for row-level operations
    * (onPlanned present), never for plain reads. */
  private lazy val allDeletePathsAtScan: Seq[String] =
    if (emptyTable) Nil
    else {
      val snap = GraftTable.resolveForScan(pinnedMeta, snapshotId, ref, asOfTimestampMs)
      val infos = snap.manifestList.toSeq.flatMap(ManifestListReader.read(_, hadoopConf.value))
        .filter(_.content == 1)
      Par.inParallel(infos)(i => ManifestWriter.read(i.path, hadoopConf.value))
        .flatten.filter(_.status != 2).map(_.filePath)
    }

  /** DPP-style runtime filtering (`SupportsRuntimeFiltering`): a
    * broadcast join's build side materializes, Spark converts its keys
    * into In/EqualTo filters on the probe side's join columns, and THIS
    * scan re-plans with them — manifests prune in transform space, files
    * and row groups prune on bound stats, before a single fact byte is
    * read. At 100 TB this is the difference between scanning the whole
    * fact table and scanning the partitions the dimension filter actually
    * selects.
    *
    * Cost, whatever the key count: the re-plan is one planning pass, so
    * one manifest-list read (the static plan paid one more). An In set is
    * evaluated once per manifest against its decoded summaries and once
    * per data file or row group against its decoded bounds — never one
    * list read or one bound decode per key. */
  @volatile private var runtimeFilters: Array[sources.Filter] = Array.empty

  /** Only columns this scan OUTPUTS: Spark resolves these against the
    * scan's (column-pruned) output, so advertising unprojected columns
    * breaks analysis of unrelated plans (e.g. a pruned row-level DELETE
    * scan emitting [key, _file, _pos]). And only COMPARABLE primitive
    * types: the consumers build equality predicates on these attributes
    * (DPP IN-subqueries, row-level runtime group filters) — a VARIANT
    * or MAP attribute has no equality, and advertising one turns the
    * rewritten plan unresolved (Spark's
    * RowLevelOperationRuntimeGroupFiltering validation failure on any
    * DML over a variant table). Bound-stat pruning can't use such
    * columns anyway. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields
      .filterNot(f => f.name == "_file" || f.name == "_pos" ||
        f.name == "_row_id" || f.name == "_last_updated_sequence_number")
      .filter(f => f.dataType match {
        case org.apache.spark.sql.types.VariantType => false
        case _: org.apache.spark.sql.types.MapType => false
        case _: org.apache.spark.sql.types.ArrayType => false
        case _: org.apache.spark.sql.types.StructType => false
        case _ => true
      })
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(fs: Array[sources.Filter]): Unit =
    runtimeFilters = fs.filter(FileBoundsEval.supported(_, required))

  private def plannedWith(meta: TableMetadata, filters: Array[sources.Filter]): Planned =
    pinned match {
      case Some(p) =>
        // a pinned plan skips manifest planning; level 2 still prunes its
        // data entries, a deleted-by scan drops the files its set cannot
        // reach, and delete entries wholly below the kept data's minimum
        // sequence cannot apply to any of them (<= / < rules)
        val by = p.deletedBy.map(new DeleteScope(_))
        val kept = p.data.filterNot { case (e, s) =>
          filters.exists(f => FileBoundsEval.skippable(f, e, meta)) ||
            by.exists(_.of(e.filePath, s).isEmpty) }
        val minSeq = kept.map(_._2).minOption.getOrElse(Long.MaxValue)
        Planned(kept.map { case (e, s) => (e, s, None) },
          DeleteScope.reaching(p.deletes, minSeq),
          p.deletedBy.map(DeleteScope.reaching(_, minSeq)))
      case None => GraftTableScan.plan(meta,
        GraftTable.resolveForScan(meta, snapshotId, ref, asOfTimestampMs), filters,
        hadoopConf.value)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // runtime join filters (if any arrived) re-plan on top of the static
    // pushed set — against the SAME pinned snapshot the static plan and
    // statistics used; `planned` stays the statistics baseline
    val Planned(kept, deletes, deletedBy, _) =
      if (runtimeFilters.isEmpty) planned
      else if (emptyTable) Planned(Nil, Nil, None)
      else plannedWith(pinnedMeta, filters ++ runtimeFilters)
    // row-level (UPDATE/MERGE) scans record the served group set — the
    // files the replace commit must swap — AND the FULL delete-file set
    // live at scan time (not the pruned-applied subset), so the commit
    // can tell a delete added concurrently from one it provably skipped
    onPlanned.foreach(cb => cb(kept.map(_._1.filePath), allDeletePathsAtScan))
    val tableSchema = GraftTable.sparkSchema(pinnedMeta)
    val alternates = GraftTable.nameAlternates(pinnedMeta)
    val keysByFile = spj.map(_._2).getOrElse(Map.empty)
    val scanDefaults = TableDataSource.initialDefaultsOf(pinnedMeta)
    val scope = new DeleteScope(deletes)
    val byScope = deletedBy.map(new DeleteScope(_))
    def partition(e: ManifestWriter.EntryData, seq: Long,
        rowGroup: Int, rowStart: Long): GraftTableInputPartition = {
      GraftTableInputPartition(e.filePath, seq, scope.of(e.filePath, seq), tableSchema,
        deletedBy = byScope.map(_.of(e.filePath, seq)),
        rowGroup = rowGroup, rowStart = rowStart, nameAlternates = alternates,
        firstRowId = e.firstRowId,
        fileFormat = e.fileFormat,
        partitionKeyValues = keysByFile.get(e.filePath).map(_.toArray).orNull,
        initialDefaults = scanDefaults)
    }
    // files above the split threshold fan out ONE PARTITION PER ROW GROUP
    // (footer read at planning, concurrent, only for big files — the
    // manifest's fileSizeInBytes decides, so small files cost nothing);
    // each split carries its absolute first-row index so position deletes
    // keep addressing file-absolute row numbers, plus the group's byte
    // range so the parquet decoder can select exactly it by midpoint.
    //
    // Level 3 pruning: the SAME footer the split pass already paid for
    // carries per-row-group column statistics — a group the pushed (or
    // runtime) filters provably exclude is never emitted as a partition.
    // On a 100 TB sorted/clustered table this is the difference between
    // "read the whole 1 GB file the point lookup landed in" and "read
    // the one row group that can hold the key". rowStart still counts
    // the skipped groups' rows, so position deletes stay file-absolute.
    val allFilters = filters ++ runtimeFilters
    def skippableChunk(e: ManifestWriter.EntryData, rows: Long, bytes: Long,
        lo: Map[Int, Array[Byte]], hi: Map[Int, Array[Byte]]): Boolean =
      allFilters.nonEmpty && {
        val pseudo = ManifestWriter.EntryData(0, 0L, e.filePath, rows, bytes, lo, hi)
        allFilters.exists(f => FileBoundsEval.skippable(f, pseudo, pinnedMeta))
      }
    Par.inParallel(kept) { case (e, seq, _) =>
      if (e.fileSizeInBytes <= splitSize || e.fileFormat == "AVRO")
        Seq(partition(e, seq, -1, 0L)) // Avro containers carry no split index
      else if (e.fileFormat == "ORC") {
        // ORC's analog of row groups: one partition per STRIPE, with the
        // stripe statistics pruning exactly like parquet block stats
        val stripes = graft.iceberg.OrcDataFiles.stripes(
          e.filePath, pinnedMeta.currentSchema.fields)
        val starts = stripes.map(_._1).scanLeft(0L)(_ + _)
        stripes.zipWithIndex.flatMap { case ((rows, off, len, lo, hi), i) =>
          if (skippableChunk(e, rows, len, lo, hi)) None
          else Some(partition(e, seq, i, starts(i))
            .copy(splitStart = off, splitBytes = len))
        }
      } else {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(e.filePath), hadoopConf.value))
        val blocks = try r.getRowGroups.asScala.toSeq finally r.close()
        val starts = blocks.map(_.getRowCount).scanLeft(0L)(_ + _)
        blocks.zipWithIndex.flatMap { case (b, rg) =>
          val (lo, hi) =
            if (allFilters.isEmpty) (Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]])
            else graft.iceberg.ParquetFooterStats
              .blockBoundsEncoded(b, pinnedMeta.currentSchema.fields)
          if (skippableChunk(e, b.getRowCount, b.getCompressedSize, lo, hi)) None
          else Some(partition(e, seq, rg, starts(rg))
            .copy(splitStart = b.getStartingPos, splitBytes = b.getCompressedSize))
        }
      }
    }.flatten.map(p => p: InputPartition).toArray
  }

  /** Columnar is a SCAN-level decision (Spark forbids mixing row and
    * columnar partitions in one scan): a scan whose data files are all
    * parquet emits [[GraftTableColumnarReader]]'s batches; one holding an
    * Avro or ORC file emits rows, its parquet files flattened by
    * [[GraftTableParquetRowReader]]. */
  private lazy val columnar: Boolean = planned.kept.forall(_._1.fileFormat == "PARQUET")

  /** Storage-partitioned joins: a partitioned table reports its layout
    * as a V2 `KeyGroupedPartitioning(transform(col), ...)`, and when BOTH
    * sides of a join report compatible partitionings on the join keys
    * (`spark.sql.sources.v2.bucketing.enabled`), Spark aligns the two
    * scans' partitions by key tuple and plans the join with NO shuffle on
    * either side — at 100 TB the difference between repartitioning two
    * fact tables and streaming co-located splits straight into the join.
    * Catalyst resolves the reported transforms against the owning
    * catalog's [[GraftFunctions]] (`V2ExpressionUtils` → FunctionCatalog).
    *
    * The per-file partition tuple derives from the OWNING manifest's
    * field-507 summaries: the engine's writers give every partition tuple
    * its own manifest, so a summary with lower == upper (and no nulls)
    * pins the tuple for every file inside — no new metadata and no data
    * bytes. Any kept file whose tuple cannot be proven that way (foreign
    * layout, pre-evolution spec, absent summaries) disables the report
    * for the whole scan: correctness never rides on a layout guess, the
    * plan just keeps its shuffle. */
  private lazy val spj: Option[(Array[Transform], Map[String, Seq[Any]])] = try {
    val meta = pinnedMeta
    for {
      spec <- meta.partitionSpecs.find(_.specId == meta.defaultSpecId)
        .filter(_.fields.nonEmpty)
      resultTypes = spec.fields.map { pf =>
        meta.currentSchema.fields.find(_.id == pf.sourceId)
          .flatMap(f => IcebergTypes.fromStringOpt(f.fieldType))
          .flatMap(st => ScanPlanning.transformResultType(pf.transform, st))
      }
      if resultTypes.forall(_.isDefined)
      keyed = planned.kept.map { case (e, _, info) =>
        val tuple: Option[Seq[Any]] =
          info.filter(_.specId == spec.specId).flatMap(_.summaries)
            .filter(_.size == spec.fields.size).flatMap { sums =>
            val vals = sums.zip(resultTypes.map(_.get)).map { case (s, t) =>
              for {
                lo <- s.lower.filter(_.nonEmpty)
                hi <- s.upper.filter(_.nonEmpty)
                dl = SingleValueCodec.decode(t, lo)
                dh = SingleValueCodec.decode(t, hi)
                if dl == dh && !s.containsNull
                iv <- spjInternalValue(t, dl)
              } yield iv
            }
            if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
          }
        e.filePath -> tuple
      }
      if keyed.nonEmpty && keyed.forall(_._2.isDefined)
    } yield (SpecTransforms.of(meta), keyed.map { case (p, t) => p -> t.get }.toMap)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Summary-decoded external value → the catalyst representation the
    * key expression's data type stores (UTF8String, epoch days/micros,
    * Decimal) — what `HasPartitionKey.partitionKey` rows must hold. */
  private def spjInternalValue(t: IcebergType, v: Any): Option[Any] = (t, v) match {
    case (IcebergTypes.TInt, i: Int) => Some(i)
    case (IcebergTypes.TLong, l: Long) => Some(l)
    case (IcebergTypes.TString, s: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case (IcebergTypes.TBoolean, b: Boolean) => Some(b)
    case (IcebergTypes.TDate, d: java.time.LocalDate) => Some(d.toEpochDay.toInt)
    case (IcebergTypes.TTimestamp, dt: java.time.LocalDateTime) =>
      val i = dt.toInstant(java.time.ZoneOffset.UTC)
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
    case (IcebergTypes.TTimestamptz, i: java.time.Instant) =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
    case (IcebergTypes.TDecimal(_, _), bd: java.math.BigDecimal) =>
      Some(org.apache.spark.sql.types.Decimal(bd))
    // float/double partition sources are refused: NaN summary semantics
    // make single-value proofs unreliable, and no sane layout keys on them
    case _ => None
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spj match {
      case Some((transforms, keys)) if keys.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          transforms.map(t => t: org.apache.spark.sql.connector.expressions.Expression),
          keys.values.toSet.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Exact size from manifest stats (what they exist for); row count only
    * when no deletes are pending (deleted rows are unknowable unscanned).
    * Column statistics ride along for Spark's CBO (join reorder, build-
    * side selection): min/max decode from the manifest entry bounds the
    * planning pass already holds, NDV + null counts come from the
    * snapshot's committed [[graft.iceberg.TableStats]] blob (the
    * `statistics` metadata entry `compute_table_stats` lands) — all
    * metadata-scale, zero data bytes. Served only on filterless,
    * delete-free scans, where the numbers exactly describe what the scan
    * emits; string/binary bounds additionally require the engine-writer
    * exactness stamp (foreign truncate(16) bounds are prefixes, not
    * values — the i71 rule applied to CBO). */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(planned.kept.map(_._1.fileSizeInBytes).sum)
    override def numRows(): util.OptionalLong =
      if (planned.deletes.isEmpty && planned.deletedBy.isEmpty)
        util.OptionalLong.of(planned.kept.map(_._1.recordCount).sum)
      else util.OptionalLong.empty()
    override def columnStats(): util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStatsMap
  }

  private lazy val colStatsMap: util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val m = new util.HashMap[NamedReference, ColumnStatistics]()
    if (filters.isEmpty && planned.deletes.isEmpty && planned.deletedBy.isEmpty &&
        planned.kept.nonEmpty && !emptyTable) {
      val meta = pinnedMeta
      val exactMetrics = meta.properties.get("graft.metrics").contains("full")
      // a pinned plan may be any file subset: the snapshot's document
      // does not describe it
      val statsDoc = if (pinned.isDefined) None else {
        val snap = GraftTable.resolveForScan(meta, snapshotId, ref, asOfTimestampMs)
        // nearest-ANCESTOR document reached through only `replace`
        // snapshots: a replace rewrites files, not the rowset (spec
        // operation semantics), so after ingest → ANALYZE → compact the
        // document is still exact at the head — the CBO must not lose
        // its NDVs to a compaction (anchorIdx == 0 is the plain
        // exact-snapshot match). Per-field id lookups below keep a
        // snapshot-less ALTER between the anchor and the scan safe:
        // added fields simply have no entry.
        val statsBySnap = meta.statistics.map(s => s.snapshotId -> s).toMap
        val chain = Iterator.iterate(Option(snap))(
            _.flatMap(_.parentSnapshotId).flatMap(meta.snapshot))
          .takeWhile(_.isDefined).map(_.get).toSeq
        val anchorIdx = chain.indexWhere(s => statsBySnap.contains(s.snapshotId))
        if (anchorIdx < 0 ||
            !chain.take(anchorIdx).forall(_.operation.contains("replace"))) None
        else scala.util.Try(graft.iceberg.TableStats.read(
          statsBySnap(chain(anchorIdx).snapshotId).path)).toOption
      }
      val entries = planned.kept.map(_._1)
      for (f <- required.fields if f.name != "_file" && f.name != "_pos" &&
          f.name != "_row_id" && f.name != "_last_updated_sequence_number") {
        meta.currentSchema.fields.find(_.name == f.name).foreach { field =>
          IcebergTypes.fromStringOpt(field.fieldType).foreach { t =>
            // float/double bounds are NaN-blind, string/binary bounds may
            // be truncated prefixes — same service gates as the stats-
            // served aggregate pushdown
            val boundsOk = t match {
              case IcebergTypes.TInt | IcebergTypes.TLong | IcebergTypes.TDate |
                  IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz |
                  IcebergTypes.TDecimal(_, _) => true
              case IcebergTypes.TString => exactMetrics
              case _ => false
            }
            def decoded(get: ManifestWriter.EntryData => Option[Array[Byte]]): Seq[Any] =
              entries.map(e => get(e).filter(_.nonEmpty)
                .flatMap(b => scala.util.Try(SingleValueCodec.decode(t, b)).toOption)
                .flatMap(spjInternalValue(t, _))).map(_.orNull)
            def extreme(vals: Seq[Any], sign: Int): Option[Any] =
              // every kept file must carry the bound, or the true extreme
              // is unknowable from metadata
              if (vals.contains(null)) None
              else vals.reduceOption { (a, b) =>
                val c = (a, b) match {
                  case (x: Int, y: Int) => Integer.compare(x, y)
                  case (x: Long, y: Long) => java.lang.Long.compare(x, y)
                  case (x: org.apache.spark.unsafe.types.UTF8String,
                      y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y)
                  case (x: org.apache.spark.sql.types.Decimal,
                      y: org.apache.spark.sql.types.Decimal) => x.compare(y)
                  case _ => 0
                }
                if (c * sign <= 0) a else b
              }
            val (mn, mx) =
              if (!boundsOk) (None, None)
              else (extreme(decoded(_.lowerBounds.get(field.id)), 1),
                extreme(decoded(_.upperBounds.get(field.id)), -1))
            val cs = statsDoc.flatMap(_.columns.get(field.id))
            if (mn.isDefined || mx.isDefined || cs.isDefined)
              m.put(Expressions.column(f.name), new ColumnStatistics {
                override def distinctCount(): util.OptionalLong =
                  cs.map(c => util.OptionalLong.of(c.ndv)).getOrElse(util.OptionalLong.empty())
                override def nullCount(): util.OptionalLong =
                  cs.flatMap(_.nullCount).map(util.OptionalLong.of)
                    .getOrElse(util.OptionalLong.empty())
                override def min(): java.util.Optional[Object] =
                  mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty())
                override def max(): java.util.Optional[Object] =
                  mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                    .getOrElse(java.util.Optional.empty())
              })
          }
        }
      }
    }
    m
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTableReaderFactory(required, hadoopConf, columnar)
}

private[graft] object GraftTableScan {
  /** The ONE planning pass over a snapshot's manifests: every graft-table
    * scan that is not handed a pinned plan runs it, and so do
    * `GraftTable.readKeyRange` and the changelog's parent plan (Iceberg's
    * `ManifestGroup.planFiles` behind its scans, incremental scans and
    * actions). The list and every manifest open on `conf`.
    *
    *   - level 1: pushed equalities (a null-safe one with a value too)
    *     and In-sets prune manifests through EVERY transform incl. bucket
    *     — a manifest survives a set when ANY of its values survives it;
    *     comparisons fold into a value range per column and prune
    *     through the monotonic transforms. Data and delete manifests
    *     alike: a partition-scoped delete cannot address data in a
    *     partition its summaries exclude (summary-less manifests are
    *     kept); nothing pruned here is opened;
    *   - level 2: entry bound stats prune the data files the filters
    *     cannot match ([[FileBoundsEval]]);
    *   - the sequence ceiling: list-level field 515 bounds every entry
    *     of a delete manifest, so one wholly below the kept data files'
    *     minimum sequence cannot reach any of them under the <= / <
    *     application rules and is never opened.
    *
    * A file listed twice is planned twice, as Iceberg's planner plans it
    * (`add_files` refuses a file the table already lists). */
  def plan(meta: TableMetadata, snap: Snapshot, filters: Array[sources.Filter],
      conf: Configuration): Planned = {
    val listPath = snap.manifestList.getOrElse(throw new IllegalArgumentException(
      s"snapshot ${snap.snapshotId} has no manifest-list"))
    val infos = ManifestListReader.read(listPath, conf)
    def fieldId(c: String): Option[Int] =
      meta.currentSchema.fields.find(_.name == c).map(_.id)
    val valueSets = filters.collect {
      case sources.EqualTo(c, v) => fieldId(c).map((_, Seq(v)))
      case sources.EqualNullSafe(c, v) if v != null => fieldId(c).map((_, Seq(v)))
      case sources.In(c, vs) if vs.nonEmpty => fieldId(c).map((_, vs.toSeq))
    }.flatten
    val ranges = filters.collect {
        case sources.GreaterThan(c, v) => (c, Some(v), None)
        case sources.GreaterThanOrEqual(c, v) => (c, Some(v), None)
        case sources.LessThan(c, v) => (c, None, Some(v))
        case sources.LessThanOrEqual(c, v) => (c, None, Some(v))
      }.groupBy(_._1).toSeq.flatMap { case (c, bs) =>
        fieldId(c).map(fid =>
          (fid, bs.flatMap(_._2).lastOption, bs.flatMap(_._3).lastOption))
      }
    val afterValues = valueSets.foldLeft(infos) { case (acc, (fid, vs)) =>
      ScanPlanning.pruneManifestsByTransform(acc, meta, fid, vs) }
    val surviving = ranges.foldLeft(afterValues) { case (acc, (fid, lo, hi)) =>
      ScanPlanning.pruneManifestsByRange(acc, meta, fid, lo, hi) }.map(_.path).toSet
    val dataInfos = infos.filter(_.content == 0)
    val openedData = dataInfos.filter(i => surviving(i.path))
    val dataEntries = Par.inParallel(openedData)(
        i => (i, ManifestWriter.read(i.path, conf))).flatMap { case (i, es) =>
      es.filter(e => e.status != 2 && e.content == 0)
        .map(e => (e, e.sequenceNumber.getOrElse(i.sequenceNumber), Some(i)))
    }
    val kept = dataEntries.filterNot { case (e, _, _) =>
      filters.exists(f => FileBoundsEval.skippable(f, e, meta)) }
    val minKeptSeq = kept.map(_._2).minOption.getOrElse(Long.MaxValue)
    val delInfos = infos.filter(i => i.content == 1 && surviving(i.path) &&
      i.sequenceNumber >= minKeptSeq)
    val delEntries = Par.inParallel(delInfos)(i => (i, ManifestWriter.read(i.path, conf)))
      .flatMap { case (i, es) => es.filter(_.status != 2)
        .map(e => (e, e.sequenceNumber.getOrElse(i.sequenceNumber))) }
    Planned(kept, delEntries.filter(d => d._1.content == 1 || d._1.content == 2), None,
      (openedData.size, dataInfos.size))
  }
}

/** One SQL UPDATE / MERGE INTO execution: the scan and the write share
  * THIS instance, which is how the group set flows from planning to
  * commit (the scan's `onPlanned` records the files it served; the
  * write's commit swaps exactly those). Scan-level condition pushdown
  * keeps the rewrite proportional to the AFFECTED files — a pruned file
  * provably holds no matching row and carries forward untouched. */
class GraftRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType, metadataPath: String, splitSize: Long,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  private val scannedFiles =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
  private val scannedDeletes =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  /** `_file` must ride along: Spark only applies the ReplaceData row
    * projection (stripping its internal operation column before rows
    * reach the writer) when the operation declares metadata attributes —
    * and carrying the file also gives the rewrite its group identity. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // the operation's scan plans against the BRANCH head when branch-
    // scoped — the same ref resolution any branch read uses
    new GraftTableScanBuilder(tableSchema, metadataPath, None, branch, None,
      splitSize, Some((paths, dels) => { scannedFiles.set(paths); scannedDeletes.set(dels) }))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val delegate = new GraftTableWriteBuilder(metadataPath, info)
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          // task writers, distribution, and stat derivation come from the
          // ordinary write; only the COMMIT differs (replace, not append)
          private val inner = delegate.build()
            .asInstanceOf[org.apache.spark.sql.connector.write.Write
              with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution =
            inner.requiredDistribution()
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
            inner.requiredOrdering()
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
            val appendLike = inner.toBatch
            new org.apache.spark.sql.connector.write.BatchWrite {
              override def createBatchWriterFactory(
                  pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
                  : org.apache.spark.sql.connector.write.DataWriterFactory =
                appendLike.createBatchWriterFactory(pinfo)
              override def commit(
                  messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
                val all = GraftTableWrites.filesOf(messages)
                val files = all.filter(_.rows > 0)
                val tableDir = new org.apache.hadoop.fs.Path(metadataPath).getParent.toString
                GraftTableWrites.drop(all.filter(_.rows == 0))
                GraftTable.commitReplaceFiles(tableDir,
                  files.map(m => GraftTable.PendingFile(
                    m.path, m.rows, m.bytes, m.lower, m.upper, m.summary, m.specId)),
                  scannedFiles.get().toSet, scannedDeletes.get().toSet, branch)
              }
              override def abort(
                  messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
                appendLike.abort(messages)
            }
          }
        }
    }
  }
}

/** The MERGE-ON-READ row-level operation (`SupportsDelta`): the scan
  * serves matching rows WITH their (_file, _pos) coordinates as the row
  * id, Spark routes each row's fate to the task DeltaWriters (delete →
  * buffered position delete; update → position delete + re-insert;
  * insert → data file), and the commit lands everything as ONE snapshot
  * at one sequence through `GraftTable.commitDeltaFiles` — which
  * re-validates inside the CAS loop that every file the deletes address
  * is still live, so a concurrent rewrite conflicts instead of silently
  * stranding deletes on dead paths. */
class GraftDeltaRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    tableSchema: StructType, metadataPath: String, splitSize: Long,
    branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  private lazy val v3 =
    TableMetadata.parseFile(metadataPath).formatVersion >= 3

  /** v3 row lineage: the scan serves each matched row's _row_id as a
    * metadata attribute so UPDATE-written row versions can carry their
    * identity through (the delta writer materializes it). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (v3) Array(org.apache.spark.sql.connector.expressions.Expressions.column("_row_id"))
    else Array.empty

  /** The row coordinate Iceberg position deletes address — served by the
    * scan as metadata columns, file-absolute across row-group splits. */
  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftTableScanBuilder(tableSchema, metadataPath, None, branch, None, splitSize)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder = {
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch(): org.apache.spark.sql.connector.write.DeltaBatchWrite = {
            val meta = TableMetadata.parseFile(metadataPath)
            val tableDir = new org.apache.hadoop.fs.Path(metadataPath).getParent.toString
            val fields = meta.currentSchema.fields.flatMap(f =>
              graft.iceberg.IcebergTypes.fromStringOpt(f.fieldType)
                .map(t => (f.id, f.name, t)))
            val spec = meta.partitionSpecs.find(_.specId == meta.defaultSpecId)
              .getOrElse(graft.iceberg.PartitionSpec(0, Nil))
            val BucketRe = """bucket\[(\d+)\]""".r
            val part: GraftTableWrites.PartInfo =
              if (spec.fields.isEmpty) None
              else Some((spec.specId, spec.fields.map { pf =>
                val f = meta.currentSchema.fields.find(_.id == pf.sourceId).get
                val t = graft.iceberg.IcebergTypes.fromString(f.fieldType)
                val out = pf.transform match {
                  case "identity" => t
                  case BucketRe(_) => graft.iceberg.IcebergTypes.TInt
                  case other => throw new IllegalArgumentException(
                    s"unsupported write transform '$other'")
                }
                (GraftTable.sparkSchema(meta).fieldIndex(f.name), t, pf.transform, out)
              }))
            new GraftTableDeltaBatchWrite(tableDir, GraftTable.sparkSchema(meta),
              fields, part,
              new graft.iceberg.SerializableHadoopConf(graft.iceberg.HadoopConfs.active()),
              carryLineage = meta.formatVersion >= 3, branch = branch)
          }
        }
    }
  }
}

class GraftTableDeltaBatchWrite(tableDir: String, schema: StructType,
    fields: Seq[(Int, String, graft.iceberg.IcebergType)],
    part: GraftTableWrites.PartInfo,
    hadoopConf: graft.iceberg.SerializableHadoopConf,
    carryLineage: Boolean = false, branch: Option[String] = None)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val writeUuid = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftTableDeltaWriterFactory(tableDir, writeUuid, schema, fields, part,
      hadoopConf, carryLineage)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val all = GraftTableWrites.filesOf(messages)
    val (dels, datas) = all.partition(_.content == 1)
    val dataLive = datas.filter(_.rows > 0)
    GraftTableWrites.drop(datas.filter(_.rows == 0))
    if (dels.isEmpty && dataLive.isEmpty) return // the operation matched nothing
    // conflict-validation targets: the exact file set the deletes
    // address, as each delete writer reported it
    val targets = dels.flatMap(_.targets).toSet
    def pending(m: GraftFileMessage) = GraftTable.PendingFile(
      m.path, m.rows, m.bytes, m.lower, m.upper, m.summary, m.specId,
      carriesLineage = m.carriesLineage)
    GraftTable.commitDeltaFiles(tableDir,
      dataLive.map(pending), dels.map(pending), targets, branch)
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    GraftTableWrites.drop(GraftTableWrites.filesOf(messages))
}

class GraftTableDeltaWriterFactory(tableDir: String, writeUuid: String,
    schema: StructType, fields: Seq[(Int, String, graft.iceberg.IcebergType)],
    part: GraftTableWrites.PartInfo,
    hadoopConf: graft.iceberg.SerializableHadoopConf,
    carryLineage: Boolean = false)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftTableDeltaWriter(
      ord => f"$tableDir/data/w-$writeUuid-p${partitionId}%05d-t$taskId-f${ord}%03d.parquet",
      f"$tableDir/data/del-$writeUuid-p${partitionId}%05d-t$taskId.parquet",
      schema, fields, part, hadoopConf.value, carryLineage)
}

/** `rowGroup` == -1 reads the whole file (the un-split case); otherwise
  * exactly that row group, with `rowStart` its absolute first-row index
  * (what keeps file-absolute position deletes correct on a split).
  * `splitStart`/`splitBytes` are the split's BYTE range for the parquet
  * decoder (parquet selects row groups by midpoint): (0, Long.MaxValue)
  * covers the whole file; a row-group split carries the group's exact
  * footer-declared offset and compressed size. */
case class GraftTableInputPartition(filePath: String, sequenceNumber: Long,
    deletes: FileDeletes, tableSchema: StructType,
    // a deleted-by scan's set (see TableDataSource.scanPlan): the task
    // keeps only the rows these delete
    deletedBy: Option[FileDeletes] = None,
    rowGroup: Int = -1, rowStart: Long = 0L,
    splitStart: Long = 0L, splitBytes: Long = Long.MaxValue,
    // RENAME COLUMN support: current name → the names this field's id
    // carried in earlier schemas; empty on never-renamed tables
    nameAlternates: Map[String, Seq[String]] = Map.empty,
    // manifest field 101: PARQUET (the engine's own writes) or AVRO
    // (foreign/imported data files — read as rows, no row-group splits)
    fileFormat: String = "PARQUET",
    // storage-partitioned joins: this file's partition tuple in catalyst
    // form (summary-derived), or null when the scan reported no
    // KeyGroupedPartitioning — Spark only calls partitionKey() after
    // grouping on a key-grouped report, where it is always present
    partitionKeyValues: Array[Any] = null,
    // v3 initial-defaults (external row domain) for columns a file may
    // predate — what the reader fills instead of null
    initialDefaults: Map[String, Any] = Map.empty,
    // v3 row lineage: this data file's first_row_id (manifest field 142)
    // — _row_id serves as firstRowId + pos; None when the file
    // materializes lineage as columns (or on pre-v3 tables)
    firstRowId: Option[Long] = None)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = {
    require(partitionKeyValues != null,
      s"partitionKey() on a non-key-grouped scan partition for $filePath")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(partitionKeyValues)
  }
}

class GraftTableReaderFactory(required: StructType,
    hadoopConf: graft.iceberg.SerializableHadoopConf,
    columnar: Boolean) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftTableInputPartition]
    p.fileFormat match {
      case "PARQUET" => new GraftTableParquetRowReader(
        new GraftTableColumnarReader(p, required, hadoopConf.value))
      case "AVRO" => new GraftTableAvroPartitionReader(p, required, hadoopConf.value)
      case "ORC" => new GraftTableOrcPartitionReader(p, required, hadoopConf.value)
      // position_deletes inspection partitions over v3 deletion vectors
      case "PUFFIN" => new GraftDvPosDeletesReader(p, required, hadoopConf.value)
      case other => throw new UnsupportedOperationException(
        s"unsupported data file format $other for ${p.filePath}")
    }
  }
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftTableColumnarReader(
      partition.asInstanceOf[GraftTableInputPartition], required, hadoopConf.value)
}

/** A parquet data file's rows, for a scan that must emit rows (one that
  * holds an Avro or ORC file, or `position_deletes` over deletion
  * vectors): [[GraftTableColumnarReader]]'s batches, flattened. */
class GraftTableParquetRowReader(batches: GraftTableColumnarReader)
    extends PartitionReader[InternalRow] {
  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var current: InternalRow = _
  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    current = rows.next()
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = batches.close()
}

/** The one decoder of parquet data files: Spark's own
  * VectorizedParquetRecordReader decodes whole column batches
  * (dictionary-aware, type-widening, no per-row object materialization)
  * and the reader adds what the table format defines on top, as vectors
  * of the batch it emits:
  *   - position deletes and v3 deletion vectors drop rows by their
  *     file-absolute index, equality deletes by value-set membership —
  *     both as a selection view over the batch's own vectors;
  *   - `_file` (and the `position_deletes` table's `delete_file_path`)
  *     is a per-split constant, `_pos` the row's file-absolute index;
  *   - v3 lineage: `_row_id` is the file's materialized column, else the
  *     file's first_row_id + `_pos`, else null;
  *     `_last_updated_sequence_number` the materialized column, else the
  *     file's data sequence when the file has lineage, else null;
  *   - a column the file predates under every name generation is a
  *     constant: its v3 initial default, or null; a RENAMED column reads
  *     under the name the file carries.
  * A clean scan that asks for none of these gets Spark's batch untouched.
  * The data file and its delete files open through [[ParquetDecoder]]
  * on one task conf. */
class GraftTableColumnarReader(part: GraftTableInputPartition,
    required: StructType, confBase: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
  import GraftTableColumnarReader._

  /** Deleted FILE-ABSOLUTE row indexes and equality-delete probes. The
    * vectorized reader serves the split's rows strictly in order with no
    * predicate skipping, so the absolute index of a batch's first row is
    * `rowStart` plus the rows already served. */
  private val deletes = new TaskDeletes(part, required, confBase)

  /** `required`, then the equality columns the query never selects (read
    * to evaluate the deletes, never emitted). */
  private val working = deletes.working

  private val file = new ParquetDecoder(deletes.decoderConf, part.filePath,
    part.splitStart, part.splitBytes)

  private def lineage(name: String): Boolean =
    (name == GraftTable.RowIdCol || name == GraftTable.LastUpdatedCol) &&
      !part.tableSchema.fieldNames.contains(name)

  /** The file's top-level column names, consulted only when a column's
    * source depends on them: a table that renamed a column, a lineage
    * column, or a column with a v3 initial default. None: every column is
    * requested by its current name and Spark null-fills the ones the file
    * lacks. */
  private val fileColumns: Option[Set[String]] =
    if (part.nameAlternates.isEmpty && !working.fieldNames.exists(n =>
        lineage(n) || part.initialDefaults.contains(n))) None
    else Some(file.columns.toSet)
  private def fileHas(name: String): Boolean = fileColumns.exists(_(name))

  private val requestedFields = scala.collection.mutable.ArrayBuffer.empty[StructField]

  private def decoded(f: StructField): Source = {
    requestedFields += f
    Decoded(requestedFields.size - 1)
  }
  private def constant(dt: DataType, value: Any): Source = {
    val v = new ConstantColumnVector(ParquetDecoder.BatchSize, dt)
    ColumnVectorUtils.populate(v, new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](value)), 0)
    Constant(new ShieldedColumnVector(v))
  }

  /** Where each working column comes from, in working order. */
  private val sources: Array[Source] = working.fields.map { f =>
    f.name match {
      case "_file" => constant(StringType,
        org.apache.spark.unsafe.types.UTF8String.fromString(part.filePath))
      case "_pos" => Position(0L)
      // the position_deletes table's provenance column: the delete file
      // each (file_path, pos) row came from
      case "delete_file_path" if !part.tableSchema.fieldNames.contains(f.name) =>
        constant(StringType, org.apache.spark.unsafe.types.UTF8String.fromString(part.filePath))
      case GraftTable.RowIdCol if lineage(f.name) =>
        if (fileHas(f.name)) decoded(f)
        else part.firstRowId.map(Position).getOrElse(constant(LongType, null))
      case GraftTable.LastUpdatedCol if lineage(f.name) =>
        if (fileHas(f.name)) decoded(f)
        // a file carrying _row_id but not _lus (a delta UPDATE's carry
        // file) was last touched by the commit that wrote it
        else if (part.firstRowId.isDefined || fileHas(GraftTable.RowIdCol))
          constant(LongType, part.sequenceNumber)
        else constant(LongType, null)
      // v3 `unknown`: never stored
      case _ if f.dataType == NullType => constant(NullType, null)
      case name =>
        fileColumns.map(cols => (name +: part.nameAlternates.getOrElse(name, Nil)).find(cols))
          .getOrElse(Some(name)) match {
          case Some(physical) => decoded(f.copy(name = physical))
          case None => constant(f.dataType, part.initialDefaults.get(name)
            .map(CatalystTypeConverters.createToCatalystConverter(f.dataType)).orNull)
        }
    }
  }.toArray
  file.decode(StructType(requestedFields.toSeq))

  /** The emitted columns are the decoder's own, in order. */
  private val plain = working.length == required.length &&
    sources.forall(_.isInstanceOf[Decoded])

  private var served: Long = 0L

  private var batch: ColumnarBatch = _
  override def next(): Boolean = {
    val has = file.next()
    if (has) {
      val raw = file.batch
      val first = part.rowStart + served
      served += raw.numRows()
      batch = if (plain && deletes.isEmpty) raw else assemble(raw, first)
    }
    has
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = file.close()

  /** Working column `c` over `raw`, its rows re-indexed through `keep`
    * (null: every row). Decoded vectors belong to the reader, which reuses
    * them for every batch: the emitted views shield them from a
    * consumer's close(). */
  private def vector(c: Int, raw: ColumnarBatch, first: Long, keep: Array[Int]): ColumnVector =
    sources(c) match {
      case Decoded(i) =>
        if (keep == null) new ShieldedColumnVector(raw.column(i))
        else new SelectedColumnVector(raw.column(i), keep)
      case Constant(v) => v
      case Position(offset) => new PositionColumnVector(first + offset, keep)
    }

  /** Surviving row ordinals of `raw` — null when every row survives. The
    * equality probes read the working columns through the batch's row
    * view. */
  private def selection(raw: ColumnarBatch, first: Long): Array[Int] = {
    val n = raw.numRows()
    val probed =
      if (!deletes.byValue) null
      else new ColumnarBatch(Array.tabulate[ColumnVector](working.length)(c =>
        sources(c) match {
          case Decoded(i) => raw.column(i)
          case _ => vector(c, raw, first, null)
        }), n)
    val sel = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < n) {
      if (!deletes.deleted(first + i, if (probed == null) null else probed.getRow(i))) {
        sel(k) = i; k += 1
      }
      i += 1
    }
    if (k == n) null else java.util.Arrays.copyOf(sel, k)
  }

  /** Deleted rows vanish from the batch's row space through a selection
    * view over the batch's own vectors — no column data is copied
    * (production Iceberg's delete-aware vectorized read shape). */
  private def assemble(raw: ColumnarBatch, first: Long): ColumnarBatch = {
    val keep = if (deletes.isEmpty) null else selection(raw, first)
    if (keep == null && plain) raw
    else new ColumnarBatch(
      Array.tabulate[ColumnVector](required.length)(c => vector(c, raw, first, keep)),
      if (keep == null) raw.numRows() else keep.length)
  }
}

object GraftTableColumnarReader {
  /** Where a working column's vector comes from. */
  private sealed trait Source
  /** Column `idx` of the decoded batch. */
  private final case class Decoded(idx: Int) extends Source
  /** A per-split constant (on-heap, left to the GC; shielded from a
    * consumer's close()). */
  private final case class Constant(
      v: org.apache.spark.sql.vectorized.ColumnVector) extends Source
  /** `offset` + the row's file-absolute index. */
  private final case class Position(offset: Long) extends Source
}

/** `base` + each row's index (re-indexed through `sel` when non-null) —
  * `_pos` and a first_row_id-derived `_row_id`, computed on read. */
private[sources] final class PositionColumnVector(base: Long, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls(): Int = 0
  override def isNullAt(rowId: Int): Boolean = false
  override def getLong(rowId: Int): Long = base + (if (sel == null) rowId else sel(rowId))
  private def unsupported = throw new UnsupportedOperationException("a position is a long")
  override def getBoolean(rowId: Int): Boolean = unsupported
  override def getByte(rowId: Int): Byte = unsupported
  override def getShort(rowId: Int): Short = unsupported
  override def getInt(rowId: Int): Int = unsupported
  override def getFloat(rowId: Int): Float = unsupported
  override def getDouble(rowId: Int): Double = unsupported
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal = unsupported
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    unsupported
  override def getBinary(rowId: Int): Array[Byte] = unsupported
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    unsupported
}

/** A per-row equality-delete membership test over the working row —
  * a ColumnarBatch's row view in the parquet reader, the converted
  * Catalyst row in the Avro and ORC readers. Delete values and data
  * values both come from [[EqProbe.value]] over a row in Catalyst's
  * internal domain (Int days, Long micros, UTF8String, bytes, Decimal),
  * so the two sides cannot disagree on a value's form. Shape-specialized
  * so the hot path allocates nothing:
  *   - single long-coercible column (the CDC-upsert key shape): sorted
  *     `long[]` + binary search, fully unboxed;
  *   - single string column: a set of UTF8String keys probed with the
  *     row's own UTF8String (no String materialization);
  *   - anything else: a tuple set probed through ONE reusable buffer
  *     (only the unavoidable value boxing remains). */
private[sources] sealed trait EqProbe {
  def deleted(row: SpecializedGetters): Boolean
}

private[sources] object EqProbe {
  import org.apache.spark.unsafe.types.UTF8String

  /** Single long-coercible key (int/long/date/timestamp all read as
    * int/long): sorted array + binary search, unboxed. */
  private final class LongCol(idx: Int, isInt: Boolean, sorted: Array[Long],
      hasNull: Boolean) extends EqProbe {
    override def deleted(row: SpecializedGetters): Boolean =
      if (row.isNullAt(idx)) hasNull
      else {
        val x = if (isInt) row.getInt(idx).toLong else row.getLong(idx)
        java.util.Arrays.binarySearch(sorted, x) >= 0
      }
  }

  private final class StringCol(idx: Int, set: java.util.HashSet[UTF8String],
      hasNull: Boolean) extends EqProbe {
    override def deleted(row: SpecializedGetters): Boolean =
      if (row.isNullAt(idx)) hasNull else set.contains(row.getUTF8String(idx))
  }

  /** Array-backed tuple with value-based hash/equality — stored keys own
    * their arrays; the probe side reuses ONE buffer per probe object. */
  final class TupleKey(val vals: Array[AnyRef]) {
    override def hashCode: Int = java.util.Arrays.hashCode(vals)
    override def equals(o: Any): Boolean = o match {
      case t: TupleKey => java.util.Arrays.equals(vals, t.vals)
      case _ => false
    }
  }

  private final class Generic(idxs: Array[Int], dts: Array[DataType],
      set: java.util.HashSet[TupleKey]) extends EqProbe {
    private val buf = new Array[AnyRef](idxs.length)
    private val probe = new TupleKey(buf)
    override def deleted(row: SpecializedGetters): Boolean = {
      var j = 0
      while (j < idxs.length) {
        buf(j) = value(row, idxs(j), dts(j))
        j += 1
      }
      set.contains(probe)
    }
  }

  /** Column `i` of `row` as an equality value of table type `dt`: null
    * for null (null keys match null values, the spec rule), boxed
    * primitives, UTF8String, content-compared bytes, Decimal. A string may
    * point into a reused buffer: [[key]] copies it. */
  def value(row: SpecializedGetters, i: Int, dt: DataType): AnyRef =
    if (row.isNullAt(i)) null
    else dt match {
      case IntegerType | DateType => Int.box(row.getInt(i))
      case LongType | TimestampType | TimestampNTZType => Long.box(row.getLong(i))
      case DoubleType => Double.box(row.getDouble(i))
      case FloatType => Float.box(row.getFloat(i))
      case BooleanType => Boolean.box(row.getBoolean(i))
      case StringType => row.getUTF8String(i)
      case BinaryType => scala.collection.immutable.ArraySeq.unsafeWrapArray(row.getBinary(i))
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"equality comparison over $other")
    }

  /** The stored key of columns `0 until dts.length` of a delete-file row. */
  def key(row: SpecializedGetters, dts: Array[DataType]): TupleKey =
    new TupleKey(Array.tabulate[AnyRef](dts.length)(j => value(row, j, dts(j)) match {
      case s: UTF8String => s.clone()
      case v => v
    }))

  /** The probe of a loaded key set over the working row's columns `idxs`. */
  def build(idxs: Array[Int], dts: Array[DataType],
      set: java.util.HashSet[TupleKey]): EqProbe = {
    if (idxs.length == 1) {
      val vs = set.asScala.map(_.vals(0))
      val hasNull = vs.exists(_ == null)
      dts(0) match {
        case IntegerType | DateType | LongType | TimestampType | TimestampNTZType =>
          val sorted = vs.collect {
            case i: java.lang.Integer => i.longValue
            case l: java.lang.Long => l.longValue
          }.toArray.sorted
          return new LongCol(idxs(0),
            dts(0) == IntegerType || dts(0) == DateType, sorted, hasNull)
        case StringType =>
          val hs = new java.util.HashSet[UTF8String]()
          vs.foreach { case s: UTF8String => hs.add(s); case _ => () }
          return new StringCol(idxs(0), hs, hasNull)
        case _ => ()
      }
    }
    new Generic(idxs, dts, set)
  }
}

/** Task-local equality-delete key sets, one per distinct equality-column
  * list, keyed by the columns' CURRENT names (`altToCurrent` maps a
  * pre-rename delete file's names). A delete file's schema IS its
  * equality columns; each decodes through [[ParquetDecoder]] in the
  * table types of its columns (a pre-widening INT32 key reads as long). */
private[sources] object EqDeleteIndex {
  def load(eqDeleteFiles: Seq[String], tableType: String => DataType,
      altToCurrent: Map[String, String], conf: => Configuration)
      : Seq[(Seq[String], java.util.HashSet[EqProbe.TupleKey])] = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Seq[String], java.util.HashSet[EqProbe.TupleKey]]
    eqDeleteFiles.foreach { del =>
      val file = new ParquetDecoder(conf, del)
      try {
        val cols = file.columns.map(c => altToCurrent.getOrElse(c, c))
        val dts = cols.map(tableType).toArray
        val set = acc.getOrElseUpdate(cols, new java.util.HashSet[EqProbe.TupleKey]())
        file.decode(StructType(file.columns.zip(dts).map { case (c, dt) => StructField(c, dt) }))
        while (file.next()) {
          val batch = file.batch
          var i = 0
          while (i < batch.numRows()) {
            set.add(EqProbe.key(batch.getRow(i), dts))
            i += 1
          }
        }
      } finally file.close()
    }
    acc.toSeq
  }
}

/** A pass-through ColumnVector view whose only job is to SHIELD the
  * reader-owned base vector from a consumer's close() (Spark closes
  * batches it replaces; the reader reuses and closes its own vectors —
  * see [[SelectedColumnVector.close]]). */
private[sources] final class ShieldedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector)
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = base.numNulls()
  override def isNullAt(rowId: Int): Boolean = base.isNullAt(rowId)
  override def getBoolean(rowId: Int): Boolean = base.getBoolean(rowId)
  override def getByte(rowId: Int): Byte = base.getByte(rowId)
  override def getShort(rowId: Int): Short = base.getShort(rowId)
  override def getInt(rowId: Int): Int = base.getInt(rowId)
  override def getLong(rowId: Int): Long = base.getLong(rowId)
  override def getFloat(rowId: Int): Float = base.getFloat(rowId)
  override def getDouble(rowId: Int): Double = base.getDouble(rowId)
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(rowId)
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(ordinal)
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(rowId, precision, scale)
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(rowId)
  override def getBinary(rowId: Int): Array[Byte] = base.getBinary(rowId)
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    base.getChild(ordinal)
}

/** A ColumnVector view that re-indexes rows through a selection array:
  * row `i` of the view is row `sel(i)` of the base vector. This is how
  * the reader drops deleted rows without copying column data. Children
  * of row-indexed types (struct, variant — whose final getters walk
  * children by the view's row id) are views under the same selection;
  * array and map children are indexed by element, and their getters
  * slice the base's children, so those pass through. */
private[sources] final class SelectedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
  /** MUST NOT propagate: the base vectors belong to the
    * VectorizedParquetRecordReader, which reuses them for every
    * subsequent batch and closes them in [[GraftTableColumnarReader.close]].
    * A consumer closing this view (Spark closes replaced batches) would
    * otherwise null the reader's arrays mid-scan. The view itself holds
    * no resources. */
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = {
    var n = 0
    var i = 0
    while (i < sel.length) { if (base.isNullAt(sel(i))) n += 1; i += 1 }
    n
  }
  override def isNullAt(rowId: Int): Boolean = base.isNullAt(sel(rowId))
  override def getBoolean(rowId: Int): Boolean = base.getBoolean(sel(rowId))
  override def getByte(rowId: Int): Byte = base.getByte(sel(rowId))
  override def getShort(rowId: Int): Short = base.getShort(sel(rowId))
  override def getInt(rowId: Int): Int = base.getInt(sel(rowId))
  override def getLong(rowId: Int): Long = base.getLong(sel(rowId))
  override def getFloat(rowId: Int): Float = base.getFloat(sel(rowId))
  override def getDouble(rowId: Int): Double = base.getDouble(sel(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(rowId))
  override def getMap(ordinal: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(ordinal))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(sel(rowId), precision, scale)
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(rowId))
  override def getBinary(rowId: Int): Array[Byte] = base.getBinary(sel(rowId))
  // the row-indexed children, each view built once (ColumnarRow asks
  // for a child per field read); null for types without them
  private val children: Array[org.apache.spark.sql.vectorized.ColumnVector] =
    base.dataType() match {
      case st: StructType => new Array(st.length)
      case VariantType => new Array(2) // value and metadata
      case _ => null
    }
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    if (children == null) base.getChild(ordinal)
    else {
      if (children(ordinal) == null)
        children(ordinal) = new SelectedColumnVector(base.getChild(ordinal), sel)
      children(ordinal)
    }
}

/** The combined position-delete state addressing one data file: v2
  * parquet-sourced positions (hash set) plus the v3 DELETION VECTOR
  * (Roaring bitmap, probed first — on a v3 table it is the only
  * populated side and the per-row cost is two array reads through the
  * bitmap's last-hit cache, no boxing). Union semantics: a table mid-
  * upgrade can carry both forms for one file and every position in
  * either is deleted. */
private[sources] final class PosDeletes(
    set: java.util.HashSet[java.lang.Long], dv: graft.iceberg.Roaring64) {
  val isEmpty: Boolean = set.isEmpty && (dv == null || dv.isEmpty)
  def contains(pos: Long): Boolean =
    (dv != null && dv.contains(pos)) || (!set.isEmpty && set.contains(pos))
}

/** Task-local position-delete index: the FILE-ABSOLUTE deleted row
  * indexes addressing ONE data file, loaded once per task from its
  * sequence-scoped, path-bound-scoped delete files. */
private[sources] object PosDeleteIndex {
  private val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** Parquet position deletes + v3 deletion vectors as one probe; the
    * parquet files decode on `decoderConf`, asked for only when there are
    * any. */
  def loadAll(posDeleteFiles: Seq[String], dvRefs: Seq[(String, Long, Long)],
      dataFilePath: String, conf: Configuration,
      decoderConf: => Configuration): PosDeletes = {
    val set = load(posDeleteFiles, dataFilePath, decoderConf)
    val dv = dvRefs match {
      case Nil => null
      case Seq((p, off, len)) => graft.iceberg.DeletionVectors.read(p, off, len, conf)
      case many => // malformed multi-DV table: union, stay correct
        graft.iceberg.Roaring64.fromPositions(
          many.flatMap { case (p, off, len) =>
            graft.iceberg.DeletionVectors.read(p, off, len, conf).toArray }.toArray)
    }
    new PosDeletes(set, dv)
  }

  /** The positions in `posDeleteFiles` that address `dataFilePath`. The
    * rows come sorted by file_path, so each run of one spelling resolves
    * its path identity once. */
  private def load(posDeleteFiles: Seq[String], dataFilePath: String,
      conf: => Configuration): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    val me = PathId(dataFilePath)
    var last: org.apache.spark.unsafe.types.UTF8String = null
    var mine = false
    posDeleteFiles.foreach { del =>
      val file = new ParquetDecoder(conf, del)
      try {
        file.decode(PosDeleteSchema)
        while (file.next()) {
          val batch = file.batch
          val paths = batch.column(0)
          val positions = batch.column(1)
          var i = 0
          while (i < batch.numRows()) {
            val p = paths.getUTF8String(i)
            if (!p.equals(last)) { last = p.clone(); mine = PathId(p.toString) == me }
            if (mine) set.add(positions.getLong(i))
            i += 1
          }
        }
      } finally file.close()
    }
    set
  }
}

/** What one task deletes from one data file, for the parquet, Avro and
  * ORC readers alike: position deletes and deletion vectors by the row's
  * file-absolute index (record order == row index, Iceberg's `pos`), and
  * equality deletes by value through [[EqProbe]]s over the working row —
  * `required`, then the equality columns the query never selects. A
  * deleted-by scan's task drops, besides what its own deletes delete,
  * every row its deleted-by set does NOT delete. Every delete file
  * decodes through [[ParquetDecoder]] on [[decoderConf]]. */
private[sources] final class TaskDeletes(part: GraftTableInputPartition,
    required: StructType, conf: Configuration) {

  /** The task's one decoder conf, made on first use (the parquet reader
    * opens its data file on it too). */
  lazy val decoderConf: Configuration = ParquetDecoder.conf(conf)

  private def tableType(name: String): DataType =
    part.tableSchema.fields.find(_.name == name).map(_.dataType).getOrElse(
      throw new IllegalArgumentException(s"equality column '$name' not in table schema"))

  private val altToCurrent = part.nameAlternates.flatMap { case (cur, olds) => olds.map(_ -> cur) }

  /** One set of delete files, loaded: its positions and its equality key
    * sets (probed once [[working]] is known). */
  private final class Loaded(files: FileDeletes) {
    val eqSets = EqDeleteIndex.load(files.eq, tableType, altToCurrent, decoderConf)
    val positions = PosDeleteIndex.loadAll(files.pos, files.dvs, part.filePath, conf, decoderConf)
    lazy val probes: Array[EqProbe] = eqSets.map { case (cols, set) =>
      EqProbe.build(cols.map(working.fieldIndex).toArray, cols.map(tableType).toArray, set)
    }.toArray
    def isEmpty: Boolean = positions.isEmpty && eqSets.isEmpty

    def deletes(pos: Long, row: SpecializedGetters): Boolean =
      positions.contains(pos) || (probes.length > 0 && eqDeleted(row))

    private def eqDeleted(row: SpecializedGetters): Boolean = {
      var i = 0
      while (i < probes.length) {
        if (probes(i).deleted(row)) return true
        i += 1
      }
      false
    }
  }

  private val own = new Loaded(part.deletes)
  private val by = part.deletedBy.map(new Loaded(_)).orNull

  val working: StructType = StructType(required.fields.toSeq ++
    (own.eqSets ++ Option(by).toSeq.flatMap(_.eqSets)).flatMap(_._1).distinct
      .filterNot(required.fieldNames.contains).map(c => StructField(c, tableType(c))))

  val isEmpty: Boolean = own.isEmpty && by == null
  /** Whether [[deleted]] reads the row; when false it may be null. */
  val byValue: Boolean = own.probes.nonEmpty || (by != null && by.probes.nonEmpty)

  /** Is the row at file-absolute index `pos` (`row` over [[working]])
    * dropped from the scan? */
  def deleted(pos: Long, row: SpecializedGetters): Boolean =
    own.deletes(pos, row) || (by != null && !by.deletes(pos, row))

  /** A row over [[working]], cut back to the `required` columns. */
  def project(row: InternalRow): InternalRow =
    if (working.length == required.length) row
    else InternalRow.fromSeq(row.toSeq(working).take(required.length))
}

/** Spark's vectorized parquet decoder over one file, data or delete
  * file, opened once: the footer read and the decode share one input
  * stream. `conf` is the task's [[ParquetDecoder.conf]]; [[decode]] sets
  * the requested columns on it, so a task's decoders open one after
  * another. A column whose parquet type Spark cannot decode as the
  * requested type fails the read, naming the column and the file. */
private[sources] final class ParquetDecoder(conf: Configuration, path: String,
    start: Long = 0L, bytes: Long = Long.MaxValue) {
  import org.apache.spark.sql.execution.datasources.SchemaColumnConvertNotSupportedException
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport,
    VectorizedParquetRecordReader}

  private val file = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
  private val stream = file.newStream()
  private val footer =
    try ParquetFileReader.readFooter(file, org.apache.parquet.HadoopReadOptions
      .builder(conf, file.getPath).withRange(start, start + bytes).build(), stream)
    catch { case t: Throwable => stream.close(); throw t }

  /** The file's top-level column names, in file order. */
  def columns: Seq[String] =
    footer.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq

  private var reader: VectorizedParquetRecordReader = _

  /** Starts the decode of `requested`: each column by its name in the
    * file, as its requested type (Spark widens int→long and
    * float→double); a column the file lacks reads as null. */
  def decode(requested: StructType): Unit = {
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, ParquetDecoder.BatchSize)
    try {
      reader.initialize(
        new org.apache.hadoop.mapred.FileSplit(file.getPath, start, bytes, Array.empty[String]),
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf, new org.apache.hadoop.mapreduce.TaskAttemptID()),
        Some(file), Some(stream), Some(footer))
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
    } catch { case t: Throwable => scala.util.Try(reader.close()); stream.close(); throw t }
  }

  def next(): Boolean =
    try reader.nextKeyValue()
    catch {
      case e: SchemaColumnConvertNotSupportedException =>
        throw new UnsupportedOperationException(s"graft-table reader cannot decode " +
          s"column ${e.getColumn} (parquet ${e.getPhysicalType}) of $path " +
          s"as ${e.getLogicalType}", e)
    }

  def batch: org.apache.spark.sql.vectorized.ColumnarBatch =
    reader.getCurrentValue.asInstanceOf[org.apache.spark.sql.vectorized.ColumnarBatch]

  def close(): Unit = if (reader != null) reader.close() else stream.close()
}

private[sources] object ParquetDecoder {
  val BatchSize = 4096

  /** A task's decoder conf: `base` plus the keys Spark's reader stack
    * expects its planner to have set, pinning this library's own file
    * conventions (micros timestamps, CORRECTED datetime rebase; v3
    * nanosecond timestamps read as their long nanos). */
  def conf(base: Configuration): Configuration = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val conf = new Configuration(base)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", true)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf
  }
}

/** Conservative bound-stat evaluation over a single manifest entry: can
  * the file's [lower, upper] interval for the filtered column contain a
  * matching row? Missing/undecodable bounds keep the file. */
object FileBoundsEval {

  private val ops = Set("EqualTo", "EqualNullSafe", "GreaterThan", "GreaterThanOrEqual",
    "LessThan", "LessThanOrEqual", "In", "IsNull", "IsNotNull", "And", "Or", "Not")

  def supported(f: sources.Filter, schema: StructType): Boolean =
    ops.contains(f.getClass.getSimpleName) &&
      f.references.forall(r => schema.fieldNames.contains(r))

  /** True only when the entry PROVABLY holds no matching row. An `In`
    * decodes the entry's two bounds once and tests every value against
    * them: skippable when each value falls outside, the same rule as
    * `EqualTo` per value. */
  def skippable(f: sources.Filter, e: ManifestWriter.EntryData, meta: TableMetadata): Boolean = {
    def bound(col: String, lower: Boolean): Option[Any] = for {
      field <- meta.currentSchema.fields.find(_.name == col)
      t <- IcebergTypes.fromStringOpt(field.fieldType)
      bytes <- (if (lower) e.lowerBounds else e.upperBounds).get(field.id)
      if bytes.nonEmpty
      v <- scala.util.Try(SingleValueCodec.decode(t, bytes)).toOption
    } yield v
    def cmp(b: Option[Any], v: Any): Option[Int] = b.flatMap(ScanPlanning.cmpValues(_, v))
    def outside(lo: Option[Any], hi: Option[Any], v: Any): Boolean =
      cmp(lo, v).exists(_ > 0) || cmp(hi, v).exists(_ < 0)
    def cmpLo(col: String, v: Any): Option[Int] = cmp(bound(col, lower = true), v)
    def cmpHi(col: String, v: Any): Option[Int] = cmp(bound(col, lower = false), v)
    f match {
      case sources.EqualTo(c, v) =>
        outside(bound(c, lower = true), bound(c, lower = false), v)
      // null-safe equality with a value matches what `=` matches
      case sources.EqualNullSafe(c, v) if v != null =>
        outside(bound(c, lower = true), bound(c, lower = false), v)
      case sources.GreaterThan(c, v) => cmpHi(c, v).exists(_ <= 0)
      case sources.GreaterThanOrEqual(c, v) => cmpHi(c, v).exists(_ < 0)
      case sources.LessThan(c, v) => cmpLo(c, v).exists(_ >= 0)
      case sources.LessThanOrEqual(c, v) => cmpLo(c, v).exists(_ > 0)
      case sources.In(c, vs) => vs.nonEmpty && {
        val (lo, hi) = (bound(c, lower = true), bound(c, lower = false))
        vs.forall(outside(lo, hi, _))
      }
      case sources.And(l, r) => skippable(l, e, meta) || skippable(r, e, meta)
      case sources.Or(l, r) => skippable(l, e, meta) && skippable(r, e, meta)
      case _ => false
    }
  }
}

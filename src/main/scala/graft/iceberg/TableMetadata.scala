package graft.iceberg

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Iceberg table-metadata document model (v1/v2), parsed driver-side — the
  * document is KB-sized; distributing its parse would be overhead for
  * nothing. The field-id→type dictionary it yields is what gets broadcast
  * to executors for bound decoding.
  *
  * Parity target: `parseMetaData`
  * (/root/reference/src/main/java/dev/liliwei/iceberg/tool/ManifestFileReadTool.java:170-197)
  * — prefer the top-level `schema`, else resolve `schemas[]` by
  * `current-schema-id` — but we retain the full document (snapshots,
  * partition specs, sort orders, refs, logs) for the metadata tables the
  * reference never surfaces.
  */
final case class IcebergField(id: Int, name: String, required: Boolean,
  fieldType: String, doc: Option[String] = None,
  // Iceberg v3 column defaults, held as their raw JSON single-value text
  // (DefaultValues codecs): initial-default fills rows written BEFORE
  // the field existed; write-default is what an omitted column gets
  initialDefault: Option[String] = None, writeDefault: Option[String] = None)
final case class IcebergSchema(schemaId: Int, fields: Seq[IcebergField])
final case class PartitionField(name: String, transform: String, sourceId: Int, fieldId: Int)
final case class PartitionSpec(specId: Int, fields: Seq[PartitionField])
final case class SortField(transform: String, sourceId: Int, direction: String, nullOrder: String)
final case class SortOrder(orderId: Int, fields: Seq[SortField])
/** A snapshot ref with the spec's retention attributes: `maxRefAgeMs`
  * ages the REF out (expiry auto-drops it, measured from its snapshot's
  * commit time); for branches, `minSnapshotsToKeep`/`maxSnapshotAgeMs`
  * retain that many (or that fresh) ancestors of the branch head beyond
  * the head itself. All-None = the engine's strict default: the ref
  * pins its snapshot forever and expiry ABORTS rather than break a
  * time-travel anchor. */
final case class SnapshotRef(name: String, refType: String, snapshotId: Long,
    maxRefAgeMs: Option[Long] = None,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None)
final case class Snapshot(
    snapshotId: Long,
    parentSnapshotId: Option[Long],
    timestampMs: Long,
    operation: Option[String],
    summary: Map[String, String],
    manifestList: Option[String],
    schemaId: Option[Int])
final case class SnapshotLogEntry(timestampMs: Long, snapshotId: Long)
final case class MetadataLogEntry(timestampMs: Long, metadataFile: String)

/** An Iceberg `statistics` entry: a table-level statistics file computed
  * at a snapshot — snapshot-id + statistics-path + file-size-in-bytes,
  * the path referencing a Puffin container (see TableStats). */
final case class StatisticsFile(snapshotId: Long, path: String, fileSizeInBytes: Long)

final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastUpdatedMs: Long,
    topLevelSchema: Option[IcebergSchema],
    currentSchemaId: Option[Int],
    schemas: Seq[IcebergSchema],
    partitionSpecs: Seq[PartitionSpec],
    defaultSpecId: Int,
    sortOrders: Seq[SortOrder],
    defaultSortOrderId: Int,
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    refs: Seq[SnapshotRef],
    snapshots: Seq[Snapshot],
    snapshotLog: Seq[SnapshotLogEntry],
    metadataLog: Seq[MetadataLogEntry],
    statistics: Seq[StatisticsFile] = Nil,
    // the spec's `partition-statistics` list: per-snapshot partition
    // rollup files (see GraftTable.computePartitionStats)
    partitionStatistics: Seq[StatisticsFile] = Nil,
    // v3 row lineage: the next row id to assign (spec `next-row-id`).
    // Every commit that adds data files on a v3 table claims a
    // contiguous id block per file (entry field 142 `first_row_id`) and
    // advances this counter — row ids are unique for the table's
    // lifetime, never reused even across deletes
    nextRowId: Option[Long] = None) {

  /** Current schema: top-level `schema` wins, else `schemas[]` entry whose
    * schema-id equals current-schema-id (reference parity, see scaladoc). */
  def currentSchema: IcebergSchema =
    topLevelSchema.orElse(currentSchemaId.flatMap(id => schemas.find(_.schemaId == id)))
      .getOrElse(throw new IllegalArgumentException(
        "metadata has neither a top-level schema nor a resolvable current-schema-id"))

  /** The field-id → type-string dictionary driving bound decoding. */
  def fieldTypes: Map[Int, String] =
    currentSchema.fields.map(f => f.id -> f.fieldType).toMap

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  /** Head-first ancestor chain from `head` (inclusive), following
    * parent-snapshot-id — the lineage rollback, cherry-pick and ancestry
    * guards reason over. Defaults to main's head. Only EXISTING
    * snapshots are emitted: a mid-history expiry (targeted
    * snapshot_ids, or age policy around a pinned ancestor) leaves the
    * next parent id dangling, and a ghost id in the chain would waste a
    * keepLast slot and poison membership checks — the chain honestly
    * STOPS at the hole (ancestry beyond it is no longer provable). */
  def lineage(head: Option[Long] = currentSnapshotId): Seq[Long] =
    Iterator.iterate(head)(_.flatMap(id => snapshot(id).flatMap(_.parentSnapshotId)))
      .takeWhile(_.exists(id => snapshot(id).isDefined)).map(_.get).toSeq

  /** A ref is LIVE state only when it is explicitly a branch; tags — and
    * unknown ref kinds, conservatively — are archival points whose reads
    * resolve the SNAPSHOT's schema. One polarity, shared by every read
    * route (GraftTable.read and the catalog's VERSION AS OF), so the two
    * can never disagree on the same ref. */
  def isBranchRef(name: String): Boolean =
    refs.exists(r => r.name == name && r.refType == "branch")

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshot)

  /** Snapshot current as of a wall-clock time (time travel over the
    * snapshot-log, latest entry at-or-before ts). */
  def snapshotAsOf(timestampMs: Long): Option[Snapshot] =
    snapshotLog.filter(_.timestampMs <= timestampMs)
      .sortBy(_.timestampMs).lastOption.flatMap(e => snapshot(e.snapshotId))
}

object TableMetadata {
  private val mapper = new ObjectMapper()

  def parse(json: String): TableMetadata = fromNode(mapper.readTree(json))

  /** Parse the document at `path` on its own filesystem (any scheme). */
  def parseFile(path: String): TableMetadata =
    parse(new String(HadoopConfs.readFully(path), java.nio.charset.StandardCharsets.UTF_8))

  private def optNode(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)

  private def strMap(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def parseSchema(n: JsonNode): IcebergSchema = IcebergSchema(
    schemaId = optNode(n, "schema-id").map(_.asInt).getOrElse(0),
    fields = n.get("fields").elements().asScala.map { f =>
      // Non-primitive (nested) types come through as JSON objects; keep
      // their canonical JSON so callers can detect and skip them.
      val t = f.get("type")
      IcebergField(f.get("id").asInt, f.get("name").asText,
        f.get("required").asBoolean, if (t.isTextual) t.asText else t.toString,
        Option(f.get("doc")).filter(_.isTextual).map(_.asText),
        initialDefault = optNode(f, "initial-default").map(_.toString),
        writeDefault = optNode(f, "write-default").map(_.toString))
    }.toSeq)

  private def parsePartitionFields(n: JsonNode): Seq[PartitionField] =
    n.elements().asScala.map { f =>
      PartitionField(f.get("name").asText, f.get("transform").asText,
        f.get("source-id").asInt, f.get("field-id").asInt)
    }.toSeq

  def fromNode(root: JsonNode): TableMetadata = TableMetadata(
    formatVersion = optNode(root, "format-version").map(_.asInt).getOrElse(1),
    tableUuid = optNode(root, "table-uuid").map(_.asText).getOrElse(""),
    location = optNode(root, "location").map(_.asText).getOrElse(""),
    lastUpdatedMs = optNode(root, "last-updated-ms").map(_.asLong).getOrElse(0L),
    topLevelSchema = optNode(root, "schema").map(parseSchema),
    currentSchemaId = optNode(root, "current-schema-id").map(_.asInt),
    schemas = optNode(root, "schemas").map(_.elements().asScala.map(parseSchema).toSeq).getOrElse(Nil),
    partitionSpecs = optNode(root, "partition-specs").map(_.elements().asScala.map { s =>
      PartitionSpec(s.get("spec-id").asInt, parsePartitionFields(s.get("fields")))
    }.toSeq).getOrElse {
      // v1 tables may carry only the flat `partition-spec` list.
      optNode(root, "partition-spec").map(f => Seq(PartitionSpec(0, parsePartitionFields(f)))).getOrElse(Nil)
    },
    defaultSpecId = optNode(root, "default-spec-id").map(_.asInt).getOrElse(0),
    sortOrders = optNode(root, "sort-orders").map(_.elements().asScala.map { o =>
      SortOrder(o.get("order-id").asInt,
        optNode(o, "fields").map(_.elements().asScala.map { f =>
          SortField(f.get("transform").asText, f.get("source-id").asInt,
            f.get("direction").asText, f.get("null-order").asText)
        }.toSeq).getOrElse(Nil))
    }.toSeq).getOrElse(Nil),
    defaultSortOrderId = optNode(root, "default-sort-order-id").map(_.asInt).getOrElse(0),
    properties = optNode(root, "properties").map(strMap).getOrElse(Map.empty),
    currentSnapshotId = optNode(root, "current-snapshot-id").map(_.asLong).filter(_ != -1L),
    refs = optNode(root, "refs").map(_.properties().asScala.map { e =>
      SnapshotRef(e.getKey, e.getValue.get("type").asText,
        e.getValue.get("snapshot-id").asLong,
        maxRefAgeMs = optNode(e.getValue, "max-ref-age-ms").map(_.asLong),
        minSnapshotsToKeep = optNode(e.getValue, "min-snapshots-to-keep").map(_.asInt),
        maxSnapshotAgeMs = optNode(e.getValue, "max-snapshot-age-ms").map(_.asLong))
    }.toSeq).getOrElse(Nil),
    snapshots = optNode(root, "snapshots").map(_.elements().asScala.map { s =>
      val summary = optNode(s, "summary").map(strMap).getOrElse(Map.empty)
      Snapshot(
        s.get("snapshot-id").asLong,
        optNode(s, "parent-snapshot-id").map(_.asLong),
        s.get("timestamp-ms").asLong,
        summary.get("operation"),
        summary - "operation",
        optNode(s, "manifest-list").map(_.asText),
        optNode(s, "schema-id").map(_.asInt))
    }.toSeq).getOrElse(Nil),
    snapshotLog = optNode(root, "snapshot-log").map(_.elements().asScala.map { e =>
      SnapshotLogEntry(e.get("timestamp-ms").asLong, e.get("snapshot-id").asLong)
    }.toSeq).getOrElse(Nil),
    metadataLog = optNode(root, "metadata-log").map(_.elements().asScala.map { e =>
      MetadataLogEntry(e.get("timestamp-ms").asLong, e.get("metadata-file").asText)
    }.toSeq).getOrElse(Nil),
    statistics = optNode(root, "statistics").map(_.elements().asScala.map { e =>
      StatisticsFile(e.get("snapshot-id").asLong, e.get("statistics-path").asText,
        optNode(e, "file-size-in-bytes").map(_.asLong).getOrElse(0L))
    }.toSeq).getOrElse(Nil),
    partitionStatistics = optNode(root, "partition-statistics")
      .map(_.elements().asScala.map { e =>
        StatisticsFile(e.get("snapshot-id").asLong, e.get("statistics-path").asText,
          optNode(e, "file-size-in-bytes").map(_.asLong).getOrElse(0L))
      }.toSeq).getOrElse(Nil),
    nextRowId = optNode(root, "next-row-id").map(_.asLong))
}

package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.{Literal, Transform}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.iceberg.{GraftTable, HadoopConfs, IcebergField, IcebergSchema,
  IcebergTypes, MetadataWriter, OptimisticCommit, PartitionField,
  PartitionSpec, SortField, SortOrder, TableMetadata}

/** A Spark `TableCatalog` over graft tables — the piece that makes plain
  * SQL work end-to-end:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/wh")
  *   CREATE TABLE graft.db.events (id BIGINT, name STRING)
  *     PARTITIONED BY (bucket(8, id))
  *   INSERT INTO graft.db.events SELECT ...
  *   DELETE FROM graft.db.events WHERE id = 7
  *   SELECT ... FROM graft.db.events
  *   ALTER TABLE graft.db.events ADD COLUMN note STRING
  * }}}
  *
  * Every statement lands on the same machinery the programmatic API
  * uses: CREATE → GraftTable.create under `<warehouse>/<ns...>/<name>`;
  * INSERT → the DSv2 write path (task-written files, inline bound stats,
  * CAS append snapshot; hidden-partitioned layouts included); DELETE →
  * `SupportsDelete` translating the pushed predicate into
  * GraftTable.deleteWhere (the table's live rows scanned through the
  * DSv2 reader, a position-delete commit — merge-on-read, no rewrite);
  * SELECT → the DSv2 scan with its two-level pruning and
  * task-local MOR; ADD COLUMN → a CAS schema-evolution commit. Catalog
  * state is NOTHING but the table directories — concurrent engines
  * coordinate through the versioned metadata documents alone, exactly
  * the HadoopCatalog model. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with ViewCatalog with FunctionCatalog
    with StagingTableCatalog {

  /** The Iceberg partition-transform functions ([[GraftFunctions]]),
    * resolvable both at the catalog root — where Catalyst's
    * `V2ExpressionUtils` looks them up to turn a scan's reported
    * `KeyGroupedPartitioning(bucket(n, col))` into a comparable catalyst
    * partitioning (the storage-partitioned-join path) — and under the
    * `system` namespace for SQL calls (`graft.system.bucket(8, k)`). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftFunctions.names.map(Identifier.of(namespace, _)).toArray
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")))
      GraftFunctions.load(ident.name()).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.warehouse"))
    // VARIANT tables need Spark-native rewrites (compaction, COW merge)
    // to stay in the UNSHREDDED layout the engine's writers speak —
    // pin it for any session that mounts this catalog (harmless
    // otherwise; shredding only serves Spark-reader-side pushdown)
    scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
      .set("spark.sql.variant.writeShredding.enabled", "false"))
  }

  override def name(): String = catalogName

  /** The ident's slot in the warehouse layout — where a normal table's
    * files live, and where a REGISTERED table keeps its pointer file. */
  private def layoutDir(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  /** The directory every operation actually works against: the layout
    * dir itself, unless `register_table` left a pointer there — then the
    * adopted table's own directory (scans, commits, procedures all land
    * in the ORIGINAL location; the catalog entry is pure indirection). */
  private def tableDir(ident: Identifier): String =
    GraftCatalog.resolveRegistered(layoutDir(ident))

  /** A STALE registration (pointer whose target vanished) still counts
    * as existing: the identifier is occupied, and Spark's DropTableExec
    * consults this before calling dropTable — without it the dangling
    * pointer would be unremovable from SQL. */
  override def tableExists(ident: Identifier): Boolean =
    OptimisticCommit.currentVersion(tableDir(ident)) > 0 ||
      GraftCatalog.isRegistered(layoutDir(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val fs = HadoopConfs.fileSystemFor(dir)
    if (!fs.exists(new Path(dir))) Array.empty
    else fs.listStatus(new Path(dir)).filter(_.isDirectory)
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .filter(tableExists)
  }

  /** Metadata-table names resolvable as `<table>.<name>` (the Iceberg
    * identifier convention: `SELECT * FROM graft.db.t.snapshots`). */
  private val MetadataTableNames =
    Set("snapshots", "history", "refs", "metadata_log_entries", "manifests",
      "files", "data_files", "delete_files", "partitions", "all_manifests",
      "all_files", "all_data_files", "all_delete_files",
      "entries", "all_entries", "position_deletes")

  private def loadMetadataTable(ident: Identifier): Option[Table] = {
    if (ident.namespace().isEmpty || !MetadataTableNames.contains(ident.name())) return None
    val baseIdent = Identifier.of(ident.namespace().init, ident.namespace().last)
    if (!tableExists(baseIdent)) return None
    val spark = org.apache.spark.sql.SparkSession.active
    val meta = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(tableDir(baseIdent)))
    import graft.iceberg.MetadataTables
    // position_deletes is per-ROW (every deleted position), not per-file
    // — unlike the other metadata tables it is served as a REAL
    // distributed scan, one task per delete file, never a driver collect
    if (ident.name() == "position_deletes") {
      import graft.iceberg.{ManifestListReader, ManifestWriter}
      val entries = meta.currentSnapshot.flatMap(_.manifestList).toSeq
        .flatMap(ManifestListReader.read).filter(_.content == 1)
        .flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 1)
      return Some(new GraftPosDeletesTable(s"$catalogName.${ident.toString}", entries))
    }
    val df = ident.name() match {
      case "snapshots" => MetadataTables.snapshots(spark, meta)
      case "history" => MetadataTables.history(spark, meta)
      case "refs" => MetadataTables.refs(spark, meta)
      case "metadata_log_entries" => MetadataTables.metadataLog(spark, meta)
      case "partitions" => MetadataTables.partitions(spark, meta)
      case "all_manifests" => MetadataTables.allManifests(spark, meta)
      case "all_files" => MetadataTables.allFiles(spark, meta)
      // upstream's content-sliced variants of all_files: every snapshot's
      // data / delete halves (same driver-scale manifest sweep, filtered)
      case "all_data_files" =>
        MetadataTables.allFiles(spark, meta).filter("content = 0")
      case "all_delete_files" =>
        MetadataTables.allFiles(spark, meta).filter("content != 0")
      case "entries" => MetadataTables.entries(spark, meta)
      case "all_entries" => MetadataTables.allEntries(spark, meta)
      case "manifests" =>
        val list = meta.currentSnapshot.flatMap(_.manifestList).getOrElse(
          throw new IllegalArgumentException("table has no current snapshot"))
        MetadataTables.manifests(spark, list)
      case "files" | "data_files" | "delete_files" =>
        // built from the core entry fields OUR manifests carry (the
        // generic files table projects columns a reduced-schema manifest
        // lacks); one concurrent driver read per manifest, KB-scale.
        // `delete_files` is the delete-side half: position (content 1)
        // and equality (content 2) delete files with their sequence —
        // what a user inspects to see MOR debt accumulate and compaction
        // clear it
        import spark.implicits._
        val wantDeletes = ident.name() == "delete_files"
        val wantData = ident.name() == "data_files"
        val infos = meta.currentSnapshot.flatMap(_.manifestList).toSeq
          .flatMap(graft.iceberg.ManifestListReader.read)
        graft.iceberg.Par.inParallel(infos)(i =>
            (i, graft.iceberg.ManifestWriter.read(i.path)))
          .flatMap { case (i, es) => es.filter(e => e.status != 2 &&
              (if (wantDeletes) e.content != 0
               else if (wantData) e.content == 0 else true)).map(e =>
            (i.path, e.content, e.filePath, e.recordCount, e.fileSizeInBytes,
              e.sequenceNumber.getOrElse(i.sequenceNumber))) }
          .toDF("manifest_path", "content", "file_path", "record_count",
            "file_size_in_bytes", "sequence_number")
    }
    Some(new GraftLocalTable(s"$catalogName.${ident.toString}", df))
  }

  /** `db.t.branch_<name>` / `db.t.tag_<name>` — Iceberg's ref-suffixed
    * identifiers. Branch: reads resolve the branch head, writes (INSERT
    * INTO) stage appends that move ONLY the branch ref. Tag: read-only —
    * a tag pins a snapshot, so every write surface refuses loudly
    * instead of silently landing the commit on main. The ref must exist
    * (create it with `CALL <cat>.system.create_branch` / `create_tag`)
    * — a typo'd suffix must not silently fork a new lineage. */
  private def loadBranchTable(ident: Identifier): Option[Table] = {
    if (ident.namespace().isEmpty) return None
    val kind =
      if (ident.name().startsWith("branch_")) "branch"
      else if (ident.name().startsWith("tag_")) "tag"
      else return None
    val baseIdent = Identifier.of(ident.namespace().init, ident.namespace().last)
    if (!tableExists(baseIdent)) return None
    val refName = ident.name().stripPrefix(kind + "_")
    val metaPath = GraftTable.latestMetadataPath(tableDir(baseIdent))
    val meta = TableMetadata.parseFile(metaPath)
    require(meta.refs.exists(r => r.name == refName && r.refType == kind),
      s"no $kind '$refName' on table ${baseIdent.name()} — " +
        s"CALL <catalog>.system.create_$kind first")
    // the one time-travel schema rule (GraftTable.readMeta), same as
    // VERSION AS OF: a tag is an archival point and reads under its
    // SNAPSHOT's schema; a branch is live state on the current schema
    Some(GraftSparkTable.at(metaPath, meta, ref = Some(refName),
      writeBranch = if (kind == "branch") Some(refName) else None,
      refuseWriteReason = if (kind == "tag")
        Some(s"'$refName' is a TAG — tags pin immutable snapshots; " +
          "write to the table or a branch instead") else None))
  }

  /** A registered identifier whose TARGET vanished (dropped through its
    * owning catalog — the shared-ownership hazard register_table
    * documents): still resolvable, as a capability-less stub, so SQL
    * `DROP TABLE` can clear the dangling pointer — but nothing else
    * works on it. Without this, the pointer would be unremovable from
    * SQL (resolution fails before dropTable is ever called). */
  private def staleRegisteredTable(ident: Identifier): Option[Table] =
    if (!GraftCatalog.isRegistered(layoutDir(ident))) None
    else Some(new Table {
      override def name(): String =
        s"$catalogName.$ident (registered to a missing table at " +
          s"${GraftCatalog.resolveRegistered(layoutDir(ident))} — DROP to clear)"
      override def schema(): StructType = new StructType()
      override def capabilities(): util.Set[TableCapability] =
        util.Collections.emptySet()
    })

  override def loadTable(ident: Identifier): Table = {
    // resolve the pointer ONCE per load: each tableDir() call is a
    // filesystem probe (plus a read when a pointer exists) — on an
    // object store that is extra round-trips on the hottest metadata path
    val dir = tableDir(ident)
    if (OptimisticCommit.currentVersion(dir) == 0) {
      loadBranchTable(ident).orElse(loadMetadataTable(ident))
        .orElse(staleRegisteredTable(ident)) match {
        case Some(t) => return t
        case None => throw new NoSuchTableException(ident)
      }
    }
    val metaPath = GraftTable.latestMetadataPath(dir)
    val meta = TableMetadata.parseFile(metaPath)
    GraftSparkTable.at(metaPath, meta)
  }

  /** SQL `VERSION AS OF <v>` — a numeric version is a snapshot id, any
    * other string resolves as a ref name (tag or branch), Iceberg's
    * convention for both; the schema is the snapshot's unless the ref is
    * a branch ([[GraftTable.readMeta]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val metaPath = GraftTable.latestMetadataPath(tableDir(ident))
    val meta = TableMetadata.parseFile(metaPath)
    val snapId = version.toLongOption
    val ref = if (snapId.isEmpty) Some(version) else None
    GraftSparkTable.at(metaPath, meta, snapId, ref)
  }

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch;
    * snapshot-log resolution wants millis. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val metaPath = GraftTable.latestMetadataPath(tableDir(ident))
    val meta = TableMetadata.parseFile(metaPath)
    GraftSparkTable.at(metaPath, meta, asOfTimestampMs = Some(timestampMicros / 1000L))
  }

  /** Spark column type → Iceberg type string — shared with the
    * `migrate` schema inference (IcebergTypes.fromSparkType): nested
    * types serialize as the spec's canonical JSON object forms with
    * outer-first nested-id allocation from the schema's id sequence. */
  private def icebergTypeName(dt: DataType, nextId: () => Int): String =
    IcebergTypes.fromSparkType(dt, nextId)

  /** Connector columns → Iceberg fields with ids startId+1…startId+n;
    * nested (list-element/map/struct) ids allocate AFTER the top-level
    * fields from the same shared sequence — the Iceberg id-assignment
    * convention. CREATE starts at 0; REPLACE starts above every id any
    * historical schema ever used (old snapshots keep their schemas, so a
    * reused id would alias two unrelated columns in the bound stats). */
  private def buildFields(columns: Array[Column], startId: Int): Seq[IcebergField] = {
    val nestedId = new java.util.concurrent.atomic.AtomicInteger(startId + columns.length)
    columns.toSeq.zipWithIndex.map { case (c, i) =>
      val typeName = icebergTypeName(c.dataType(), () => nestedId.incrementAndGet())
      IcebergField(startId + i + 1, c.name(), required = false, typeName,
        doc = Option(c.comment()).filter(_.nonEmpty),
        // CREATE TABLE (c T DEFAULT v): both defaults start as v — there
        // are no pre-existing rows, so initial-default is vacuous but
        // harmless, and write-default is what omitted INSERT columns get
        initialDefault = defaultJson(c.defaultValue(), typeName, c.name()),
        writeDefault = defaultJson(c.defaultValue(), typeName, c.name()))
    }
  }

  /** Spark partition transforms → Iceberg spec fields, ids from
    * firstFieldId (1000 for a fresh table; above the historical max for
    * REPLACE — specs are versioned and never reuse ids). */
  private def buildSpecFields(partitions: Array[Transform],
      idByName: Map[String, Int], firstFieldId: Int): Seq[PartitionField] =
    partitions.toSeq.zipWithIndex.map { case (t, i) =>
      val refs = t.references()
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"unsupported partition reference in $t")
      val colName = refs.head.fieldNames().head
      val srcId = idByName.getOrElse(colName, throw new IllegalArgumentException(
        s"partition column $colName not in schema"))
      def intArg(what: String): Int = t.arguments().collectFirst {
        case l: Literal[_] => l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(s"$what without N in $t"))
      // Spark's parser emits plural names (years(ts)); Iceberg's spec
      // strings are singular — accept both, persist singular (what the
      // planner's transform-space pruning and the task writers evaluate)
      t.name() match {
        case "identity" =>
          PartitionField(s"${colName}_id", "identity", srcId, firstFieldId + i)
        case "bucket" =>
          PartitionField(s"${colName}_bucket", s"bucket[${intArg("bucket")}]",
            srcId, firstFieldId + i)
        case "truncate" =>
          PartitionField(s"${colName}_trunc", s"truncate[${intArg("truncate")}]",
            srcId, firstFieldId + i)
        case "year" | "years" =>
          PartitionField(s"${colName}_year", "year", srcId, firstFieldId + i)
        case "month" | "months" =>
          PartitionField(s"${colName}_month", "month", srcId, firstFieldId + i)
        case "day" | "days" =>
          PartitionField(s"${colName}_day", "day", srcId, firstFieldId + i)
        case "hour" | "hours" =>
          PartitionField(s"${colName}_hour", "hour", srcId, firstFieldId + i)
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform $other — supported: identity, " +
            "bucket(N, col), truncate(W, col), years/months/days/hours(col)")
      }
    }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // a STALE pointer (registered table whose target is gone) must not
    // let CREATE silently materialize a new table inside the dead
    // target's directory — the identifier is occupied until dropped
    if (OptimisticCommit.currentVersion(tableDir(ident)) == 0)
      require(!GraftCatalog.isRegistered(layoutDir(ident)),
        s"$ident is registered to a missing table " +
          s"(${GraftCatalog.resolveRegistered(layoutDir(ident))}) — DROP it first")
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      (ident.namespace() :+ ident.name()).toSeq)
    val fields = buildFields(columns, startId = 0)
    val specFields = buildSpecFields(partitions,
      fields.map(f => f.name -> f.id).toMap, firstFieldId = 1000)
    // default to the real clock so SQL `TIMESTAMP AS OF <wall-clock>`
    // resolves correctly on catalog-created tables; tests and oracle
    // fixtures opt into determinism via the commit-timestamp-ms property
    val t0 = Option(properties.get("commit-timestamp-ms")).map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val userProps = userTableProps(properties)
    // variant is a v3 type (spec: Version 3 types)
    require(!fields.exists(_.fieldType == "variant") ||
        Option(properties.get("format-version")).exists(_.trim.toInt >= 3),
      "variant columns need a v3 table — " +
        "CREATE TABLE … TBLPROPERTIES ('format-version'='3')")
    GraftTable.create(tableDir(ident), IcebergSchema(0, fields),
      tableUuid = java.util.UUID.randomUUID().toString, timestampMs = t0,
      spec = PartitionSpec(0, specFields), properties = userProps,
      formatVersion = Option(properties.get("format-version"))
        .map(_.trim.toInt).getOrElse(2))
    loadTable(ident)
  }

  /** Persist user TBLPROPERTIES (write.update.mode=merge-on-read etc.);
    * Spark's own bookkeeping keys stay out of the document, and
    * format-version routes to the METADATA FIELD (spec: a document
    * field, not a property) — CREATE … ('format-version'='3') makes a
    * v3 table whose DELETEs write deletion vectors from commit one. */
  private def userTableProps(properties: util.Map[String, String]): Map[String, String] =
    properties.asScala.toMap -- Seq(
      "provider", "location", "owner", "external", "commit-timestamp-ms",
      "format-version") --
      properties.asScala.keys.filter(_.startsWith("option."))

  // ------------------------------------------------ StagingTableCatalog
  /** Atomic `[CREATE OR] REPLACE TABLE [AS SELECT]` and atomic CTAS.
    * Without this interface Spark falls back to DROP-then-CREATE: a
    * failed RTAS leaves the table DESTROYED, and a successful one starts
    * a fresh history (no time travel past the replace). Staged here:
    *
    *   - data files land in the real table directory during the write
    *     but are INVISIBLE — nothing references a file until a metadata
    *     document does (the Iceberg visibility model), so a reader
    *     between stage and commit sees the old table unchanged;
    *   - the staged write plans against a SCRATCH metadata document
    *     (`staged-<uuid>.metadata.json`, never part of the version
    *     chain) carrying the new schema/spec/properties, so the new
    *     partition layout and write format govern the staged files;
    *   - `commitStagedChanges` lands everything in ONE CAS commit
    *     ([[GraftTable.commitReplaceTable]]): new schema + spec appended
    *     (history stays time-travelable under its own schema ids),
    *     properties replaced, and a truncate-overwrite snapshot listing
    *     only the staged files;
    *   - `abortStagedChanges` deletes the staged files and scratch
    *     document — the table never saw anything.
    *
    * Staged CREATE (atomic CTAS) reuses [[createTable]] and makes abort
    * drop the directory; its one non-atomic window is an empty table
    * visible between stage and commit — the same boundary Iceberg's
    * HadoopCatalog draws (a filesystem catalog has no rename-into-place
    * for a whole directory). */
  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : StagedTable = {
    createTable(ident, columns, partitions, properties)
    val dir = tableDir(ident)
    new StagedGraftTable(fullName(ident), GraftTable.latestMetadataPath(dir),
      onCommit = files => {
        val live = dropEmpty(files)
        if (live.nonEmpty) {
          // CTAS under a staging session: when the NEW table opts into
          // WAP, its initial snapshot stages like any other append (the
          // table is created, its rows invisible until publish_changes)
          // — this wrapper bypasses the inner builder's wap capture, so
          // the decision re-derives here from the CREATE's properties
          val wapId = GraftTable.sessionWapId
          val opted = Option(properties.get("write.wap.enabled")).contains("true")
          GraftTableWrites.commit(dir, live,
            extraSummary = wapId.map("wap.id" -> _).toMap,
            stage = wapId.isDefined && opted)
        }
      },
      onAbort = _ => dropTable(ident))
  }

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stagedReplace(ident, columns, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : StagedTable =
    if (tableExists(ident)) stagedReplace(ident, columns, partitions, properties)
    else stageCreate(ident, columns, partitions, properties)

  private def fullName(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  /** Empty task partitions add no file — same rule as the direct
    * BatchWrite.commit route: delete the zero-row task files before the
    * metadata commit so an abort cannot leak them. */
  private def dropEmpty(files: Seq[GraftFileMessage]): Seq[GraftFileMessage] = {
    GraftTableWrites.drop(files.filter(_.rows == 0))
    files.filter(_.rows > 0)
  }

  private def stagedReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String])
      : StagedTable = {
    val dir = tableDir(ident)
    val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    require(Option(properties.get("format-version"))
        .forall(_.trim.toInt == base.formatVersion),
      "REPLACE cannot change format-version — run the upgrade path first")
    // legacy/foreign v1 documents may carry ONLY a top-level schema —
    // fold it in so id allocation sees every schema the table ever had
    // (dedup by schema-id: standard v1 writers fill both slots)
    val allSchemas = base.schemas ++ base.topLevelSchema
      .filterNot(t => base.schemas.exists(_.schemaId == t.schemaId))
    // new field ids allocate above every id ANY historical schema ever
    // used, nested ids included (they live inside the type JSON): old
    // snapshots keep their schemas, and a reused id would alias two
    // unrelated columns in the stats of time-traveled reads
    val IdRe = """"(?:id|element-id|key-id|value-id)"\s*:\s*(\d+)""".r
    val maxId = (allSchemas.flatMap(_.fields.map(_.id)) ++
      allSchemas.flatMap(_.fields.flatMap(f =>
        IdRe.findAllMatchIn(f.fieldType).map(_.group(1).toInt))) :+ 0).max
    val fields = buildFields(columns, startId = maxId)
    val newSchema = IcebergSchema((allSchemas.map(_.schemaId) :+ -1).max + 1, fields)
    val firstPf = (base.partitionSpecs.flatMap(_.fields.map(_.fieldId)) :+ 999).max + 1
    val newSpec = PartitionSpec((base.partitionSpecs.map(_.specId) :+ -1).max + 1,
      buildSpecFields(partitions, fields.map(f => f.name -> f.id).toMap, firstPf))
    require(!fields.exists(_.fieldType == "variant") || base.formatVersion >= 3,
      "variant columns need a v3 table")
    val props = userTableProps(properties)
    // the scratch document the staged write plans against — the real
    // version chain (v<N>.metadata.json) never references it
    val stagedPath = s"$dir/staged-${java.util.UUID.randomUUID()}.metadata.json"
    MetadataWriter.write(stagedPath, base.copy(topLevelSchema = None,
      schemas = base.schemas :+ newSchema,
      currentSchemaId = Some(newSchema.schemaId),
      partitionSpecs = base.partitionSpecs :+ newSpec,
      defaultSpecId = newSpec.specId,
      sortOrders = Seq(SortOrder(0, Nil)), defaultSortOrderId = 0,
      properties = Map("graft.metrics" -> "full") ++ props))
    def dropStaged(): Unit = HadoopConfs.fileSystemFor(stagedPath)
      .delete(new Path(stagedPath), false)
    new StagedGraftTable(fullName(ident), stagedPath,
      onCommit = files =>
        try GraftTable.commitReplaceTable(dir, newSchema, newSpec, props,
          dropEmpty(files).map(GraftTableWrites.pending))
        finally dropStaged(),
      onAbort = files => {
        files.foreach(m => HadoopConfs.fileSystemFor(m.path)
          .delete(new Path(m.path), false))
        dropStaged()
      })
  }

  /** v3 column defaults: Spark routes `CREATE TABLE (c T DEFAULT v)` /
    * `ALTER COLUMN SET DEFAULT` to V2 catalogs only when the catalog
    * declares the capability. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** A connector default → the Iceberg JSON single-value text. Only
    * LITERAL defaults persist (Iceberg's rule — a default is a value,
    * not an expression); anything else refuses at DDL time. */
  private def defaultJson(dv: org.apache.spark.sql.connector.catalog.DefaultValue,
      icebergTypeStr: String, colName: String): Option[String] =
    Option(dv).map { d =>
      val lit = d match {
        case c: ColumnDefaultValue => c.getValue
        case other => other.getExpression match {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] => l
          case _ => throw new UnsupportedOperationException(
            s"DEFAULT for column $colName must be a literal value, got ${other.getSql}")
        }
      }
      require(lit != null,
        s"DEFAULT for column $colName must be a literal value")
      val t = IcebergTypes.fromStringOpt(icebergTypeStr).getOrElse(
        throw new UnsupportedOperationException(
          s"DEFAULT not supported for column $colName of type $icebergTypeStr"))
      graft.iceberg.DefaultValues.toJson(t,
        graft.iceberg.DefaultValues.internalToExternal(lit.dataType(), lit.value()))
    }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft catalog supports top-level ADD COLUMN only")
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val cur = base.currentSchema
        val name = add.fieldNames().head
        // a name already in the CURRENT schema is a hard error (Spark's
        // analyzer usually rejects it first, but appending a duplicate
        // name with a fresh id would corrupt the schema outright under
        // this engine's name-based column resolution)
        require(!cur.fields.exists(_.name == name),
          s"column '$name' already exists")
        // and this engine resolves file columns BY NAME: re-adding a name
        // any historical schema ever carried would resurrect the old
        // files' values instead of null-filling (Iceberg avoids this with
        // field-id resolution) — refuse rather than silently corrupt
        require(!base.schemas.exists(s => s.schemaId != cur.schemaId &&
            s.fields.exists(_.name == name)),
          s"column name '$name' was used by an earlier schema of this table; " +
            "re-adding it would resurrect old file contents under name-based " +
            "resolution — pick a fresh name")
        val nextId = base.schemas.flatMap(_.fields.map(_.id)).max + 1
        val nestedId = new java.util.concurrent.atomic.AtomicInteger(nextId)
        val typeName = icebergTypeName(add.dataType(), () => nestedId.incrementAndGet())
        // variant is a v3 type (spec: Version 3 types)
        require(typeName != "variant" || base.formatVersion >= 3,
          "variant columns need format-version 3 — " +
            "ALTER TABLE … SET TBLPROPERTIES ('format-version'='3') first")
        // ADD COLUMN ... DEFAULT v: initial-default makes every PRE-
        // EXISTING row read v (the readers fill it where the file lacks
        // the column), write-default covers future omitted INSERTs
        val dflt = defaultJson(add.defaultValue(), typeName, name)
        GraftTable.evolveSchema(dir, IcebergSchema(
          base.schemas.map(_.schemaId).max + 1,
          cur.fields :+ IcebergField(nextId, name, required = false, typeName,
            initialDefault = dflt, writeDefault = dflt)))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graft catalog supports top-level DROP COLUMN only")
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val cur = base.currentSchema
        val name = del.fieldNames().head
        val field = cur.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no such column $name"))
        // a partition SOURCE cannot be dropped — the spec's transforms
        // would dangle (Iceberg refuses the same way)
        require(!base.partitionSpecs.exists(_.fields.exists(_.sourceId == field.id)),
          s"cannot drop column $name: it is a partition source of an active spec")
        GraftTable.evolveSchema(dir, IcebergSchema(
          base.schemas.map(_.schemaId).max + 1,
          cur.fields.filterNot(_.name == name)))
      // ALTER TABLE t ALTER COLUMN c TYPE BIGINT — Iceberg's safe type
      // WIDENING set only (int→long, float→double): values promote
      // losslessly, bucket transforms hash identically across the
      // promotion (the spec fixes the 8-byte layout for both widths),
      // and readers promote the old files' narrower physical types.
      // Anything else (narrowing, cross-family) is refused.
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "graft catalog supports top-level ALTER COLUMN TYPE only")
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val cur = base.currentSchema
        val name = upd.fieldNames().head
        val field = cur.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no such column $name"))
        val widened = (field.fieldType, upd.newDataType()) match {
          case ("int", LongType) => "long"
          case ("float", DoubleType) => "double"
          case (from, to) => throw new UnsupportedOperationException(
            s"cannot change column $name from $from to $to — " +
              "supported widenings: int->bigint, float->double")
        }
        GraftTable.evolveSchema(dir, IcebergSchema(
          base.schemas.map(_.schemaId).max + 1,
          cur.fields.map(f =>
            if (f.name == name) f.copy(fieldType = widened) else f)))
      // ALTER TABLE t SET TBLPROPERTIES ('write.sort-order' = 'k DESC, v')
      // — the SQL route to sort-order evolution: the property value parses
      // as an ORDER BY list and lands as a metadata-only sort-orders[]
      // commit; subsequent writes range-distribute + sort on it (the i35
      // contract: disjoint per-file bound ranges, read-side prunable).
      case set: TableChange.SetProperty if set.property() == "write.sort-order" =>
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val fields = set.value().split(",").map(_.trim).filter(_.nonEmpty).map { spec =>
          val toks = spec.split("\\s+").toSeq
          val colName = toks.head
          val rest = toks.tail.map(_.toUpperCase).mkString(" ")
          val f = base.currentSchema.fields.find(_.name == colName).getOrElse(
            throw new IllegalArgumentException(s"sort column '$colName' not in schema"))
          val desc = rest.contains("DESC")
          // Iceberg defaults: ASC sorts nulls first, DESC sorts nulls last
          val nullOrder =
            if (rest.contains("NULLS FIRST")) "nulls-first"
            else if (rest.contains("NULLS LAST")) "nulls-last"
            else if (desc) "nulls-last" else "nulls-first"
          SortField("identity", f.id, if (desc) "desc" else "asc", nullOrder)
        }.toSeq
        require(fields.nonEmpty, "write.sort-order must name at least one column")
        GraftTable.evolveSortOrder(dir,
          SortOrder(base.sortOrders.map(_.orderId).maxOption.getOrElse(0) + 1, fields))
      // ALTER TABLE t ALTER COLUMN c COMMENT '…' — the Iceberg schema
      // `doc` string, a metadata-only schema commit (DESCRIBE surfaces
      // it through the StructField comment)
      case cm: TableChange.UpdateColumnComment =>
        require(cm.fieldNames().length == 1,
          "graft catalog supports top-level column comments only")
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val cur = base.currentSchema
        val name = cm.fieldNames().head
        require(cur.fields.exists(_.name == name), s"no such column $name")
        GraftTable.evolveSchema(dir, IcebergSchema(
          base.schemas.map(_.schemaId).max + 1,
          cur.fields.map(f => if (f.name == name)
            f.copy(doc = Option(cm.newComment()).filter(_.nonEmpty)) else f)))
      // ALTER TABLE t RENAME COLUMN a TO b — a metadata-only commit: the
      // field keeps its ID (and therefore its bound stats, partition
      // sources, and sort references), only the name advances. Files
      // written before the rename keep the old physical name; every read
      // route resolves them through the field-id name history
      // (GraftTable.nameAlternates). The new name must be FRESH across
      // the whole schema history unless it returns to a name this same
      // field carried before — under name-based file resolution, reusing
      // another field's historical name would resurrect old file contents
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "graft catalog supports top-level RENAME COLUMN only")
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val cur = base.currentSchema
        val from = rn.fieldNames().head
        val to = rn.newName()
        val field = cur.fields.find(_.name == from).getOrElse(
          throw new IllegalArgumentException(s"no such column $from"))
        require(!cur.fields.exists(_.name == to),
          s"column '$to' already exists")
        require(!base.schemas.exists(_.fields.exists(f =>
            f.name == to && f.id != field.id)),
          s"column name '$to' was used by an earlier schema of this table " +
            "for a different field; reusing it would resurrect old file " +
            "contents under name-based resolution — pick a fresh name")
        GraftTable.evolveSchema(dir, IcebergSchema(
          base.schemas.map(_.schemaId).max + 1,
          cur.fields.map(f => if (f.id == field.id) f.copy(name = to) else f)))
      // ALTER COLUMN c SET DEFAULT v / DROP DEFAULT: updates the WRITE
      // default only — initial-default is immutable once set (it
      // describes rows that predate the column; changing it would
      // retroactively rewrite history)
      case ud: TableChange.UpdateColumnDefaultValue =>
        require(ud.fieldNames().length == 1,
          "graft catalog supports top-level ALTER COLUMN DEFAULT only")
        val base = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
        val cur = base.currentSchema
        val name = ud.fieldNames().head
        val field = cur.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no such column $name"))
        val newDefault = defaultJson(ud.newCurrentDefault(), field.fieldType, name)
        GraftTable.evolveSchema(dir, IcebergSchema(
          base.schemas.map(_.schemaId).max + 1,
          cur.fields.map(f =>
            if (f.id == field.id) f.copy(writeDefault = newDefault) else f)))
      // ALTER TABLE t SET TBLPROPERTIES ('format-version'='3') — the
      // Iceberg upgrade spelling: routed to the metadata field, not the
      // property map (spec: format-version is a document field)
      case set: TableChange.SetProperty if set.property() == "format-version" =>
        GraftTable.upgradeFormatVersion(dir, set.value().trim.toInt)
      case set: TableChange.SetProperty =>
        GraftTable.setProperties(dir, Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        GraftTable.removeProperties(dir, Seq(rm.property()))
      case other => throw new UnsupportedOperationException(
        s"unsupported table change $other — supported: ADD COLUMN, DROP COLUMN, " +
          "RENAME COLUMN, ALTER COLUMN TYPE, ALTER COLUMN SET/DROP DEFAULT, " +
          "SET/UNSET TBLPROPERTIES")
    }
    loadTable(ident)
  }

  /** DROP deletes the LAYOUT dir: for a normal table that is the table
    * (files and all, as before); for a registered table it holds only
    * the pointer file — the adopted directory and its data survive,
    * exactly Iceberg's register_table drop contract. */
  override def dropTable(ident: Identifier): Boolean =
    (tableExists(ident) ||
      GraftCatalog.isRegistered(layoutDir(ident))) && // stale pointer still droppable
      HadoopConfs.fileSystemFor(layoutDir(ident))
        .delete(new Path(layoutDir(ident)), true)

  /** RENAME = one atomic directory move + a metadata-scale path rewrite.
    * Iceberg documents embed ABSOLUTE paths (metadata-log entries,
    * manifest-list locations, manifest paths, data-file paths), so a bare
    * move would strand every reference — after the move, every metadata
    * document, manifest list, and manifest under the table is rewritten
    * with the old prefix mapped to the new (KB-scale planning artifacts;
    * the data files themselves moved with the directory and are not
    * touched). The move is the atomic claim — a concurrent writer against
    * the old path fails its CAS refresh; readers between move and rewrite
    * retry (same boundary Iceberg's HadoopCatalog draws by refusing
    * rename outright — we choose the useful semantics instead). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(
      (newIdent.namespace() :+ newIdent.name()).toSeq)
    // rename moves the LAYOUT dir. For a registered table that moves the
    // pointer file alone — the adopted directory (and every absolute
    // path inside it) is untouched, so no rewrite runs.
    val oldPrefix = layoutDir(oldIdent)
    val newPrefix = layoutDir(newIdent)
    val fs = HadoopConfs.fileSystemFor(oldPrefix)
    val dst = new Path(newPrefix)
    fs.mkdirs(dst.getParent)
    require(fs.rename(new Path(oldPrefix), dst),
      s"filesystem refused to move $oldPrefix to $dst")
    if (!GraftCatalog.isRegistered(newPrefix))
      rewritePathPrefix(newPrefix, oldPrefix, newPrefix)
  }

  /** Rewrite every absolute path under `dir`'s metadata closure mapping
    * `oldPrefix` → `newPrefix`. Each shared artifact rewrites once.
    * Parquet position-delete files embed DATA-FILE paths in their rows
    * (and the entry's file_path bound stats) — those rewrite too; a
    * deletion vector's entry names its data file in `referencedDataFile`,
    * which maps like every path (the Puffin blob's own
    * `referenced-data-file` property keeps the old spelling: no reader
    * reads it); equality-delete files carry only column values and move
    * untouched. */
  private def rewritePathPrefix(dir: String, oldPrefix: String, newPrefix: String): Unit = {
    // substring replacement: older tables' delete-file rows may still
    // spell data files as `file:` URIs
    def map(p: String): String = p.replace(oldPrefix, newPrefix)
    import graft.iceberg.{ManifestListReader, ManifestListWriter, ManifestWriter,
      MetadataWriter, SingleValueCodec, IcebergTypes}
    val versions = 1 to OptimisticCommit.currentVersion(dir)
    val metas = versions.map(v =>
      (v, TableMetadata.parseFile(OptimisticCommit.metadataPath(dir, v))))
    val listPaths = metas.flatMap(_._2.snapshots.flatMap(_.manifestList))
      .distinct.map(map)
    val byList = listPaths.map(l => l -> ManifestListReader.read(l))
    val manifests = byList.flatMap(_._2.map(i => map(i.path))).distinct
      .map(m => m -> ManifestWriter.read(m))
    // position-delete FILE contents first (read original through the
    // position_deletes scan, swap in place); an empty file has no path to
    // rewrite and stays as it is
    val spark = org.apache.spark.sql.SparkSession.active
    val fs = HadoopConfs.fileSystemFor(dir)
    val rewrittenLength = manifests.flatMap(_._2)
      .filter(e => e.content == 1 && e.fileFormat == "PARQUET")
      .map(e => e.copy(filePath = map(e.filePath))).distinctBy(_.filePath).flatMap { e =>
        import org.apache.spark.sql.functions.{col, lit, replace}
        val f = e.filePath
        GraftTableWrites.writePositionDeleteFile(GraftPosDeletesTable.scan(spark, Seq(e))
          .select(replace(col("file_path"), lit(oldPrefix), lit(newPrefix)).as("file_path"),
            col("pos")), s"$f.rename-tmp").map { m =>
          fs.delete(new Path(f), false)
          require(fs.rename(new Path(m.path), new Path(f)), s"swap failed for $f")
          f -> m.bytes
        }
      }.toMap
    def mapBound(b: Map[Int, Array[Byte]]): Map[Int, Array[Byte]] =
      b.map { case (id, bytes) =>
        if (id == ManifestWriter.PosDeleteFilePathId && bytes.nonEmpty)
          id -> SingleValueCodec.encode(IcebergTypes.TString,
            map(SingleValueCodec.decode(IcebergTypes.TString, bytes).asInstanceOf[String]))
        else id -> bytes
      }
    // manifests (data-file paths + delete-entry path bounds), then lists
    // (manifest paths: each row keeps its fields and takes the rewritten
    // manifest's length), then the documents (list + log paths)
    val lengths = manifests.map { case (m, entries) =>
      m -> ManifestWriter.write(m, entries.map { e =>
        val mapped = e.copy(filePath = map(e.filePath),
          referencedDataFile = e.referencedDataFile.map(map))
        if (e.content == 1) mapped.copy(lowerBounds = mapBound(e.lowerBounds),
          upperBounds = mapBound(e.upperBounds),
          fileSizeInBytes = rewrittenLength.getOrElse(mapped.filePath, e.fileSizeInBytes))
        else mapped
      })
    }.toMap
    byList.foreach { case (l, infos) =>
      ManifestListWriter.write(l, infos.map { i =>
        val m = map(i.path)
        i.copy(path = m, length = lengths(m))
      })
    }
    metas.foreach { case (v, meta) =>
      MetadataWriter.write(OptimisticCommit.metadataPath(dir, v), meta.copy(
        location = map(meta.location),
        snapshots = meta.snapshots.map(s => s.copy(manifestList = s.manifestList.map(map))),
        metadataLog = meta.metadataLog.map(e => e.copy(metadataFile = map(e.metadataFile)))))
    }
  }

  // --------------------------------------------------- ProcedureCatalog
  // Maintenance as SQL: `CALL graft.system.rewrite_data_files('db.t')`
  // etc. — each procedure lands on the same CAS-committed programmatic
  // machinery and returns one LocalScan summary row (GraftProcedures).

  private def resolveTableDir(tableName: String): String = {
    val parts = tableName.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table name '$tableName' — expected 'ns.table'")
    val ident = Identifier.of(parts.init.toArray, parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    tableDir(ident)
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val ok = ident.namespace().sameElements(Array("system"))
    def newTableDir(tableName: String): String = {
      val parts = tableName.split('.').toSeq
      require(parts.nonEmpty && parts.forall(_.nonEmpty),
        s"bad table name '$tableName' — expected 'ns.table'")
      tableDir(Identifier.of(parts.init.toArray, parts.last))
    }
    (if (ok) GraftProcedures.load(ident.name(), resolveTableDir, newTableDir)
     else None)
      .getOrElse(throw new UnsupportedOperationException(
        s"no such procedure $ident — graft procedures live under " +
          s"$catalogName.system: ${GraftProcedures.names.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---------------------------------------------------------- ViewCatalog
  // Persisted SQL views (the Iceberg view spec's shape): a view is a
  // versioned JSON document in its own directory under the warehouse —
  // `view-v{N}.metadata.json`, disjoint from table metadata names — whose
  // current version carries the SQL representation. Reads re-plan the
  // stored SQL against the CURRENT table state (late binding, the
  // Iceberg view contract).
  //
  // Spark 4.1 ships the connector-side ViewCatalog API but does NOT yet
  // route `CREATE VIEW <catalog>....` through it (ResolveSessionCatalog
  // throws MISSING_CATALOG_ABILITY for any non-session catalog), so this
  // surface is PROGRAMMATIC for now: createView/loadView/... behave per
  // the API contract, and `spark.sql(view.query())` executes a loaded
  // view with late binding. The moment Spark wires the SQL path, these
  // views light up with no further change here.

  private def asView(ident: Identifier, doc: GraftViews.ViewDoc): View = new View {
    override def name(): String = (ident.namespace() :+ ident.name()).mkString(".")
    override def query(): String = doc.sql
    override def currentCatalog(): String = doc.currentCatalog
    override def currentNamespace(): Array[String] = doc.currentNamespace.toArray
    override def schema(): StructType = doc.schema
    override def queryColumnNames(): Array[String] = doc.queryColumnNames.toArray
    override def columnAliases(): Array[String] = doc.columnAliases.toArray
    override def columnComments(): Array[String] = doc.columnComments.toArray
    override def properties(): util.Map[String, String] = doc.properties.asJava
  }

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(tableDir(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = (warehouse +: ns.toSeq).mkString("/")
    val fs = HadoopConfs.fileSystemFor(dir)
    if (!fs.exists(new Path(dir))) Array.empty
    else fs.listStatus(new Path(dir)).filter(_.isDirectory)
      .map(s => Identifier.of(ns, s.getPath.getName))
      .filter(viewExists)
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    asView(ident, GraftViews.parse(tableDir(ident)))
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident()
    val dir = tableDir(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      (ident.namespace() :+ ident.name()).toSeq)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    GraftViews.write(dir, GraftViews.ViewDoc(
      uuid = java.util.UUID.randomUUID().toString,
      location = dir,
      sql = info.sql(),
      currentCatalog = info.currentCatalog(),
      currentNamespace = info.currentNamespace().toSeq,
      schema = info.schema(),
      queryColumnNames = info.queryColumnNames().toSeq,
      columnAliases = info.columnAliases().toSeq,
      columnComments = Option(info.columnComments()).map(_.toSeq)
        .getOrElse(Nil).map(c => Option(c).getOrElse("")),
      properties = info.properties().asScala.toMap,
      timestampMs = System.currentTimeMillis(),
      versionId = 1))
    loadView(ident)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident()
    val dir = tableDir(ident)
    if (!viewExists(ident) && !orCreate)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val next = GraftViews.currentVersion(dir) + 1
    GraftViews.write(dir, GraftViews.ViewDoc(
      uuid = java.util.UUID.randomUUID().toString,
      location = dir,
      sql = info.sql(),
      currentCatalog = info.currentCatalog(),
      currentNamespace = info.currentNamespace().toSeq,
      schema = info.schema(),
      queryColumnNames = info.queryColumnNames().toSeq,
      columnAliases = info.columnAliases().toSeq,
      columnComments = Option(info.columnComments()).map(_.toSeq)
        .getOrElse(Nil).map(c => Option(c).getOrElse("")),
      properties = info.properties().asScala.toMap,
      timestampMs = System.currentTimeMillis(),
      versionId = next))
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val dir = tableDir(ident)
    val doc = GraftViews.parse(dir)
    val props = changes.foldLeft(doc.properties) {
      case (acc, set: ViewChange.SetProperty) => acc + (set.property() -> set.value())
      case (acc, rm: ViewChange.RemoveProperty) => acc - rm.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported view change $other")
    }
    GraftViews.write(dir, doc.copy(properties = props,
      versionId = doc.versionId + 1,
      timestampMs = System.currentTimeMillis()))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewExists(ident) && HadoopConfs.fileSystemFor(tableDir(ident))
      .delete(new Path(tableDir(ident)), true)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || tableExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    val doc = GraftViews.parse(tableDir(oldIdent))
    val fs = HadoopConfs.fileSystemFor(tableDir(oldIdent))
    val dst = new Path(tableDir(newIdent))
    fs.mkdirs(dst.getParent)
    require(fs.rename(new Path(tableDir(oldIdent)), dst),
      s"filesystem refused to move the view directory")
    // the document's location self-reference follows the move
    GraftViews.write(tableDir(newIdent), doc.copy(
      location = tableDir(newIdent), versionId = doc.versionId + 1,
      timestampMs = System.currentTimeMillis()))
  }

  // ------------------------------------------------- SupportsNamespaces
  // Namespaces ARE directories under the warehouse (the HadoopCatalog
  // model): a namespace exists iff its directory does and it is not
  // itself a table directory. No metadata beyond existence is kept.

  private def nsDir(namespace: Array[String]): String =
    (warehouse +: namespace.toSeq).mkString("/")

  private def isTableDir(dir: String): Boolean =
    OptimisticCommit.currentVersion(dir) > 0

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = nsDir(namespace)
    namespace.nonEmpty && HadoopConfs.fileSystemFor(dir).exists(new Path(dir)) &&
      !isTableDir(dir)
  }

  override def listNamespaces(): Array[Array[String]] = {
    val fs = HadoopConfs.fileSystemFor(warehouse)
    if (!fs.exists(new Path(warehouse))) Array.empty
    else fs.listStatus(new Path(warehouse)).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName))
      .filterNot(ns => isTableDir(nsDir(ns)))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = nsDir(namespace)
    HadoopConfs.fileSystemFor(dir).listStatus(new Path(dir))
      .filter(_.isDirectory)
      .map(s => namespace :+ s.getPath.getName)
      .filterNot(ns => isTableDir(nsDir(ns)))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.nonEmpty, "cannot create the root namespace")
    val dir = nsDir(namespace)
    HadoopConfs.fileSystemFor(dir).mkdirs(new Path(dir))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are directories — they carry no mutable properties")

  /** Non-cascade drop refuses a namespace with tables or child
    * namespaces in it (SQL's RESTRICT); cascade removes everything. */
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val dir = nsDir(namespace)
    val fs = HadoopConfs.fileSystemFor(dir)
    if (!cascade && fs.listStatus(new Path(dir)).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(new Path(dir), cascade)
  }
}

/** The `position_deletes` inspection table: every live (file_path, pos)
  * row with the delete file it came from — what an operator audits after
  * `rewrite_position_delete_files`. Unlike the per-FILE metadata tables
  * this is per-ROW (a delete-heavy CDC table holds millions), so it is a
  * REAL distributed scan: one input partition per delete file, the
  * shared parquet decoder reading (file_path, pos) and serving the
  * provenance column — never a driver materialization. Built from the
  * position-delete manifest entries it serves. */
class GraftPosDeletesTable(tableName: String,
    entries: Seq[graft.iceberg.ManifestWriter.EntryData])
    extends Table with SupportsRead {
  private val delFiles = entries.filter(_.fileFormat != "PUFFIN")
    .map(_.filePath).distinct.sorted
  // v3 deletion vectors serve as one partition per BLOB, expanded
  // from the bitmap executor-side — same per-row shape
  private val dvRefs = entries.filter(_.fileFormat == "PUFFIN").map(e =>
    (e.referencedDataFile.getOrElse(""), e.filePath,
      e.contentOffset.getOrElse(0L), e.contentSizeInBytes.getOrElse(0L))).sorted
  private val posDeleteSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))
  private val served = StructType(posDeleteSchema.fields.toSeq :+
    StructField("delete_file_path", StringType, nullable = false))
  override def name(): String = tableName
  override def schema(): StructType = served
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = () =>
    new org.apache.spark.sql.connector.read.Scan
        with org.apache.spark.sql.connector.read.Batch {
      override def readSchema(): StructType = served
      override def toBatch: org.apache.spark.sql.connector.read.Batch = this
      override def description(): String = s"graft position_deletes $tableName"
      private val conf = new graft.iceberg.SerializableHadoopConf(
        graft.iceberg.HadoopConfs.active())
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        (delFiles.map(f => GraftTableInputPartition(f, 0L, FileDeletes.none,
          posDeleteSchema): org.apache.spark.sql.connector.read.InputPartition) ++
          // one partition per DV blob: filePath = the data file the DV
          // addresses, the blob coordinates ride in its deletes
          dvRefs.map { case (ref, puffin, off, len) =>
            GraftTableInputPartition(ref, 0L, FileDeletes(Nil, Nil, Seq((puffin, off, len))),
              posDeleteSchema, fileFormat = "PUFFIN")
              : org.apache.spark.sql.connector.read.InputPartition }).toArray
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        // parquet delete files decode columnar; deletion-vector blobs
        // expand to rows
        new GraftTableReaderFactory(served, conf, columnar = dvRefs.isEmpty)
    }
}

object GraftPosDeletesTable {
  /** The (file_path, pos, delete_file_path) rows of `entries`, as the
    * `position_deletes` table serves them. */
  private[graft] def scan(spark: org.apache.spark.sql.SparkSession,
      entries: Seq[graft.iceberg.ManifestWriter.EntryData]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftPosDeletesTable("position_deletes", entries), None, None,
        CaseInsensitiveStringMap.empty()))
}

/** Expands one deletion-vector blob into position_deletes rows:
  * (file_path = the referenced data file, pos = each set bit,
  * delete_file_path = the Puffin file) — the DV analog of reading a
  * position-delete parquet file through the shared parquet decoder. */
class GraftDvPosDeletesReader(part: GraftTableInputPartition,
    required: StructType, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] {
  private val (puffin, off, len) = part.deletes.dvs.head
  private val positions =
    graft.iceberg.DeletionVectors.read(puffin, off, len, conf).toArray
  private var i = -1
  override def next(): Boolean = { i += 1; i < positions.length }
  override def get(): org.apache.spark.sql.catalyst.InternalRow = {
    val vals: Array[Any] = required.fields.map(_.name match {
      case "file_path" =>
        org.apache.spark.unsafe.types.UTF8String.fromString(part.filePath)
      case "pos" => positions(i)
      case "delete_file_path" =>
        org.apache.spark.unsafe.types.UTF8String.fromString(puffin)
      case other => throw new IllegalArgumentException(
        s"position_deletes serves no column '$other'")
    })
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
  override def close(): Unit = ()
}

/** A metadata table served as a V2 `LocalScan`: the rows are KB-scale
  * driver state (the same boundary the planner itself keeps), so Spark
  * executes them as a LocalTableScan — broadcast-friendly, no tasks. */
class GraftLocalTable(tableName: String, df: org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  private val tableSchema = df.schema
  private val collected: Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(tableSchema)
    df.collect().map(conv(_).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
  }
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = collected
      override def readSchema(): StructType = tableSchema
      override def description(): String = s"graft metadata table $tableName"
    }
}

/** The table handed to Spark's atomic CTAS/RTAS execs between stage and
  * commit: a write-only facade whose BatchWrite STASHES the tasks' commit
  * messages instead of committing a snapshot — `commitStagedChanges`
  * turns them into the single real commit, `abortStagedChanges` deletes
  * them. The inner [[GraftTableWriteBuilder]] (planned against
  * `writeMetadataPath` — v1 for staged CREATE, the scratch document for
  * staged REPLACE) is reused whole, including its required distribution/
  * ordering, so staged writes cluster and sort exactly like direct ones. */
private[sources] final class StagedGraftTable(
    identName: String,
    writeMetadataPath: String,
    onCommit: Seq[GraftFileMessage] => Unit,
    onAbort: Seq[GraftFileMessage] => Unit)
    extends StagedTable with SupportsWrite {

  import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo,
    PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate,
    Write, WriteBuilder, WriterCommitMessage}

  @volatile private var staged: Seq[GraftFileMessage] = Nil

  override def name(): String = identName
  // the staged document is immutable for this table's lifetime and Spark
  // calls schema() repeatedly during write resolution — parse once
  private lazy val stagedSchema: StructType =
    GraftTable.sparkSchema(TableMetadata.parseFile(writeMetadataPath))
  override def schema(): StructType = stagedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private val inner = new GraftTableWriteBuilder(writeMetadataPath, info)
      // a staged table is "new" — truncate-then-append IS the append
      override def truncate(): WriteBuilder = { inner.truncate(); this }
      override def build(): Write = {
        val w = inner.build()
        val rdo = w.asInstanceOf[RequiresDistributionAndOrdering]
        new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution() = rdo.requiredDistribution()
          override def requiredOrdering() = rdo.requiredOrdering()
          override def toBatch: BatchWrite = {
            val b = w.toBatch
            new BatchWrite {
              override def createBatchWriterFactory(i: PhysicalWriteInfo) =
                b.createBatchWriterFactory(i)
              override def commit(msgs: Array[WriterCommitMessage]): Unit =
                staged = GraftTableWrites.filesOf(msgs)
              override def abort(msgs: Array[WriterCommitMessage]): Unit =
                b.abort(msgs)
            }
          }
        }
      }
    }

  override def commitStagedChanges(): Unit = onCommit(staged)
  override def abortStagedChanges(): Unit = onAbort(staged)
}

/** Catalog-level helpers shared with the `register_table` procedure. */
object GraftCatalog {

  /** A registered (adopted) table's layout dir holds only this pointer
    * file — one line, the absolute directory of the adopted table.
    * Underscore-prefixed so Spark file listings ignore it. */
  val PointerFile = "_graft_pointer"

  def isRegistered(layoutDir: String): Boolean = {
    val p = new Path(s"$layoutDir/$PointerFile")
    graft.iceberg.HadoopConfs.fileSystemFor(layoutDir).exists(p)
  }

  /** Follow the pointer if one exists; otherwise the layout dir IS the
    * table dir. One hop only — a registered table's target is a real
    * table directory, never another catalog entry. */
  def resolveRegistered(layoutDir: String): String = {
    val fs = graft.iceberg.HadoopConfs.fileSystemFor(layoutDir)
    val p = new Path(s"$layoutDir/$PointerFile")
    if (!fs.exists(p)) layoutDir
    else new String(graft.iceberg.HadoopConfs.readFully(p.toString, fs.getConf),
      java.nio.charset.StandardCharsets.UTF_8).trim
  }

  /** Write the pointer (the registration commit — one small file; the
    * adopted table is not touched). */
  def writePointer(layoutDir: String, targetDir: String): Unit = {
    val fs = graft.iceberg.HadoopConfs.fileSystemFor(layoutDir)
    fs.mkdirs(new Path(layoutDir))
    val out = fs.create(new Path(s"$layoutDir/$PointerFile"), false)
    try out.write(targetDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}

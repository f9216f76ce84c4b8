package graft.iceberg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, MetadataBuilder, StringType,
  StructField, StructType}

import graft.sources.{GraftTableScan, TableDataSource}

/** The one-call table API — point it at a committed `metadata.json` and
  * read the TABLE as a DataFrame, or commit to it (append, delete,
  * upsert, merge, compaction and the other maintenance procedures).
  *
  * Reads compose in the spec's order:
  *
  *   1. snapshot resolution: current head, explicit snapshot id, or a
  *      named ref (tag/branch) — time travel is just resolution;
  *   2. the one scan planner ([[graft.sources.GraftTableScan.plan]]):
  *      manifest-list → manifests, content-routed (data vs delete
  *      manifests, list field 517), pruned by the read's predicate and
  *      opened concurrently, into live (entry, sequence) sets;
  *   3. the merge-on-read scan: the graft-table DSv2 scan, the engine's
  *      one reader — schema-evolution projection (every file reads
  *      through the read's schema, renamed and pre-evolution columns
  *      resolved per file) and sequence-scoped deletes (position deletes
  *      on data files with sequence <= theirs, equality deletes on
  *      strictly lower) happen inside each task.
  *
  * `read`, `readWhere`, `readWhereRange` and `deleteWhere` are the
  * catalog's graft-table relation with their predicate as a filter
  * ([[graft.sources.TableDataSource.read]]). Rewrites (MERGE, compaction,
  * the stats passes, the changelog legs) hand the scan the entry subsets
  * they need ([[graft.sources.TableDataSource.scanPlan]]), with its
  * `_file`/`_pos`/`_row_id`/`_last_updated_sequence_number` metadata
  * columns as row addresses.
  */
object GraftTable {

  /** v3 row-lineage column names (the spec's reserved names): served as
    * metadata columns on reads, materialized as physical columns by
    * rewrites that move rows. */
  private[graft] val RowIdCol = "_row_id"
  private[graft] val LastUpdatedCol = "_last_updated_sequence_number"

  /** Spark read schema derived from the document's current schema — the
    * null-fill projection a v2 reader applies to pre-evolution files.
    * v3 column defaults surface as the `CURRENT_DEFAULT`/`EXISTS_DEFAULT`
    * StructField metadata Spark's own analyzer consumes: an INSERT that
    * omits the column gets write-default filled by Spark, no engine
    * code in the write path at all. */
  def sparkSchema(meta: TableMetadata): StructType =
    StructType(meta.currentSchema.fields.map { f =>
      val it = IcebergTypes.fromStringOpt(f.fieldType).getOrElse(
        throw new IllegalArgumentException(s"unsupported type ${f.fieldType}"))
      var sf = StructField(f.name, it.sparkType, nullable = true)
      f.doc.foreach(d => sf = sf.withComment(d))
      if (f.writeDefault.isDefined || f.initialDefault.isDefined) {
        import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        val b = new MetadataBuilder().withMetadata(sf.metadata)
        f.writeDefault.foreach(d => b.putString(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
          DefaultValues.sqlText(it, d)))
        f.initialDefault.foreach(d => b.putString(
          ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
          DefaultValues.sqlText(it, d)))
        sf = sf.copy(metadata = b.build())
      }
      sf
    })

  private def resolveSnapshot(meta: TableMetadata,
      snapshotId: Option[Long], ref: Option[String],
      asOfTimestampMs: Option[Long] = None): Snapshot = {
    require(Seq(snapshotId, ref, asOfTimestampMs).count(_.isDefined) <= 1,
      "pass at most one of snapshotId, ref, asOfTimestampMs")
    asOfTimestampMs match {
      case Some(ts) =>
        meta.snapshotAsOf(ts).getOrElse(throw new IllegalArgumentException(
          s"no snapshot current as of $ts (snapshot-log starts later)"))
      case None =>
        val id = snapshotId.orElse(ref.map { r =>
          meta.refs.find(_.name == r).getOrElse(
            throw new IllegalArgumentException(s"unknown ref '$r'")).snapshotId
        }).orElse(meta.currentSnapshotId).getOrElse(
          throw new IllegalArgumentException("table has no current snapshot"))
        meta.snapshot(id).getOrElse(
          throw new IllegalArgumentException(s"unknown snapshot $id"))
    }
  }

  /** Snapshot selection for external planners (the DSv2 `graft-table`
    * source) — same resolution rules as [[read]]. */
  private[graft] def resolveForScan(meta: TableMetadata, snapshotId: Option[Long],
      ref: Option[String], asOfTimestampMs: Option[Long]): Snapshot =
    resolveSnapshot(meta, snapshotId, ref, asOfTimestampMs)

  /** Read a committed table. `metadataPath` is the document to trust —
    * callers wanting "latest" resolve it first (OptimisticCommit
    * .currentVersion); `snapshotId`/`ref` select a non-head snapshot and
    * `asOfTimestampMs` time-travels through the snapshot-log (the latest
    * snapshot made current at-or-before the instant — i08's rule). The
    * frame is the graft-table relation the catalog loads for `VERSION AS
    * OF` / `TIMESTAMP AS OF`, under the schema [[readMeta]] resolves; a
    * filter on it pushes into the scan's planning pass. */
  def read(spark: SparkSession, metadataPath: String,
      snapshotId: Option[Long] = None, ref: Option[String] = None,
      asOfTimestampMs: Option[Long] = None): DataFrame =
    TableDataSource.read(spark, metadataPath, TableMetadata.parseFile(metadataPath),
      snapshotId, ref, asOfTimestampMs)

  /** The document a read of (`snapshotId` | `ref` | `asOfTimestampMs`)
    * resolves its columns against — the one time-travel schema rule, for
    * [[read]], the catalog's `VERSION AS OF` / `TIMESTAMP AS OF` and tag
    * identifiers, and a historical ANALYZE (so the analyzed column set
    * can never desync from the schema the scan resolves). POINT-IN-TIME
    * travel (snapshot id, timestamp, or a TAG — an archival point) reads
    * under the SNAPSHOT's schema, the Iceberg rule: a snapshot predating
    * an evolution (or a whole REPLACE TABLE) projects the columns that
    * existed then. Head and BRANCH reads keep the CURRENT schema
    * (Iceberg's branch rule — a branch is live state). Falls back to the
    * current schema when the snapshot's schema id is absent or unknown. */
  private[graft] def readMeta(meta: TableMetadata, snapshotId: Option[Long],
      ref: Option[String], asOfTimestampMs: Option[Long]): TableMetadata =
    if (snapshotId.isEmpty && asOfTimestampMs.isEmpty && ref.forall(meta.isBranchRef)) meta
    else resolveSnapshot(meta, snapshotId, ref, asOfTimestampMs).schemaId
      .filter(id => meta.schemas.exists(_.schemaId == id))
      .map(id => meta.copy(topLevelSchema = None, currentSchemaId = Some(id)))
      .getOrElse(meta)

  /** Historical name alternates after RENAME COLUMN: current field name →
    * the names the SAME field id carried in earlier schemas. Safe to
    * resolve by because the catalog refuses re-using any historical name
    * for a different field — each historical name maps to at most one id. */
  private[graft] def nameAlternates(meta: TableMetadata): Map[String, Seq[String]] =
    meta.currentSchema.fields.flatMap { f =>
      val hist = meta.schemas.flatMap(_.fields)
        .filter(x => x.id == f.id && x.name != f.name).map(_.name).distinct
      if (hist.isEmpty) None else Some(f.name -> hist)
    }.toMap

  /** A parquet file's Spark schema read from its FOOTER on the driver —
    * metadata-only (KB-scale), replacing the schema-inference JOB a
    * schemaless read launches. Prefers the exact StructType Spark
    * serialized into the footer at write time (what inference itself
    * prefers); falls back to the standard parquet converter under
    * `spark`'s conversion flags. The conf comes from the session passed
    * in, never from the thread: callers run this on Par pool threads,
    * whose active session (what `SQLConf.get` reads) need not be theirs.
    * `asNullable` matches what file-source inference returns. */
  private[graft] def footerSparkSchema(spark: SparkSession, path: String): StructType = {
    val sessionState = spark.sessionState
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), sessionState.newHadoopConf()))
    try {
      val md = r.getFooter.getFileMetaData
      val raw = Option(md.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap(j => scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType]).toOption)
        .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(sessionState.conf)
          .convert(md.getSchema))
      def nullify(dt: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = dt match {
        case s: StructType => StructType(s.fields.map(f =>
          f.copy(dataType = nullify(f.dataType), nullable = true)))
        case a: org.apache.spark.sql.types.ArrayType =>
          a.copy(elementType = nullify(a.elementType), containsNull = true)
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = nullify(m.keyType),
            valueType = nullify(m.valueType), valueContainsNull = true)
        case o => o
      }
      nullify(raw).asInstanceOf[StructType]
    } finally r.close()
  }

  /** CDC changelog over a snapshot range — Iceberg's changelog-scan
    * semantics as one DataFrame: every row the range's commits logically
    * added or removed, tagged with the standard changelog columns
    * `_change_type` ('insert' | 'delete'), `_change_ordinal` (the
    * commit's index within the consumed range) and
    * `_commit_snapshot_id`.
    *
    * Per-snapshot resolution, all from the committed documents:
    *   - **inserts**: rows of data files whose manifest entry is
    *     (status=ADDED, snapshot_id=s) in a manifest the list records as
    *     added by s (field 503 — a changelog step opens only the
    *     commit's own manifests, proportional to the commit, never the
    *     table);
    *   - **deletes from the delete files the commit added** (position
    *     deletes, deletion vectors, equality deletes): ONE scan of the
    *     PARENT snapshot with the parent's deletes applied and the
    *     commit's added deletes as its deleted-by set
    *     ([[TableDataSource.scanPlan]]) — it emits the rows the parent
    *     shows and the commit's deletes remove, so only visible→deleted
    *     transitions emit (a merged DV's re-asserted positions do not)
    *     and no join appears. Each delete file is scoped per data file
    *     by the scan's own rules (sequence, file_path bounds, DV
    *     referenced file), and equality values compare as every scan
    *     compares them (renamed and widened columns included);
    *   - **copy-on-write overwrites** (MERGE/UPDATE): the commit's
    *     DELETED tombstone entries name the removed files — their
    *     parent-visible rows emit as deletes, the rewritten files as
    *     inserts (Iceberg's overwrite changelog shape: an unchanged row
    *     in a rewritten file emits a delete+insert pair);
    *   - **`replace` snapshots** (compaction, manifest/delete rewrites)
    *     change nothing logically and emit NOTHING — the invisibility
    *     that makes background maintenance safe for downstream CDC.
    *
    * The range is the PARENT CHAIN ending at `endSnapshotId` (default:
    * current head) walking back to exclusive `startSnapshotId` (default:
    * the first snapshot's parent, i.e. the whole history) — branched
    * snapshots off the consumed ancestry never contribute. */
  def changelog(spark: SparkSession, tableDir: String,
      startSnapshotId: Option[Long] = None,
      endSnapshotId: Option[Long] = None): DataFrame = {
    val meta = TableMetadata.parseFile(latestMetadataPath(tableDir))
    val conf = HadoopConfs.active()
    val schema = sparkSchema(meta)
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("_change_type", org.apache.spark.sql.types.StringType, nullable = false),
      StructField("_change_ordinal", org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("_commit_snapshot_id", org.apache.spark.sql.types.LongType, nullable = false)))
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val endId = endSnapshotId.orElse(meta.currentSnapshotId).getOrElse(return empty)
    // ancestry walk, newest → oldest, then reversed for ordinals
    val chain = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
      var cur: Option[Snapshot] = Some(meta.snapshot(endId).getOrElse(
        throw new IllegalArgumentException(s"end snapshot $endId not found")))
      while (cur.exists(s => !startSnapshotId.contains(s.snapshotId))) {
        buf += cur.get
        cur = cur.get.parentSnapshotId.flatMap(meta.snapshot)
      }
      require(startSnapshotId.forall(sid => cur.exists(_.snapshotId == sid)),
        s"start snapshot ${startSnapshotId.get} is not an ancestor of $endId")
      buf.reverse.toSeq
    }
    // ALL commits' insert rows come from one scan instead of one scan per
    // snapshot. A data file is ADDED by exactly one snapshot of the
    // chain, so a broadcast file → (ordinal, snapshot) lookup joined on
    // the scan's `_file` replays the per-snapshot tags exactly: an
    // N-commit timeline runs ONE insert job, not N. Collected across the
    // chain walk below, assembled after it.
    val insertTags = scala.collection.mutable.ArrayBuffer
      .empty[((ManifestWriter.EntryData, Long), Int, Long)]
    val tagged = chain.zipWithIndex.flatMap { case (s, ordinal) =>
      if (s.operation.contains("replace")) None
      else {
        def tag(df: DataFrame, change: String): DataFrame =
          df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
            .withColumn("_change_type", lit(change))
            .withColumn("_change_ordinal", lit(ordinal))
            .withColumn("_commit_snapshot_id", lit(s.snapshotId))
        val listInfos = ManifestListReader.read(s.manifestList.getOrElse(
          throw new IllegalArgumentException(
            s"snapshot ${s.snapshotId} has no manifest-list")))
        val added = listInfos.filter(_.addedSnapshotId == s.snapshotId)
        val byManifest = Par.inParallel(added)(i => (i, ManifestWriter.read(i.path)))
        def entriesOf(listContent: Int, status: Int, entryContent: Int) =
          (for {
            (i, es) <- byManifest if i.content == listContent
            e <- es if e.status == status && e.content == entryContent &&
              e.snapshotId == s.snapshotId
          } yield (e, e.sequenceNumber.getOrElse(i.sequenceNumber)))
            .distinctBy(x => (PathId(x._1.filePath), x._1.contentOffset.getOrElse(-1L)))
        val dataAdded = entriesOf(0, 1, 0)
        val deletesAdded = entriesOf(1, 1, 1) ++ entriesOf(1, 1, 2)
        val removed = entriesOf(0, 2, 0).map(e => PathId(e._1.filePath)).toSet
        insertTags ++= dataAdded.map(e => (e, ordinal, s.snapshotId))
        // the parent's live plan from the one planner, its own deletes
        // applied so only live rows can emit
        lazy val parent = s.parentSnapshotId.flatMap(meta.snapshot).map(p =>
          GraftTableScan.plan(meta, p, Array.empty, conf))
        def parentData(keep: String => Boolean) = parent.toSeq.flatMap(_.kept.collect {
          case (e, seq, _) if keep(e.filePath) => (e, seq) })
        val removedDeletes =
          if (removed.isEmpty) None
          else parent.map(p => TableDataSource.scanPlan(spark, meta,
            parentData(f => removed.contains(PathId(f))), p.deletes))
        val deleted =
          if (deletesAdded.isEmpty) None
          else parent.map(p => TableDataSource.scanPlan(spark, meta, parentData(_ => true),
            p.deletes, deletedBy = Some(deletesAdded)))
        // one commit's delete sources are disjoint by construction
        // (tombstoned files leave the table) — plain union, no dedup
        // pass; inserts ride the chain-wide leg below
        Seq(removedDeletes, deleted).flatten.map(tag(_, "delete"))
          .reduceOption(_ unionByName _)
      }
    }
    // the chain-wide insert leg: one scan over every commit's added data
    // files, tagged back per file by the broadcast lookup. If a path were
    // ever added by TWO chain snapshots, the per-snapshot semantics read
    // it once per snapshot — the distinct file set plus one lookup row
    // per (file, snapshot) reproduces exactly that multiset.
    val insertLeg =
      if (insertTags.isEmpty) None
      else {
        import spark.implicits._
        val lk = broadcast(insertTags.toSeq.map { case ((e, _), ord, snap) =>
          (e.filePath, ord, snap) }.toDF("_lk_file", "_lk_ord", "_lk_snap"))
        Some(TableDataSource.scanPlan(spark, meta,
            insertTags.toSeq.map(_._1).distinctBy(_._1.filePath), Nil)
          .join(lk, col("_file") === col("_lk_file"))
          .select(schema.fieldNames.map(col).toIndexedSeq :+
            lit("insert").as("_change_type") :+
            col("_lk_ord").as("_change_ordinal") :+
            col("_lk_snap").as("_commit_snapshot_id"): _*))
      }
    (insertLeg.toSeq ++ tagged).reduceOption(_ unionByName _).getOrElse(empty)
  }

  /** Changelog with UPDATE pre/post-image pairing (Iceberg's
    * compute-updates mode): within one commit (`_change_ordinal`), a
    * delete and an insert sharing the given IDENTIFIER column values are
    * one logical row changing — re-tagged 'update_before' /
    * 'update_after', the pairing CDC consumers (Flink-style upsert
    * sinks) expect instead of raw delete+insert. A pair whose remaining
    * columns are also identical is a CARRY-OVER (a copy-on-write rewrite
    * moved the row between files; nothing changed logically) and is
    * dropped entirely. Unpaired rows keep their insert/delete tags.
    *
    * One window over (identifier columns, ordinal) — a keyed shuffle of
    * the changelog, no driver-side work; at scale this is the same
    * partitioning the downstream upsert sink needs anyway. */
  def changelogWithUpdates(spark: SparkSession, tableDir: String,
      startSnapshotId: Option[Long], endSnapshotId: Option[Long],
      identifierColumns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(identifierColumns.nonEmpty, "identifier_columns must be non-empty")
    val base = changelog(spark, tableDir, startSnapshotId, endSnapshotId)
    val metaCols = Set("_change_type", "_change_ordinal", "_commit_snapshot_id")
    val dataCols = base.columns.filterNot(metaCols).toSeq
    identifierColumns.foreach(c => require(dataCols.contains(c),
      s"identifier column $c is not a table column (${dataCols.mkString(", ")})"))
    val others = dataCols.filterNot(identifierColumns.contains)
    val w = Window.partitionBy(
      (identifierColumns :+ "_change_ordinal").map(col): _*)
    // the non-identifier image of each side — exact struct comparison,
    // not a hash. first(ignoreNulls) over the unordered window is
    // deterministic exactly when the pairing condition holds (one
    // delete, one insert); groups that fail it never read the images.
    def image(change: String) =
      if (others.isEmpty) first(when(col("_change_type") === change, lit(0)),
        ignoreNulls = true).over(w)
      else first(when(col("_change_type") === change,
        struct(others.map(col): _*)), ignoreNulls = true).over(w)
    def n(change: String) =
      sum(when(col("_change_type") === change, 1).otherwise(0)).over(w)
    // all four window aggregates in ONE select: same spec ⇒ Spark plans
    // a single Window pass over the one keyed shuffle (chained
    // withColumns would stack a second pass for the image comparison)
    base
      .select(col("*"), n("delete").as("_nd"), n("insert").as("_ni"),
        image("delete").as("_di"), image("insert").as("_ii"))
      .withColumn("_paired", col("_nd") === 1 && col("_ni") === 1)
      .filter(!(col("_paired") && (col("_di") <=> col("_ii")))) // carry-overs
      .withColumn("_change_type",
        when(col("_paired") && col("_change_type") === "delete", "update_before")
          .when(col("_paired") && col("_change_type") === "insert", "update_after")
          .otherwise(col("_change_type")))
      .drop("_nd", "_ni", "_di", "_ii", "_paired")
  }

  // ------------------------------------------------------------ writes
  // The write half of the one-call API: create / append / deleteWhere,
  // every commit through the OptimisticCommit CAS loop so concurrent
  // writers serialize onto one linear history. Data sequence number =
  // the snapshot id of a linear history — derived INSIDE the update from
  // the refreshed base, so a retried commit re-sequences correctly.

  /** Latest committed metadata path (refresh). */
  def latestMetadataPath(tableDir: String): String =
    OptimisticCommit.metadataPath(tableDir, OptimisticCommit.currentVersion(tableDir))

  /** Create an empty v2 table: writes v1.metadata.json. `spec` declares
    * the hidden-partitioning layout appends will write under.
    *
    * Every parquet file graft writes goes through the task writer
    * ([[graft.sources.GraftFileWriter]]), which tracks bound stats inline
    * as FULL, untruncated values — so created tables are stamped
    * `graft.metrics=full`. Readers use the stamp as an exactness proof:
    * stats-served MIN/MAX on string/binary-ordered columns is only legal
    * when bounds are known whole values (foreign Iceberg writers default
    * to `truncate(16)`, where the upper bound is a prefix-incremented
    * value that need not exist in the data). */
  def create(tableDir: String, schema: IcebergSchema, tableUuid: String,
      timestampMs: Long, spec: PartitionSpec = PartitionSpec(0, Nil),
      properties: Map[String, String] = Map.empty,
      formatVersion: Int = 2): String = {
    require(OptimisticCommit.currentVersion(tableDir) == 0,
      s"table already exists under $tableDir")
    require(formatVersion == 2 || formatVersion == 3,
      s"unsupported format-version $formatVersion (2 or 3)")
    // v3-only types (variant, timestamp_ns/timestamptz_ns, unknown,
    // geometry/geography) gate on the version AT CREATE: a v2 document
    // carrying one would be unparseable to every spec-conforming reader
    schema.fields.flatMap(f => IcebergTypes.fromStringOpt(f.fieldType))
      .filter(IcebergTypes.isV3Only).foreach(t =>
        require(formatVersion >= 3,
          s"${t.name} columns need format-version 3"))
    val path = OptimisticCommit.metadataPath(tableDir, 1)
    MetadataWriter.write(path, TableMetadata(
      formatVersion = formatVersion, tableUuid = tableUuid, location = tableDir,
      lastUpdatedMs = timestampMs, topLevelSchema = None,
      currentSchemaId = Some(schema.schemaId), schemas = Seq(schema),
      partitionSpecs = Seq(spec), defaultSpecId = spec.specId,
      sortOrders = Seq(SortOrder(0, Nil)), defaultSortOrderId = 0,
      properties = Map("graft.metrics" -> "full") ++ properties,
      currentSnapshotId = None, refs = Nil,
      snapshots = Nil, snapshotLog = Nil, metadataLog = Nil,
      // v3 row lineage: fresh tables start the id counter at 0
      nextRowId = if (formatVersion >= 3) Some(0L) else None))
    path
  }

  /** Row count + bound stats from a parquet FOOTER alone — zero data
    * bytes read, the import path's cost model (Iceberg's `add_files`
    * does the same): block row counts sum, per-column min/max fold
    * across row groups. Bounds encode only for types whose footer
    * statistics map unambiguously onto the Iceberg single-value
    * encoding (int/long/float/double/date/timestamp/string); anything
    * else imports without bounds — unprunable but correct. */
  private def footerStats(file: String, fields: Seq[IcebergField])
      : (Long, Map[Int, Array[Byte]], Map[Int, Array[Byte]]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), HadoopConfs.active()))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val acc = scala.collection.mutable.Map.empty[Int, (Any, Any, IcebergType)]
      for {
        b <- blocks
        (id, (lo, hi, t)) <- ParquetFooterStats.blockBounds(b, fields)
      } acc(id) = acc.get(id) match {
        case None => (lo, hi, t)
        case Some((plo, phi, _)) => (
          if (ScanPlanning.cmpValues(lo, plo).exists(_ < 0)) lo else plo,
          if (ScanPlanning.cmpValues(hi, phi).exists(_ > 0)) hi else phi, t)
      }
      (rows,
        acc.map { case (id, (lo, _, t)) => id -> SingleValueCodec.encode(t, lo) }.toMap,
        acc.map { case (id, (_, hi, t)) => id -> SingleValueCodec.encode(t, hi) }.toMap)
    } finally r.close()
  }

  /** Import an existing directory of parquet files as ONE append
    * snapshot — Iceberg's `add_files` onboarding path: the files are
    * referenced IN PLACE (no copy, no rewrite), row counts and bound
    * stats come from the parquet footers alone (zero data bytes read —
    * at 100 TB this is the difference between an afternoon of rewriting
    * and a sub-second metadata commit). Footer-statless columns import
    * without bounds: unprunable but correct. Returns the commit.
    *
    * Imported bounds are footer `min`/`max` values, which parquet
    * writers may themselves truncate for long strings — so the commit
    * CLEARS the table's `graft.metrics=full` stamp: stats-served
    * MIN/MAX on string columns honestly refuses from then on. A file the
    * table already lists refuses the whole import. */
  def addFiles(spark: SparkSession, tableDir: String, sourceDir: String,
      format: String = "parquet"): OptimisticCommit.CommitResult = {
    val meta0 = TableMetadata.parseFile(latestMetadataPath(tableDir))
    // checked BEFORE the graft.metrics stamp-clearing commit below so
    // the COMMON refusal leaves the table untouched. The in-closure
    // guard inside commitAppendFiles stays authoritative: a concurrent
    // opt-in landing between the two commits can still refuse after the
    // stamp cleared — conservative (a stamp-less table is merely
    // unservable for stats-pushdown, never wrong).
    refuseWapStage(meta0, "an add_files import")
    val fmt = format.toUpperCase
    require(fmt == "PARQUET" || fmt == "AVRO" || fmt == "ORC",
      s"add_files supports parquet, orc and avro, not $format")
    val ext = "." + fmt.toLowerCase
    val fs = HadoopConfs.fileSystemFor(sourceDir)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(sourceDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(ext))
      .map(_.getPath.toString).sorted.toSeq
    require(files.nonEmpty, s"no $format files under $sourceDir")
    // Iceberg's check_duplicate_files: a file the table already lists
    // would be listed twice and read twice — refuse before any commit
    val listed = entriesAt(meta0.currentSnapshot, 0).map(e => PathId(e.filePath)).toSet
    files.find(f => listed(PathId(f))).foreach(f => throw new IllegalArgumentException(
      s"add_files: $f is already a data file of the table"))
    val pending = Par.inParallel(files) { f =>
      val len = HadoopConfs.length(f)
      if (fmt == "PARQUET") {
        val (rows, lower, upper) = footerStats(f, meta0.currentSchema.fields)
        PendingFile(f, rows, len, lower, upper, None, 0, fmt)
      } else if (fmt == "ORC") {
        // ORC footers carry row counts AND column min/max — the import
        // is as metadata-only as parquet's
        val (rows, lower, upper) =
          OrcDataFiles.footerStats(f, meta0.currentSchema.fields)
        PendingFile(f, rows, len, lower, upper, None, 0, fmt)
      } else {
        // Avro containers carry block record counts but no column stats:
        // the import stays metadata-only (no bounds — unprunable, correct)
        PendingFile(f, AvroDataFiles.countRecords(f), len,
          Map.empty, Map.empty, None, 0, fmt)
      }
    }
    // clear the exact-bounds stamp BEFORE the files become visible: a
    // crash (or concurrent MIN/MAX planner) between the two commits must
    // see the conservative state — a stamp-less table over exact data is
    // merely unservable, a stamped table over truncated imported bounds
    // would serve wrong extremes
    if (meta0.properties.get("graft.metrics").contains("full"))
      removeProperties(tableDir, Seq("graft.metrics"))
    commitAppendFiles(tableDir, pending,
      extraSummary = Map("added-files-import" -> files.size.toString))
  }

  /** IN-PLACE conversion of a plain parquet directory into a graft
    * table (Iceberg's `migrate`): the schema is inferred from the
    * parquet footers (Spark's reader handles multi-file reconciliation),
    * metadata is created INSIDE the directory, and every parquet file
    * already there is adopted as one append snapshot via the
    * footer-stats import — zero data bytes read or moved. After the
    * commit the directory IS the table: catalog reads, inserts, DML,
    * and maintenance all work on it. The files keep their original
    * paths (top-level, not under data/ — entries reference them in
    * place, exactly like `add_files`). */
  def migrate(spark: SparkSession, tableDir: String,
      timestampMs: Option[Long] = None): OptimisticCommit.CommitResult = {
    require(OptimisticCommit.currentVersion(tableDir) == 0,
      s"$tableDir already carries table metadata — migrate adopts PLAIN directories")
    val fs = HadoopConfs.fileSystemFor(tableDir)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(tableDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted.toSeq
    require(files.nonEmpty, s"no parquet files under $tableDir to migrate")
    val inferred = spark.read.parquet(files: _*).schema
    val nestedId = new java.util.concurrent.atomic.AtomicInteger(inferred.fields.length)
    val fields = inferred.fields.toSeq.zipWithIndex.map { case (f, i) =>
      IcebergField(i + 1, f.name, required = false,
        IcebergTypes.fromSparkType(f.dataType, () => nestedId.incrementAndGet()))
    }
    create(tableDir, IcebergSchema(0, fields),
      tableUuid = java.util.UUID.randomUUID().toString,
      timestampMs = timestampMs.getOrElse(System.currentTimeMillis()))
    addFiles(spark, tableDir, tableDir)
  }

  /** Zero-copy FORK of an existing graft table (Iceberg's `snapshot`
    * procedure): the target table is created with the source's current
    * schema and referenced to the source's CURRENT data files in place —
    * no bytes move, stats carry over from the source entries, and the
    * fork's lineage is independent from the first commit (writes to
    * either side never touch the other). The test/dev-fork-of-prod path.
    *
    * The fork gets `gc.enabled=false`: its physical-cleanup maintenance
    * (snapshot expiry, orphan sweep) REFUSES to run, because the files
    * it references belong to the source table — a fork expiring its
    * import snapshot must never delete production data (the same guard
    * Iceberg's snapshot procedure installs). Pending source deletes
    * refuse the fork (compact first) so the referenced files ARE the
    * table state. */
  def snapshotTable(sourceDir: String, targetDir: String,
      timestampMs: Option[Long] = None): OptimisticCommit.CommitResult = {
    val src = TableMetadata.parseFile(latestMetadataPath(sourceDir))
    // the fork inherits src.properties (write.wap.enabled included) —
    // checked BEFORE create() so a refusal never leaves a half-created
    // snapshot-less fork directory behind
    refuseWapStage(src.properties, "a snapshot fork")
    require(currentEntries(src, 1).isEmpty,
      "source table has pending delete files — run " +
        "rewrite_data_files to materialize them before snapshotting")
    val dataEntries = currentEntries(src, 0).filter(_.content == 0)
    val spec = src.partitionSpecs.find(_.specId == src.defaultSpecId)
      .getOrElse(PartitionSpec(0, Nil))
    create(targetDir, src.currentSchema,
      tableUuid = java.util.UUID.randomUUID().toString,
      timestampMs = timestampMs.getOrElse(System.currentTimeMillis()),
      spec = spec,
      // the fork inherits the SOURCE's bound-exactness claim verbatim:
      // create() would default-stamp graft.metrics=full, but a source
      // whose stamp was cleared (e.g. by an add_files import with
      // possibly-truncated footer strings) must not have the fork
      // resurrect stats-served string MIN/MAX over those same bounds
      properties = src.properties + ("gc.enabled" -> "false")
        + ("snapshot-source" -> sourceDir)
        + ("graft.metrics" -> src.properties.getOrElse("graft.metrics", "unknown")))
    // a v3 source's fork inherits its lineage WHOLE: same format
    // version, same next-row-id (so future fork appends can never
    // collide with inherited ids), per-file first_row_id carried
    // verbatim, and materialized-lineage files (no first_row_id)
    // keep serving their columns
    if (src.formatVersion >= 3) {
      upgradeFormatVersion(targetDir, src.formatVersion)
      OptimisticCommit.commit(targetDir, (base, basePath) =>
        base.copy(nextRowId = src.nextRowId,
          lastUpdatedMs = base.lastUpdatedMs + 1000,
          metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))
    }
    commitAppendFiles(targetDir, dataEntries.map(e =>
      PendingFile(e.filePath, e.recordCount, e.fileSizeInBytes,
        e.lowerBounds, e.upperBounds, None, 0, e.fileFormat,
        carriesLineage = src.formatVersion >= 3 && e.firstRowId.isEmpty,
        firstRowId = e.firstRowId)),
      extraSummary = Map("snapshot-source" -> sourceDir))
  }

  /** Append `df` as one CAS-committed append snapshot, routed through
    * the DSv2 task-writer machinery (the round-8 `TableWrite` path): the
    * input is read ONCE and written at the INPUT'S parallelism — every
    * task streams its rows into its own file(s), so a 1000-partition
    * DataFrame appends as 1000 concurrent file writes, never a
    * single-task funnel. The write's own declared distribution shapes
    * the shuffle (at most ONE): a partitioned table clusters on the
    * partition-source columns and each task splits its cluster into one
    * file per transform-space tuple (field-507 summaries — list-level
    * prunable, i33/i37); an unpartitioned table with a declared sort
    * order range-distributes on it (disjoint per-file bound stats —
    * read-side prunable, the i35 contract); otherwise the input
    * partitioning is used as-is. Task writers track bound stats INLINE
    * while writing (no second derive pass), the commit lands through the
    * same CAS loop every other writer uses, and the returned
    * CommitResult is the ACTUAL commit's (surfaced by the batch commit
    * itself — re-resolving the head here could describe a concurrent
    * writer's snapshot). */
  def append(spark: SparkSession, tableDir: String, df: DataFrame): OptimisticCommit.CommitResult = {
    val metaPath = latestMetadataPath(tableDir)
    val meta0 = TableMetadata.parseFile(metaPath)
    val schema = sparkSchema(meta0)
    val projected = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    graft.sources.GraftTableWrites.lastCommit.remove()
    projected.write.format("graft-table").option("metadata", metaPath)
      .mode("append").save()
    Option(graft.sources.GraftTableWrites.lastCommit.get()).getOrElse {
      // an empty append commits nothing — report the unchanged head
      val v = OptimisticCommit.currentVersion(tableDir)
      val path = OptimisticCommit.metadataPath(tableDir, v)
      OptimisticCommit.CommitResult(v, path, TableMetadata.parseFile(path), 0)
    }
  }

  /** One pre-written file with task-derived stats; `partitionSummary`
    * (set for partitioned writes) is the file's transform-space tuple —
    * it earns the file its OWN manifest with a field-507 summary under
    * `specId`, so DSv2-written partitioned data is list-level prunable
    * exactly like append's. */
  private[graft] final case class PendingFile(path: String, rows: Long, bytes: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      partitionSummary: Option[Seq[ManifestListReader.FieldSummary]] = None,
      specId: Int = 0, fileFormat: String = "PARQUET",
      // v3 row lineage: true when the file MATERIALIZES _row_id /
      // _last_updated_sequence_number as physical columns (a rewrite
      // carrying moved rows' original ids) — the commit then must NOT
      // claim a fresh id block for it
      carriesLineage: Boolean = false,
      // a pre-assigned first_row_id (zero-copy forks preserving the
      // source's lineage) — also exempt from fresh assignment
      firstRowId: Option[Long] = None) {
    /** The file's ADDED entry in snapshot `snapId`. */
    def entry(snapId: Long, content: Int = 0): ManifestWriter.EntryData =
      ManifestWriter.EntryData(1, snapId, path, rows, bytes, lower, upper,
        content = content, sequenceNumber = Some(snapId), fileFormat = fileFormat,
        firstRowId = firstRowId)
  }

  /** The manifests of added data files: un-summarized files share one
    * manifest; each summarized file gets its own with its field-507
    * summary under its spec id (a list summary describes the WHOLE
    * manifest). */
  private def dataManifests(prefix: String, files: Seq[PendingFile], snapId: Long)
      : Seq[SnapshotProducer.NewManifest] = {
    val (plain, summarized) = files.partition(_.partitionSummary.isEmpty)
    (if (plain.isEmpty) Nil
     else Seq(SnapshotProducer.NewManifest(prefix, plain.map(_.entry(snapId))))) ++
      summarized.zipWithIndex.map { case (f, i) =>
        SnapshotProducer.NewManifest(prefix, Seq(f.entry(snapId)), 0, f.specId,
          f.partitionSummary, f"-${i}%05d")
      }
  }

  /** Commit PRE-WRITTEN data files as one append snapshot — the driver
    * half of the DSv2 write route, where tasks already wrote the files
    * and derived the bound stats inline. Carried manifests keep their
    * provenance; the CAS loop makes concurrent writers (either route)
    * land on one linear history.
    *
    * `replace = true` commits TRUNCATE-overwrite semantics: the new
    * snapshot lists ONLY the written files — previous data AND delete
    * manifests drop out (their files stay on disk for time travel until
    * expiry). */
  private[graft] def commitAppendFiles(tableDir: String, files: Seq[PendingFile],
      extraSummary: Map[String, String] = Map.empty,
      replace: Boolean = false, branch: Option[String] = None,
      // REPLACE TABLE's metadata evolution (new schema/spec/properties),
      // applied to the FRESH base inside the CAS closure so a retry
      // re-validates against whatever committed meanwhile
      evolve: TableMetadata => TableMetadata = identity,
      // write-audit-publish staging (spark.wap.id): the snapshot lands in
      // the document but NO pointer moves — publish_changes applies it
      stage: Boolean = false)
      : OptimisticCommit.CommitResult = {
    // an empty REPLACE is meaningful (overwrite-from-empty truncates);
    // an empty append is the caller's no-op to skip
    require(files.nonEmpty || replace, "no files to commit")
    require(branch.isEmpty || !replace, "branch writes are append-only")
    // staging combines with replace (a staged truncate-overwrite
    // publishes fast-forward-only like every staged edit) but never
    // with a branch target — a branch IS the other WAP mechanism
    require(!stage || branch.isEmpty,
      "a wap.id staged commit targets main's lineage — " +
        "it does not combine with a branch target")
    SnapshotProducer.commit(tableDir, branch) { a =>
      // every NON-staging commit onto main refuses under a staging
      // session on a wap-opted table — this catches the paths that never
      // see the DSv2 builder's wap capture (add_files imports LAND NEW
      // ROWS; onboarding forks; REPLACE TABLE): a session that asked to
      // stage must never silently publish. The DSv2 batch route passes
      // stage=true in exactly this situation, so it never trips this.
      // The check covers BOTH sides of a property evolution: the table
      // AS IT STANDS (REPLACE's property replacement must not sneak an
      // overwrite past a wap-opted table just by omitting the property)
      // AND the evolved result (a REPLACE that INTRODUCES
      // write.wap.enabled under a staging session must not publish the
      // very rows the new contract says to stage).
      if (!stage && branch.isEmpty)
        refuseWapStage(a.base, "this commit path (it does not stage)")
      val evolved = evolve(a.base)
      if (!stage && branch.isEmpty && (evolved.properties ne a.base.properties))
        refuseWapStage(evolved.properties,
          "this commit path (the table definition it installs opts into WAP " +
            "but the rows would publish, not stage)")
      // v3 row lineage: every appended file claims its id block, EXCEPT
      // files with a pre-assigned id (zero-copy forks) and files
      // materializing lineage as columns
      SnapshotProducer.Commit(if (replace) "overwrite" else "append",
        Map("added-data-files" -> files.size.toString,
          "added-records" -> files.map(_.rows).sum.toString) ++ extraSummary ++
          // the stage MARKER distinguishes a genuinely staged snapshot
          // from any other out-of-lineage snapshot whose summary merely
          // RECORDS a wap.id (branch writes, rolled-back heads) —
          // publish_changes publishes only marked stages
          (if (stage) Map("wap.staged" -> "true") else Map.empty),
        // a branch append carries the BRANCH head's manifests: main's
        // history is invisible to the staged lineage past the fork
        carried = if (replace) Nil else a.headRows,
        manifests = dataManifests("m-append", files, a.snapshotId),
        stage = stage,
        lineageFiles = files.filter(_.carriesLineage).map(_.path).toSet,
        evolve = _ => evolved)
    }
  }

  /** REPLACE TABLE committed as ONE metadata write (the atomic half of
    * SQL `[CREATE OR] REPLACE TABLE … AS SELECT` through the staging
    * catalog): the new schema and partition spec append to the document
    * (history intact — every old snapshot stays time-travelable under
    * its own schema id), the current pointers move to them, properties
    * are REPLACED (Iceberg's replace semantics — a replace is a new
    * table definition, not a patch), the sort order resets to unsorted,
    * and a truncate-overwrite snapshot lists only the staged files. The
    * staged schema/spec allocated their ids against the stage-time base;
    * if a concurrent schema or spec commit landed since, those ids would
    * collide, so the closure REFUSES instead of silently corrupting —
    * the caller re-stages (same rule as every other CAS conflict). */
  private[graft] def commitReplaceTable(tableDir: String,
      newSchema: IcebergSchema, newSpec: PartitionSpec,
      newProps: Map[String, String], files: Seq[PendingFile])
      : OptimisticCommit.CommitResult =
    commitAppendFiles(tableDir, files,
      extraSummary = Map("replaced-schema-id" -> newSchema.schemaId.toString),
      replace = true, evolve = { base =>
        // legacy documents carry a top-level schema — fold it in so the
        // id checks see every schema the table ever had, but DEDUP by
        // schema-id: standard v1 writers put the SAME schema in both
        // slots, and persisting it twice would be spec-invalid
        val allSchemas = base.schemas ++ base.topLevelSchema
          .filterNot(t => base.schemas.exists(_.schemaId == t.schemaId))
        require((allSchemas.map(_.schemaId) :+ -1).max < newSchema.schemaId,
          s"schema evolved concurrently with the staged replace " +
            s"(staged schema-id ${newSchema.schemaId} is not above " +
            s"${(allSchemas.map(_.schemaId) :+ -1).max}) — re-stage the replace")
        require((base.partitionSpecs.map(_.specId) :+ -1).max < newSpec.specId,
          s"partition spec evolved concurrently with the staged replace — " +
            "re-stage the replace")
        newSchema.fields.flatMap(f => IcebergTypes.fromStringOpt(f.fieldType))
          .filter(IcebergTypes.isV3Only).foreach(t =>
            require(base.formatVersion >= 3,
              s"${t.name} columns need format-version 3"))
        // properties are REPLACED — except gc.enabled=false, which
        // describes who owns the HISTORICAL files: the old snapshots
        // (and their references into the fork's source table) survive
        // the replace, so the ownership flag must survive with them or
        // a later cleanup would reclaim the source's files
        val ownership = base.properties.get("gc.enabled")
          .filter(_ == "false").map("gc.enabled" -> _)
        // refuse LOUDLY rather than silently dropping the user's explicit
        // property: flipping gc on while the surviving history still
        // references source-owned files would let a later cleanup reclaim
        // them — the user must expire the fork's history first
        require(ownership.isEmpty || !newProps.get("gc.enabled").contains("true"),
          "cannot set gc.enabled=true on REPLACE: the table's surviving " +
            "history references files owned by its snapshot source " +
            "(gc.enabled=false) — expire the old snapshots first")
        base.copy(topLevelSchema = None,
          schemas = allSchemas :+ newSchema,
          currentSchemaId = Some(newSchema.schemaId),
          partitionSpecs = base.partitionSpecs :+ newSpec,
          defaultSpecId = newSpec.specId,
          sortOrders =
            if (base.sortOrders.exists(_.orderId == 0)) base.sortOrders
            else SortOrder(0, Nil) +: base.sortOrders,
          defaultSortOrderId = 0,
          properties = Map("graft.metrics" -> "full") ++ newProps ++ ownership)
      })

  /** Distributed v3 DV write: group the ([[PathId]] file_path, pos)
    * frame per data file IN THE CLUSTER and let each write task emit ONE
    * Puffin file holding its files' bitmaps — a delete touching 10⁵
    * files across 1000 tasks writes 1000 blobs concurrently, never a
    * driver funnel. Only the KB-scale blob addresses
    * (referenced file, puffin path, offset, length, cardinality, file
    * size) come back for the manifest commit. `manifestForm` maps the
    * path ids back to the exact path form the manifests carry (a frame
    * already in that form passes it empty), so referenced_data_file
    * matches at planning time. */
  private def writeDvsDistributed(spark: SparkSession, tableDir: String,
      attempt: java.util.UUID, dels: DataFrame,
      manifestForm: Map[String, String], provisionalSnap: Long)
      : Seq[(String, String, Long, Long, Long, Long)] = {
    import spark.implicits._
    val manifestFormB = spark.sparkContext.broadcast(manifestForm)
    val taskConf = new SerializableHadoopConf(HadoopConfs.active())
    dels
      .repartition(col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .mapPartitions { it =>
        val byFile = scala.collection.mutable.LinkedHashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
        it.foreach { r =>
          byFile.getOrElseUpdate(r.getString(0),
            scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
        }
        if (byFile.isEmpty) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val path = s"$tableDir/data/dv-$attempt-$pid.puffin"
          val dvs = byFile.toSeq.map { case (f, ps) =>
            manifestFormB.value.getOrElse(f, f) -> ps.toArray }
          val (refs, size) =
            DeletionVectors.writeDvFile(path, provisionalSnap, dvs, taskConf.value)
          refs.iterator.map(r =>
            (r.referencedDataFile, r.path, r.offset, r.length, r.cardinality, size))
        }
      }.collect().toSeq
  }

  /** The pending position-delete state for a COVERED file set (v3
    * merge-on-write input): the live DV entries whose referenced file is
    * covered (these get superseded by the commit), plus ONE DataFrame of
    * ([[PathId]] file_path, pos) carrying every pending position of the
    * covered files — the DVs and the v2 parquet files that may address
    * them, read through the `position_deletes` scan. */
  private def pendingPosState(spark: SparkSession, meta0: TableMetadata,
      covered: Set[String], branch: Option[String] = None)
      : (Seq[ManifestWriter.EntryData], DataFrame) = {
    val delE = entriesAt(refHead(meta0, branch), 1).filter(_.content == 1)
    val oldDvEntries = delE.filter(e => e.fileFormat == "PUFFIN" &&
      e.referencedDataFile.exists(r => covered(PathId(r))))
    // sorted-array overlap keeps this O(D log N) — a per-covered-path
    // probe would be O(D·N) at 10⁵ files × 10⁵ deletes
    val sortedCovered = covered.toArray.sorted
    val oldParquet = delE.filter(e => e.fileFormat != "PUFFIN" &&
      posDeleteOverlaps(e, sortedCovered))
    (oldDvEntries, posDeleteRows(spark, oldDvEntries ++ oldParquet)
      .filter(col("file_path").isin(covered.toSeq: _*)))
  }

  /** The ([[PathId]] file_path, pos) rows of position-delete entries,
    * through the `position_deletes` scan. */
  private def posDeleteRows(spark: SparkSession,
      entries: Seq[ManifestWriter.EntryData]): DataFrame =
    graft.sources.GraftPosDeletesTable.scan(spark, entries)
      .select(PathId.col(col("file_path")).as("file_path"), col("pos"))

  /** Could `del` (a position-delete entry) address any of `paths`
    * (path ids)? Its file_path bound stats — written under the RESERVED
    * position-delete field ids — answer without opening the file; missing
    * or undecodable bounds keep it (conservative). */
  private def posDeleteMayAddress(del: ManifestWriter.EntryData,
      paths: Set[String]): Boolean =
    ManifestWriter.posDeletePathBounds(del) match {
      case (Some(lo), Some(hi)) => paths.exists(p => lo <= p && p <= hi)
      case _ => true
    }

  /** [[posDeleteMayAddress]] against a SORTED path-id array —
    * binary search for the first path >= the lower bound, then one
    * compare against the upper: O(log N) per delete entry. */
  private def posDeleteOverlaps(del: ManifestWriter.EntryData,
      sortedPaths: Array[String]): Boolean =
    ManifestWriter.posDeletePathBounds(del) match {
      case (Some(lo), Some(hi)) =>
        val i = java.util.Arrays.binarySearch(sortedPaths.asInstanceOf[Array[AnyRef]], lo)
        val at = if (i >= 0) i else -i - 1
        at < sortedPaths.length && sortedPaths(at) <= hi
      case _ => true
    }

  /** Serializable-isolation check for copy-on-write row-level commits: a
    * delete file committed between the operation's scan and its replace
    * commit is silently lost for rewritten rows (its position deletes
    * address the dropped old paths; its equality deletes are out-sequenced
    * by the rewritten files' new sequence) — so any delete file NOT seen
    * at scan time that could address a replaced file aborts the commit.
    * Equality deletes carry no per-file address and always conflict. */
  private def validateNoNewDeletes(base: TableMetadata,
      scannedDeletePaths: Set[String], replacedNorm: Set[String],
      branch: Option[String] = None): Unit = {
    val seen = scannedDeletePaths.map(PathId(_)) // idempotent on plain paths
    val fresh = entriesAt(refHead(base, branch), 1)
      .filterNot(e => seen.contains(PathId(e.filePath)))
    val conflicting = fresh.filter(e =>
      e.content == 2 || posDeleteMayAddress(e, replacedNorm))
    if (conflicting.nonEmpty) throw OptimisticCommit.CommitConflictException(
      "delete files committed concurrently address rewritten data: " +
        conflicting.map(_.filePath).mkString(", "))
  }

  /** Commit a group-based (copy-on-write) REPLACE: `replacedPaths` (the
    * files the row-level scan served) drop out, `files` (the rewritten
    * content of exactly those groups) come in, untouched files carry
    * forward as EXISTING entries with their ORIGINAL sequence numbers so
    * pending deletes still apply to them — the commit shape behind SQL
    * UPDATE and MERGE INTO. Validates on the refreshed base: a replaced
    * file removed by a concurrent commit — or a delete file added by one
    * (`scannedDeletePaths` = EVERY delete file live in the scan
    * snapshot, including ones the scan legitimately pruned — recording
    * only the applied subset would misclassify pruned pre-existing
    * deletes as concurrent) — aborts instead of resurrecting data. */
  private[graft] def commitReplaceFiles(tableDir: String, files: Seq[PendingFile],
      replacedPaths: Set[String], scannedDeletePaths: Set[String],
      branch: Option[String] = None)
      : OptimisticCommit.CommitResult =
    SnapshotProducer.commit(tableDir, branch) { a =>
      val base = a.base
      val snapId = a.snapshotId
      // branch-scoped edits bypass no audit gate (the other WAP path);
      // a main-targeting rewrite under a staging session STAGES
      val wap = wapEditDecision(branch, base.properties)
      // with `branch`, the whole replace is BRANCH-SCOPED (the WAP story
      // for edits): live state, conflict validation, carried deletes and
      // the parent all come from the branch head, and only the branch
      // ref moves — main never sees the rewrite until fast_forward. The
      // replaced files stay physically intact (a COW replace drops
      // REFERENCES, never bytes), so main's scans are untouched.
      val head = refHead(base, branch)
      val curData = entriesAt(head, 0).filter(_.content == 0)
      val replacedNorm = replacedPaths.map(PathId(_))
      val missing = replacedNorm -- curData.map(e => PathId(e.filePath)).toSet
      if (missing.nonEmpty) throw OptimisticCommit.CommitConflictException(
        s"row-level operation sources removed by a concurrent commit: ${missing.mkString(", ")}")
      validateNoNewDeletes(base, scannedDeletePaths, replacedNorm, branch)
      val untouched = curData.filterNot(e => replacedNorm.contains(PathId(e.filePath)))
        .map(_.copy(status = 0, snapshotId = snapId))
      // the replaced files are recorded as DELETED tombstones (status 2,
      // original sequence/stats) — Iceberg's overwrite shape: scans drop
      // them (every reader filters status != 2), but the `entries`
      // inspection table and changelog-style consumers can see exactly
      // what this commit removed without diffing snapshots
      val tombstones = curData.filter(e => replacedNorm.contains(PathId(e.filePath)))
        .map(_.copy(status = 2, snapshotId = snapId))
      // v3 lineage: COW-rewritten files assign FRESH ids (Spark's
      // group-based replace plan carries no metadata attributes for a
      // connector to thread original ids through — the MOR delta route
      // preserves identity; COW documents the identity change). Files
      // that DO materialize lineage (engine-side rewrites) skip.
      SnapshotProducer.Commit("overwrite",
        Map("added-data-files" -> files.size.toString,
          "deleted-data-files" -> replacedPaths.size.toString) ++ wap.summary,
        // delete manifests carry forward: they still scope to untouched
        // files; rewritten groups were materialized post-MOR at a new seq
        carried = a.headRows.filter(_.content == 1),
        manifests = Seq(SnapshotProducer.NewManifest("m-rowlevel",
          untouched ++ files.map(_.entry(snapId)) ++ tombstones)),
        stage = wap.staged,
        lineageFiles = files.filter(_.carriesLineage).map(_.path).toSet)
    }

  /** Hidden-partition pruned read WITH merge-on-read: the head read
    * ([[read]]) filtered on `sourceFieldId <=> value`. The scan's planning
    * pass converts the value into the spec's transform space
    * (ScanPlanning.transformValue) and prunes manifests against their
    * list summaries WITHOUT opening them — DATA manifests and, by the
    * same rule applied symmetrically, DELETE manifests: a
    * partition-scoped delete file cannot address data in a partition its
    * manifest's summaries provably exclude (a summary-less delete
    * manifest is always kept — global deletes stay safe). The
    * sequence-scoped MOR runs over the pruned sets, and the predicate
    * stays residual in the scan. Returns the filtered live rows plus how
    * many DATA manifests that planning pass opened vs listed. */
  def readWhere(spark: SparkSession, metadataPath: String,
      sourceFieldId: Int, value: Any): (DataFrame, Int, Int) = {
    val meta = TableMetadata.parseFile(metadataPath)
    val c = col(fieldName(meta, sourceFieldId))
    withDataManifests(TableDataSource.read(spark, metadataPath, meta).filter(c <=> lit(value)))
  }

  /** Range variant of [[readWhere]]: `lower <= sourceField <= upper`
    * (either side optional) prunes data AND delete manifests through the
    * spec's MONOTONIC transforms (ScanPlanning.pruneManifestsByRange) in
    * the same planning pass, composes the sequence-scoped MOR apply, and
    * keeps the range residual in the scan. */
  def readWhereRange(spark: SparkSession, metadataPath: String,
      sourceFieldId: Int, lower: Option[Any], upper: Option[Any])
      : (DataFrame, Int, Int) = {
    val meta = TableMetadata.parseFile(metadataPath)
    val c = col(fieldName(meta, sourceFieldId))
    val df = TableDataSource.read(spark, metadataPath, meta)
    withDataManifests((lower.map(c >= lit(_)) ++ upper.map(c <= lit(_)))
      .reduceOption(_ && _).fold(df)(df.filter))
  }

  private def fieldName(meta: TableMetadata, fieldId: Int): String =
    meta.currentSchema.fields.find(_.id == fieldId)
      .getOrElse(throw new IllegalArgumentException(s"no field with id $fieldId")).name

  /** `df` with the (opened, listed) data manifests of its scan's planning
    * pass, which this runs. */
  private def withDataManifests(df: DataFrame): (DataFrame, Int, Int) = {
    val (opened, listed) = TableDataSource.dataManifests(df)
    (df, opened, listed)
  }

  /** MOR read restricted to rows whose `fieldId` value can fall in
    * `[lower, upper]` — the per-batch guard read of a CDC upsert sink
    * (st16): the head planned by the one planner with the range pushed,
    * so data manifests and data files whose summaries or decoded bound
    * stats provably exclude the range never open (the stats every upsert
    * commit already writes), and a batch touching a narrow key range
    * reads O(overlapping files), not the whole table. On top of the
    * planner's output, equality-delete entries whose key bounds exclude
    * the range are left out ([[graft.sources.FileBoundsEval.skippable]]):
    * such a delete can only kill rows outside the range, which the
    * residual range filter drops from kept files too, so the result is
    * exactly the full MOR scan filtered to the range. That exclusion stays
    * here, never in the shared planner: a copy-on-write scan must see
    * every delete of a file it keeps. Conservative throughout: an entry
    * without decodable bounds for the field is kept. Position deletes are
    * NOT key-pruned (they address (file_path, pos), not keys) — the scan
    * scopes them to each surviving file by their path bounds.
    * KeyRangePruneSpec proves the skip destructively: a corrupted
    * non-overlapping data file never opens. */
  def readKeyRange(spark: SparkSession, metadataPath: String,
      fieldId: Int, lower: Any, upper: Any): DataFrame = {
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
    val meta = TableMetadata.parseFile(metadataPath)
    val name = fieldName(meta, fieldId)
    val range = Array[Filter](GreaterThanOrEqual(name, lower), LessThanOrEqual(name, upper))
    val planned = refHead(meta, None).map(GraftTableScan.plan(meta, _, range, HadoopConfs.active()))
    TableDataSource.scanPlan(spark, meta,
        planned.toSeq.flatMap(_.kept.map { case (e, seq, _) => (e, seq) }),
        planned.toSeq.flatMap(_.deletes.filterNot { case (e, _) =>
          e.content == 2 && range.exists(graft.sources.FileBoundsEval.skippable(_, e, meta)) }))
      .filter(col(name) >= lit(lower) && col(name) <= lit(upper))
      .select(sparkSchema(meta).fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Current non-deleted entries of the head snapshot, by list content —
    * manifests open concurrently.
    * An entry relying on list-level sequence inheritance (null sequence,
    * field 515 carries the number) gets the sequence MATERIALIZED here:
    * the spec restricts inheritance to ADDED entries, so an entry carried
    * forward into a NEW manifest (whose list sequence is the new commit's)
    * must hold its original number explicitly or it would out-sequence
    * pending equality deletes. */
  private def currentEntries(base: TableMetadata, listContent: Int): Seq[ManifestWriter.EntryData] =
    entriesAt(base.currentSnapshot, listContent)

  /** [[currentEntries]] generalized to any head snapshot — what lets the
    * DML paths operate on a BRANCH head instead of main's. */
  private def entriesAt(head: Option[Snapshot], listContent: Int): Seq[ManifestWriter.EntryData] =
    Par.inParallel(
      head.toSeq
        .flatMap(s => ManifestListReader.read(s.manifestList.get))
        .filter(_.content == listContent))(i => ManifestWriter.read(i.path).map(e =>
          e.copy(sequenceNumber = Some(e.sequenceNumber.getOrElse(i.sequenceNumber)))))
      .flatten.filter(_.status != 2)

  /** The head a DML operation works against: the named branch's (the ref
    * must exist — a typo must not silently target main) or main's. */
  private def refHead(meta: TableMetadata, branch: Option[String]): Option[Snapshot] =
    branch match {
      case Some(b) =>
        require(meta.refs.exists(r => r.name == b && r.refType == "branch"),
          s"unknown branch '$b'")
        Some(resolveSnapshot(meta, None, Some(b)))
      case None => meta.currentSnapshotId.map(_ => resolveSnapshot(meta, None, None))
    }

  /** MERGE INTO, copy-on-write: source rows matched on `keyCols` REPLACE
    * the live row (whole-row update), unmatched source rows insert — a
    * key whose row was previously deleted counts as unmatched and
    * re-inserts. Only data files CONTAINING matched keys are rewritten;
    * the rewrite materializes any pending deletes for those files (their
    * old position deletes address old paths, and older equality deletes
    * are out-sequenced — both correctly inert against the new files under
    * scoped reads), while untouched files carry forward as EXISTING
    * entries with their ORIGINAL sequence numbers, so pending deletes
    * still apply to them. Commit re-validates on the refreshed base and
    * aborts if a concurrent commit removed an affected file. */
  def merge(spark: SparkSession, tableDir: String, source: DataFrame,
      keyCols: Seq[String]): OptimisticCommit.CommitResult = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val meta0 = TableMetadata.parseFile(latestMetadataPath(tableDir))
    val schema = sparkSchema(meta0)
    val cols = schema.fieldNames.toIndexedSeq
    // the source is STAGED ONCE (memory, spilling to disk): the range
    // agg, match detection, K per-file rewrite joins, and the insert
    // anti-join all reuse the materialization — an expensive source
    // query must not be recomputed K+2 times
    val src = source.select(cols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeStaged(spark, tableDir, meta0, schema, cols, src, keyCols)
    finally src.unpersist()
  }

  private def mergeStaged(spark: SparkSession, tableDir: String,
      meta0: TableMetadata, schema: org.apache.spark.sql.types.StructType,
      cols: IndexedSeq[String], src: DataFrame, keyCols: Seq[String])
      : OptimisticCommit.CommitResult = {
    // planning state: entries with MATERIALIZED sequences (KB-scale)
    val dataEntries = currentEntries(meta0, 0).filter(_.content == 0)
    val delEntries = currentEntries(meta0, 1)
    val posEntries = delEntries.filter(_.content == 1).map(e => (e, e.sequenceNumber.get))
    val eqEntries = delEntries.filter(_.content == 2).map(e => (e, e.sequenceNumber.get))
    // metadata-level candidate pruning: one small agg derives the
    // source's [min,max] per key column; a data file whose key-column
    // bound stats can't overlap that range provably holds no match and
    // is NEVER READ — neither for match detection nor for rewrite (the
    // manifest stats exist exactly for this)
    val keyFields = keyCols.map(k => meta0.currentSchema.fields.find(_.name == k)
      .getOrElse(throw new IllegalArgumentException(s"key column $k not in schema")))
    val rangeAggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
    val rangeRow = src.agg(rangeAggs.head, rangeAggs.tail: _*).head()
    val srcEmpty = rangeRow.isNullAt(0) && rangeRow.isNullAt(1)
    def decodeBound(e: ManifestWriter.EntryData, fieldId: Int,
        fieldType: String, lower: Boolean): Option[Any] = for {
      t <- IcebergTypes.fromStringOpt(fieldType)
      bytes <- (if (lower) e.lowerBounds else e.upperBounds).get(fieldId)
      if bytes.nonEmpty
      v <- scala.util.Try(SingleValueCodec.decode(t, bytes)).toOption
    } yield v
    def entryMayMatch(e: ManifestWriter.EntryData): Boolean =
      keyFields.zipWithIndex.forall { case (f, i) =>
        val (srcMin, srcMax) = (rangeRow.get(2 * i), rangeRow.get(2 * i + 1))
        // provably disjoint only when bounds decode AND compare; missing
        // stats keep the file (conservative)
        val below = decodeBound(e, f.id, f.fieldType, lower = false)
          .flatMap(ScanPlanning.cmpValues(_, srcMin)).exists(_ < 0)
        val above = decodeBound(e, f.id, f.fieldType, lower = true)
          .flatMap(ScanPlanning.cmpValues(_, srcMax)).exists(_ > 0)
        !(below || above)
      }
    val candEntries =
      (if (srcEmpty) Nil else dataEntries.filter(entryMayMatch))
        .map(e => (e, e.sequenceNumber.get))
    val candByPath = candEntries.map { case (e, s) => PathId(e.filePath) -> (e, s) }.toMap
    // the MOR frame over CANDIDATE files only — non-candidates can't
    // hold a source key, so match detection and the insert anti-join
    // are both complete over this subset
    val candLive = TableDataSource.scanPlan(spark, meta0, candEntries, posEntries ++ eqEntries)
    val affected = candLive.join(src, keyCols, "left_semi")
      .select(col("_file")).distinct().collect().map(r => PathId(r.getString(0))).toSet
    val mergeUuid = java.util.UUID.randomUUID()
    val writerFields = graft.sources.GraftTableWrites.fieldsOf(meta0.currentSchema)
    // per-file COW rewrites are independent Spark jobs — submitted
    // concurrently, and each reads ONLY its target file plus the delete
    // files that can address it (the scan scopes them by sequence and
    // file_path bounds): K affected files cost O(affected bytes) total,
    // not K full-table scans. Each lands as one task-written file with
    // inline bound stats.
    val rewritten = Par.inParallel(affected.toSeq.sorted.zipWithIndex) { case (f, i) =>
      val fileLive = TableDataSource.scanPlan(spark, meta0, Seq(candByPath(f)),
        posEntries ++ eqEntries)
      graft.sources.GraftTableWrites.writeDataFiles(
        fileLive
          .join(src.select(keyCols.map(col) :+ struct(cols.map(col): _*).as("_src"): _*),
            keyCols, "left_outer")
          .select(cols.map(c =>
            when(col("_src").isNotNull, col(s"_src.$c")).otherwise(col(c)).as(c)): _*)
          .repartition(1).sortWithinPartitions(keyCols.map(col): _*),
        f"$tableDir/data/merged-$mergeUuid-${i}%05d", writerFields)
    }.flatten
    // inserts land through the same task writers at the anti-join's OWN
    // parallelism: each task streams its rows into its own file — no
    // single-task funnel, no extra count() job
    val insertMsgs = graft.sources.GraftTableWrites.writeDataFiles(
      src.join(candLive, keyCols, "left_anti").sortWithinPartitions(keyCols.map(col): _*),
      s"$tableDir/data/merge-insert-$mergeUuid", writerFields)
    // the delete files the scan applied — a delete committed AFTER this
    // set was read conflicts with the rewrite (validateNoNewDeletes)
    val scannedDeletes = currentEntries(meta0, 1).map(e => PathId(e.filePath)).toSet
    SnapshotProducer.commit(tableDir) { a =>
      val base = a.base
      val snapId = a.snapshotId
      val curData = currentEntries(base, 0).filter(_.content == 0)
      val missing = affected.filterNot(curData.map(e => PathId(e.filePath)).toSet)
      if (missing.nonEmpty) throw OptimisticCommit.CommitConflictException(
        s"merge sources removed by a concurrent commit: ${missing.mkString(", ")}")
      validateNoNewDeletes(base, scannedDeletes, affected)
      // untouched files: EXISTING entries, ORIGINAL sequence preserved
      val untouched = curData.filterNot(e => affected.contains(PathId(e.filePath)))
        .map(_.copy(status = 0, snapshotId = snapId))
      // v3 lineage: COW-merged files assign fresh ids (same documented
      // identity rule as commitReplaceFiles — MOR preserves, COW renews)
      val added = (rewritten ++ insertMsgs).map(m =>
        ManifestWriter.EntryData(1, snapId, m.path, m.rows, m.bytes,
          m.lower, m.upper, content = 0, sequenceNumber = Some(snapId)))
      // the same stage-or-audit contract every row-level tail honors:
      // a wap-opted table under a staging session stages the MERGE
      val wap = wapEditDecision(None, base.properties, Some(spark))
      SnapshotProducer.Commit("overwrite",
        Map("added-data-files" -> added.size.toString,
          "deleted-data-files" -> affected.size.toString) ++ wap.summary,
        // delete manifests carry forward: they still apply to untouched files
        carried = a.headRows.filter(_.content == 1),
        manifests = Seq(SnapshotProducer.NewManifest("m-merge", untouched ++ added)),
        stage = wap.staged)
    }
  }

  /** One parsed `where` constraint for a partial rewrite: a top-level
    * column compared against a typed literal. */
  private final case class RewriteConstraint(fieldId: Int, t: IcebergType,
      op: String, value: Any)

  /** Fold a decoded bound value or a Catalyst literal into
    * [[ScanPlanning.cmpValues]]' comparison space (Number or String).
    * Dates compare as epoch days, micro-precision timestamps as epoch
    * micros (both sides normalize to the same unit). None = unorderable;
    * every caller treats that as "cannot exclude" — the conservative
    * direction. */
  private def comparableValue(v: Any): Option[Any] = v match {
    case null => None
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.time.LocalDateTime => Some(java.lang.Math.addExact(
      java.lang.Math.multiplyExact(
        t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), t.getNano / 1000L))
    case i: java.time.Instant => Some(java.lang.Math.addExact(
      java.lang.Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L))
    case n: Number => Some(n)
    case s: String => Some(s)
    case _ => None
  }

  /** Parse a partial-rewrite `where` into per-field constraints: ANDed
    * comparisons (=, <, <=, >, >=) of a top-level column against a typed
    * literal — the planning-level filter upstream's RewriteDataFiles
    * takes. Anything else refuses LOUDLY: a predicate this planner
    * cannot evaluate against file bounds would silently select the whole
    * table, which is worse than an error. */
  private def parseRewriteWhere(spark: SparkSession, meta: TableMetadata,
      where: String): Seq[RewriteConstraint] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
      Expression, GreaterThan, GreaterThanOrEqual, LessThan,
      LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def leaves(e: Expression): Seq[Expression] = e match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case o => Seq(o)
    }
    def refuse(what: String): Nothing = throw new IllegalArgumentException(
      "rewrite_data_files `where` supports ANDed comparisons " +
        s"(=, <, <=, >, >=) of a top-level column against a literal; $what")
    // literal acceptance is PER COLUMN TYPE, by comparison UNIT — not a
    // coarse number-vs-string bucket: a DATE literal (epoch days) and a
    // timestamp column's bounds (epoch micros) are both "numbers" yet
    // ordering them mis-selects by 11 orders of magnitude (silent
    // whole-table rewrite or silent no-op). Plain numerics share the
    // number line; DATE needs a DATE literal; micro-precision
    // timestamps take either timestamp literal flavor (the session is
    // pinned UTC, so NTZ micros are exact); ns and time bounds are RAW
    // integers (nanos / micros-of-day) and only an integral literal
    // shares their unit. Boolean/binary/uuid/geo/nested columns have no
    // orderable bound space at all.
    def literalAccepted(t: IcebergType,
        dt: org.apache.spark.sql.types.DataType): Boolean = t match {
      case IcebergTypes.TInt | IcebergTypes.TLong | IcebergTypes.TFloat |
           IcebergTypes.TDouble | IcebergTypes.TDecimal(_, _) =>
        dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
      case IcebergTypes.TDate => dt == org.apache.spark.sql.types.DateType
      case IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz =>
        dt == org.apache.spark.sql.types.TimestampType ||
          dt == org.apache.spark.sql.types.TimestampNTZType
      case IcebergTypes.TTimestampNs | IcebergTypes.TTimestamptzNs |
           IcebergTypes.TTime =>
        dt == org.apache.spark.sql.types.ByteType ||
          dt == org.apache.spark.sql.types.ShortType ||
          dt == org.apache.spark.sql.types.IntegerType ||
          dt == org.apache.spark.sql.types.LongType
      case IcebergTypes.TString => dt == org.apache.spark.sql.types.StringType
      case _ => false
    }
    // exact name first, then a UNIQUE case-insensitive match (Spark SQL
    // resolves identifiers case-insensitively) — ambiguity refuses
    val fields = meta.currentSchema.fields
    def resolve(name: String): Option[IcebergField] =
      fields.find(_.name == name).orElse(
        fields.filter(_.name.equalsIgnoreCase(name)) match {
          case Seq(one) => Some(one)
          case _ => None
        })
    leaves(spark.sessionState.sqlParser.parseExpression(where)).map { leaf =>
      val (attr, op, lit) = leaf match {
        case EqualTo(a: UnresolvedAttribute, l: Literal) => (a, "=", l)
        case EqualTo(l: Literal, a: UnresolvedAttribute) => (a, "=", l)
        case LessThan(a: UnresolvedAttribute, l: Literal) => (a, "<", l)
        case LessThan(l: Literal, a: UnresolvedAttribute) => (a, ">", l)
        case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => (a, "<=", l)
        case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => (a, ">=", l)
        case GreaterThan(a: UnresolvedAttribute, l: Literal) => (a, ">", l)
        case GreaterThan(l: Literal, a: UnresolvedAttribute) => (a, "<", l)
        case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => (a, ">=", l)
        case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => (a, "<=", l)
        case other => refuse(s"cannot evaluate: ${other.sql}")
      }
      val f = resolve(attr.name).getOrElse(
        refuse(s"no top-level column '${attr.name}'"))
      val t = IcebergTypes.fromString(f.fieldType)
      // a literal outside the column's comparison unit would NEVER
      // exclude (or exclude everything) — silently rewriting the whole
      // table, or silently nothing, where the user asked for a slice.
      // A column NO literal type can order against (boolean/binary/
      // uuid/geo/nested) gets the honest diagnostic, not a literal-
      // spelling suggestion that can never succeed.
      if (!literalAccepted(t, lit.dataType)) {
        val orderable = t match {
          case IcebergTypes.TInt | IcebergTypes.TLong | IcebergTypes.TFloat |
               IcebergTypes.TDouble | IcebergTypes.TDecimal(_, _) |
               IcebergTypes.TDate | IcebergTypes.TTime |
               IcebergTypes.TTimestamp | IcebergTypes.TTimestamptz |
               IcebergTypes.TTimestampNs | IcebergTypes.TTimestamptzNs |
               IcebergTypes.TString => true
          case _ => false
        }
        if (!orderable)
          refuse(s"column '${f.name}' (${f.fieldType}) has no orderable " +
            "bound space to select files by")
        refuse(s"literal ${lit.sql} (${lit.dataType.simpleString}) does " +
          s"not share column '${f.name}' (${f.fieldType})'s comparison " +
          "unit — use a matching typed literal (a number, a string, " +
          "DATE '...', TIMESTAMP '...', or raw integer nanos for ns " +
          "columns)")
      }
      val v = comparableValue(lit.value).getOrElse(
        refuse(s"unsupported literal ${lit.sql} for column '${f.name}'"))
      RewriteConstraint(f.id, t, op, v)
    }
  }

  /** Provable exclusion of a live entry under one constraint — the same
    * bound logic every pruning site uses: missing bounds, undecodable
    * blobs or unorderable values KEEP the file (over-selection rewrites
    * more than asked, which is harmless; under-selection would break the
    * procedure's contract). */
  private def entryExcluded(e: ManifestWriter.EntryData,
      c: RewriteConstraint): Boolean = {
    def dec(m: Map[Int, Array[Byte]]): Option[Any] = m.get(c.fieldId)
      .flatMap(b => scala.util.Try(SingleValueCodec.decode(c.t, b)).toOption)
      .flatMap(comparableValue)
    def cmp(a: Option[Any], b: Any): Option[Int] =
      a.flatMap(x => ScanPlanning.cmpValues(x, b))
    val lo = dec(e.lowerBounds)
    val hi = dec(e.upperBounds)
    c.op match {
      case "=" => cmp(lo, c.value).exists(_ > 0) || cmp(hi, c.value).exists(_ < 0)
      case "<" => cmp(lo, c.value).exists(_ >= 0)
      case "<=" => cmp(lo, c.value).exists(_ > 0)
      case ">" => cmp(hi, c.value).exists(_ <= 0)
      case ">=" => cmp(hi, c.value).exists(_ < 0)
    }
  }

  /** Compaction (rewrite_data_files + delete materialization in one):
    * the table's MOR-resolved content is rewritten into target-size data
    * files, pending deletes are materialized away (position deletes
    * address the dead paths; equality deletes are out-sequenced), and a
    * replace snapshot commits through the CAS loop. Data files (and
    * their delete files) that other writers commit meanwhile carry
    * forward untouched; the commit aborts only when a rewritten file
    * was removed concurrently, or a new delete file may address one.
    *
    * Strategies:
    *   - **bin-pack** (default, `sortOrder`/`zorderCols` empty): files
    *     group into target-size bins, one concurrent rewrite job per
    *     bin, each reading only its own files — total I/O one table
    *     pass, wall-clock bounded by the biggest bin.
    *   - **sort** (`sortOrder` = (column, descending) list): ONE
    *     distributed pass — the MOR-resolved rows range-distribute over
    *     ceil(total/target) output files and sort within each, so files
    *     cover DISJOINT key ranges with tight bound stats (the i35
    *     sorted-write contract applied retroactively to old data).
    *   - **z-order** (`zorderCols`): same pass keyed by the Morton
    *     curve ([[graft.functions.ZOrderKey]]) — every file covers a
    *     small HYPER-RECTANGLE of the clustered columns, so min/max
    *     pruning works for predicates on ANY clustered subset, not just
    *     a sort prefix.
    *
    * Every strategy writes through the task writer
    * ([[graft.sources.GraftTableWrites.writeDataFiles]]): one file per
    * bin or range partition, bound stats tracked inline while writing; a
    * bin or range whose rows were all deleted writes no file.
    *
    * `where` (upstream RewriteDataFiles' filter) makes the rewrite
    * PARTIAL: only files whose bound stats may contain matching rows are
    * rewritten (wholly — the predicate never drops rows); unaffected
    * manifests carry verbatim with their summaries, and delete manifests
    * carry because they still scope to the carried files. At 100 TB the
    * nightly sweep compacts the hot key range, not the table. */
  def compact(spark: SparkSession, tableDir: String,
      targetBytes: Long = 512L * 1024 * 1024,
      sortOrder: Seq[(String, Boolean)] = Nil,
      zorderCols: Seq[String] = Nil,
      where: Option[String] = None,
      minInputFiles: Int = 1): OptimisticCommit.CommitResult = {
    require(sortOrder.isEmpty || zorderCols.isEmpty,
      "sort and zorder strategies are mutually exclusive")
    require(minInputFiles >= 1, "min_input_files must be >= 1")
    require(targetBytes > 0,
      s"target_file_size_bytes must be positive, got $targetBytes")
    val metaPath0 = latestMetadataPath(tableDir)
    val meta0 = TableMetadata.parseFile(metaPath0)
    val schema = sparkSchema(meta0)
    (sortOrder.map(_._1) ++ zorderCols).foreach(c =>
      require(schema.fieldNames.contains(c), s"no such column $c"))
    // ONE concurrent sweep of the data manifests serves BOTH the live
    // entry set and the partition-tuple tags the partition-scoped
    // rewrite groups by (the tag = the manifest's rendered tuple, its
    // spec id and its field-507 summary, carried to the output
    // manifests) — a second serial metadata sweep at 10^4+ manifests
    // would cost more than the rewrite's planning itself
    type TupleTag = (String, Int, Seq[ManifestListReader.FieldSummary])
    val infos0 = meta0.currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
    val plannedDeleteManifests = infos0.filter(_.content == 1).map(_.path).toSet
    val perManifest0: Seq[(Option[TupleTag], Seq[ManifestWriter.EntryData])] =
      Par.inParallel(infos0.filter(_.content == 0)) { i =>
        val tag = for {
          t <- MetadataTables.partitionTuple(meta0, i)
          ss <- i.summaries
        } yield (t, i.specId, ss)
        (tag, ManifestWriter.read(i.path)
          .map(e => e.copy(sequenceNumber =
            Some(e.sequenceNumber.getOrElse(i.sequenceNumber))))
          .filter(e => e.status != 2 && e.content == 0))
      }
    val preData = perManifest0.flatMap(_._2)
    require(preData.nonEmpty, "compact on a table with no data files")
    val delEntries = currentEntries(meta0, 1)
    val posEntries = delEntries.filter(_.content == 1).map(e => (e, e.sequenceNumber.get))
    val eqEntries = delEntries.filter(_.content == 2).map(e => (e, e.sequenceNumber.get))
    // PARTIAL rewrite (upstream's `where`): select only the files whose
    // bound stats MAY contain matching rows — at 100 TB compaction
    // targets the hot partition, not the table. Selection is
    // planning-level (file bounds vs ANDed comparisons, the same
    // conservative rule every pruning site uses); selected files rewrite
    // WHOLLY — the predicate never drops rows.
    val constraints = where.map(w => parseRewriteWhere(spark, meta0, w))
    val selected = constraints match {
      case None => preData
      case Some(cs) => preData.filterNot(e => cs.exists(c => entryExcluded(e, c)))
    }
    // nothing matches — or fewer matches than the fragmentation
    // threshold (upstream's min-input-files: a nightly sweep re-run on
    // an already-compacted range must NO-OP, not churn 1 file into 1
    // file forever; the default of 1 keeps rewrite-always semantics,
    // including delete materialization, for explicit calls): a no-op
    // success, no metadata version — the (version, path, metadata)
    // triple derives from the ONE state already read, never from fresh
    // racy directory probes
    if (selected.size < minInputFiles)
      return OptimisticCommit.CommitResult(
        OptimisticCommit.versionOf(metaPath0), metaPath0, meta0, 0)
    val compactUuid = java.util.UUID.randomUUID()
    // v3 row lineage: a rewrite MOVES rows, so the moved rows' ids ride
    // along as MATERIALIZED columns in the output files (the entries
    // then claim no fresh id block — firstRowId stays None and readers
    // serve the columns)
    val lineageCols =
      if (meta0.formatVersion >= 3) Seq(RowIdCol, LastUpdatedCol) else Nil
    // Rewrites are PARTITION-SCOPED like upstream RewriteDataFiles'
    // per-partition file groups: neither a bin nor a sort/zorder range
    // exchange ever spans partition tuples — merging partitions into
    // shared output files would kill list-level pruning for every
    // partition involved AND park the partition sketch bank. Each
    // tupled group's outputs inherit the source partition's field-507
    // summary in their own manifests at commit; files whose manifest
    // pins no tuple (unpartitioned tables, foreign mixed manifests)
    // group together exactly as before.
    //
    // The grouping KEY is (specId, the summary's raw lower AND upper
    // byte sequences) — not the tag payload (byte ARRAYS compare by
    // reference, splitting every manifest into its own group), not the
    // rendered tuple string (NOT injective: two multi-string-field
    // tuples can render identically, and two specs can render the same
    // name while meaning different transform spaces — either collision
    // would stamp one partition's summary onto another's rows and let
    // list-level pruning silently drop them). Lower bytes alone are
    // injective for the tuple-pure manifests this engine writes, but a
    // foreign writer may TRUNCATE string summary bounds: two distinct
    // tuples can then share a truncated lower while their uppers still
    // differ, so both sides participate in the key.
    val tupleTagOf: Map[String, TupleTag] = perManifest0.collect {
      case (Some(tag), es) => es.map(e => PathId(e.filePath) -> tag)
    }.flatten.toMap
    def keyOf(tag: TupleTag): (Int, Seq[(Option[Seq[Byte]], Option[Seq[Byte]])]) =
      (tag._2, tag._3.map(s => (s.lower.map(_.toSeq), s.upper.map(_.toSeq))))
    val tagByKey: Map[(Int, Seq[(Option[Seq[Byte]], Option[Seq[Byte]])]), TupleTag] =
      tupleTagOf.values.map(v => keyOf(v) -> v).toMap
    def tupleGroupsOf(es: Seq[ManifestWriter.EntryData])
        : Seq[(Option[TupleTag], Seq[ManifestWriter.EntryData])] =
      es.groupBy(e => tupleTagOf.get(PathId(e.filePath)).map(keyOf))
        .toSeq.sortBy(_._1.map(_.toString))
        .map { case (kOpt, g) => (kOpt.map(tagByKey), g) }
    val writeSchemaCols = (schema.fieldNames.toSeq ++ lineageCols).map(col)
    val fields = graft.sources.GraftTableWrites.fieldsOf(meta0.currentSchema)
    def liveOf(es: Seq[ManifestWriter.EntryData]): DataFrame =
      TableDataSource.scanPlan(spark, meta0,
        es.map(e => (e, e.sequenceNumber.get)), posEntries ++ eqEntries)
        .select(writeSchemaCols: _*)
    // every output is task-written with inline bound stats, tagged with
    // its tuple group; a group whose rows were all deleted writes nothing
    val outputs: Seq[(graft.sources.GraftFileMessage, Option[TupleTag])] =
      if (sortOrder.nonEmpty || zorderCols.nonEmpty) {
        val keys: Seq[org.apache.spark.sql.Column] =
          if (zorderCols.nonEmpty)
            Seq(graft.functions.GraftFunctions.zorderKey(spark, zorderCols.map(col)))
          else sortOrder.map { case (n, desc) => if (desc) col(n).desc else col(n).asc }
        // one clustered-rewrite job per tuple group, submitted
        // concurrently — total I/O is still one pass over the selection
        Par.inParallel(tupleGroupsOf(selected).zipWithIndex) {
          case ((tag, es), gi) =>
            val nFiles = math.max(1, math.ceil(
              es.map(_.fileSizeInBytes).sum.toDouble / targetBytes).toInt)
            // the key expressions drive the range exchange and the
            // in-file sort but never materialize as output columns
            graft.sources.GraftTableWrites.writeDataFiles(
              liveOf(es).repartitionByRange(nFiles, keys: _*).sortWithinPartitions(keys: _*),
              f"$tableDir/data/sorted-$compactUuid-g${gi}%03d", fields).map(m => (m, tag))
        }.flatten
      } else {
        // bin-pack by cumulative REAL file size within each tuple group;
        // each bin is one rewrite job, submitted concurrently — at
        // thousands of bins this is the difference between a compaction
        // bounded by the biggest bin and one bounded by the bin count.
        // Each bin reads ONLY its own files (plus the delete files that
        // can address them) via the entry-granular MOR read — total
        // rewrite I/O is one pass over the table, not bins × table
        def binsOf(es: Seq[ManifestWriter.EntryData]): Seq[Seq[ManifestWriter.EntryData]] =
          es.sortBy(_.filePath)
            .foldLeft(Seq.empty[(Long, Seq[ManifestWriter.EntryData])]) { case (acc, e) =>
              acc.lastOption match {
                case Some((sz, b)) if sz + e.fileSizeInBytes <= targetBytes =>
                  acc.init :+ (sz + e.fileSizeInBytes, b :+ e)
                case _ => acc :+ (e.fileSizeInBytes, Seq(e))
              }
            }.map(_._2)
        val bins = tupleGroupsOf(selected)
          .flatMap { case (tag, es) => binsOf(es).map(b => (tag, b)) }
        Par.inParallel(bins.zipWithIndex) { case ((tag, es), i) =>
          graft.sources.GraftTableWrites.writeDataFiles(
            liveOf(es).repartition(1).sortWithinPartitions(col(schema.fieldNames.head)),
            f"$tableDir/data/compacted-$compactUuid-${i}%05d", fields).map(m => (m, tag))
        }.flatten
      }
    val selectedSet = selected.map(e => PathId(e.filePath)).toSet
    val scannedDeletes = (posEntries ++ eqEntries).map(_._1.filePath).toSet
    SnapshotProducer.commit(tableDir) { a =>
      val base = a.base
      val snapId = a.snapshotId
      // ONE read of the base's data manifests per attempt serves the
      // conflict check AND the carry partition —
      // sequence numbers materialized exactly as entriesAt does
      val infos = a.headRows
      val perManifest = Par.inParallel(infos.filter(_.content == 0))(i =>
        (i, ManifestWriter.read(i.path)
          .filter(e => e.status != 2 && e.content == 0)
          .map(e => e.copy(
            sequenceNumber = Some(e.sequenceNumber.getOrElse(i.sequenceNumber))))))
      // a concurrent commit may ADD data files (they carry forward below)
      // but must not have removed one this compaction rewrote
      val gone = selectedSet --
        perManifest.flatMap(_._2).map(e => PathId(e.filePath))
      if (gone.nonEmpty) throw OptimisticCommit.CommitConflictException(
        "data files rewritten by this compaction were removed concurrently " +
          s"— rerun compaction: ${gone.toSeq.sorted.mkString(", ")}")
      // a delete file committed while compacting that addresses a
      // rewritten file would be escaped by the outputs' paths (position)
      // or sequence (equality) — rows would resurrect. Same conflict rule
      // as the COW row-level path.
      validateNoNewDeletes(base, scannedDeletes, selectedSet)
      // the per-tuple OUTPUT manifests: ONE manifest per tuple (never per
      // output file — a sort of a 100-partition table into 50 files each
      // must commit 100 manifests, not 5000), each carrying the tuple's
      // summary under its spec id
      val taggedOutputs = outputs.map { case (m, tag) =>
        (ManifestWriter.EntryData(1, snapId, m.path, m.rows, m.bytes, m.lower, m.upper,
          content = 0, sequenceNumber = Some(snapId)), tag) }
      val perTuple = taggedOutputs.collect { case (e, Some(tag)) => (keyOf(tag), (e, tag)) }
        .groupBy(_._1).toSeq.sortBy(_._1.toString).zipWithIndex.map { case ((_, xs), i) =>
          val (_, specId, fs) = xs.head._2._2
          SnapshotProducer.NewManifest("m-compact", xs.map(_._2._1), 0, specId,
            Some(fs), f"-${i}%05d")
        }
      val plainOutputs = taggedOutputs.collect { case (e, None) => e }
      // Manifests owning NO selected file carry VERBATIM (their
      // field-507 summaries keep list-level pruning) — in a full rewrite
      // these are the manifests of appends that committed while
      // compacting. An affected manifest's unselected entries re-emit as
      // EXISTING at their original sequences under the UNION of the
      // affected manifests' summaries (conservative — moved files must
      // not lose their list-level pruning), and the selected files
      // tombstone as DELETED entries (Iceberg's replace shape) —
      // invisible to scans, visible to the `entries` table. Untupled
      // outputs share that plain manifest; tupled ones got their own
      // above.
      val (affected, untouched) = perManifest.partition { case (_, es) =>
        es.exists(e => selectedSet.contains(PathId(e.filePath))) }
      val (tombstoned, moved) = affected.flatMap(_._2)
        .partition(e => selectedSet.contains(PathId(e.filePath)))
      val union = ScanPlanning.unionSummaries(base, affected.map(_._1))
      // Delete manifests: a partial rewrite carries them all — they still
      // scope to the carried files, while the outputs escape them by path
      // (position) and sequence (equality), their rows having been
      // materialized post-MOR. A full rewrite materialized every PLANNED
      // delete, so only delete manifests committed since planning carry;
      // validateNoNewDeletes proved they address no rewritten file.
      val carriedDeletes = infos.filter(i => i.content == 1 &&
        (where.isDefined || !plannedDeleteManifests(i.path)))
      SnapshotProducer.Commit("replace",
        Map("added-data-files" -> outputs.size.toString,
          "deleted-data-files" -> selected.size.toString),
        carried = untouched.map(_._1) ++ carriedDeletes,
        manifests = perTuple :+ SnapshotProducer.NewManifest("m-compact",
          plainOutputs ++ moved.map(_.copy(status = 0, snapshotId = snapId)) ++
            tombstoned.map(_.copy(status = 2, snapshotId = snapId)),
          0, union.fold(0)(_._1), union.map(_._2)),
        // the outputs carry the moved rows' lineage as columns
        lineageFiles = outputs.map(_._1.path).toSet)
    }
  }

  /** `rewrite_position_delete_files`: resolve every pending delete —
    * position deletes, deletion vectors and EQUALITY deletes — to the
    * physical (file_path, pos) addresses of the rows it deletes ONCE (the
    * equality probe cost each scan was re-paying), and commit ONE replace
    * snapshot whose delete side is a single position-delete file (v2) or
    * one deletion vector per addressed data file (v3). Data files are
    * untouched and carry forward with their original manifests and
    * sequences (i34's maintenance rule, now a public API + SQL
    * procedure).
    *
    * The addresses are one scan of the current data files with every
    * pending delete as its deleted-by set ([[TableDataSource.scanPlan]]),
    * projected to (`_file`, `_pos`): the scan applies each delete file by
    * its own sequence scope — an equality delete only to STRICTLY lower
    * data sequences, a position delete to sequences <= its own — so the
    * rewritten file (at the new commit's sequence, above every data file)
    * deletes precisely the rows the old delete set did. Equality values
    * compare as every scan compares them: null matches null (the spec
    * rule), renamed and widened key columns resolve per file. `_file` is
    * the manifests' spelling of each data file — what both output forms
    * write, so foreign readers match them verbatim. */
  def rewritePositionDeleteFiles(spark: SparkSession, tableDir: String)
      : OptimisticCommit.CommitResult = {
    val meta0 = TableMetadata.parseFile(latestMetadataPath(tableDir))
    val dataE = currentEntries(meta0, 0).filter(_.content == 0)
      .map(e => (e, e.sequenceNumber.get))
    val delE = currentEntries(meta0, 1)
    require(delE.nonEmpty, "no pending delete files to rewrite")
    val attempt = java.util.UUID.randomUUID()
    // every pending delete can resolve to ZERO addresses (e.g. the
    // table's only commit is an upsert: its equality delete has no
    // lower-sequence data file to address) — the rewrite then writes no
    // delete file and commits no delete entry, which still correctly
    // drops the vacuous delete manifests
    val addresses = TableDataSource.scanPlan(spark, meta0, dataE, Nil,
        deletedBy = Some(delE.map(e => (e, e.sequenceNumber.get))))
      .select(col("_file").as("file_path"), col("_pos").as("pos"))
    // v3 tables REWRITE INTO DELETION VECTORS — this procedure is the
    // upgrade path that converts a v2 table's accreted position-delete
    // parquet (and resolves its equality deletes) into one DV per data
    // file; v2 tables keep the single sorted parquet output
    val v3 = meta0.formatVersion >= 3
    val dvRefRows: Seq[(String, String, Long, Long, Long, Long)] =
      if (!v3) Nil
      else writeDvsDistributed(spark, tableDir, attempt, addresses, Map.empty,
        SnapshotProducer.nextSnapshotId(meta0))
    val posFile: Option[graft.sources.GraftFileMessage] =
      if (v3) None
      else graft.sources.GraftTableWrites.writePositionDeleteFile(
        addresses, s"$tableDir/data/posrw-$attempt")
    val preDel = delE.map(e => PathId(e.filePath)).toSet
    val preData = dataE.map(x => PathId(x._1.filePath)).toSet
    SnapshotProducer.commit(tableDir) { a =>
      val base = a.base
      val snapId = a.snapshotId
      // the resolution above ran against meta0 — a concurrent commit that
      // changed either side of the MOR equation invalidates it
      val nowDel = currentEntries(base, 1).map(e => PathId(e.filePath)).toSet
      val nowData = currentEntries(base, 0).filter(_.content == 0)
        .map(e => PathId(e.filePath)).toSet
      if (nowDel != preDel || nowData != preData)
        throw OptimisticCommit.CommitConflictException(
          "table delete/data file set changed while rewriting — rerun")
      val carried = a.headRows.filter(_.content == 0)
      val union = ScanPlanning.unionSummaries(base, carried)
      val added =
        if (v3) dvRefRows.map { case (ref, path, off, len, card, size) =>
          DeletionVectors.entryFor(
            DeletionVectors.DvRef(ref, path, off, len, card), snapId, snapId, size)
        }
        else posFile.toSeq.map(m => ManifestWriter.EntryData(
          1, snapId, m.path, m.rows, m.bytes, m.lower, m.upper,
          content = 1, sequenceNumber = Some(snapId)))
      SnapshotProducer.Commit("replace",
        Map("added-delete-files" -> added.size.toString,
          "removed-delete-files" -> delE.size.toString,
          "rewritten-equality-delete-files" -> delE.count(_.content == 2).toString) ++
          (if (v3) Map("added-dvs" -> dvRefRows.size.toString) else Map.empty),
        carried = carried,
        manifests = Seq(SnapshotProducer.NewManifest("m-posrw", added,
          1, union.fold(0)(_._1), union.map(_._2))).filter(_.entries.nonEmpty))
    }
  }

  /** Snapshot expiry with physical cleanup: retain the newest `keepLast`
    * snapshots, CAS-commit the metadata WITHOUT the expired ones (refs
    * pinning an expired snapshot make the commit abort — drop the tag
    * first), then delete every manifest-list, manifest, and data/delete
    * file reachable ONLY from the expired set. Cleanup runs after the
    * commit wins, so a crash between the two leaves orphans — exactly
    * what remove_orphan_files (i31) reclaims — never a corrupt table.
    *
    * `olderThanMs` is the age-based policy platform teams schedule
    * (Iceberg's `expire_snapshots(older_than)`): only snapshots whose
    * commit timestamp is strictly below the cutoff expire, and the
    * newest `keepLast` are ALWAYS retained regardless of age — history
    * never empties, matching the production semantics.
    *
    * `snapshotIds` is the TARGETED mode (upstream's `snapshot_ids`):
    * exactly the named snapshots expire. The guards are the PIN rules,
    * not retention policy — the current snapshot, any ref-pinned
    * snapshot (drop the tag/branch first), and unknown ids refuse
    * loudly; an UNPUBLISHED stage is fair game here, because naming it
    * is precisely the deliberate reclamation the publish-refusal
    * messages point users to. Exclusive with the age policy. */
  def expireSnapshots(spark: SparkSession, tableDir: String,
      keepLast: Int = 1, olderThanMs: Option[Long] = None,
      snapshotIds: Seq[Long] = Nil): OptimisticCommit.CommitResult = {
    require(keepLast >= 1, "must retain at least one snapshot")
    require(snapshotIds.isEmpty || olderThanMs.isEmpty,
      "snapshot_ids and older_than_ms are exclusive expiry modes")
    // a zero-copy fork (snapshot procedure) references ANOTHER table's
    // files — physical cleanup here would delete production data
    require(!TableMetadata.parseFile(latestMetadataPath(tableDir))
        .properties.get("gc.enabled").contains("false"),
      s"gc.enabled=false on $tableDir (zero-copy snapshot table) — " +
        "expiry would delete files owned by the source table")
    var expiredIds: Set[Long] = Set.empty
    val result = OptimisticCommit.commit(tableDir, (base0, basePath) => {
      // REF RETENTION (the spec's per-ref attributes). First, refs whose
      // max-ref-age-ms has elapsed (measured from their snapshot's
      // commit time) AUTO-DROP — a tag given a 30-day TTL stops pinning
      // history by itself, no drop_tag run needed. Then every surviving
      // non-main ref RETAINS its snapshot, and a branch with
      // min-snapshots-to-keep / max-snapshot-age-ms retains that many
      // (or that fresh) ancestors of its head too. Refs WITHOUT
      // retention attributes keep the engine's strict contract: they
      // pin forever and expiry ABORTS rather than silently break a
      // time-travel anchor (i77).
      val now = System.currentTimeMillis()
      val base = base0.copy(refs = base0.refs.filter { r =>
        r.name == "main" || r.maxRefAgeMs.forall { maxAge =>
          base0.snapshot(r.snapshotId).forall(s => now - s.timestampMs <= maxAge) } })
      val refRetained: Set[Long] = base.refs.filterNot(_.name == "main")
        // only retention-DECLARING refs participate: a bare ref stays on
        // the strict pin-abort contract, never a silent retain
        .filter(r => r.maxRefAgeMs.nonEmpty || r.minSnapshotsToKeep.nonEmpty ||
          r.maxSnapshotAgeMs.nonEmpty)
        .flatMap { r =>
          val chain = Iterator.iterate(base.snapshot(r.snapshotId))(
              _.flatMap(_.parentSnapshotId).flatMap(base.snapshot))
            .takeWhile(_.isDefined).flatten.toSeq // head-first ancestors
          val byCount = r.minSnapshotsToKeep
            .map(n => chain.take(n)).getOrElse(Nil)
          val byAge = r.maxSnapshotAgeMs
            .map(a => chain.filter(s => now - s.timestampMs <= a)).getOrElse(Nil)
          r.snapshotId +: (byCount ++ byAge).map(_.snapshotId)
        }.toSet
      // the keepLast window covers the newest of MAIN'S LINEAGE — never
      // raw id order: staged (wap.id) snapshots carry the highest ids,
      // and counting them would push the CURRENT snapshot out of the
      // window and abort the whole run. Unreferenced stages and detached
      // rolled-back heads are exactly what expiry exists to reclaim.
      val lin = base.lineage()
      val newest = lin.take(keepLast).toSet
      val linSet = lin.toSet
      // an UNPUBLISHED stage is in-flight work: keepLast-only expiry
      // never reclaims it (off-lineage by construction, it would
      // otherwise be reclaimable the moment it was written); AGE-based
      // expiry (older_than_ms) is the documented reclamation path — its
      // fresh-retain clause already spares young stages. A PUBLISHED
      // stage (durable wap.published stamp, lineage membership, or the
      // cherry-pick marker) gets no such pass, or keepLast expiry could
      // never reclaim it at all. Markers computed lazily: age-based runs
      // never consult them.
      lazy val pickedMarkers = lin.flatMap(base.snapshot)
        .flatMap(_.summary.get("cherry-picked-snapshot-id")).toSet
      def unpublishedStage(s: Snapshot): Boolean =
        s.summary.get("wap.staged").contains("true") &&
          !s.summary.contains("wap.published") &&
          !linSet.contains(s.snapshotId) &&
          !pickedMarkers.contains(s.snapshotId.toString)
      val toExpire: Seq[Long] = if (snapshotIds.nonEmpty) {
        // TARGETED mode: exactly the named snapshots; pin rules only
        val known = base.snapshots.map(_.snapshotId).toSet
        val unknown = snapshotIds.filterNot(known)
        require(unknown.isEmpty,
          s"no such snapshot(s): ${unknown.mkString(", ")}")
        require(!snapshotIds.exists(base.currentSnapshotId.contains),
          "cannot expire the current snapshot — rollback or " +
            "set_current_snapshot first")
        val pinned = base.refs.filter(r => snapshotIds.contains(r.snapshotId))
        require(pinned.isEmpty, "snapshot(s) pinned by refs: " +
          pinned.map(r => s"${r.name} -> ${r.snapshotId}").mkString(", ") +
          " — drop the tag/branch first")
        // ancestors a branch DECLARES it retains (min_snapshots_to_keep /
        // max_snapshot_age_ms) are pinned in targeted mode too — expiring
        // one by id would punch a hole in that branch's retention window,
        // where upstream retains branch-protected ancestors during every
        // expiration mode
        val branchPinned = snapshotIds.filter(refRetained)
        require(branchPinned.isEmpty,
          "snapshot(s) retained by a branch's declared retention " +
            s"window: ${branchPinned.mkString(", ")} — relax the ref's " +
            "min_snapshots_to_keep/max_snapshot_age_ms first")
        snapshotIds.distinct
      } else {
        val retained = base.snapshots.filter(s => newest(s.snapshotId) ||
          refRetained(s.snapshotId) ||
          olderThanMs.exists(cutoff => s.timestampMs >= cutoff) ||
          (olderThanMs.isEmpty && unpublishedStage(s)))
          .map(_.snapshotId).toSet
        base.snapshots.map(_.snapshotId).filterNot(retained)
      }
      expiredIds = toExpire.toSet
      val retained = base.snapshots.map(_.snapshotId).toSet -- expiredIds
      require(toExpire.nonEmpty, olderThanMs match {
        case Some(cutoff) => s"nothing to expire (no snapshot older than $cutoff)"
        case None => s"nothing to expire (<= $keepLast snapshots)"
      })
      val afterExpiry = toExpire.foldLeft(base)((m, id) =>
        MetadataWriter.expireSnapshot(m, id, base.lastUpdatedMs + 1000, None))
      // a statistics document whose snapshot expires may still be EXACT
      // at a retained snapshot: every snapshot on the child path from
      // the doc's snapshot to that descendant being a `replace` means
      // the rowset never changed (compaction rewrites files, not rows).
      // RE-KEY the document there instead of destroying it — the
      // canonical ANALYZE → compact → expire maintenance loop must not
      // cost the CBO its NDVs. The farthest such descendant wins (the
      // longest-lived anchor); one that already carries its own document
      // keeps it. The re-keyed container is REWRITTEN (blob-level
      // snapshot ids move with the entry — a foreign reader must never
      // see the file and the metadata disagree); a losing CAS attempt's
      // file is an orphan for the sweep, the same crash contract as
      // commitStatsDoc. Partition statistics are NOT re-keyed: replaces
      // change file/byte counts, so those documents genuinely die with
      // their snapshot.
      val replaceChildren = base.snapshots
        .filter(s => s.operation.contains("replace") && s.parentSnapshotId.isDefined)
        .groupBy(_.parentSnapshotId.get)
      def replaceDescendants(id: Long): Seq[Snapshot] =
        replaceChildren.getOrElse(id, Nil)
          .flatMap(c => c +: replaceDescendants(c.snapshotId))
      val occupied = afterExpiry.statistics
        .filterNot(s => expiredIds(s.snapshotId)).map(_.snapshotId).toSet
      val rekeyCandidates = afterExpiry.statistics
        .filter(s => expiredIds(s.snapshotId))
        .flatMap { sf =>
          replaceDescendants(sf.snapshotId)
            .filter(d => retained(d.snapshotId) && !occupied(d.snapshotId))
            // prefer MAIN-LINEAGE descendants (false < true): a retained
            // fork replace must not strand the doc where main's scans
            // and the incremental anchor walk can never reach it
            .sortBy(d => (linSet.contains(d.snapshotId),
              d.timestampMs, d.snapshotId)).lastOption
            .map(d => (sf, d))
        }
      // two expired docs on one replace chain can target the same
      // descendant — both are exact there (the rowset never moved);
      // keep the newest source for determinism
      val rekeyed = rekeyCandidates.groupBy(_._2.snapshotId).values.toSeq
        .map(_.maxBy { case (sf, _) =>
          base.snapshot(sf.snapshotId)
            .map(s => (s.timestampMs, s.snapshotId))
            .getOrElse((0L, sf.snapshotId)) })
        .flatMap { case (sf, d) =>
          scala.util.Try {
            val sk = TableStats.readWithSketches(sf.path)
            val path =
              s"$tableDir/stats-${d.snapshotId}-${java.util.UUID.randomUUID()}.puffin"
            // engine rows keep full fidelity; foreign-only rows (no
            // null count) keep their standard theta bodies AND their
            // DECLARED ndv — write() carries it on the standard blob's
            // ndv property instead of re-deriving from the sketch
            // estimate, so a pure metadata re-key never shifts the NDV
            // the CBO is served
            val doc = sk.doc.copy(snapshotId = d.snapshotId)
            // the partition sketch bank re-keys WITH the document — a
            // replace never moves rows between partitions, so every
            // banked entry stays exact at the descendant; dropping it
            // here would put the next delete-bearing refresh back on
            // the full-rescan path the bank exists to avoid
            val size = TableStats.write(path, doc, sk.bodies, sk.sawEmpty,
              sk.fieldTypes, sk.bank)
            StatisticsFile(d.snapshotId, path, size)
          }.toOption // an unreadable doc drops, exactly as before
        }.sortBy(_.snapshotId)
      afterExpiry.copy(
        // statistics files are pinned to their snapshot: expiring it
        // drops the entry (the physical blob reclaims below) unless a
        // replace-only descendant keeps it exact — then it re-keys there
        statistics =
          afterExpiry.statistics.filterNot(s => expiredIds(s.snapshotId)) ++ rekeyed,
        partitionStatistics =
          afterExpiry.partitionStatistics.filterNot(s => expiredIds(s.snapshotId)),
        metadataLog =
          afterExpiry.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath))
    })
    // reachability difference over the snapshot closures (lists →
    // manifests → files), computed BEFORE anything is deleted. Only
    // LIVE entries (status != 2) keep a data file reachable: a DELETED
    // tombstone in a retained manifest documents that the file is dead
    // at that snapshot — the snapshot where it was live references it
    // with a live status, and if every such snapshot expired the bytes
    // are correctly reclaimable.
    //
    // The LIST and MANIFEST tiers are metadata-proportional and diff on
    // the driver. The FILE tier is FILE-COUNT-proportional (10⁷–10⁸
    // paths at 100 TB), so its diff is ADAPTIVE on total manifest bytes
    // (known from the lists before any manifest opens, the same signal
    // Iceberg's planner thresholds on): under the threshold the exact
    // driver-side difference is cheapest; over it, both sides stream
    // through the graft-manifest DSv2 source into a LEFT ANTI join and
    // the deletes run per-partition on executors — the orphan-sweep
    // shape, so expiry never builds a full-file-inventory Set either.
    val oldMeta = TableMetadata.parseFile(
      OptimisticCommit.metadataPath(tableDir, result.version - 1))
    val expiredSnaps = oldMeta.snapshots.filter(s => expiredIds(s.snapshotId))
    def manifestsOf(snaps: Seq[Snapshot]): (Seq[String], Seq[(String, Long)]) = {
      val lists = snaps.flatMap(_.manifestList).distinct
      val manifests = Par.inParallel(lists)(l =>
        ManifestListReader.read(l).map(i => (i.path, i.length))).flatten.distinct
      (lists, manifests)
    }
    val (expLists, expManifests) = manifestsOf(expiredSnaps)
    val (retLists, retManifests) = manifestsOf(result.metadata.snapshots)
    val doomedMeta = (expLists.toSet -- retLists.toSet) ++
      (expManifests.map(_._1).toSet -- retManifests.map(_._1).toSet) ++
      oldMeta.statistics.filter(s => expiredIds(s.snapshotId)).map(_.path) ++
      oldMeta.partitionStatistics.filter(s => expiredIds(s.snapshotId)).map(_.path)
    // distinct: a manifest shared between expired and retained snapshots
    // must not double-count toward the adaptive threshold (they are
    // (path, length) pairs, so distinct dedups exactly)
    val manifestBytes = (expManifests ++ retManifests).distinct.map(_._2).sum
    val threshold = spark.conf.get(
      "graft.expiry.distributedSweepBytes", (64L << 20).toString).toLong
    // Both legs diff on the PathId.component of each spelling (the same
    // function the orphan sweep routes both sides through) while deleting
    // the raw expired spelling: a live file spelled differently in a
    // retained manifest (file:/p vs /p, s3 vs s3a — foreign writers,
    // add_files imports) must never alias past the difference and be deleted.
    // ExpirySpellingSpec pins this with a hand-built mixed-spelling
    // manifest, mirroring r20's OrphanSweepSpec.
    val doomedDriverFiles: Set[String] =
      if (manifestBytes > threshold) Set.empty
      else {
        def live(ms: Seq[String]): Seq[String] = Par.inParallel(ms)(m =>
          ManifestWriter.read(m).filter(_.status != 2).map(_.filePath)).flatten
        val retained = live(retManifests.map(_._1)).map(PathId.component).toSet
        live(expManifests.map(_._1)).filterNot(p => retained(PathId.component(p))).toSet
      }
    if (manifestBytes > threshold && expManifests.nonEmpty) {
      import spark.implicits._
      def live(ms: Seq[String]): DataFrame =
        spark.read.format("graft-manifest").load(ms: _*)
          .filter(col("status") =!= 2)
          .select(col("data_file.file_path").as("path"))
      val expired = live(expManifests.map(_._1)).distinct()
        .as[String].map(p => (p, PathId.component(p))).toDF("path", "ref")
      val doomedDf =
        if (retManifests.isEmpty) expired.select(col("path"))
        else expired.join(
          live(retManifests.map(_._1)).as[String].map(PathId.component).toDF("ref"),
          Seq("ref"), "left_anti").select(col("path"))
      val conf = new SerializableHadoopConf(HadoopConfs.active())
      doomedDf.as[String].rdd.foreachPartition { it =>
        it.foreach { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          HadoopConfs.fileSystemFor(hp, conf.value).delete(hp, false)
        }
      }
    }
    // deletes are independent FS calls — latency-bound, run concurrently
    Par.inParallel((doomedMeta ++ doomedDriverFiles).toSeq.sorted)(p =>
      HadoopConfs.fileSystemFor(p).delete(new org.apache.hadoop.fs.Path(p), false))
    result
  }

  /** Schema evolution through the CAS loop: `schemas[]` grows by
    * `schema` and `current-schema-id` advances — a metadata-only commit
    * (no snapshot). Files written under older schemas null-fill through
    * the new current schema on every read path (the i24 rule); the next
    * `append` projects to the evolved columns automatically. */
  def evolveSchema(tableDir: String, schema: IcebergSchema): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      MetadataWriter.evolveSchema(base, schema, base.lastUpdatedMs + 1000).copy(
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))

  /** Table-level statistics (Iceberg's ANALYZE / `compute_table_stats`):
    * ONE pass over the current snapshot's MOR-resolved rows computes,
    * per primitive column, the NDV (Apache DataSketches theta — the
    * sketch you'd use at 100 TB, and EXACT below its 4K nominal entries;
    * estimates are deterministic for given data but engine-specific, so
    * correctness gates pin the exact quantities and bound the estimate)
    * and the exact null count, plus the exact row count — all from the
    * SAME per-partition task, so ANALYZE reads the table's bytes once. The blob lands as a [[TableStats]] JSON file
    * referenced from the metadata `statistics` list (the spec's Puffin
    * slot), keyed to the analyzed snapshot — a later commit makes it
    * stale-but-present (Iceberg's model), and expiring the snapshot
    * reclaims it. The blob container is a spec-layout Puffin file (see
    * [[TableStats]]). The DSv2 scan serves it back as V2 `columnStats()`,
    * which is what Spark's CBO join-reorder and build-side selection
    * consume. Re-analyzing the same snapshot replaces its entry. */
  /** `snapshotId` analyzes a HISTORICAL snapshot (under its own schema —
    * the time-travel read rule) and keys the statistics file to it;
    * `columns` restricts the pass to named columns (upstream's
    * compute_table_stats signature) — unknown or unsketchable names
    * refuse loudly rather than silently analyzing less than asked. */
  def computeTableStats(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      columns: Option[Seq[String]] = None)
      : (OptimisticCommit.CommitResult, TableStats.Doc) = {
    val metaPath = latestMetadataPath(tableDir)
    val meta0 = TableMetadata.parseFile(metaPath)
    val snapId = snapshotId.orElse(meta0.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException("cannot analyze a table with no snapshot"))
    val snap = meta0.snapshot(snapId).getOrElse(
      throw new IllegalArgumentException(s"no such snapshot $snapId"))
    val meta = readMeta(meta0, snapshotId, None, None)
    // sketchable columns only: nested/variant values have no canonical
    // serialization to hash (TableStats.sketchable) and carry no stats
    val sketchableCols = meta.currentSchema.fields
      .flatMap(f => IcebergTypes.fromStringOpt(f.fieldType).map(t => (f, t)))
      .filter { case (_, t) => TableStats.sketchable(t) }
    val typed = columns match {
      case None => sketchableCols
      case Some(names) =>
        require(names.distinct.size == names.size,
          "duplicate column names: " +
            names.diff(names.distinct).distinct.mkString(", "))
        val byName = sketchableCols.map(ft => ft._1.name -> ft).toMap
        names.map(n => byName.getOrElse(n, throw new IllegalArgumentException(
          s"cannot analyze column '$n': not a sketchable column of the " +
            s"analyzed schema (${sketchableCols.map(_._1.name).mkString(", ")})")))
    }
    // PARTITION SKETCH BANK route: the default full ANALYZE of a
    // partitioned, all-theta table computes its stats PER
    // PARTITION — one MOR-resolved job per tuple, submitted concurrently,
    // so the table's bytes are still read exactly once — and BANKS each
    // partition's sketches in the document. A later DELETE then
    // invalidates one partition's entry instead of the whole document
    // (computeTableStatsIncremental's bankIncremental path). Restricted
    // analyzes (snapshot_id / columns) skip the bank by design; geo
    // columns (no standard body) and untupled manifests keep the table
    // on the single-scan route below. Tuples are BATCHED B per job
    // ([[partStatsBatch]]): at 10^4+ partitions per-job submission
    // overhead would otherwise dominate, so the job count is ⌈tuples/B⌉
    // with an in-task group-by keeping per-partition PartStats — and the
    // bytes-read-once property — identical to the per-tuple shape.
    val bankGroups: Option[Map[String, Seq[ManifestWriter.EntryData]]] =
      if (snapshotId.nonEmpty || columns.nonEmpty ||
          typed.exists { case (_, t) => !TableStats.thetaSupported(t) }) None
      else meta.currentSnapshot.flatMap(s => entriesByTuple(meta, s))
        .filter(_.nonEmpty)
    bankGroups match {
      case Some(groups) =>
        val dels = currentEntries(meta, 1)
        val posE = dels.filter(_.content == 1).map(e => (e, e.sequenceNumber.get))
        val eqE = dels.filter(_.content == 2).map(e => (e, e.sequenceNumber.get))
        val bank = Par.inParallel(groups.toSeq.sortBy(_._1)
            .grouped(bankBatchTuples(spark)).toSeq)(b =>
          partStatsBatch(spark, meta, b, posE, eqE, typed)).flatten.toMap
        val (doc, bodies, sawEmptyIds) = docFromBank(snapId, bank, typed)
        return (commitStatsDoc(tableDir, snapId, doc, bodies, sawEmptyIds,
          typed.map(ft => ft._1.id ->
            TableStats.hashedTypeName(ft._1.fieldType, ft._2)).toMap, bank), doc)
      case None => ()
    }
    val df = read(spark, metaPath, snapshotId = snapshotId)
    // ONE scan for everything: each task counts rows, counts nulls
    // exactly, and updates one theta sketch per column — values hashed
    // through their Iceberg single-value serialization (the puffin-spec
    // contract that makes foreign unions meaningful; geo hashes raw WKB
    // for the engine-internal NDV only). Only partitions × cols compact
    // KB-scale sketches plus the counters reach the driver — no shuffle,
    // and ANALYZE on the 100 TB table reads its bytes exactly once.
    val (rowCount, nulls, sawEmptyArr, sketches) = statsPass(spark, df, typed)
    val sawEmptyIds = typed.zipWithIndex
      .collect { case ((f, _), j) if sawEmptyArr(j) => f.id }.toSet
    val doc = TableStats.Doc(snapId, rowCount,
      typed.zipWithIndex.map { case ((f, _), j) =>
        f.id -> TableStats.ColumnStats(
          sketchNdv(sketches(j), sawEmptyArr(j)), Some(nulls(j))) }.toMap)
    // the STANDARD blob is written only for columns whose values HAVE a
    // spec single-value serialization — a foreign reader can union them
    val thetaSketches: Map[Int, Array[Byte]] = typed.zipWithIndex
      .filter { case ((_, t), _) => TableStats.thetaSupported(t) }
      .map { case ((f, _), j) => f.id -> sketches(j) }.toMap
    (commitStatsDoc(tableDir, snapId, doc, thetaSketches, sawEmptyIds,
      typed.map(ft =>
        ft._1.id -> TableStats.hashedTypeName(ft._1.fieldType, ft._2)).toMap), doc)
  }

  /** ONE partition-parallel pass over `df`'s `typed` columns: exact row
    * count, exact null counts, per-column empty-bytes presence, and one
    * cross-partition-unioned compact theta sketch per column — values
    * hashed through their Iceberg single-value serialization (the
    * puffin-spec contract that makes foreign unions meaningful). Only
    * partitions × cols compact KB-scale sketches plus the counters reach
    * the driver — no shuffle, and the input's bytes are read once. */
  private def statsPass(spark: SparkSession, df: DataFrame,
      typed: Seq[(IcebergField, IcebergType)])
      : (Long, Array[Long], Array[Boolean], Array[Array[Byte]]) = {
    import spark.implicits._
    val types = typed.map(_._2).toArray
    val n = types.length
    val partials: Array[(Long, Seq[Long], Seq[Long], Seq[Array[Byte]])] =
      df.select(typed.map { case (f, _) => col(f.name) }: _*)
        .mapPartitions { it =>
          var cnt = 0L
          val nulls = new Array[Long](n)
          // datasketches update(byte[]) is a documented NO-OP on an empty
          // array (matching every other engine's standard blob), so empty
          // strings/binaries are tracked separately: within one column
          // they are ONE distinct value the engine's own NDV must count
          val empties = new Array[Long](n)
          val sks = Array.fill(n)(
            org.apache.datasketches.theta.UpdateSketch.builder().build())
          it.foreach { r =>
            cnt += 1
            var i = 0
            while (i < n) {
              if (r.isNullAt(i)) nulls(i) += 1
              else {
                val bytes = TableStats.sketchBytes(types(i), r.get(i))
                if (bytes.isEmpty) empties(i) += 1 else sks(i).update(bytes)
              }
              i += 1
            }
          }
          Iterator.single((cnt, nulls.toSeq, empties.toSeq,
            sks.map(_.compact().toByteArray).toSeq))
        }.collect()
    val rowCount = partials.map(_._1).sum
    val nullSums = Array.tabulate(n)(j => partials.map(_._2(j)).sum)
    val sawEmpty = Array.tabulate(n)(j => partials.exists(_._3(j) > 0L))
    val unioned = Array.tabulate(n)(j => unionSketches(partials.map(_._4(j))))
    (rowCount, nullSums, sawEmpty, unioned)
  }

  private def unionSketches(bodies: Seq[Array[Byte]]): Array[Byte] = {
    val u = org.apache.datasketches.theta.SetOperation.builder().buildUnion()
    bodies.foreach(b => u.union(org.apache.datasketches.theta.Sketches
      .wrapSketch(org.apache.datasketches.memory.Memory.wrap(b))))
    u.getResult(true, null).toByteArray
  }

  /** The engine NDV from a compact sketch body: the estimate plus the +1
    * for the empty-bytes value the sketch body cannot represent. */
  private def sketchNdv(body: Array[Byte], sawEmpty: Boolean): Long =
    Math.round(org.apache.datasketches.theta.Sketches.wrapSketch(
      org.apache.datasketches.memory.Memory.wrap(body)).getEstimate) +
      (if (sawEmpty) 1L else 0L)

  /** Write the statistics Puffin and CAS it into the metadata
    * `statistics` list, replacing any prior entry for the snapshot and
    * reclaiming the replaced blob only after the commit wins (a crash in
    * between leaves a reclaimable orphan, never a dangling reference). */
  private def commitStatsDoc(tableDir: String, snapId: Long,
      doc: TableStats.Doc, thetaSketches: Map[Int, Array[Byte]],
      sawEmpty: Set[Int],
      fieldTypes: Map[Int, String],
      bank: Map[String, TableStats.PartStats] = Map.empty)
      : OptimisticCommit.CommitResult = {
    val path = s"$tableDir/stats-$snapId-${java.util.UUID.randomUUID()}.puffin"
    val size = TableStats.write(path, doc, thetaSketches, sawEmpty, fieldTypes, bank)
    var replaced: Seq[String] = Nil
    val result = OptimisticCommit.commit(tableDir, (base, basePath) => {
      replaced = base.statistics.filter(_.snapshotId == snapId).map(_.path)
      base.copy(
        statistics = base.statistics.filterNot(_.snapshotId == snapId) :+
          StatisticsFile(snapId, path, size),
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath))
    })
    replaced.foreach(p =>
      HadoopConfs.fileSystemFor(p).delete(new org.apache.hadoop.fs.Path(p), false))
    result
  }

  /** Live DATA entries of `snap` grouped by the owning manifest's
    * partition tuple (the engine's writers give every tuple its own
    * manifest, so the list-level field-507 summaries pin it —
    * [[MetadataTables.partitionTuple]]). None when any live data
    * manifest does not pin exactly one tuple (unpartitioned table, a
    * foreign writer's mixed-tuple manifest, a null partition value):
    * the partition sketch bank is then unusable and ANALYZE stays on
    * the whole-table paths. Tuples whose entries are all tombstoned
    * are absent — a fully-deleted partition contributes nothing. */
  private def entriesByTuple(meta: TableMetadata, snap: Snapshot)
      : Option[Map[String, Seq[ManifestWriter.EntryData]]] = {
    val infos = snap.manifestList.toSeq.flatMap(ManifestListReader.read)
      .filter(_.content == 0)
    if (infos.isEmpty) return None
    val per = Par.inParallel(
      infos.map(i => (MetadataTables.partitionTuple(meta, i), i))) {
      case (t, i) =>
        t -> ManifestWriter.read(i.path)
          .map(e => e.copy(sequenceNumber =
            Some(e.sequenceNumber.getOrElse(i.sequenceNumber))))
          .filter(e => e.status != 2 && e.content == 0)
    }
    // an untupled manifest disqualifies the bank only if it holds LIVE
    // data (unpartitioned tables, foreign mixed manifests) — a
    // tombstone-only one (full compaction's replace shape) is harmless
    if (per.exists(p => p._1.isEmpty && p._2.nonEmpty)) return None
    val grouped = per.collect { case (Some(t), es) if es.nonEmpty => (t, es) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.flatMap(_._2) }
    if (grouped.isEmpty) None else Some(grouped)
  }

  /** A delete entry's clean-test signature with its file_path bounds
    * decoded ONCE ([[posDeleteMayAddress]]'s rule, hoisted out of the
    * per-partition loop — at P partitions × D deletes the naive shape
    * re-decodes every bound P times on the driver). For EQUALITY
    * deletes, `eqScope` holds a decoded (lo, hi) per key field that the
    * entry PROVES null-free (spec field 110 — a null delete key matches
    * null data values, which bounds cannot see, so without the proof
    * the field must not scope) with both bounds decodable; empty scope
    * = addresses every partition, the conservative default for foreign
    * or pre-110 manifests. */
  private final case class DeleteSig(path: String, seq: Long, content: Int,
      pathLo: Option[String], pathHi: Option[String],
      eqScope: Map[Int, (Any, Any)])

  private def decodedDeleteSigs(meta: TableMetadata,
      deletes: Seq[ManifestWriter.EntryData]): Seq[DeleteSig] =
    deletes.map { d =>
      val (pathLo, pathHi) = ManifestWriter.posDeletePathBounds(d)
      val eqScope: Map[Int, (Any, Any)] =
        if (d.content != 2) Map.empty
        else (d.lowerBounds.keySet & d.upperBounds.keySet).toSeq.flatMap { fid =>
          for {
            _ <- Option.when(d.nullValueCounts.get(fid).contains(0L))(())
            tName <- meta.fieldTypes.get(fid)
            t <- IcebergTypes.fromStringOpt(tName)
            lo <- scala.util.Try(
              SingleValueCodec.decode(t, d.lowerBounds(fid))).toOption
              .flatMap(comparableValue)
            hi <- scala.util.Try(
              SingleValueCodec.decode(t, d.upperBounds(fid))).toOption
              .flatMap(comparableValue)
          } yield fid -> ((lo, hi))
        }.toMap
      DeleteSig(PathId(d.filePath), d.sequenceNumber.get, d.content,
        pathLo, pathHi, eqScope)
    }

  /** Per-field value envelope of a partition's live data files: an
    * interval only when EVERY file bounds the field and decodes — one
    * unbounded file and the field says nothing about the partition
    * (conservative: a file without bounds might hold anything). */
  private def partitionEnvelope(meta: TableMetadata,
      entries: Seq[ManifestWriter.EntryData],
      fids: Set[Int]): Map[Int, (Any, Any)] = {
    def mn(a: Any, b: Any) =
      ScanPlanning.cmpValues(a, b).map(c => if (c <= 0) a else b)
    def mx(a: Any, b: Any) =
      ScanPlanning.cmpValues(a, b).map(c => if (c >= 0) a else b)
    fids.flatMap { fid =>
      val decoded = entries.map { e =>
        for {
          tName <- meta.fieldTypes.get(fid)
          t <- IcebergTypes.fromStringOpt(tName)
          loB <- e.lowerBounds.get(fid)
          hiB <- e.upperBounds.get(fid)
          lo <- scala.util.Try(SingleValueCodec.decode(t, loB)).toOption
            .flatMap(comparableValue)
          hi <- scala.util.Try(SingleValueCodec.decode(t, hiB)).toOption
            .flatMap(comparableValue)
        } yield (lo, hi)
      }
      if (decoded.isEmpty || decoded.exists(_.isEmpty)) None
      else {
        val vs = decoded.flatten
        vs.tail.foldLeft(Option(vs.head)) { (acc, x) =>
          acc.flatMap { case (lo, hi) =>
            for { l <- mn(lo, x._1); h <- mx(hi, x._2) } yield (l, h) }
        }.map(fid -> _)
      }
    }.toMap
  }

  /** The signatures among `sigs` that COULD affect rows living in data
    * files `paths` (path ids, with per-field envelope `env`):
    * position deletes and v3 DVs address by their decoded file_path
    * bounds — conservative on missing bounds; an equality delete
    * addresses the partition UNLESS some provably null-free bounded key
    * column's interval cannot intersect the partition's envelope (no
    * row can then equal any delete row on that column — a null data
    * value never equals a non-null key, so the partition's own nulls
    * need no proof). Two snapshots with identical data (path, seq) sets
    * for a partition AND identical addressing-signature sets provably
    * serve that partition the same logical rows — the bank's
    * clean-partition test. At 100 TB this is what keeps a CDC upsert
    * stream (equality deletes keyed inside one partition's range) from
    * dirtying every partition's sketch on each refresh. */
  private def sigsAddressing(sigs: Seq[DeleteSig], paths: Set[String],
      env: Map[Int, (Any, Any)]): Set[(String, Long, Int)] =
    sigs.filter {
      case s if s.content == 2 =>
        !s.eqScope.exists { case (fid, (eqLo, eqHi)) =>
          env.get(fid).exists { case (lo, hi) =>
            ScanPlanning.cmpValues(eqLo, hi).exists(_ > 0) ||
              ScanPlanning.cmpValues(eqHi, lo).exists(_ < 0)
          }
        }
      case s => (s.pathLo, s.pathHi) match {
        case (Some(lo), Some(hi)) => paths.exists(p => lo <= p && p <= hi)
        case _ => true
      }
    }.map(s => (s.path, s.seq, s.content)).toSet

  /** One partition's statsPass outputs packed as its bank entry — the
    * ONE assembly point (the full-ANALYZE route, the dirty-partition
    * rescan and the append-path refresh all write through it, so the
    * packing can never skew between writers). */
  private def toPartStats(typed: Seq[(IcebergField, IcebergType)],
      rc: Long, nulls: Array[Long], saw: Array[Boolean],
      sks: Array[Array[Byte]]): TableStats.PartStats =
    TableStats.PartStats(rc, typed.zipWithIndex.map { case ((f, _), j) =>
      f.id -> TableStats.PartCol(sks(j), nulls(j), saw(j)) }.toMap)

  /** The serialized empty compact theta sketch — the union identity. */
  private lazy val emptyCompactSketch: Array[Byte] =
    org.apache.datasketches.theta.UpdateSketch.builder()
      .build().compact().toByteArray

  /** One MOR-resolved scan of a single partition's live files → its bank
    * entry. Callers submit these jobs CONCURRENTLY from the shared pool:
    * a banked ANALYZE still reads the table's bytes exactly once — P
    * concurrent partition jobs instead of one table job. */
  private def partStatsOf(spark: SparkSession, meta: TableMetadata,
      entries: Seq[ManifestWriter.EntryData],
      posE: Seq[(ManifestWriter.EntryData, Long)],
      eqE: Seq[(ManifestWriter.EntryData, Long)],
      typed: Seq[(IcebergField, IcebergType)]): TableStats.PartStats = {
    val (rc, nulls, saw, sks) = statsPass(spark,
      TableDataSource.scanPlan(spark, meta,
        entries.map(e => (e, e.sequenceNumber.get)), posE ++ eqE), typed)
    toPartStats(typed, rc, nulls, saw, sks)
  }

  /** How many partition tuples one bank job covers. At 10^4+ partitions a
    * one-job-per-tuple ANALYZE dies on per-job submission overhead
    * (scheduler round-trips, broadcast setup) long before the bytes
    * matter; batching keeps the job count at ⌈tuples/B⌉ while the table's
    * bytes are still read exactly once. Session-overridable so a spec (or
    * an operator with tiny partitions) can pin either extreme. */
  private def bankBatchTuples(spark: SparkSession): Int = math.max(1,
    spark.conf.get("graft.stats.bankBatchTuples", "32").toInt)

  /** Bank entries for a BATCH of partition tuples from ONE Spark job: the
    * union of the batch's files reads once and each task groups its rows
    * by the owning tuple (an in-task group-by on a broadcast file→tuple
    * index — never a shuffle). The result is byte-identical to the
    * per-tuple path's: counts are exact sums either way, and a theta
    * compact/union is insertion-order-free in exact mode and associative
    * above it. Delete application stays per-file-scoped inside the
    * scan, so widening the read set from one tuple to B
    * changes which delete files are CONSIDERED, not which rows they
    * remove. */
  private def partStatsBatch(spark: SparkSession, meta: TableMetadata,
      batch: Seq[(String, Seq[ManifestWriter.EntryData])],
      posE: Seq[(ManifestWriter.EntryData, Long)],
      eqE: Seq[(ManifestWriter.EntryData, Long)],
      typed: Seq[(IcebergField, IcebergType)])
      : Seq[(String, TableStats.PartStats)] = {
    if (batch.size == 1)
      return batch.map { case (t, es) =>
        t -> partStatsOf(spark, meta, es, posE, eqE, typed) }
    import spark.implicits._
    val allEntries = batch.flatMap(_._2)
    val idxOfFile: Seq[(String, Int)] = batch.zipWithIndex.flatMap {
      case ((_, es), i) => es.map(e => e.filePath -> i) }
    val df0 = TableDataSource.scanPlan(spark, meta,
      allEntries.map(e => (e, e.sequenceNumber.get)), posE ++ eqE)
    val (fileCol, idxCol) = bkCols(df0.columns)
    val df = df0.join(broadcast(idxOfFile.toDF(fileCol, idxCol)),
      col("_file") === col(fileCol))
    val per = statsPassKeyed(spark, df, idxCol, batch.size, typed)
    batch.zipWithIndex.map { case ((t, _), i) =>
      val (rc, nulls, saw, sks) = per(i)
      t -> toPartStats(typed, rc, nulls, saw, sks)
    }
  }

  /** Internal join-column names for the keyed stats pass, picked to
    * never collide with the table's own columns (a user column literally
    * named `_bk_idx` must not break batched ANALYZE where the per-tuple
    * path worked). */
  private def bkCols(taken: Array[String]): (String, String) = {
    def fresh(base: String) = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(n => !taken.contains(n)).get
    (fresh("_bk_file"), fresh("_bk_idx"))
  }

  /** [[statsPass]] with an in-task group-by on the `idxCol` tuple-index
    * column. Per-key accumulators allocate LAZILY: the engine's data
    * files are partition-pure, so a task usually holds one key and the
    * working set stays one tuple's sketches, not B of them. Only
    * keys-present × cols compact sketches plus counters leave each task. */
  private def statsPassKeyed(spark: SparkSession, df: DataFrame,
      idxCol: String, nKeys: Int,
      typed: Seq[(IcebergField, IcebergType)])
      : Array[(Long, Array[Long], Array[Boolean], Array[Array[Byte]])] = {
    import spark.implicits._
    val types = typed.map(_._2).toArray
    val n = types.length
    val partials: Array[(Int, Long, Seq[Long], Seq[Long], Seq[Array[Byte]])] =
      df.select(col(idxCol) +: typed.map { case (f, _) => col(f.name) }: _*)
        .mapPartitions { it =>
          final class Acc {
            var cnt = 0L
            val nulls = new Array[Long](n)
            val empties = new Array[Long](n)
            val sks = Array.fill(n)(
              org.apache.datasketches.theta.UpdateSketch.builder().build())
          }
          val accs = new java.util.HashMap[Int, Acc]()
          it.foreach { r =>
            val k = r.getInt(0)
            var a = accs.get(k)
            if (a == null) { a = new Acc; accs.put(k, a) }
            a.cnt += 1
            var i = 0
            while (i < n) {
              if (r.isNullAt(i + 1)) a.nulls(i) += 1
              else {
                val bytes = TableStats.sketchBytes(types(i), r.get(i + 1))
                if (bytes.isEmpty) a.empties(i) += 1 else a.sks(i).update(bytes)
              }
              i += 1
            }
          }
          import scala.jdk.CollectionConverters._
          accs.entrySet().iterator().asScala.map { e =>
            val a = e.getValue
            (e.getKey.intValue(), a.cnt, a.nulls.toSeq, a.empties.toSeq,
              a.sks.map(_.compact().toByteArray).toSeq)
          }
        }.collect()
    Array.tabulate(nKeys) { k =>
      val ps = partials.filter(_._1 == k)
      (ps.map(_._2).sum,
        Array.tabulate(n)(j => ps.map(_._3(j)).sum),
        Array.tabulate(n)(j => ps.exists(_._4(j) > 0L)),
        Array.tabulate(n)(j => unionSketches(ps.map(_._5(j)))))
    }
  }

  /** The table-level document a partition bank implies: exact SUMS for
    * row and null counts, theta UNIONS for NDV (exact below the sketch's
    * nominal entries, standard theta error above — the same contract as
    * the single-sketch path). Returns (doc, per-column union bodies,
    * columns holding an empty-bytes value). */
  private def docFromBank(snapId: Long,
      bank: Map[String, TableStats.PartStats],
      typed: Seq[(IcebergField, IcebergType)])
      : (TableStats.Doc, Map[Int, Array[Byte]], Set[Int]) = {
    val parts = bank.values.toSeq
    val cols = typed.map { case (f, _) =>
      val pcs = parts.flatMap(_.cols.get(f.id))
      val body =
        if (pcs.isEmpty) emptyCompactSketch else unionSketches(pcs.map(_.body))
      val sawEmpty = pcs.exists(_.sawEmpty)
      (f.id, body, sawEmpty, TableStats.ColumnStats(
        sketchNdv(body, sawEmpty), Some(pcs.map(_.nullCount).sum)))
    }
    (TableStats.Doc(snapId, parts.map(_.rowCount).sum,
      cols.map(c => c._1 -> c._4).toMap),
      cols.map(c => c._1 -> c._2).toMap,
      cols.collect { case (fid, _, true, _) => fid }.toSet)
  }

  /** INCREMENTAL ANALYZE: stats refresh after an append should cost
    * O(new bytes), not O(table). When the current snapshot has an
    * ANCESTOR with an engine-written statistics document and every
    * snapshot in between is a plain `append`, the refresh scans ONLY the
    * files those appends added, unions the new theta sketches with the
    * previous document's standard blobs (the union-compatibility the
    * spec's single-value hash input exists for), and SUMS the exact
    * row/null counts — old data bytes are never re-read. At 100 TB this
    * is the difference between a per-ingest stats refresh and a nightly
    * full rescan.
    *
    * `replace` snapshots in the chain are TRANSPARENT: the spec defines
    * the operation as "files were removed and replaced, without changing
    * the data in the table", so compaction, delete-file rewrites,
    * manifest rewrites and lineage backfills leave the anchor document's
    * logical rowset intact — the canonical ingest → compact → refresh
    * maintenance loop stays O(delta) instead of re-scanning the table
    * because a compaction sat between the anchor and the head. The
    * increment still reads each append's ORIGINAL files (same rows the
    * replace rewrote, same byte count as the delta); since a later
    * replace makes those originals dead — and a foreign engine's expiry
    * may have reclaimed them — a replace-bearing chain first probes that
    * every appended original still exists (driver-side metadata calls,
    * O(delta files)) and falls back when any is gone.
    *
    * Chains bearing DELETEs or overwrites — where a theta union cannot
    * subtract — go through the PARTITION SKETCH BANK when the anchor
    * document carries one (every full ANALYZE of a partitioned table
    * writes it): per-partition state comparison finds the partitions the
    * delete actually touched, only THOSE rescan (MOR-resolved,
    * concurrent), and the rest reuse their banked sketches — a row-level
    * DELETE in one partition costs one partition's bytes, not 100 TB.
    *
    * Falls back to the full one-scan recompute (returned Boolean false)
    * whenever neither incremental path can be exact: no ancestor stats,
    * a delete-bearing chain without a bank (unpartitioned tables, docs
    * from before the bank, foreign writers' untupled manifests), a
    * sketchable-column-set change (schema evolution redefines what old
    * files contribute), a column without a standard sketch body (geo), a
    * foreign document without null counts, or a reclaimed appended
    * original after a replace. */
  def computeTableStatsIncremental(spark: SparkSession, tableDir: String)
      : (OptimisticCommit.CommitResult, TableStats.Doc, Boolean) = {
    def full() = {
      val (r, d) = computeTableStats(spark, tableDir); (r, d, false)
    }
    val metaPath = latestMetadataPath(tableDir)
    val meta = TableMetadata.parseFile(metaPath)
    val snapId = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException("cannot analyze a table with no snapshot"))
    // ancestry, newest → oldest; the anchor is the NEAREST ancestor
    // carrying a statistics document
    val chain = Iterator.iterate(meta.snapshot(snapId))(
        _.flatMap(_.parentSnapshotId).flatMap(meta.snapshot))
      .takeWhile(_.isDefined).map(_.get).toSeq
    val statsBySnap = meta.statistics.map(s => s.snapshotId -> s).toMap
    val anchorIdx = chain.indexWhere(s => statsBySnap.contains(s.snapshotId))
    if (anchorIdx < 0) return full()
    val anchor = chain(anchorIdx)
    val between = chain.take(anchorIdx) // strictly after the anchor
    val typed = meta.currentSchema.fields
      .flatMap(f => IcebergTypes.fromStringOpt(f.fieldType).map(t => (f, t)))
      .filter { case (_, t) => TableStats.sketchable(t) }
    if (typed.exists { case (_, t) => !TableStats.thetaSupported(t) })
      return full()
    val sk =
      try TableStats.readWithSketches(statsBySnap(anchor.snapshotId).path)
      catch { case scala.util.control.NonFatal(_) => return full() }
    val (prevDoc, prevBodies, prevEmpty) = (sk.doc, sk.bodies, sk.sawEmpty)
    val ids = typed.map(_._1.id).toSet
    if (prevDoc.columns.keySet != ids || !ids.forall(prevBodies.contains) ||
        prevDoc.columns.values.exists(_.nullCount.isEmpty) ||
        prevDoc.rowCount < 0) return full()
    // the sketch hashes PROMOTED types (int as long, float as double —
    // the Puffin spec's rule), so the legal widenings stay
    // union-compatible by construction; any OTHER recorded-vs-current
    // hash-type mismatch, or an older document without the record,
    // would union incompatible hash spaces and double-count — recompute.
    if (!typed.forall { case (f, t) =>
        sk.fieldTypes.get(f.id)
          .contains(TableStats.hashedTypeName(f.fieldType, t)) }) return full()
    // the head itself is already analyzed AND every compatibility guard
    // above passed (same sketchable column set, engine null counts,
    // matching hash types — a stale doc from a pre-ALTER schema, a
    // columns-restricted analyze, or a foreign writer falls to full()
    // BEFORE reaching here): nothing to union — a re-commit would write
    // a byte-identical blob and burn a metadata version per call (a
    // per-ingest scheduler hits this constantly). Return the registered
    // state, the same no-op-success shape as set_current_snapshot's
    // already-current case.
    if (anchorIdx == 0)
      return (OptimisticCommit.CommitResult(
        OptimisticCommit.versionOf(metaPath), metaPath, meta, 0), prevDoc, true)
    // PARTITION SKETCH BANK path for chains a theta union cannot serve
    // (deletes/overwrites subtract rows): when the anchor document banks
    // per-partition sketches, compare each partition's STATE — live data
    // (path, seq) set plus the delete entries that could address it —
    // between anchor and head. Clean partitions reuse their banked
    // stats verbatim; only DIRTY ones (where the delete actually landed)
    // rescan, MOR-resolved, concurrently. At 100 TB a row-level DELETE
    // in one partition costs one partition's bytes, not the table's.
    // State comparison (not chain-op analysis) also makes the test
    // robust to rollbacks and mixed chains. Anything odd — missing
    // bank, untupled manifests, a foreign doc's column drift — returns
    // None and the refresh falls to the full recompute.
    def bankIncremental()
        : Option[(OptimisticCommit.CommitResult, TableStats.Doc, Boolean)] = {
      if (sk.bank.isEmpty || sk.bank.values.exists(_.cols.keySet != ids))
        return None
      val headSnap = chain.head
      val headGroups = entriesByTuple(meta, headSnap).getOrElse(return None)
      val anchorGroups = entriesByTuple(meta, anchor).getOrElse(return None)
      val headDels = entriesAt(Some(headSnap), 1)
      val anchorDels = entriesAt(Some(anchor), 1)
      // bounds decoded once, reused across every partition's clean test
      val headSigs = decodedDeleteSigs(meta, headDels)
      val anchorSigs = decodedDeleteSigs(meta, anchorDels)
      val scopeFids = (headSigs ++ anchorSigs).flatMap(_.eqScope.keys).toSet
      def sig(es: Seq[ManifestWriter.EntryData]): Set[(String, Long)] =
        es.map(e => (PathId(e.filePath), e.sequenceNumber.get)).toSet
      val clean = headGroups.keySet.filter { t =>
        sk.bank.contains(t) &&
          anchorGroups.get(t).exists(a => sig(a) == sig(headGroups(t))) && {
            val es = headGroups(t)
            val paths = es.map(e => PathId(e.filePath)).toSet
            // the envelope is computed from the head's entries; the
            // clean test only reaches here when the anchor holds the
            // SAME (path, seq) set, so it describes both sides
            val env = partitionEnvelope(meta, es, scopeFids)
            sigsAddressing(headSigs, paths, env) ==
              sigsAddressing(anchorSigs, paths, env)
          }
      }
      val dirty = (headGroups.keySet -- clean).toSeq.sorted
      val posE = headDels.filter(_.content == 1)
        .map(e => (e, e.sequenceNumber.get))
      val eqE = headDels.filter(_.content == 2)
        .map(e => (e, e.sequenceNumber.get))
      // dirty partitions' files are LIVE at the head — a scan failure
      // here would hit full() identically, so propagate, don't mask.
      // Batched like the full bank pass: a delete sweep dirtying 10^3
      // partitions refreshes them in ⌈dirty/B⌉ jobs, not 10^3.
      val fresh = Par.inParallel(dirty.map(t => t -> headGroups(t))
          .grouped(bankBatchTuples(spark)).toSeq)(b =>
        partStatsBatch(spark, meta, b, posE, eqE, typed)).flatten.toMap
      val bank = clean.map(t => t -> sk.bank(t)).toMap ++ fresh
      val (doc, bodies, sawEmptyIds) = docFromBank(snapId, bank, typed)
      Some((commitStatsDoc(tableDir, snapId, doc, bodies, sawEmptyIds,
        typed.map(ft => ft._1.id ->
          TableStats.hashedTypeName(ft._1.fieldType, ft._2)).toMap, bank),
        doc, true))
    }
    // appends ADD rows; replaces rewrite files WITHOUT changing the
    // rowset (spec operation semantics) — anything else subtracts rows,
    // which a theta union cannot express: those chains go through the
    // partition bank (or the full recompute when there is none)
    if (!between.forall(s => s.operation.contains("append") ||
        s.operation.contains("replace")))
      return bankIncremental().getOrElse(full())
    val appends = between.filter(_.operation.contains("append"))
    val chainHasReplace = appends.size != between.size
    // data files the append chain added: each append's own manifests
    // (field 503), ADDED entries only — KB-scale metadata reads, each
    // tagged with its manifest's partition tuple for the bank refresh.
    // Replace snapshots contribute nothing: their "added" files carry
    // only rows the rewritten files already held.
    val newTagged = appends.flatMap { s =>
      val infos = ManifestListReader.read(s.manifestList.getOrElse(
          throw new IllegalStateException(
            s"append snapshot ${s.snapshotId} has no manifest-list")))
        .filter(i => i.content == 0 && i.addedSnapshotId == s.snapshotId)
      Par.inParallel(infos)(i =>
        ManifestWriter.read(i.path)
          .filter(e => e.status == 1 && e.content == 0)
          .map(e => (MetadataTables.partitionTuple(meta, i),
            (e, e.sequenceNumber.getOrElse(i.sequenceNumber))))).flatten
    }.distinctBy(te => PathId(te._2._1.filePath))
    val newEntries = newTagged.map(_._2)
    val newPaths = newEntries.map(_._1.filePath)
    // a later replace makes the appended ORIGINALS dead at the head; the
    // engine's own expiry keeps them while their append snapshot is
    // retained (reachability), but a foreign writer may have reclaimed
    // them — probe before scanning (append-only chains skip the probe:
    // their files are live at the head, so reachability guarantees them)
    if (chainHasReplace && Par.inParallel(newPaths)(p =>
        HadoopConfs.fileSystemFor(p).exists(new org.apache.hadoop.fs.Path(p)))
        .contains(false)) return full()
    // the bank rides along at zero extra byte cost: appends only ADD
    // rows, so a touched partition's new entry is its old one theta-
    // unioned with the appended files' stats — computed by scanning the
    // SAME appended files the table-level increment reads, just grouped
    // per tuple. An anchor without a bank, or appended manifests without
    // pinned tuples (a foreign writer), degrade to a bank-less document
    // — table-level increments keep working, the next delete recomputes.
    val bankable = sk.bank.nonEmpty &&
      sk.bank.values.forall(_.cols.keySet == ids) &&
      newTagged.forall(_._1.nonEmpty)
    // zero new files (re-analyzing an already-analyzed head): union with
    // an empty sketch is the identity — no scan at all
    // None = a scan failure on a replace-bearing chain: the originals
    // are DEAD bytes at the head — the probe above caught a whole-file
    // reclaim, but a foreign GC that TRUNCATED a file (or raced the
    // probe) still fails the scan. The table's live files are fine, so
    // a refresh over dead bytes must not fail where the full recompute
    // succeeds — the caller falls back. Append-only chains propagate
    // instead: their files are live, so full() would hit the same
    // bytes. (Option, not a nested `return`: these run on pool threads,
    // where a non-local return cannot unwind the caller.)
    def passOf(es: Seq[(ManifestWriter.EntryData, Long)])
        : Option[(Long, Array[Long], Array[Boolean], Array[Array[Byte]])] = {
      def run() = statsPass(spark, TableDataSource.scanPlan(spark, meta, es, Nil), typed)
      if (chainHasReplace)
        try Some(run())
        catch { case scala.util.control.NonFatal(_) => None }
      else Some(run())
    }
    // per-tuple passes when the bank needs refreshing (same files, same
    // bytes) — BATCHED B tuples per job like the other two bank writers
    // ([[partStatsBatch]]): a streaming ingest appending into 10^3
    // partitions refreshes in ⌈tuples/B⌉ jobs, not 10^3, with the keyed
    // pass's per-tuple results byte-identical to the per-tuple jobs'
    def batchPassOf(batch: Seq[(String,
        Seq[(Option[String], (ManifestWriter.EntryData, Long))])])
        : Seq[(String, Option[(Long, Array[Long], Array[Boolean], Array[Array[Byte]])])] = {
      if (batch.size == 1)
        return batch.map { case (t, tes) => t -> passOf(tes.map(_._2)) }
      import spark.implicits._
      val idx = batch.zipWithIndex.flatMap { case ((_, tes), i) =>
        tes.map(te => te._2._1.filePath -> i) }
      def run() = {
        val df0 = TableDataSource.scanPlan(spark, meta,
          batch.flatMap(_._2.map(_._2)), Nil)
        val (fileCol, idxCol) = bkCols(df0.columns)
        val df = df0.join(broadcast(idx.toDF(fileCol, idxCol)),
          col("_file") === col(fileCol))
        val per = statsPassKeyed(spark, df, idxCol, batch.size, typed)
        batch.zipWithIndex.map { case ((t, _), i) => t -> Some(per(i)) }
      }
      if (chainHasReplace)
        try run()
        catch { case scala.util.control.NonFatal(_) =>
          batch.map { case (t, _) => t -> None } }
      else run()
    }
    val freshPerTupleOpt: Map[String,
        Option[(Long, Array[Long], Array[Boolean], Array[Array[Byte]])]] =
      if (!bankable || newPaths.isEmpty) Map.empty
      else Par.inParallel(newTagged.groupBy(_._1.get).toSeq.sortBy(_._1)
          .grouped(bankBatchTuples(spark)).toSeq)(batchPassOf).flatten.toMap
    if (freshPerTupleOpt.values.exists(_.isEmpty)) return full()
    val freshPerTuple = freshPerTupleOpt.map { case (t, o) => t -> o.get }
    val (newRows, newNulls, newEmpty, newSketches) =
      if (newPaths.isEmpty)
        (0L, Array.fill(typed.size)(0L), Array.fill(typed.size)(false),
          Array.fill(typed.size)(emptyCompactSketch))
      else if (bankable) {
        // table-level delta derived from the per-tuple results: exact
        // sums, theta unions — identical value set, one read of the bytes
        val ps = freshPerTuple.values.toSeq
        (ps.map(_._1).sum,
          Array.tabulate(typed.size)(j => ps.map(_._2(j)).sum),
          Array.tabulate(typed.size)(j => ps.exists(_._3(j))),
          Array.tabulate(typed.size)(j => unionSketches(ps.map(_._4(j)))))
      } else passOf(newEntries).getOrElse(return full())
    val newBank: Map[String, TableStats.PartStats] =
      if (!bankable) Map.empty
      else {
        val fresh = freshPerTuple.map { case (t, (rc, nulls, saw, sks)) =>
          t -> toPartStats(typed, rc, nulls, saw, sks) }
        (sk.bank.keySet ++ fresh.keySet).map { t =>
          t -> ((sk.bank.get(t), fresh.get(t)) match {
            case (Some(a), Some(b)) => TableStats.PartStats(
              a.rowCount + b.rowCount,
              ids.map(id => id -> TableStats.PartCol(
                unionSketches(Seq(a.cols(id).body, b.cols(id).body)),
                a.cols(id).nullCount + b.cols(id).nullCount,
                a.cols(id).sawEmpty || b.cols(id).sawEmpty)).toMap)
            case (Some(a), None) => a
            case (None, b) => b.get
          })
        }.toMap
      }
    val sawEmptyIds = typed.zipWithIndex.collect {
      case ((f, _), j) if newEmpty(j) || prevEmpty(f.id) => f.id }.toSet
    val cols = typed.zipWithIndex.map { case ((f, _), j) =>
      val body = unionSketches(Seq(newSketches(j), prevBodies(f.id)))
      (f.id, body, TableStats.ColumnStats(
        sketchNdv(body, sawEmptyIds(f.id)),
        Some(newNulls(j) + prevDoc.columns(f.id).nullCount.get)))
    }
    val doc = TableStats.Doc(snapId, prevDoc.rowCount + newRows,
      cols.map { case (fid, _, cs) => fid -> cs }.toMap)
    val thetaSketches = cols.map { case (fid, body, _) => fid -> body }.toMap
    (commitStatsDoc(tableDir, snapId, doc, thetaSketches, sawEmptyIds,
      typed.map(ft =>
        ft._1.id -> TableStats.hashedTypeName(ft._1.fieldType, ft._2)).toMap,
      newBank), doc, true)
  }

  /** PARTITION statistics (the spec's `partition-statistics` slot): a
    * per-partition rollup — data/delete record, file and byte counts —
    * computed ENTIRELY from the current snapshot's manifests (zero data
    * bytes; the engine's partitioned writers give every tuple its own
    * manifest, so the field-507 summaries pin each manifest's tuple)
    * and written as ONE parquet file registered against the snapshot.
    * The `partitions` metadata table then serves from the FILE with
    * zero manifest opens — at 10⁵ manifests, the difference between a
    * catalog-speed lookup and a full metadata sweep. Re-computing the
    * same snapshot replaces its entry (old file reclaimed after the
    * commit wins); expiry drops entries with their snapshots. Manifests
    * whose summary does not pin a single tuple (foreign writers,
    * unpartitioned tables, spanning delete manifests) roll up under a
    * null partition — counts stay complete, attribution is honest. */
  def computePartitionStats(spark: SparkSession, tableDir: String)
      : (OptimisticCommit.CommitResult, Long) = {
    val metaPath = latestMetadataPath(tableDir)
    val meta = TableMetadata.parseFile(metaPath)
    val snapId = meta.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException("cannot analyze a table with no snapshot"))
    val infos = meta.currentSnapshot.flatMap(_.manifestList).toSeq
      .flatMap(ManifestListReader.read)
    val perManifest = Par.inParallel(infos)(i => (i, ManifestWriter.read(i.path)))
      .map { case (i, es) =>
        val live = es.filter(_.status != 2)
        def cnt(c: Int) = live.filter(_.content == c)
        (MetadataTables.partitionTuple(meta, i), i.specId,
          cnt(0).map(_.recordCount).sum, cnt(0).size, cnt(0).map(_.fileSizeInBytes).sum,
          cnt(1).map(_.recordCount).sum, cnt(1).size,
          cnt(2).map(_.recordCount).sum, cnt(2).size)
      }
    val rows = perManifest.groupBy(r => (r._1, r._2)).toSeq
      .map { case ((tuple, specId), rs) =>
        (tuple, specId, rs.map(_._3).sum, rs.map(_._4).sum, rs.map(_._5).sum,
          rs.map(_._6).sum, rs.map(_._7).sum, rs.map(_._8).sum, rs.map(_._9).sum) }
      .sortBy(_._1)
    val path = s"$tableDir/partition-stats-$snapId-${java.util.UUID.randomUUID()}.parquet"
    // the rows are already here: one task writer on the driver, no job
    val w = new graft.sources.GraftFileWriter(path, StructType(
      StructField("partition", StringType) +: StructField("spec_id", IntegerType) +:
        Seq("data_record_count" -> LongType, "data_file_count" -> IntegerType,
          "total_data_file_size_in_bytes" -> LongType,
          "position_delete_record_count" -> LongType, "position_delete_file_count" -> IntegerType,
          "equality_delete_record_count" -> LongType, "equality_delete_file_count" -> IntegerType)
          .map { case (n, t) => StructField(n, t) }), Nil, None, 0, HadoopConfs.active())
    try rows.foreach { r =>
      w.write(org.apache.spark.sql.catalyst.InternalRow(
        r._1.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
        r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
    } catch { case t: Throwable => w.abort(); throw t }
    val size = w.finish().bytes
    var replaced: Seq[String] = Nil
    val result = OptimisticCommit.commit(tableDir, (base, basePath) => {
      replaced = base.partitionStatistics.filter(_.snapshotId == snapId).map(_.path)
      base.copy(
        partitionStatistics =
          base.partitionStatistics.filterNot(_.snapshotId == snapId) :+
            StatisticsFile(snapId, path, size),
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath))
    })
    replaced.foreach(p =>
      HadoopConfs.fileSystemFor(p).delete(new org.apache.hadoop.fs.Path(p), false))
    (result, rows.size.toLong)
  }

  /** Table-property update through the CAS loop — metadata-only, the
    * commit Iceberg's `ALTER TABLE … SET TBLPROPERTIES` lands. */
  def setProperties(tableDir: String, props: Map[String, String]): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      base.copy(properties = base.properties ++ props,
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))

  /** One-way format-version upgrade (`ALTER TABLE … SET TBLPROPERTIES
    * ('format-version'='3')`, Iceberg's own upgrade spelling): a
    * metadata-only CAS commit bumping `format-version`. v3 switches the
    * position-delete write path to DELETION VECTORS (Puffin bitmaps, one
    * per data file); existing v2 position-delete parquet stays readable
    * — readers always apply the union — and converts on the next
    * `rewrite_position_delete_files`. Downgrades refuse: v3 documents
    * (DV entries, row-lineage fields) are not expressible in v2. */
  def upgradeFormatVersion(tableDir: String, v: Int): OptimisticCommit.CommitResult = {
    require(v == 2 || v == 3, s"unsupported format-version $v (2 or 3)")
    def upgraded(base: TableMetadata, nextRowId: Option[Long]): TableMetadata = {
      require(v >= base.formatVersion,
        s"cannot downgrade format-version ${base.formatVersion} -> $v")
      base.copy(formatVersion = v, nextRowId = nextRowId)
    }
    def nextRowId(base: TableMetadata): Option[Long] =
      if (v >= 3) base.nextRowId.orElse(Some(0L)) else base.nextRowId
    // ROW LINEAGE backfill: v3 requires every live data file to carry a
    // first_row_id (field 142). The upgrade assigns ids to all
    // pre-existing files in ONE metadata-only replace commit (new
    // manifests re-listing the same files with id blocks claimed in path
    // order — zero data bytes, invisible to scans and changelog consumers
    // like any replace). New commits then assign from the advanced
    // counter. Any other upgrade changes the document alone.
    def needsBackfill(base: TableMetadata): Boolean =
      v >= 3 && base.formatVersion < 3 && base.currentSnapshotId.nonEmpty
    // the path is chosen on the head as read; an attempt whose refreshed
    // base needs the other one conflicts instead of landing a wrong shape
    def raced(base: TableMetadata, backfill: Boolean): Unit =
      if (needsBackfill(base) != backfill) throw OptimisticCommit.CommitConflictException(
        s"$tableDir changed while upgrading to format-version $v — rerun")
    if (!needsBackfill(TableMetadata.parseFile(latestMetadataPath(tableDir))))
      OptimisticCommit.commit(tableDir, (base, basePath) => {
        raced(base, backfill = false)
        upgraded(base, nextRowId(base)).copy(
          lastUpdatedMs = base.lastUpdatedMs + 1000,
          metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath))
      })
    else SnapshotProducer.commit(tableDir) { a =>
      raced(a.base, backfill = true)
      var rid = nextRowId(a.base).getOrElse(0L)
      val carried = a.headRows.map { info =>
        if (info.content != 0) info
        else {
          val es = ManifestWriter.read(info.path)
          val assigned = es.map { e =>
            if (e.content == 0 && e.status != 2 && e.firstRowId.isEmpty) {
              val withId = e.copy(firstRowId = Some(rid)); rid += e.recordCount; withId
            } else e
          }
          if (assigned == es) info
          else a.rewrite(info, "m-lineage", s"-${info.path.hashCode.abs}", assigned)
        }
      }
      SnapshotProducer.Commit("replace",
        Map("row-lineage-backfill" -> "true", "assigned-row-ids" -> rid.toString),
        carried, evolve = base => upgraded(base, Some(rid)))
    }
  }

  def removeProperties(tableDir: String, keys: Seq[String]): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      base.copy(properties = base.properties -- keys,
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))

  /** Sort-order evolution through the CAS loop: `sort-orders[]` grows
    * and the default advances — metadata-only. Subsequent DSv2 writes
    * declare the order as their REQUIRED task ordering, so new files
    * land physically clustered on the sort columns with tight bound
    * stats — the read side prunes them with no rewrite step (old files
    * stay as-written until a clustering rewrite, the i35 rule). */
  def evolveSortOrder(tableDir: String, order: SortOrder): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      MetadataWriter.evolveSortOrder(base, order, base.lastUpdatedMs + 1000).copy(
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))

  /** Rollback through the CAS loop: move the main pointer (and ref, and
    * snapshot-log) back to an ANCESTOR snapshot — Iceberg's
    * `rollback_to_snapshot`. No snapshot is removed; expiry reclaims. */
  def rollbackTo(tableDir: String, snapshotId: Long): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      MetadataWriter.rollbackTo(base, snapshotId, base.lastUpdatedMs + 1000,
        Some(basePath)))

  /** Move main to ANY existing snapshot through the CAS loop — Iceberg's
    * `set_current_snapshot`, the redo to rollback's undo: after a
    * rollback the abandoned head is NOT an ancestor, so rollbackTo
    * refuses it and this is the documented way back (or to publish a
    * staged snapshot directly). Pointer move only. */
  def setCurrentSnapshot(tableDir: String, snapshotId: Long): OptimisticCommit.CommitResult =
    setCurrentSnapshotTo(tableDir, Left(snapshotId))

  /** The escape hatch for the upstream-style no-op: thrown from inside
    * the CAS closure when the (freshly-resolved) target already IS
    * current — committing a new metadata version that changes nothing
    * would be pure churn. Carries the state the decision was MADE on:
    * re-reading after the throw could observe a concurrent commit and
    * report a head that never justified the no-op. */
  private final case class AlreadyCurrentEscape(base: TableMetadata,
      basePath: String) extends RuntimeException("target is already current")

  /** Move main to an existing snapshot — by id, or by REF NAME resolved
    * INSIDE the CAS closure: resolving a ref from a pre-CAS metadata
    * read would publish a stale target if the ref moved concurrently
    * between the read and the commit (the same re-resolve-per-attempt
    * rule publish_changes follows for its candidate). A target that is
    * already current is a NO-OP SUCCESS (upstream's behavior), returning
    * the current committed state untouched. */
  def setCurrentSnapshotTo(tableDir: String,
      target: Either[Long, String]): OptimisticCommit.CommitResult =
    try OptimisticCommit.commit(tableDir, (base, basePath) => {
      val resolved = target.fold(identity, name =>
        base.refs.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no such ref '$name'")).snapshotId)
      if (base.currentSnapshotId.contains(resolved))
        throw AlreadyCurrentEscape(base, basePath)
      MetadataWriter.setCurrentSnapshot(base, resolved, base.lastUpdatedMs + 1000,
        Some(basePath))
    })
    catch {
      case AlreadyCurrentEscape(base, basePath) =>
        OptimisticCommit.CommitResult(
          OptimisticCommit.versionOf(basePath), basePath, base, 0)
    }

  /** Tag a snapshot (default: the current head) through the CAS loop —
    * a named immutable ref for `AS OF` time travel. */
  def createTag(tableDir: String, tag: String,
      snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) => {
      val target = snapshotId.orElse(base.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException("cannot tag a table with no snapshots"))
      MetadataWriter.createTag(base, tag, target, maxRefAgeMs).copy(
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath))
    })

  /** Create a BRANCH ref (default: at the current head) through the CAS
    * loop — the mutable target branch writes advance, the staging half
    * of write-audit-publish. */
  def createBranch(tableDir: String, name: String,
      snapshotId: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) => {
      val target = snapshotId.orElse(base.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException("cannot branch a table with no snapshots"))
      MetadataWriter.createBranch(base, name, target, maxRefAgeMs,
        minSnapshotsToKeep, maxSnapshotAgeMs).copy(
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath))
    })

  /** Drop a tag or branch ref through the CAS loop — the release valve
    * for snapshot expiry (a pinning ref makes `expire_snapshots` abort;
    * drop the ref, then expire). Metadata-only; no snapshot is touched. */
  def removeRef(tableDir: String, name: String,
      expectedType: Option[String] = None): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      MetadataWriter.removeRef(base, name, expectedType).copy(
        lastUpdatedMs = base.lastUpdatedMs + 1000,
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))

  /** Fast-forward main onto the named ref's snapshot through the CAS
    * loop — the publish half of write-audit-publish. Refuses targets
    * that do not descend from main's head (that would be a rollback). */
  def fastForward(tableDir: String, ref: String): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) => {
      val target = base.refs.find(_.name == ref).getOrElse(
        throw new IllegalArgumentException(s"no such ref '$ref'")).snapshotId
      MetadataWriter.fastForward(base, target, base.lastUpdatedMs + 1000,
        Some(basePath))
    })

  /** Cherry-pick one APPEND snapshot onto main — the publish path when
    * main has ADVANCED past the staged snapshot's fork point, where
    * fast-forward must refuse (the target no longer descends from the
    * head). The staged snapshot's own ADDED manifests re-apply on top of
    * main's current state as a NEW commit: entries re-sequence to the
    * new commit's number (a fresh manifest — the staged files become
    * newly-visible rows, correctly ABOVE any deletes main accumulated
    * meanwhile), main's manifests carry forward with their provenance,
    * and the staged lineage stays intact for time travel. Only `append`
    * snapshots cherry-pick — a replace/delete re-applied out of context
    * could resurrect or double-delete rows (Iceberg's restriction). */
  /** Publish the one unpublished STAGED snapshot carrying `wapId` — the
    * `spark.wap.id` write-audit-publish ending. The fast-forward leg
    * (main never moved since the stage: the staged id itself becomes
    * current, zero manifest work) re-validates from the FRESH base
    * INSIDE the CAS closure that the staged parent is STILL the head —
    * a concurrent commit landing between the read and the write can
    * never be silently orphaned; it falls through to the cherry-pick
    * re-apply instead (which carries its own in-closure guards). Only
    * snapshots wearing the `wap.staged` marker are candidates: a branch
    * write or rolled-back head whose summary merely RECORDS a wap.id is
    * never publishable this way. Returns (staged id, commit result). */
  def publishChanges(tableDir: String, wapId: String): (Long, OptimisticCommit.CommitResult) = {
    def candidate(base: TableMetadata): Snapshot = {
      val lin = base.lineage()
      val picked = lin.flatMap(base.snapshot)
        .flatMap(_.summary.get("cherry-picked-snapshot-id")).toSet
      val matches = base.snapshots
        .filter(s => s.summary.get("wap.id").contains(wapId) &&
          s.summary.get("wap.staged").contains("true"))
        // already-published stages are not candidates — publishing is
        // idempotent only by refusal, never by double apply. The durable
        // wap.published stamp is the primary record (it survives marker
        // expiry and rollbacks past the published head); lineage
        // membership and the cherry-pick marker back it up.
        .filterNot(s => s.summary.contains("wap.published") ||
          lin.contains(s.snapshotId) ||
          picked.contains(s.snapshotId.toString))
      require(matches.nonEmpty,
        s"no unpublished staged snapshot carries wap.id '$wapId'")
      require(matches.size == 1, s"ambiguous wap.id '$wapId': snapshots " +
        s"${matches.map(_.snapshotId).mkString(", ")} all carry it — " +
          "publish by snapshot id via cherrypick_snapshot")
      matches.head
    }
    // the published id is whatever the LAST closure attempt resolved —
    // never the pre-loop read (a same-wapId race could swap the
    // candidate between attempts, and reporting the stale one would
    // misname what actually published)
    var picked = candidate(TableMetadata.parseFile(latestMetadataPath(tableDir)))
    final class HeadAdvanced extends RuntimeException
    try {
      val r = OptimisticCommit.commit(tableDir, (base, basePath) => {
        val snap = candidate(base) // re-resolved on EVERY CAS attempt
        picked = snap
        if (base.currentSnapshotId != snap.parentSnapshotId)
          throw new HeadAdvanced
        // setCurrentSnapshot itself stamps the stage wap.published —
        // the durable record both the candidate filter and expiry trust
        MetadataWriter.setCurrentSnapshot(base, snap.snapshotId,
          base.lastUpdatedMs + 1000, Some(basePath))
      })
      (picked.snapshotId, r)
    } catch {
      case _: HeadAdvanced =>
        // appends re-apply; a staged EDIT was validated against its
        // parent's exact live-file state — replaying it onto different
        // files could resurrect rows, so the publish refuses instead
        // (the stage stays unpublished; age-based expiry reclaims it)
        require(picked.operation.contains("append"),
          s"staged ${picked.operation.getOrElse("unknown")} snapshot " +
            s"${picked.snapshotId} (wap.id '$wapId') cannot publish: main " +
            "advanced past its parent and an edit cannot cherry-pick — " +
            "re-run the edit under a fresh wap.id and reclaim this stage " +
            s"with CALL <catalog>.system.expire_snapshots(table => ..., " +
            s"snapshot_ids => array(${picked.snapshotId}L))")
        (picked.snapshotId, cherrypick(tableDir, picked.snapshotId))
    }
  }

  /** What stages under the `spark.wap.id` flavor on a wap-opted table:
    * DSv2 batch appends and overwrites, and ROW-LEVEL EDITS (COW
    * rewrites, MOR deltas, pushed DELETEs — wapEditStage on each commit
    * tail). Appends publish by fast-forward or cherry-pick re-apply;
    * EDITS and overwrites publish by FAST-FORWARD ONLY — they were
    * validated against their parent's exact live-file state, so once
    * main advances publish_changes refuses and the user re-runs the
    * edit. Producers that cannot stage at all refuse LOUDLY instead of
    * silently bypassing the audit gate: add_files imports, onboarding
    * forks, REPLACE TABLE (a new table definition, not a snapshot) and
    * streaming epochs (refused at the write builder). Branch-scoped
    * operations skip all of this — the other WAP path. LAYOUT-ONLY
    * maintenance (compaction, rewrite_manifests, position-delete
    * rewrites, expiry) commits normally: it moves no rows, so no audit
    * gate is bypassed (i86's content gate pins that invariant). */
  /** The session's write-audit-publish id, when one is set. The ONE
    * extraction point — the write builder's staging capture, the CTAS
    * wrapper's re-derivation, and the refusal guard must always agree
    * on what counts as "a staging session". */
  private[graft] def sessionWapId: Option[String] =
    // active-or-default, like SparkSession.active (a write triggered
    // from a thread that never inherited the thread-local session must
    // still see the wap id the user set) — but without throwing when no
    // session exists at all (pure-metadata callers)
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => Option(s.conf.get("spark.wap.id", null))).filter(_.nonEmpty)

  private def refuseWapStage(base: TableMetadata, op: String): Unit =
    refuseWapStage(base.properties, op)

  private def refuseWapStage(props: Map[String, String], op: String): Unit = {
    require(sessionWapId.isEmpty || !props.get("write.wap.enabled").contains("true"),
      s"$op does not stage under spark.wap.id (staging covers appends, " +
        "overwrites and row-level edits — DELETE/UPDATE/MERGE — only); " +
        "audit through a branch (db.t.branch_<name>) and fast_forward " +
        "instead, or unset spark.wap.id")
  }

  /** The stage decision for a ROW-LEVEL edit targeting main: under a
    * staging session on a wap-opted table, DELETE/UPDATE/MERGE commit
    * STAGE-ONLY — the snapshot lands in the document wearing
    * wap.id/wap.staged, no pointer moves, readers stay blind (upstream's
    * spark.wap.id parity for edits). Publication is FAST-FORWARD ONLY:
    * the stage was validated against its parent's exact state, so once
    * main advances, publish_changes refuses the cherry-pick re-apply
    * (replaying a rewrite onto different live files could resurrect
    * rows) and the user re-runs the edit; the abandoned stage reclaims
    * through age-based expiry like any other. */
  /** The stage-or-audit decision for one row-level commit, resolved
    * from ONE sessionWapId read — the session conf is shared and
    * mutable, and a second read later in the closure (manifest/DV
    * writes in between can take seconds) could observe a concurrent
    * unset and land a staged snapshot with no wap.id, permanently
    * unpublishable. `id` is the audit trail (recorded whenever set,
    * matching the append route and upstream); `staged` only when the
    * commit targets main and the table opted in. */
  private final case class WapDecision(id: Option[String], staged: Boolean) {
    def summary: Map[String, String] =
      id.map("wap.id" -> _).toMap ++
        (if (staged) Map("wap.staged" -> "true") else Map.empty)
  }

  /** `session` pins which SparkSession's conf carries the wap id: the
    * programmatic APIs (merge/upsert) take an explicit session, and in a
    * multi-session JVM the thread-local/default fallback could read a
    * DIFFERENT session's conf — publishing rows the caller staged. The
    * DSv2 routes resolve on the driver thread where active IS the
    * caller's session. */
  private def wapEditDecision(branch: Option[String],
      props: Map[String, String],
      session: Option[SparkSession] = None): WapDecision = {
    val id = session match {
      case Some(sp) => Option(sp.conf.get("spark.wap.id", null)).filter(_.nonEmpty)
      case None => sessionWapId
    }
    WapDecision(id, id.isDefined && branch.isEmpty &&
      props.get("write.wap.enabled").contains("true"))
  }

  def cherrypick(tableDir: String, snapshotId: Long): OptimisticCommit.CommitResult =
    SnapshotProducer.commit(tableDir) { a =>
      val base = a.base
      val src = base.snapshot(snapshotId).getOrElse(
        throw new IllegalArgumentException(s"no such snapshot $snapshotId"))
      require(src.operation.forall(_ == "append"),
        s"only append snapshots can cherry-pick; $snapshotId is ${src.operation}")
      // the DURABLE stamp outlives the lineage/marker guards below (a
      // rollback past the marker snapshot blinds them both) — a
      // published stage must never re-apply through the direct
      // cherrypick_snapshot procedure either
      require(!src.summary.contains("wap.published"),
        s"snapshot $snapshotId was already published (wap.published) — " +
          "re-applying it would duplicate its rows")
      // a snapshot already reachable from main's head contributed its
      // rows to the current state — re-applying its manifests would
      // silently DUPLICATE them (Iceberg refuses with "already an
      // ancestor"); same for a snapshot a previous cherry-pick already
      // landed (the summary marker is the application record, so a
      // retried publish job is a loud no-op, not a double-insert)
      val mainLineage = base.lineage()
      require(!mainLineage.contains(snapshotId),
        s"snapshot $snapshotId is already an ancestor of main — " +
          "cherry-picking it would duplicate its rows")
      require(!mainLineage.flatMap(base.snapshot).exists(
          _.summary.get("cherry-picked-snapshot-id").contains(snapshotId.toString)),
        s"snapshot $snapshotId was already cherry-picked onto main — " +
          "re-applying it would duplicate its rows")
      val srcAdded = ManifestListReader.read(src.manifestList.getOrElse(
          throw new IllegalArgumentException(s"snapshot $snapshotId has no manifest-list")))
        .filter(_.addedSnapshotId == snapshotId)
      require(srcAdded.nonEmpty, s"snapshot $snapshotId added no manifests")
      // fresh manifests at the NEW sequence: the staged entries become
      // ADDED rows of this commit (file paths are reused, bytes are not
      // copied — manifests are KB-scale)
      val rewritten = srcAdded.zipWithIndex.map { case (i, ix) =>
        SnapshotProducer.NewManifest("m-cherry", ManifestWriter.read(i.path)
          .filter(_.status != 2).map(e => e.copy(status = 1,
            snapshotId = a.snapshotId, sequenceNumber = Some(a.snapshotId))),
          i.content, i.specId, i.summaries, f"-${ix}%05d")
      }
      val nAdded = srcAdded.map(_.addedDataFilesCount).sum
      // a cherry-picked STAGE gets a DURABLE publication stamp on the
      // stage itself: the lineage-membership and marker checks both rot
      // once the marker snapshot expires or main rolls past it — without
      // the stamp an old published stage would revert to "unpublished",
      // pinned forever by keepLast expiry and re-publishable (row
      // duplication). Mutating the staged snapshot's summary is safe:
      // nothing references an off-lineage stage.
      SnapshotProducer.Commit("append",
        Map("added-data-files" -> nAdded.toString,
          "cherry-picked-snapshot-id" -> snapshotId.toString),
        carried = a.headRows, manifests = rewritten,
        evolve = b => b.copy(snapshots = b.snapshots.map(s =>
          if (s.snapshotId == snapshotId && s.summary.contains("wap.staged"))
            s.copy(summary = s.summary + ("wap.published" -> "true")) else s)))
    }

  /** Consolidate the current snapshot's DATA manifests through the CAS
    * loop — one manifest per partition TUPLE for tuple-pure manifests
    * (the engine's own write shape: each consolidated manifest keeps its
    * exact field-507 summary, so list-level pruning and the partition
    * sketch bank SURVIVE the consolidation — one-per-spec would widen
    * the summary to the whole domain and park both), and one per spec id
    * for untagged manifests (unpartitioned tables, foreign mixed
    * manifests; their row carries the type-aware union summary —
    * ScanPlanning.unionSummaries, conservative). A table appended to N
    * times carries N×T manifests; planning opens every one, so at scale
    * manifest count (not file count) becomes the planning bottleneck —
    * this brings it back to T. The rewrite re-lists every live entry as
    * EXISTING with its MATERIALIZED sequence number and original
    * snapshot id, and writes field 516 (min_sequence_number) as the true
    * minimum over the carried entries — an inherited default would let
    * delete pruning mis-skip.
    *
    * Delete manifests carry forward VERBATIM — except manifests holding
    * pre-field-110 EQUALITY delete entries (bounds without
    * null_value_counts, the pre-r18 engine shape and some foreign CDC
    * writers'): those re-list with the counts BACKFILLED from each
    * delete file's own footer statistics (read once per legacy file,
    * outside the CAS loop; no Spark job). Without the null-free proof
    * the sketch bank must conservatively dirty every partition on each
    * refresh; after the backfill, eq-scoped refresh works on pre-110
    * tables. Data files are never read — the commit stays
    * metadata-proportional at any table size. */
  def rewriteManifests(spark: SparkSession, tableDir: String)
      : OptimisticCommit.CommitResult = {
    val meta0 = TableMetadata.parseFile(latestMetadataPath(tableDir))
    val legacyEq = meta0.currentSnapshot.toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
      .filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 2 && e.nullValueCounts.isEmpty)
      .distinctBy(e => PathId(e.filePath))
    val backfill: Map[String, Map[Int, Long]] =
      Par.inParallel(legacyEq) { e =>
        // an eq-delete file's schema IS its equality-id list — count the
        // key columns' nulls from the file's own footer. A file whose
        // footer cannot be read (foreign non-parquet eq deletes) just
        // stays un-backfilled: its entry carries verbatim and the bank
        // keeps treating it conservatively — the rewrite must not fail
        // over a diagnostic.
        scala.util.Try {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(e.filePath), HadoopConfs.active()))
          try PathId(e.filePath) ->
            ParquetFooterStats.nullCounts(r.getFooter, meta0.currentSchema.fields)
          finally r.close()
        }.toOption
      }.flatten.toMap
    SnapshotProducer.commit(tableDir) { a =>
      val base = a.base
      val (dataInfos, delInfos) = a.headRows.partition(_.content == 0)
      require(dataInfos.nonEmpty, "rewrite_manifests on a table with no data manifests")
      // ONE concurrent sweep: entries with materialized provenance
      // (inherited sequences resolve against the OWNING list row,
      // snapshot ids against its added_snapshot_id — after this rewrite
      // the originals are unreferenced, so nothing may stay implicit),
      // each manifest tagged with its partition tuple when it pins one
      val perManifest = Par.inParallel(dataInfos) { i =>
        (i, MetadataTables.partitionTuple(base, i),
          ManifestWriter.read(i.path).filter(_.status != 2).map(e => e.copy(
            status = 0,
            snapshotId = if (e.snapshotId == 0L) i.addedSnapshotId else e.snapshotId,
            sequenceNumber = Some(e.sequenceNumber.getOrElse(i.sequenceNumber)))))
      }
      val (tagged, untagged) = perManifest.partition(_._2.nonEmpty)
      // tuple groups key on RAW summary bytes, never the rendered string
      // (not injective — the dac3de2 rule); lower AND upper both
      // participate against foreign truncated bounds. Groups with NO
      // live entries (a COW-deleted partition whose manifests hold only
      // tombstones) are DROPPED, not written empty — an empty manifest
      // stamped with a dead tuple's summary would be re-listed by every
      // future rewrite, so manifest count would never return to the
      // live-tuple count.
      val tupleGroups = tagged.groupBy(t => (t._1.specId,
          t._1.summaries.get.map(s =>
            (s.lower.map(_.toSeq), s.upper.map(_.toSeq)))))
        .toSeq.sortBy(_._1.toString)
        .filter(_._2.exists(_._3.nonEmpty))
      val rewrittenTuple = tupleGroups.zipWithIndex.map { case ((_, g), j) =>
        val i0 = g.head._1
        SnapshotProducer.NewManifest("m-rewrite", g.flatMap(_._3), 0, i0.specId,
          i0.summaries, f"-t${j}%05d")
      }
      val rewrittenSpec = untagged.groupBy(_._1.specId).toSeq.sortBy(_._1)
        .filter(_._2.exists(_._3.nonEmpty)).map { case (specId, g) =>
          SnapshotProducer.NewManifest("m-rewrite", g.flatMap(_._3), 0, specId,
            ScanPlanning.unionSummaries(base, g.map(_._1)).map(_._2), s"-spec$specId")
        }
      // delete manifests: ONE concurrent sweep serves both the
      // needs-backfill test and the rewrite (the same single-read rule
      // the data side follows) — verbatim unless a pre-110 equality
      // entry needs its null counts backfilled; a backfilled delete
      // manifest keeps its ORIGINAL provenance: the deletes were added
      // by their own commit, not this rewrite
      val perDelManifest = Par.inParallel(delInfos)(i =>
        (i, ManifestWriter.read(i.path)))
      def needsFix(es: Seq[ManifestWriter.EntryData]) = es.exists(e =>
        e.status != 2 && e.content == 2 &&
          e.nullValueCounts.isEmpty && backfill.contains(PathId(e.filePath)))
      val fixed = perDelManifest.filter(x => needsFix(x._2)).map(_._1.path).zipWithIndex.toMap
      val delRows = perDelManifest.map { case (i, es) =>
        fixed.get(i.path).fold(i) { j =>
          a.rewrite(i, "m-rewrite-del", f"-${j}%03d", es.filter(_.status != 2).map { e =>
            val filled =
              if (e.content == 2 && e.nullValueCounts.isEmpty)
                backfill.getOrElse(PathId(e.filePath), e.nullValueCounts)
              else e.nullValueCounts
            e.copy(status = 0,
              snapshotId = if (e.snapshotId == 0L) i.addedSnapshotId else e.snapshotId,
              sequenceNumber = Some(e.sequenceNumber.getOrElse(i.sequenceNumber)),
              nullValueCounts = filled)
          })
        }
      }
      val rewritten = rewrittenTuple ++ rewrittenSpec
      SnapshotProducer.Commit("replace",
        Map("manifests-replaced" -> (dataInfos.size + fixed.size).toString,
          "manifests-added" -> (rewritten.size + fixed.size).toString),
        carried = delRows, manifests = rewritten)
    }
  }

  /** The orphan set as a DATAFRAME — columns `path` (exact filesystem
    * form, what a delete addresses) and `mtime`. Both inputs of the
    * difference are FILE-COUNT-proportional at scale (10⁷–10⁸ paths on a
    * 100 TB table), so neither ever materializes on the driver:
    *
    *   - REFERENCED: every content-file path of every snapshot's every
    *     manifest (all statuses — a file dead at the head may be live
    *     under time travel), read as a distributed scan through the
    *     `graft-manifest` DSv2 source (one task per manifest, nested-
    *     pruned to `data_file.file_path` alone);
    *   - ACTUAL: a distributed listing of the data directory — the
    *     directory TREE walks level-by-level as Spark jobs (driver state
    *     is directory names only), then each leaf task STREAMS one
    *     directory's entries through `listStatusIterator` (paged LIST
    *     calls on an object store; a flat layout degrades to one serial
    *     listing task but still O(1) memory everywhere);
    *   - the difference is a LEFT ANTI join Spark shuffles on the
    *     [[PathId.component]] of each path — the same shape Iceberg's own
    *     DeleteOrphanFilesSparkAction plans; a file another authority's
    *     reference spells (`s3` vs `s3a`) is kept, never deleted.
    *
    * Both sides go through the SAME function ([[PathId.component]], as a
    * typed map) — an identity mismatch here would delete live data,
    * so the two sides must be bit-identical by construction, not by a
    * pair of independently-maintained expressions. Driver-side state
    * stays METADATA-proportional: the manifest path list and the
    * directory tree. */
  def orphanFileCandidates(spark: SparkSession, tableDir: String,
      olderThanMs: Option[Long] = None): DataFrame =
    orphanCandidatesWithCleanup(spark, tableDir, olderThanMs)._1

  /** [[orphanFileCandidates]] plus an explicit cleanup for the walk's
    * per-level caches — [[removeOrphanFiles]] unpersists them once its
    * action finishes. PUBLIC (r22) so API callers who materialize the
    * DataFrame themselves can release the level caches promptly too:
    * the bare-DataFrame route leaves them to the ContextCleaner
    * (GC-driven), which is correct but unbounded across repeated
    * candidate listings in a long-lived session (guide §5). */
  def orphanCandidatesWithCleanup(spark: SparkSession, tableDir: String,
      olderThanMs: Option[Long] = None): (DataFrame, () => Unit) = {
    import spark.implicits._
    val meta = TableMetadata.parseFile(latestMetadataPath(tableDir))
    require(!meta.properties.get("gc.enabled").contains("false"),
      s"gc.enabled=false on $tableDir (zero-copy snapshot table) — " +
        "the orphan sweep would touch files owned by the source table")
    val lists = meta.snapshots.flatMap(_.manifestList).distinct
    val manifests = Par.inParallel(lists)(l =>
      ManifestListReader.read(l).map(_.path)).flatten.distinct
    val fs = HadoopConfs.fileSystemFor(tableDir)
    val dataDir = new org.apache.hadoop.fs.Path(s"$tableDir/data")
    if (!fs.exists(dataDir))
      return (Seq.empty[(String, Long)].toDF("path", "mtime"), () => ())
    val referenced =
      if (manifests.isEmpty) spark.emptyDataset[String].toDF("ref")
      else spark.read.format("graft-manifest").load(manifests: _*)
        .select(col("data_file.file_path").as("p"))
        .as[String].map(PathId.component).toDF("ref")
    // parquet data/delete files, v3 deletion-vector Puffin files — a
    // crashed DV write (or a CAS retry's abandoned attempt) leaves
    // dv-*.puffin in data/ that only this sweep can reclaim — AND
    // engine-written avro/orc task files (write.format.default): their
    // crash debris lands in data/ exactly like parquet's. IMPORTED
    // foreign files live outside data/ (referenced in place) and stay
    // untouched; referenced in-place migrate adoptions survive the
    // reachability check like any committed file.
    val exts = Seq(".parquet", ".puffin", ".avro", ".orc")
    val conf = new SerializableHadoopConf(HadoopConfs.active())
    val slots = math.max(1, spark.sparkContext.defaultParallelism)
    // level-by-level tree walk, ONE listing per directory (r21 — was one
    // listing for subdirectory discovery plus a second for files,
    // doubling object-store LIST round trips): each level's job streams
    // each directory's entries once, emitting subdirectories AND matching
    // files; the level is CACHED (memory-then-disk, the same rows the
    // anti-join shuffles anyway — a lost block relists just that
    // directory slice), subdirectory NAMES come back to the driver to
    // seed the next level, and the file rows stay distributed for the
    // anti-join. Driver state is still directory names only.
    var level = Seq(dataDir.toString)
    val cached = Seq.newBuilder[DataFrame]
    val fileFrames = Seq.newBuilder[DataFrame]
    while (level.nonEmpty) {
      val listed = spark.createDataset(level)
        .repartition(math.min(level.size, slots))
        .flatMap { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val dfs = HadoopConfs.fileSystemFor(p, conf.value)
          val it = dfs.listStatusIterator(p)
          new scala.collection.AbstractIterator[(String, String, Long, Boolean)] {
            private def fetch(): (String, String, Long, Boolean) = {
              while (it.hasNext) {
                val st = it.next()
                if (st.isDirectory)
                  return (st.getPath.toString, "", 0L, true)
                if (st.isFile && exts.exists(st.getPath.getName.endsWith)) {
                  val full = st.getPath.toString
                  return (full, PathId.component(full), st.getModificationTime, false)
                }
              }
              null
            }
            private var nv = fetch()
            override def hasNext: Boolean = nv != null
            override def next(): (String, String, Long, Boolean) = {
              val v = nv; nv = fetch(); v
            }
          }
        }.toDF("path", "ref", "mtime", "is_dir")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached += listed
      // this collect triggers the level's ONE listing job and pins it in
      // the cache; only subdirectory names reach the driver
      level = listed.filter(col("is_dir")).select(col("path"))
        .as[String].collect().toSeq
      fileFrames += listed.filter(!col("is_dir"))
        .select(col("path"), col("ref"), col("mtime"))
    }
    val actual = fileFrames.result().reduce(_.union(_))
    val aged = olderThanMs.map(c => actual.filter(col("mtime") < c)).getOrElse(actual)
    val cands = aged.join(referenced, Seq("ref"), "left_anti")
      .select(col("path"), col("mtime"))
    val handles = cached.result()
    (cands, () => handles.foreach(_.unpersist(blocking = false)))
  }

  /** Delete data-directory files NO snapshot references — failed-write
    * debris, files stranded by a crash between an expiry commit and its
    * physical cleanup. The reachable set is the union over EVERY
    * snapshot still in the metadata (all manifests, INCLUDING deleted
    * entries), so the sweep can never reclaim data any read could
    * resolve; data files are never opened. Cost is metadata-proportional
    * ON THE DRIVER only — the file-count-proportional work (referenced
    * paths, directory listing, the anti-join difference, the deletes
    * themselves) runs as Spark jobs ([[orphanFileCandidates]] has the
    * plan shape). `olderThanMs` guards in-flight writers: only files
    * whose modification time precedes it are candidates (pass None to
    * sweep regardless — test/maintenance-window use). Returns the count
    * of files deleted (dry run: the count that WOULD be) — a path list
    * would itself be orphan-count-proportional driver state; inspect
    * candidates through [[orphanFileCandidates]] instead. */
  def removeOrphanFiles(spark: SparkSession, tableDir: String,
      olderThanMs: Option[Long] = None,
      dryRun: Boolean = false): Long = {
    val (cands, cleanup) = orphanCandidatesWithCleanup(spark, tableDir, olderThanMs)
    try {
      if (dryRun) cands.count()
      else {
        import spark.implicits._
        val conf = new SerializableHadoopConf(HadoopConfs.active())
        // executor-side deletes, one task per anti-join partition; count
        // successful deletes only (a concurrent sweep's winner counts it)
        cands.select("path").as[String].rdd.mapPartitions { it =>
          var n = 0L
          it.foreach { p =>
            val hp = new org.apache.hadoop.fs.Path(p)
            if (HadoopConfs.fileSystemFor(hp, conf.value).delete(hp, false)) n += 1
          }
          Iterator.single(n)
        }.fold(0L)(_ + _)
      }
    } finally cleanup()
  }

  /** Everything [[deleteReachableFiles]] found, by kind. Metadata-tier
    * paths are listed (metadata-proportional — a few per table version);
    * content files surface as a COUNT only, because at 100 TB the
    * content set is 10⁷–10⁸ paths and listing it would be the exact
    * file-count-proportional driver state the distributed walk exists to
    * avoid. */
  final case class ReachableFiles(contentFilesCount: Long, manifests: Seq[String],
      manifestLists: Seq[String], metadataFiles: Seq[String],
      statisticsFiles: Seq[String])

  /** Delete EVERY file reachable from a metadata document — the cleanup
    * half of dropping a table a catalog no longer owns (a `register_table`
    * pointer DROP keeps the files; this reclaims them) or a detached
    * directory. Reachability is the union over the document, every
    * previous document in its metadata-log, all their snapshots'
    * manifest lists → manifests → content files (data, position/equality
    * deletes, deletion-vector puffins — every status, so nothing any
    * time travel could resolve survives), plus statistics and
    * partition-statistics files. Guards: `gc.enabled=false` (zero-copy
    * forks reference files the SOURCE owns) refuses, and the document
    * must be its directory's CURRENT version — deleting through a stale
    * document while newer state exists would reclaim files the live
    * table still references. Only for tables no catalog serves anymore.
    * Driver cost is metadata-proportional (metadata documents, manifest
    * lists, manifests — KB-scale each); the CONTENT tier, which is
    * file-count-proportional, enumerates as a distributed scan of the
    * manifests through the `graft-manifest` DSv2 source and existence-
    * probes / deletes per-partition on executors — only its COUNT ever
    * reaches the driver. Data files are never read. */
  def deleteReachableFiles(spark: SparkSession, metadataFile: String,
      dryRun: Boolean = false): ReachableFiles = {
    val meta = TableMetadata.parseFile(metadataFile)
    require(!meta.properties.get("gc.enabled").contains("false"),
      s"gc.enabled=false on $metadataFile (zero-copy snapshot table) — " +
        "its files are owned by the source table")
    val slash = metadataFile.lastIndexOf('/')
    require(slash > 0 && new org.apache.hadoop.fs.Path(metadataFile).isAbsolute,
      s"metadata_file must be an absolute path, got $metadataFile")
    val tableDir = metadataFile.substring(0, slash)
    val v = OptimisticCommit.currentVersion(tableDir)
    require(v > 0 && OptimisticCommit.metadataPath(tableDir, v) == metadataFile,
      s"$metadataFile is not the directory's current metadata — a newer " +
        "version exists and may reference these files; pass the current one")
    // reachable files can live on OTHER filesystems (add_files-imported
    // data, cross-scheme metadata-log entries) — resolve per path; and
    // both the existence sweep and the deletion are one driver round
    // trip per file on an object store, so they run in parallel like
    // the manifest reads
    def exists(p: String): Boolean = HadoopConfs.fileSystemFor(p)
      .exists(new org.apache.hadoop.fs.Path(p))
    def existing(ps: Seq[String]): Seq[String] =
      Par.inParallel(ps)(p => if (exists(p)) Some(p) else None).flatten
    // the version-hint file is layout infrastructure, owned like the
    // documents it points at
    val metaFiles = existing((meta.metadataLog.map(_.metadataFile) :+ metadataFile)
      .distinct) ++
      Some(s"$tableDir/version-hint.text").filter(exists)
    val metas = meta +: metaFiles
      .filterNot(p => p == metadataFile || p.endsWith("version-hint.text"))
      .map(TableMetadata.parseFile)
    val lists = existing(metas.flatMap(_.snapshots.flatMap(_.manifestList)).distinct)
    val manifests = existing(Par.inParallel(lists)(l =>
      ManifestListReader.read(l).map(_.path)).flatten.distinct)
    val stats = existing(metas.flatMap(m => m.statistics ++ m.partitionStatistics)
      .map(_.path).distinct)
    // the content tier is FILE-COUNT-proportional — it never lands on the
    // driver: every manifest entry's path streams through a distributed
    // scan, the existence probe / delete is one round trip per file run
    // PER-PARTITION on executors, and only the count comes back
    val conf = new SerializableHadoopConf(HadoopConfs.active())
    def contentTier(delete: Boolean): Long =
      if (manifests.isEmpty) 0L
      else {
        import spark.implicits._
        spark.read.format("graft-manifest").load(manifests: _*)
          .select(col("data_file.file_path")).distinct()
          .as[String].rdd.mapPartitions { it =>
            var n = 0L
            it.foreach { p =>
              val hp = new org.apache.hadoop.fs.Path(p)
              val pfs = HadoopConfs.fileSystemFor(hp, conf.value)
              if (if (delete) pfs.delete(hp, false) else pfs.exists(hp)) n += 1
            }
            Iterator.single(n)
          }.fold(0L)(_ + _)
      }
    if (dryRun)
      ReachableFiles(contentTier(delete = false), manifests, lists, metaFiles, stats)
    else {
      // TOCTOU re-check: the enumeration above can run long; a writer
      // that committed meanwhile (a catalog still serving the table
      // despite the caller's claim) has a NEWER live document
      // referencing files this sweep would reclaim — refuse rather than
      // destroy a live table's state
      val vNow = OptimisticCommit.currentVersion(tableDir)
      require(vNow == v,
        s"table advanced to version $vNow while enumerating (was $v) — " +
          "a writer still serves this table; re-run against the current " +
          "metadata only once nothing commits to it")
      // leaf-before-root TIERS: an interrupted run must leave the tree
      // re-walkable — metadata and manifests go LAST, so a retry can
      // always re-enumerate whatever content survived. Content deletes
      // run as the distributed job; the metadata-proportional tiers run
      // driver-parallel (KB-scale path lists, one RPC each).
      val n = contentTier(delete = true)
      Seq(manifests, lists, stats, metaFiles).foreach(tier =>
        Par.inParallel(tier)(p => HadoopConfs.fileSystemFor(p)
          .delete(new org.apache.hadoop.fs.Path(p), false)))
      ReachableFiles(n, manifests, lists, metaFiles, stats)
    }
  }

  /** Partition-spec evolution through the CAS loop: `partition-specs[]`
    * grows and `default-spec-id` advances. Existing manifests keep their
    * old spec id (list field 502, the i32 mixed-spec rule); subsequent
    * `append`s lay out files — and write field-507 summaries — under the
    * new spec with no further ceremony. */
  def evolvePartitionSpec(tableDir: String, spec: PartitionSpec): OptimisticCommit.CommitResult =
    OptimisticCommit.commit(tableDir, (base, basePath) =>
      MetadataWriter.evolvePartitionSpec(base, spec, base.lastUpdatedMs + 1000).copy(
        metadataLog = base.metadataLog :+ MetadataLogEntry(base.lastUpdatedMs, basePath)))

  /** MERGE-ON-READ row-level commit — every position delete a DELETE
    * writes lands here: the SQL delta-write route (UPDATE/DELETE/MERGE
    * under `write.<op>.mode = merge-on-read`) and [[deleteWhere]]. ONE
    * snapshot lands the new data files (inserts + updated rows) and the
    * position-delete files, every entry at the commit's sequence. I/O is
    * O(changed rows) — untouched data is never rewritten, which is the
    * whole point of MOR vs the copy-on-write route. `targetPaths` is
    * exactly the set of data files the delete files address; the CAS
    * closure re-validates that every one is still live: a concurrent
    * rewrite dropping one would strand those deletes on a dead path (a
    * lost update), so the commit conflicts instead. The delete
    * manifest's field-507 summary is the typed union of the summaries of
    * the manifests OWNING the addressed files — the deletes can only
    * target partitions inside it, so a partition-scoped delete stays
    * prunable on the delete side by the rule readers apply
    * (conservative: any owner without a summary yields none). */
  private[graft] def commitDeltaFiles(tableDir: String, dataFiles: Seq[PendingFile],
      deleteFiles: Seq[PendingFile], targetPaths: Set[String],
      branch: Option[String] = None)
      : OptimisticCommit.CommitResult = {
    require(dataFiles.nonEmpty || deleteFiles.nonEmpty, "empty delta commit")
    // v3: the written position-delete parquet converts to DELETION
    // VECTORS before the commit — one Roaring bitmap per covered data
    // file, merged with the file's whole pending delete state (old DV +
    // v2 positions) so at most one DV per file stays live, superseding
    // its old DV. The parquet files become intermediates (reclaimed
    // after the commit wins; a crash leaves orphans for the sweep, never
    // a corrupt table).
    val targets = targetPaths.map(PathId(_))
    val meta0 = TableMetadata.parseFile(latestMetadataPath(tableDir))
    val v3Dv = meta0.formatVersion >= 3 && deleteFiles.nonEmpty
    val spark = if (v3Dv) SparkSession.active else null
    val dvAttempt = java.util.UUID.randomUUID()
    val (dvRefRows, dvSuperseded, dvPreDel) =
      if (!v3Dv) (Nil, Set.empty[(String, Long)], Set.empty[(String, Long)])
      else {
        val newDels = posDeleteRows(spark, deleteFiles.map(_.entry(0L, content = 1)))
        val (oldDvEntries, oldPositions) = pendingPosState(spark, meta0, targets, branch)
        val manifestForm = entriesAt(refHead(meta0, branch), 0).filter(_.content == 0)
          .map(e => PathId(e.filePath) -> e.filePath).toMap
        val refs = writeDvsDistributed(spark, tableDir, dvAttempt,
          newDels.unionByName(oldPositions), manifestForm,
          SnapshotProducer.nextSnapshotId(meta0))
        val delE = entriesAt(refHead(meta0, branch), 1).filter(_.content == 1)
        (refs,
          oldDvEntries.map(e => (PathId(e.filePath), e.contentOffset.getOrElse(0L))).toSet,
          delE.map(e => (PathId(e.filePath), e.contentOffset.getOrElse(0L))).toSet)
      }
    val result = SnapshotProducer.commit(tableDir, branch) { a =>
      val base = a.base
      val snapId = a.snapshotId
      // with `branch`, the delta lands BRANCH-SCOPED: validation, carried
      // manifests and the parent come from the branch head; only the
      // branch ref moves. A main-targeting delta under a staging session
      // STAGES instead (wapEditDecision — fast-forward-only publication)
      val wap = wapEditDecision(branch, base.properties)
      val head = refHead(base, branch)
      val owned = Par.inParallel(a.headRows.filter(_.content == 0))(i =>
        i -> ManifestWriter.read(i.path)
          .filter(e => e.status != 2 && e.content == 0).map(e => PathId(e.filePath)))
      val missing = targets -- owned.flatMap(_._2)
      if (missing.nonEmpty) throw OptimisticCommit.CommitConflictException(
        s"row-level delete targets removed by a concurrent commit: ${missing.mkString(", ")}")
      if (v3Dv) {
        // merge-on-write staleness guard: the DVs absorbed the delete
        // state AS OF meta0 and this commit drops the absorbed entries —
        // a concurrent change to the ref's delete files conflicts; an
        // append does not
        val nowDel = entriesAt(head, 1).filter(_.content == 1)
          .map(e => (PathId(e.filePath), e.contentOffset.getOrElse(0L))).toSet
        if (nowDel != dvPreDel) throw OptimisticCommit.CommitConflictException(
          "table delete state changed while writing deletion vectors — rerun")
      }
      val delSummary = ScanPlanning.unionSummaries(base,
        owned.collect { case (i, ids) if ids.exists(targets) => i })
      val delManifest =
        if (deleteFiles.isEmpty) Nil
        else Seq(SnapshotProducer.NewManifest("m-delta-del",
          // v3: the DVs written before the commit land instead of the
          // task parquet (which stays an uncommitted intermediate)
          if (v3Dv) dvRefRows.map { case (ref, path, off, len, card, size) =>
            DeletionVectors.entryFor(
              DeletionVectors.DvRef(ref, path, off, len, card), snapId, snapId, size)
          }
          else deleteFiles.map(_.entry(snapId, content = 1)),
          1, delSummary.fold(0)(_._1), delSummary.map(_._2)))
      // v3 supersede: carried delete manifests drop the old DV entries
      // for re-covered files (the new DVs carry their every position)
      val carried =
        if (dvSuperseded.isEmpty) a.headRows
        else a.headRows.flatMap { info =>
          if (info.content != 1) Some(info)
          else {
            val es = ManifestWriter.read(info.path)
            val keep = es.filterNot(e => e.fileFormat == "PUFFIN" &&
              dvSuperseded((PathId(e.filePath), e.contentOffset.getOrElse(0L))))
            if (keep.size == es.size) Some(info)
            else if (keep.isEmpty) None
            else Some(a.rewrite(info, "m-dvrw", s"-${info.path.hashCode.abs}", keep))
          }
        }
      SnapshotProducer.Commit(if (dataFiles.isEmpty) "delete" else "overwrite",
        Map("added-data-files" -> dataFiles.size.toString,
          "added-records" -> dataFiles.map(_.rows).sum.toString,
          "added-delete-files" ->
            (if (v3Dv) dvRefRows.size else deleteFiles.size).toString,
          "added-position-deletes" -> deleteFiles.map(_.rows).sum.toString) ++
          (if (v3Dv) Map("added-dvs" -> dvRefRows.size.toString,
            "removed-dvs" -> dvSuperseded.size.toString) else Map.empty) ++
          wap.summary,
        carried,
        // v3 lineage: delta data files claim fresh id blocks EXCEPT those
        // that materialize lineage columns (update-written files carrying
        // the original rows' ids through)
        dataManifests("m-delta-data", dataFiles, snapId) ++ delManifest,
        stage = wap.staged,
        lineageFiles = dataFiles.filter(_.carriesLineage).map(_.path).toSet)
    }
    // the task parquet never entered the table on v3 — reclaim it now
    // that the commit won (best-effort; a crash here leaves orphans for
    // remove_orphan_files, never a corrupt table)
    if (v3Dv) deleteFiles.foreach { f =>
      scala.util.Try(HadoopConfs.fileSystemFor(f.path)
        .delete(new org.apache.hadoop.fs.Path(f.path), false))
    }
    result
  }

  /** Row-level DELETE: the ref head's live rows matching `predicate` —
    * read as [[read]] reads the head (the graft-table relation), so
    * renamed columns resolve by field id, rows an earlier delete removed
    * are not addressed again and any data file format scans — land as
    * ONE (file_path, pos)-sorted position-delete file, committed by
    * [[commitDeltaFiles]] like every SQL merge-on-read DELETE (v3 tables
    * get deletion vectors there). The predicate is an ordinary Column
    * over the table's schema, pushed into the scan's planning pass to
    * prune manifests, files and row groups (a key on a bucketed table
    * opens one data manifest). A predicate matching no live row commits
    * nothing.
    *
    * With `branch`, the DELETE is BRANCH-SCOPED end-to-end: the predicate
    * scans the branch head's live rows (not main's), the delete snapshot
    * chains from the branch head carrying ITS manifests, and the commit
    * moves only the branch ref — main never sees the staged delete until
    * fast_forward publishes it (the WAP contract extended beyond
    * appends). */
  def deleteWhere(spark: SparkSession, tableDir: String,
      predicate: org.apache.spark.sql.Column,
      branch: Option[String] = None): OptimisticCommit.CommitResult = {
    val metaPath0 = latestMetadataPath(tableDir)
    val meta0 = TableMetadata.parseFile(metaPath0)
    // one task writes the file; its message names the data files it
    // addresses (the commit's conflict targets) — `_file` is the
    // manifest spelling
    val written = refHead(meta0, branch).flatMap { _ =>
      graft.sources.GraftTableWrites.writePositionDeleteFile(
        TableDataSource.read(spark, metaPath0, meta0, ref = branch)
          .filter(predicate)
          .select(col("_file").as("file_path"), col("_pos").as("pos")),
        s"$tableDir/data/delete-${java.util.UUID.randomUUID()}")
    }
    written match {
      case Some(m) =>
        commitDeltaFiles(tableDir, Nil, Seq(PendingFile(m.path, m.rows, m.bytes, m.lower, m.upper)),
          m.targets.toSet, branch)
      case None => OptimisticCommit.CommitResult(
        OptimisticCommit.currentVersion(tableDir), metaPath0, meta0, 0)
    }
  }

  /** Streaming-upsert commit (the shape that makes EQUALITY deletes in
    * practice — Flink's and Iceberg's upsert writers): ONE snapshot lands
    * an equality-delete file on `keyCols` (one row per upserted key — the
    * file's schema IS its equality-id list) plus the new data file. Both
    * carry the SAME new sequence number, and the spec's strict rule does
    * the rest: the equality delete applies only to STRICTLY LOWER data
    * sequences, so every pre-existing row with an upserted key dies while
    * the same-commit replacement rows survive. No read of existing data,
    * no rewrite — an upsert is pure O(input) write I/O, which is why this
    * shape (not COW merge) is what a high-frequency CDC stream uses.
    * Readers on every route (native, pruned, DSv2 task-local) already
    * implement the scoping. The eq-delete entry records key bounds AND
    * spec field-110 null counts, so the partition sketch bank can scope
    * it by key range. On a PARTITIONED table the data rows route through
    * the same per-tuple task writers the DSv2 path uses
    * ([[graft.sources.GraftTablePartitionedWriter]]): rows cluster by
    * the partition source columns (one shuffle over the O(input) batch),
    * each written file is tuple-pure with its transform-space field-507
    * summary, and each lands in its own manifest — so list-level pruning
    * AND the partition sketch bank stay live under continuous streaming
    * upserts instead of parking until the nightly compaction. */
  def upsert(spark: SparkSession, tableDir: String, df: DataFrame,
      keyCols: Seq[String]): OptimisticCommit.CommitResult = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val metaPath0 = latestMetadataPath(tableDir)
    val meta0 = TableMetadata.parseFile(metaPath0)
    val schema = sparkSchema(meta0)
    keyCols.foreach(k => require(schema.fieldNames.contains(k), s"key column $k not in schema"))
    val projected = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val keys = keyCols.map(col)
    val upsertUuid = java.util.UUID.randomUUID()
    val writes = graft.sources.GraftTableWrites
    val fields = writes.fieldsOf(meta0.currentSchema)
    // one row per upserted key, written by one task: its key bounds let
    // a delete-side pruner skip this eq-delete for key ranges it can't
    // touch, and its null counts are the partition sketch bank's
    // null-free proof. An empty input writes nothing and commits nothing.
    val eqDel = writes.writeDataFiles(
      projected.select(keys: _*).distinct().repartition(1).sortWithinPartitions(keys: _*),
      s"$tableDir/data/eqdel-$upsertUuid", fields.filter(f => keyCols.contains(f._2))) match {
      case Seq(m) => m
      case _ => return OptimisticCommit.CommitResult(
        OptimisticCommit.versionOf(metaPath0), metaPath0, meta0, 0)
    }
    // a spec the write kernels can't split by (a foreign 'void'
    // transform, exotic source types, transform×type combos only the
    // task-time kernel would reject) must NOT fail the upsert — it
    // falls back to the untupled single-file shape, the pre-r19 honest
    // bound (bank parked until compaction), instead of breaking a
    // working CDC pipeline on such a table
    val partInfo = scala.util.Try(
        graft.sources.GraftTableWrites.partInfoOf(meta0, schema))
      .toOption.flatten.filter(_._2.forall { case (idx, srcT, transform, _) =>
        val sparkOk = schema.fields(idx).dataType match {
          case org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType |
               org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType |
               org.apache.spark.sql.types.BooleanType => true
          case _: org.apache.spark.sql.types.DecimalType => true
          case _ => false
        }
        val comboOk = transform match {
          case "identity" | "hour" => true // hour: partInfoOf restricted it
          case t if t.startsWith("bucket[") =>
            Set[IcebergType](IcebergTypes.TInt, IcebergTypes.TLong,
              IcebergTypes.TString)(srcT)
          case t if t.startsWith("truncate[") => true // partInfoOf restricted
          case "year" | "month" | "day" =>
            Set[IcebergType](IcebergTypes.TDate, IcebergTypes.TTimestamp,
              IcebergTypes.TTimestamptz)(srcT)
          case _ => false
        }
        sparkOk && comboOk
      })
    val dataPrefix = s"$tableDir/data/upsert-$upsertUuid"
    val dataMsgs: Seq[graft.sources.GraftFileMessage] =
      partInfo match {
        case None =>
          writes.writeDataFiles(projected.repartition(1).sortWithinPartitions(keys: _*),
            dataPrefix, fields)
        case Some((_, sf)) =>
          // cluster by the partition SOURCE columns (same tuple → same
          // task → one file per tuple), key-sorted within each task for
          // tight key bounds; the task writers stamp each file's exact
          // tuple summary
          writes.writeDataFiles(
            projected.repartition(sf.map(f => col(schema.fieldNames(f._1))): _*)
              .sortWithinPartitions(keys: _*), dataPrefix, fields, partInfo)
            .sortBy(_.path)
      }
    val totalRows = dataMsgs.map(_.rows).sum
    SnapshotProducer.commit(tableDir) { a =>
      // stage-or-audit, like every row-level tail: an equality upsert is
      // delete + insert, the definition of an audited edit
      val wap = wapEditDecision(None, a.base.properties, Some(spark))
      // v3 lineage: the upserted rows are NEW rows (an equality upsert is
      // delete + insert — identity changes by the spec's own model).
      // Un-summarized data shares one manifest; each tuple-pure file gets
      // its own with the tuple's field-507 summary (the append shape).
      SnapshotProducer.Commit("overwrite",
        Map("added-data-files" -> dataMsgs.size.toString,
          "added-records" -> totalRows.toString,
          "added-delete-files" -> "1",
          "added-equality-deletes" -> eqDel.rows.toString) ++ wap.summary,
        a.headRows,
        dataManifests("m-upsert-data", dataMsgs.map(writes.pending), a.snapshotId) :+
          SnapshotProducer.NewManifest("m-upsert-del", Seq(ManifestWriter.EntryData(
            1, a.snapshotId, eqDel.path, eqDel.rows, eqDel.bytes,
            eqDel.lower, eqDel.upper, content = 2, sequenceNumber = Some(a.snapshotId),
            nullValueCounts = eqDel.nullCounts)), content = 1),
        stage = wap.staged)
    }
  }
}

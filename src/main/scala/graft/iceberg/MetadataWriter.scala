package graft.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Table-metadata sink + snapshot commit — the write half of table
  * maintenance. [[commitSnapshot]] produces the successor metadata a
  * maintenance operation (append, compaction rewrite, expiry) publishes:
  * new snapshot appended, `current-snapshot-id` advanced, the main branch
  * ref moved, the snapshot-log extended, and the superseded metadata file
  * recorded in the metadata-log. [[toJson]] renders the document in the
  * layout of the reference fixture
  * (src/main/resources/graft/fixtures/v1.metadata.json:38-95): same keys,
  * summary with `operation` first, v1 flat `partition-spec` alongside
  * `partition-specs`.
  *
  * The functions here are pure document transforms (single-writer by
  * themselves); multi-writer atomicity — compare-and-swap on the
  * versioned metadata pointer, with refresh-and-reapply on conflict — is
  * [[OptimisticCommit]], which wraps these transforms in the CAS loop.
  */
object MetadataWriter {

  private val mapper = new ObjectMapper()

  /** Successor metadata for a newly produced snapshot. `previousFile`, when
    * given, is the path of the metadata document `base` was read from —
    * recorded in the metadata-log the way Iceberg keeps its lineage of
    * superseded documents. */
  def commitSnapshot(base: TableMetadata, snap: Snapshot,
      previousFile: Option[String] = None): TableMetadata = {
    require(!base.snapshots.exists(_.snapshotId == snap.snapshotId),
      s"snapshot id ${snap.snapshotId} already committed")
    base.copy(
      lastUpdatedMs = snap.timestampMs,
      currentSnapshotId = Some(snap.snapshotId),
      refs = {
        val main = SnapshotRef("main", "branch", snap.snapshotId)
        if (base.refs.exists(_.name == "main"))
          base.refs.map(r => if (r.name == "main") main else r)
        else base.refs :+ main
      },
      snapshots = base.snapshots :+ snap,
      snapshotLog = base.snapshotLog :+ SnapshotLogEntry(snap.timestampMs, snap.snapshotId),
      metadataLog = base.metadataLog ++
        previousFile.map(f => MetadataLogEntry(base.lastUpdatedMs, f)))
  }

  /** STAGE a snapshot without publishing it — Iceberg's
    * write-audit-publish `spark.wap.id` flavor: the snapshot (and its
    * summary `wap.id`) lands in the document so `publish_changes` /
    * `cherrypick_snapshot` can find it, but NO pointer moves — the
    * current id, every ref, and the snapshot-log stay untouched, so
    * readers cannot see the staged rows. No snapshot is removed by a
    * later publish either; expiry reclaims unpublished stages. */
  def stageSnapshot(base: TableMetadata, snap: Snapshot,
      previousFile: Option[String] = None): TableMetadata = {
    require(!base.snapshots.exists(_.snapshotId == snap.snapshotId),
      s"snapshot id ${snap.snapshotId} already committed")
    base.copy(
      lastUpdatedMs = snap.timestampMs,
      snapshots = base.snapshots :+ snap,
      metadataLog = base.metadataLog ++
        previousFile.map(f => MetadataLogEntry(base.lastUpdatedMs, f)))
  }

  /** Rollback: move the current pointer BACKWARD along main's lineage —
    * Iceberg's `rollback_to_snapshot` requires the target be an ancestor
    * of the current state (an undo). Moving sideways or forward (redo, or
    * publishing a staged snapshot directly) is [[setCurrentSnapshot]]. */
  def rollbackTo(base: TableMetadata, snapshotId: Long, timestampMs: Long,
      previousFile: Option[String] = None): TableMetadata = {
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"cannot roll back to unknown snapshot $snapshotId")
    require(base.lineage().contains(snapshotId),
      s"snapshot $snapshotId is not an ancestor of the current state — " +
        "rollback only moves backward along main's lineage; " +
        "set_current_snapshot moves regardless of ancestry")
    setCurrentSnapshot(base, snapshotId, timestampMs, previousFile)
  }

  /** Move the current pointer to ANY existing snapshot — Iceberg's
    * `set_current_snapshot`: no ancestry requirement. The redo to
    * rollback's undo (a rolled-back-past snapshot is NOT an ancestor of
    * the restored state, so [[rollbackTo]] refuses it), and the direct
    * publish of a staged snapshot. Pointer move only; nothing reclaimed. */
  def setCurrentSnapshot(base: TableMetadata, snapshotId: Long, timestampMs: Long,
      previousFile: Option[String] = None): TableMetadata = {
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"cannot move to unknown snapshot $snapshotId")
    require(!base.currentSnapshotId.contains(snapshotId),
      s"snapshot $snapshotId is already current")
    // moving onto a STAGED snapshot IS its publication — stamp it
    // durably (wap.published) no matter which caller routes here
    // (publish_changes' fast-forward leg, or a direct
    // set_current_snapshot): lineage membership rots on a later
    // rollback, and an unstamped published stage would revert to
    // re-publishable (row duplication) and pinned-forever under
    // keepLast expiry
    val stamped = base.snapshots.map(s =>
      if (s.snapshotId == snapshotId && s.summary.contains("wap.staged"))
        s.copy(summary = s.summary + ("wap.published" -> "true")) else s)
    base.copy(
      snapshots = stamped,
      lastUpdatedMs = timestampMs,
      currentSnapshotId = Some(snapshotId),
      refs = {
        val main = SnapshotRef("main", "branch", snapshotId)
        if (base.refs.exists(_.name == "main"))
          base.refs.map(r => if (r.name == "main") main else r)
        else base.refs :+ main
      },
      snapshotLog = base.snapshotLog :+ SnapshotLogEntry(timestampMs, snapshotId),
      metadataLog = base.metadataLog ++
        previousFile.map(f => MetadataLogEntry(base.lastUpdatedMs, f)))
  }

  /** Writes through the session's Hadoop FileSystem (like the manifest
    * writers) so hdfs:// / s3a:// metadata locations resolve with the
    * session's credentials — not just the local filesystem. */
  /** Branch commit — the staging half of write-audit-publish: the
    * snapshot is appended and ONLY the named branch ref moves; the main
    * pointer, its log, and every other ref stay untouched, so readers of
    * `main` never see unaudited data. */
  def commitToBranch(base: TableMetadata, snap: Snapshot, branch: String,
      previousFile: Option[String] = None): TableMetadata = {
    require(branch != "main", "main commits go through commitSnapshot")
    require(!base.snapshots.exists(_.snapshotId == snap.snapshotId),
      s"snapshot id ${snap.snapshotId} already committed")
    // a branch write MOVES the ref — it must not REBUILD it: the i90
    // retention attributes (min_snapshots_to_keep / max_snapshot_age_ms /
    // max_ref_age_ms) ride on the existing ref and silently reverting
    // them to bare would flip expiry from the declared policy back to
    // the strict pin-forever contract
    val moved = base.refs.find(_.name == branch)
      .map(_.copy(snapshotId = snap.snapshotId))
      .getOrElse(SnapshotRef(branch, "branch", snap.snapshotId))
    base.copy(
      lastUpdatedMs = snap.timestampMs,
      refs = base.refs.filterNot(_.name == branch) :+ moved,
      snapshots = base.snapshots :+ snap,
      metadataLog = base.metadataLog ++
        previousFile.map(f => MetadataLogEntry(base.lastUpdatedMs, f)))
  }

  /** Fast-forward publish — the publish half of write-audit-publish: move
    * main (pointer + ref + snapshot-log) onto an already-committed
    * snapshot that DESCENDS from the current main head. Refuses
    * non-descendants: that would silently drop main history (that's a
    * rollback, which has its own explicit operation). */
  def fastForward(base: TableMetadata, snapshotId: Long, timestampMs: Long,
      previousFile: Option[String] = None): TableMetadata = {
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"cannot fast-forward to unknown snapshot $snapshotId")
    require(!base.currentSnapshotId.contains(snapshotId),
      s"snapshot $snapshotId is already main's head")
    def descendsFromMain(id: Long): Boolean = base.currentSnapshotId match {
      case None => true // empty main fast-forwards to anything
      case Some(head) =>
        Iterator.iterate(Option(id))(_.flatMap(base.snapshot).flatMap(_.parentSnapshotId))
          .takeWhile(_.isDefined).flatten.contains(head)
    }
    require(descendsFromMain(snapshotId),
      s"fast-forward target $snapshotId does not descend from main's head")
    base.copy(
      lastUpdatedMs = timestampMs,
      currentSnapshotId = Some(snapshotId),
      refs = {
        val main = SnapshotRef("main", "branch", snapshotId)
        if (base.refs.exists(_.name == "main"))
          base.refs.map(r => if (r.name == "main") main else r)
        else base.refs :+ main
      },
      snapshotLog = base.snapshotLog :+ SnapshotLogEntry(timestampMs, snapshotId),
      metadataLog = base.metadataLog ++
        previousFile.map(f => MetadataLogEntry(base.lastUpdatedMs, f)))
  }

  /** Expiry: REMOVE a non-current snapshot from the document (its
    * snapshot-log entries go with it — Iceberg prunes history of expired
    * snapshots). Physical file deletion is the caller's job: reachability
    * says what is safe to delete (see snapshotExpiry/i23), the metadata
    * rewrite here makes the expired snapshot unresolvable. */
  def expireSnapshot(base: TableMetadata, snapshotId: Long, timestampMs: Long,
      previousFile: Option[String] = None): TableMetadata = {
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"cannot expire unknown snapshot $snapshotId")
    require(!base.currentSnapshotId.contains(snapshotId),
      s"cannot expire the current snapshot $snapshotId")
    require(!base.refs.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId is still referenced by a branch/tag ref")
    base.copy(
      lastUpdatedMs = timestampMs,
      snapshots = base.snapshots.filterNot(_.snapshotId == snapshotId),
      snapshotLog = base.snapshotLog.filterNot(_.snapshotId == snapshotId),
      metadataLog = base.metadataLog ++
        previousFile.map(f => MetadataLogEntry(base.lastUpdatedMs, f)))
  }

  /** Schema evolution: append a new schema version and advance
    * `current-schema-id` — the versioned-schema model of the reference
    * fixture (v1.metadata.json:7-37; resolution parity
    * ManifestFileReadTool.java:176-188). Old data files keep their schema
    * id; readers project them through the new schema with null-fill. */
  def evolveSchema(base: TableMetadata, schema: IcebergSchema,
      timestampMs: Long): TableMetadata = {
    require(!base.schemas.exists(_.schemaId == schema.schemaId),
      s"schema id ${schema.schemaId} already exists")
    base.copy(
      lastUpdatedMs = timestampMs,
      topLevelSchema = None, // versioned schemas[] is the single source now
      currentSchemaId = Some(schema.schemaId),
      schemas = base.schemas :+ schema)
  }

  /** Partition-spec evolution: append a new spec and advance
    * `default-spec-id`. Existing manifests/files keep their old spec id
    * (recorded per manifest in the manifest-list, field 502) — readers
    * must treat pre-evolution files as unprunable by the new partition
    * fields, which is exactly what makes Iceberg's partitioning "hidden". */
  def evolvePartitionSpec(base: TableMetadata, spec: PartitionSpec,
      timestampMs: Long): TableMetadata = {
    require(!base.partitionSpecs.exists(_.specId == spec.specId),
      s"spec id ${spec.specId} already exists")
    base.copy(
      lastUpdatedMs = timestampMs,
      partitionSpecs = base.partitionSpecs :+ spec,
      defaultSpecId = spec.specId)
  }

  /** Sort-order evolution: append a new sort order and advance
    * `default-sort-order-id`. Like spec evolution, existing files keep
    * whatever order they were written with (data_file.sort_order_id tracks
    * it per file); only a clustering REWRITE makes old data actually
    * sorted — the metadata change alone just declares the target layout. */
  def evolveSortOrder(base: TableMetadata, order: SortOrder,
      timestampMs: Long): TableMetadata = {
    require(!base.sortOrders.exists(_.orderId == order.orderId),
      s"sort-order id ${order.orderId} already exists")
    base.copy(
      lastUpdatedMs = timestampMs,
      sortOrders = base.sortOrders :+ order,
      defaultSortOrderId = order.orderId)
  }

  /** Tag creation: an immutable named ref pinning a snapshot — the
    * foundation of ref-based time travel (`AS OF <tag>`) and the
    * write-audit-publish pattern. */
  def createTag(base: TableMetadata, name: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None): TableMetadata = {
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"cannot tag unknown snapshot $snapshotId")
    require(!base.refs.exists(_.name == name), s"ref '$name' already exists")
    base.copy(refs = base.refs :+
      SnapshotRef(name, "tag", snapshotId, maxRefAgeMs = maxRefAgeMs))
  }

  /** A mutable branch ref at an existing snapshot — unlike a tag it is
    * the target `commitToBranch` advances (write-audit-publish staging). */
  def createBranch(base: TableMetadata, name: String, snapshotId: Long,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None): TableMetadata = {
    require(base.snapshots.exists(_.snapshotId == snapshotId),
      s"cannot branch from unknown snapshot $snapshotId")
    require(!base.refs.exists(_.name == name), s"ref '$name' already exists")
    base.copy(refs = base.refs :+ SnapshotRef(name, "branch", snapshotId,
      maxRefAgeMs = maxRefAgeMs, minSnapshotsToKeep = minSnapshotsToKeep,
      maxSnapshotAgeMs = maxSnapshotAgeMs))
  }

  /** Drop a named ref (tag or branch). The snapshots it pinned become
    * expirable — this is the release valve `expire_snapshots` points at
    * when it aborts on a pinning ref. `expectedType` guards the SQL
    * procedures (`drop_tag` must not silently delete a branch). */
  def removeRef(base: TableMetadata, name: String,
      expectedType: Option[String] = None): TableMetadata = {
    require(name != "main", "cannot drop the main branch ref")
    val ref = base.refs.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such ref '$name'"))
    expectedType.foreach(t => require(ref.refType == t,
      s"ref '$name' is a ${ref.refType}, not a $t"))
    base.copy(refs = base.refs.filterNot(_.name == name))
  }

  def write(path: String, meta: TableMetadata): Unit = {
    val out = HadoopConfs.fileSystemFor(path)
      .create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(toJson(meta).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def toJson(meta: TableMetadata): String = {
    val root = mapper.createObjectNode()
    root.put("format-version", meta.formatVersion)
    root.put("table-uuid", meta.tableUuid)
    root.put("location", meta.location)
    root.put("last-updated-ms", meta.lastUpdatedMs)
    meta.topLevelSchema.foreach(s => root.set[JsonNode]("schema", schemaNode(s)))
    meta.currentSchemaId.foreach(root.put("current-schema-id", _))
    if (meta.schemas.nonEmpty) {
      val arr = root.putArray("schemas")
      meta.schemas.foreach(s => arr.add(schemaNode(s)))
    }
    // v1 compatibility: the default spec also rides flat as partition-spec
    meta.partitionSpecs.find(_.specId == meta.defaultSpecId).foreach { spec =>
      root.set[JsonNode]("partition-spec", partitionFieldsNode(spec.fields))
    }
    root.put("default-spec-id", meta.defaultSpecId)
    val specs = root.putArray("partition-specs")
    meta.partitionSpecs.foreach { s =>
      val n = mapper.createObjectNode()
      n.put("spec-id", s.specId)
      n.set[JsonNode]("fields", partitionFieldsNode(s.fields))
      specs.add(n)
    }
    root.put("default-sort-order-id", meta.defaultSortOrderId)
    val orders = root.putArray("sort-orders")
    meta.sortOrders.foreach { o =>
      val n = mapper.createObjectNode()
      n.put("order-id", o.orderId)
      val fs = n.putArray("fields")
      o.fields.foreach { f =>
        val fn = mapper.createObjectNode()
        fn.put("transform", f.transform)
        fn.put("source-id", f.sourceId)
        fn.put("direction", f.direction)
        fn.put("null-order", f.nullOrder)
        fs.add(fn)
      }
      orders.add(n)
    }
    val props = root.putObject("properties")
    meta.properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    meta.currentSnapshotId.foreach(root.put("current-snapshot-id", _))
    if (meta.refs.nonEmpty) {
      val refs = root.putObject("refs")
      meta.refs.foreach { r =>
        val n = refs.putObject(r.name)
        n.put("type", r.refType)
        n.put("snapshot-id", r.snapshotId)
        r.maxRefAgeMs.foreach(n.put("max-ref-age-ms", _))
        r.minSnapshotsToKeep.foreach(n.put("min-snapshots-to-keep", _))
        r.maxSnapshotAgeMs.foreach(n.put("max-snapshot-age-ms", _))
      }
    }
    val snaps = root.putArray("snapshots")
    meta.snapshots.foreach { s =>
      val n = mapper.createObjectNode()
      n.put("snapshot-id", s.snapshotId)
      s.parentSnapshotId.foreach(n.put("parent-snapshot-id", _))
      n.put("timestamp-ms", s.timestampMs)
      val summary = n.putObject("summary")
      s.operation.foreach(summary.put("operation", _))
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => summary.put(k, v) }
      s.manifestList.foreach(n.put("manifest-list", _))
      s.schemaId.foreach(n.put("schema-id", _))
      snaps.add(n)
    }
    val slog = root.putArray("snapshot-log")
    meta.snapshotLog.foreach { e =>
      val n = mapper.createObjectNode()
      n.put("timestamp-ms", e.timestampMs)
      n.put("snapshot-id", e.snapshotId)
      slog.add(n)
    }
    val mlog = root.putArray("metadata-log")
    meta.metadataLog.foreach { e =>
      val n = mapper.createObjectNode()
      n.put("timestamp-ms", e.timestampMs)
      n.put("metadata-file", e.metadataFile)
      mlog.add(n)
    }
    if (meta.statistics.nonEmpty) {
      val stats = root.putArray("statistics")
      meta.statistics.foreach { s =>
        val n = mapper.createObjectNode()
        n.put("snapshot-id", s.snapshotId)
        n.put("statistics-path", s.path)
        n.put("file-size-in-bytes", s.fileSizeInBytes)
        stats.add(n)
      }
    }
    if (meta.partitionStatistics.nonEmpty) {
      val stats = root.putArray("partition-statistics")
      meta.partitionStatistics.foreach { s =>
        val n = mapper.createObjectNode()
        n.put("snapshot-id", s.snapshotId)
        n.put("statistics-path", s.path)
        n.put("file-size-in-bytes", s.fileSizeInBytes)
        stats.add(n)
      }
    }
    meta.nextRowId.foreach(root.put("next-row-id", _))
    root.toPrettyString
  }

  private def schemaNode(s: IcebergSchema): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", "struct")
    n.put("schema-id", s.schemaId)
    val fields = n.putArray("fields")
    s.fields.foreach { f =>
      val fn = mapper.createObjectNode()
      fn.put("id", f.id)
      fn.put("name", f.name)
      fn.put("required", f.required)
      f.doc.foreach(fn.put("doc", _))
      // nested types were retained as canonical JSON — re-embed as a tree
      if (f.fieldType.startsWith("{")) fn.set[JsonNode]("type", mapper.readTree(f.fieldType))
      else fn.put("type", f.fieldType)
      // v3 defaults are raw JSON single-values — re-embed as trees too
      f.initialDefault.foreach(d => fn.set[JsonNode]("initial-default", mapper.readTree(d)))
      f.writeDefault.foreach(d => fn.set[JsonNode]("write-default", mapper.readTree(d)))
      fields.add(fn)
    }
    n
  }

  private def partitionFieldsNode(fields: Seq[PartitionField]): ArrayNode = {
    val arr = mapper.createArrayNode()
    fields.foreach { f =>
      val n = mapper.createObjectNode()
      n.put("name", f.name)
      n.put("transform", f.transform)
      n.put("source-id", f.sourceId)
      n.put("field-id", f.fieldId)
      arr.add(n)
    }
    arr
  }
}

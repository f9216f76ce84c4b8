package graft.iceberg

/** The one way a table commit produces a snapshot (Iceberg's
  * `SnapshotProducer`): inside an [[OptimisticCommit.commit]] attempt it
  * picks the snapshot id and the attempt id, resolves the target head
  * (main, a write-audit-publish stage of main, or a branch), writes the
  * caller's new manifests, assigns v3 row ids to their added data files,
  * writes the manifest list — the carried rows exactly as the head's list
  * read them, then one row per new manifest — and lands the `Snapshot` on
  * the refreshed base through `commitSnapshot`, `stageSnapshot` or
  * `commitToBranch`.
  *
  * Callers keep only what differs between commit kinds: their
  * validations against the refreshed base, the rows they carry, their new
  * entries grouped into manifests, the snapshot's operation and summary,
  * and an optional evolution of the document. A caller that throws aborts
  * the commit; a lost version race re-runs it against the new base.
  *
  * An attempt that cannot become the snapshot deletes the manifests,
  * rewritten manifests and list it wrote: one that lost its race (its
  * closure runs again), the last one when the race is lost for good, and
  * one whose closure throws. An attempt whose claim ended with an unknown
  * outcome keeps its files — the table may reference them. Data files
  * belong to the caller and are never touched. */
object SnapshotProducer {

  type Row = ManifestListReader.ManifestFileInfo

  /** One manifest a commit writes, at
    * `<table>/<prefix>-<snapshot id>-<attempt id><suffix>.avro`. Its list
    * row takes field 504 from its ADDED entries and field 516 from its
    * live entries' minimum sequence. */
  final case class NewManifest(prefix: String,
      entries: Seq[ManifestWriter.EntryData],
      content: Int = 0, specId: Int = 0,
      summary: Option[Seq[ManifestListReader.FieldSummary]] = None,
      suffix: String = "")

  /** What one attempt commits. `carried` rows are listed unchanged (a
    * carried manifest the caller rewrote comes from [[Attempt.rewrite]]);
    * `lineageFiles` are added data files that materialize their row
    * lineage as columns and claim no fresh row-id block; `evolve` changes
    * the document the snapshot lands on (schema, properties, row-id
    * counter). */
  final case class Commit(operation: String, summary: Map[String, String],
      carried: Seq[Row], manifests: Seq[NewManifest] = Nil,
      stage: Boolean = false,
      lineageFiles: Set[String] = Set.empty,
      evolve: TableMetadata => TableMetadata = identity)

  /** One commit attempt: the refreshed `base`, the snapshot id it
    * allocates, its attempt id (in every file name it writes) and the
    * target head the snapshot's parent and carried rows come from. */
  final class Attempt private[SnapshotProducer] (tableDir: String,
      val base: TableMetadata, val snapshotId: Long,
      private[SnapshotProducer] val uuid: java.util.UUID, head: Option[Snapshot],
      written: java.util.Queue[String]) {

    /** The target head's manifest-list rows. */
    lazy val headRows: Seq[Row] =
      head.toSeq.flatMap(s => ManifestListReader.read(s.manifestList.get))

    /** A file of this attempt, recorded before it is written. */
    private[SnapshotProducer] def file(name: String): String = {
      val p = s"$tableDir/$name"
      written.add(p)
      p
    }

    private[SnapshotProducer] def path(prefix: String, suffix: String): String =
      file(s"$prefix-$snapshotId-$uuid$suffix.avro")

    /** Rewrite a carried manifest with `entries`: the row keeps its
      * provenance (fields 502-504, 507, 515-517) and takes the new path
      * and length. */
    def rewrite(row: Row, prefix: String, suffix: String,
        entries: Seq[ManifestWriter.EntryData]): Row = {
      val p = path(prefix, suffix)
      row.copy(path = p, length = ManifestWriter.write(p, entries))
    }
  }

  /** The id the next snapshot of `meta` takes. */
  def nextSnapshotId(meta: TableMetadata): Long =
    (meta.snapshots.map(_.snapshotId) :+ 0L).max + 1

  /** Commit one snapshot onto `branch` (main when None) of `tableDir`. */
  def commit(tableDir: String, branch: Option[String] = None)(build: Attempt => Commit)
      : OptimisticCommit.CommitResult = {
    // the files of the latest attempt
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // best effort: a file left behind is an orphan for the sweep, while
    // a failed delete must not fail the commit or hide its cause
    def discard(): Unit = {
      var p = written.poll()
      while (p != null) {
        val path = new org.apache.hadoop.fs.Path(p)
        scala.util.Try(HadoopConfs.fileSystemFor(p).delete(path, false))
        p = written.poll()
      }
    }
    try OptimisticCommit.commit(tableDir, (base, basePath) => {
      // running again: the previous attempt lost its version race
      discard()
      try produce(tableDir, branch, base, basePath, written, build)
      catch { case scala.util.control.NonFatal(e) => discard(); throw e }
    }) catch {
      case e: OptimisticCommit.CommitConflictException => discard(); throw e
    }
  }

  /** One attempt on the refreshed `base`: the successor document. */
  private def produce(tableDir: String, branch: Option[String], base: TableMetadata,
      basePath: String, written: java.util.Queue[String], build: Attempt => Commit)
      : TableMetadata = {
    val id = nextSnapshotId(base)
    // a branch chains from its own head; one created implicitly by its
    // first write chains from main's
    val headId = branch.flatMap(b => base.refs.find(_.name == b)).map(_.snapshotId)
      .orElse(base.currentSnapshotId)
    val attempt = new Attempt(tableDir, base, id, java.util.UUID.randomUUID(),
      headId.flatMap(base.snapshot), written)
    val c = build(attempt)
    val (assigned, doc) = assignRowIds(c.evolve(base),
      c.manifests.flatMap(_.entries), e => c.lineageFiles(e.filePath))
    val offsets = c.manifests.scanLeft(0)(_ + _.entries.size)
    val newRows = Par.inParallel(c.manifests.zipWithIndex) { case (m, i) =>
      val es = assigned.slice(offsets(i), offsets(i + 1))
      val p = attempt.path(m.prefix, m.suffix)
      val length = ManifestWriter.write(p, es)
      val live = es.filter(_.status != 2)
      ManifestListReader.ManifestFileInfo(p, length, m.specId, id,
        es.count(_.status == 1), m.content, m.summary, id,
        (live.flatMap(_.sequenceNumber) :+ id).min)
    }
    val list = attempt.file(s"snap-$id-${attempt.uuid}-list.avro")
    ManifestListWriter.write(list, c.carried ++ newRows)
    val snap = Snapshot(id, headId, base.lastUpdatedMs + 1000, Some(c.operation),
      c.summary, Some(list), doc.currentSchemaId)
    branch match {
      case Some(b) => MetadataWriter.commitToBranch(doc, snap, b, Some(basePath))
      case None if c.stage => MetadataWriter.stageSnapshot(doc, snap, Some(basePath))
      case None => MetadataWriter.commitSnapshot(doc, snap, Some(basePath))
    }
  }

  /** v3 row lineage assignment: ADDED data entries claim contiguous
    * first_row_id blocks from the document's `next-row-id` counter, in
    * entry order, INSIDE the CAS closure (a retry re-assigns against the
    * fresh base — ids are unique for the table's lifetime, never
    * reused). Entries with a preset id, entries whose files MATERIALIZE
    * lineage as columns (rewrites carrying moved rows' original ids —
    * `skip`) and non-v3 tables pass through untouched. */
  private def assignRowIds(base: TableMetadata,
      entries: Seq[ManifestWriter.EntryData],
      skip: ManifestWriter.EntryData => Boolean)
      : (Seq[ManifestWriter.EntryData], TableMetadata) =
    if (base.formatVersion < 3) (entries, base)
    else {
      var rid = base.nextRowId.getOrElse(0L)
      val out = entries.map { e =>
        if (e.content == 0 && e.status == 1 && e.firstRowId.isEmpty && !skip(e)) {
          val a = e.copy(firstRowId = Some(rid)); rid += e.recordCount; a
        } else e
      }
      (out, base.copy(nextRowId = Some(rid)))
    }
}

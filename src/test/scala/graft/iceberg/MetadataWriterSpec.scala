package graft.iceberg

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IcebergQueries

/** The metadata sink must be the exact inverse of the parser, and a commit
  * must advance every pointer a reader resolves (current snapshot, main
  * ref, snapshot-log, metadata-log). */
class MetadataWriterSpec extends AnyFunSuite {

  private val fixture = IcebergQueries.FixtureMetadata

  test("toJson round-trips the fixture through the parser unchanged") {
    val parsed = TableMetadata.parseFile(fixture)
    val reparsed = TableMetadata.parse(MetadataWriter.toJson(parsed))
    assert(reparsed === parsed)
  }

  test("commitSnapshot advances pointer, ref, logs; rejects duplicate ids") {
    val base = TableMetadata.parseFile(fixture)
    val old = base.currentSnapshot.get
    val snap = Snapshot(old.snapshotId + 1, Some(old.snapshotId),
      old.timestampMs + 1000, Some("replace"),
      Map("total-data-files" -> "1"), Some("/tmp/list.avro"), old.schemaId)
    val next = MetadataWriter.commitSnapshot(base, snap, Some(fixture))
    assert(next.currentSnapshotId === Some(snap.snapshotId))
    assert(next.refs.find(_.name == "main").map(_.snapshotId) === Some(snap.snapshotId))
    assert(next.snapshots.map(_.snapshotId) === base.snapshots.map(_.snapshotId) :+ snap.snapshotId)
    assert(next.snapshotLog.last === SnapshotLogEntry(snap.timestampMs, snap.snapshotId))
    assert(next.metadataLog.last === MetadataLogEntry(base.lastUpdatedMs, fixture))
    assert(next.lastUpdatedMs === snap.timestampMs)
    // the committed document itself must round-trip too
    assert(TableMetadata.parse(MetadataWriter.toJson(next)) === next)
    // a second commit of the same id must refuse
    intercept[IllegalArgumentException](MetadataWriter.commitSnapshot(next, snap))
  }

  test("rollbackTo moves pointer and ref back, keeps all snapshots, logs the move") {
    val base = TableMetadata.parseFile(fixture)
    val old = base.currentSnapshot.get
    val snap = Snapshot(old.snapshotId + 1, Some(old.snapshotId),
      old.timestampMs + 1000, Some("replace"), Map.empty, Some("/tmp/list.avro"), old.schemaId)
    val committed = MetadataWriter.commitSnapshot(base, snap)
    val rolled = MetadataWriter.rollbackTo(committed, old.snapshotId, snap.timestampMs + 1000)
    assert(rolled.currentSnapshotId === Some(old.snapshotId))
    assert(rolled.refs.find(_.name == "main").map(_.snapshotId) === Some(old.snapshotId))
    assert(rolled.snapshots.map(_.snapshotId) === committed.snapshots.map(_.snapshotId),
      "rollback must not remove snapshots — expiry owns cleanup")
    assert(rolled.snapshotLog.map(_.snapshotId) ===
      Seq(old.snapshotId, snap.snapshotId, old.snapshotId))
    assert(TableMetadata.parse(MetadataWriter.toJson(rolled)) === rolled)
    // unknown target and no-op rollback both refuse
    intercept[IllegalArgumentException](MetadataWriter.rollbackTo(committed, 42L, 0L))
    intercept[IllegalArgumentException](
      MetadataWriter.rollbackTo(committed, snap.snapshotId, 0L))
  }

  test("expireSnapshot removes the snapshot and its history, guards current/refs") {
    val base = TableMetadata.parseFile(fixture)
    val old = base.currentSnapshot.get
    val snap = Snapshot(old.snapshotId + 1, Some(old.snapshotId),
      old.timestampMs + 1000, Some("replace"), Map.empty, Some("/tmp/list.avro"), old.schemaId)
    val committed = MetadataWriter.commitSnapshot(base, snap)
    val expired = MetadataWriter.expireSnapshot(committed, old.snapshotId,
      snap.timestampMs + 1000, Some("/tmp/v2.metadata.json"))
    assert(expired.snapshot(old.snapshotId).isEmpty, "expired snapshot must be unresolvable")
    assert(expired.snapshotLog.forall(_.snapshotId != old.snapshotId),
      "history of the expired snapshot must be pruned")
    assert(expired.currentSnapshotId === Some(snap.snapshotId))
    assert(TableMetadata.parse(MetadataWriter.toJson(expired)) === expired)
    // the CURRENT snapshot must refuse to expire
    intercept[IllegalArgumentException](
      MetadataWriter.expireSnapshot(committed, snap.snapshotId, 0L))
    // a snapshot pinned by a tag must refuse to expire
    val tagged = MetadataWriter.createTag(committed, "keep", old.snapshotId)
    intercept[IllegalArgumentException](
      MetadataWriter.expireSnapshot(tagged, old.snapshotId, 0L))
  }

  test("evolveSchema appends a version and advances current-schema-id") {
    val base = TableMetadata.parseFile(fixture)
    val next = IcebergSchema(base.currentSchema.schemaId + 1,
      base.currentSchema.fields :+ IcebergField(99, "added", required = false, "int"))
    val evolved = MetadataWriter.evolveSchema(base, next, base.lastUpdatedMs + 1000)
    assert(evolved.currentSchemaId === Some(next.schemaId))
    assert(evolved.currentSchema === next)
    assert(evolved.schemas.map(_.schemaId).contains(base.currentSchema.schemaId),
      "old schema versions must remain resolvable for old data files")
    assert(TableMetadata.parse(MetadataWriter.toJson(evolved)) === evolved)
    intercept[IllegalArgumentException](MetadataWriter.evolveSchema(evolved, next, 0L))
  }

  test("commitToBranch stages without moving main; fastForward publishes descendants only") {
    val base = TableMetadata.parseFile(fixture)
    val old = base.currentSnapshot.get
    val snap = Snapshot(old.snapshotId + 1, Some(old.snapshotId),
      old.timestampMs + 1000, Some("append"), Map.empty, Some("/tmp/list.avro"), old.schemaId)
    val staged = MetadataWriter.commitToBranch(base, snap, "audit")
    assert(staged.currentSnapshotId === base.currentSnapshotId,
      "branch commit must not move the main pointer")
    assert(staged.refs.find(_.name == "audit").map(_.snapshotId) === Some(snap.snapshotId))
    assert(staged.snapshotLog === base.snapshotLog,
      "main's history must not record a branch commit")
    assert(staged.snapshot(snap.snapshotId).isDefined)
    // publish: main fast-forwards onto the audited descendant
    val published = MetadataWriter.fastForward(staged, snap.snapshotId, snap.timestampMs + 1000)
    assert(published.currentSnapshotId === Some(snap.snapshotId))
    assert(published.refs.find(_.name == "main").map(_.snapshotId) === Some(snap.snapshotId))
    assert(published.snapshotLog.last.snapshotId === snap.snapshotId)
    // a snapshot NOT descending from main's head must refuse (that would
    // silently drop history — rollback is its own explicit operation)
    val orphan = Snapshot(old.snapshotId + 2, None, old.timestampMs + 3000,
      Some("append"), Map.empty, Some("/tmp/l2.avro"), old.schemaId)
    val withOrphan = MetadataWriter.commitToBranch(staged, orphan, "other")
    intercept[IllegalArgumentException](
      MetadataWriter.fastForward(withOrphan, orphan.snapshotId, 0L))
    // and main commits must not go through the branch path
    intercept[IllegalArgumentException](
      MetadataWriter.commitToBranch(base, snap, "main"))
  }

  test("createTag pins a snapshot; duplicate names and unknown ids refuse") {
    val base = TableMetadata.parseFile(fixture)
    val old = base.currentSnapshot.get
    val tagged = MetadataWriter.createTag(base, "v1.0", old.snapshotId)
    assert(tagged.refs.exists(r => r.name == "v1.0" && r.refType == "tag" &&
      r.snapshotId == old.snapshotId))
    // refs serialize as a name-keyed JSON object: iteration order on
    // re-parse is not semantic — compare as a set, rest exactly
    val rt = TableMetadata.parse(MetadataWriter.toJson(tagged))
    assert(rt.refs.toSet === tagged.refs.toSet)
    assert(rt.copy(refs = Nil) === tagged.copy(refs = Nil))
    intercept[IllegalArgumentException](MetadataWriter.createTag(tagged, "v1.0", old.snapshotId))
    intercept[IllegalArgumentException](MetadataWriter.createTag(base, "x", 42L))
  }

  test("ManifestWriter.read inverts write and projects the reference fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mwread").toString
    val entries = Seq(
      ManifestWriter.EntryData(1, 7L, "a.parquet", 3L, 111L,
        Map(1 -> Array[Byte](1, 0, 0, 0)), Map(1 -> Array[Byte](9, 0, 0, 0))),
      ManifestWriter.EntryData(0, 6L, "b.parquet", 2L, 95L, Map.empty, Map.empty))
    ManifestWriter.write(s"$dir/m.avro", entries)
    val back = ManifestWriter.read(s"$dir/m.avro")
    assert(back.map(e => (e.status, e.snapshotId, e.filePath, e.recordCount, e.fileSizeInBytes)) ===
      entries.map(e => (e.status, e.snapshotId, e.filePath, e.recordCount, e.fileSizeInBytes)))
    assert(back.head.lowerBounds(1).toSeq === Seq[Byte](1, 0, 0, 0))
    assert(back.head.upperBounds(1).toSeq === Seq[Byte](9, 0, 0, 0))
    // and the REFERENCE manifest (a much wider writer schema) projects
    // onto the core subset by Avro schema resolution
    val fixtureEntries = ManifestWriter.read(IcebergQueries.FixtureManifest)
    assert(fixtureEntries.size === 2)
    assert(fixtureEntries.forall(_.recordCount === 1L))
    assert(fixtureEntries.forall(_.lowerBounds.contains(1)))
    // spec field 110 resolves against a REFERENCE writer's k121_v122
    // record name (the null-free proof eq-delete scoping consumes):
    // single-row files, so every recorded null count is 0
    assert(fixtureEntries.forall(_.nullValueCounts.nonEmpty))
    assert(fixtureEntries.forall(_.nullValueCounts.values.forall(_ == 0L)))
  }
}

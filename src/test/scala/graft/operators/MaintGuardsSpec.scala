package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.iceberg._

/** Guard rails on the maintenance commits:
  *
  *  - cherry-pick refuses a snapshot already REACHABLE from main (an
  *    ancestor re-applied would silently duplicate its rows — Iceberg's
  *    "already an ancestor" validation) and refuses a snapshot a
  *    previous cherry-pick already landed (the summary marker
  *    `cherry-picked-snapshot-id` is the application record, making a
  *    retried publish job a loud no-op instead of a double-insert);
  *  - rewrite_position_delete_files commits an EMPTY delete side when
  *    every pending delete resolves to zero addresses (the
  *    upsert-is-the-only-commit case), instead of throwing on a
  *    schemaless empty frame.
  */
class MaintGuardsSpec extends SparkSpec {

  private val T0 = 1700000000000L

  private def create(tail: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-guard").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "n_nationkey", required = false, "int"),
      IcebergField(2, "n_name", required = false, "string"),
      IcebergField(3, "n_regionkey", required = false, "int"))),
      tableUuid = s"c7c9a6a1-0000-4000-8000-0000000000$tail", timestampMs = T0)
    dir
  }

  test("cherrypick refuses ancestors of main and double application") {
    val dir = create("b1")
    val nation = Tables.load(spark, sfDir, "nation")
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 0)) // snap 1
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 1)) // snap 2
    // snapshot 1 is an ancestor of main's head — re-applying would
    // duplicate region-0 rows
    val anc = intercept[IllegalArgumentException](GraftTable.cherrypick(dir, 1L))
    assert(anc.getMessage.contains("ancestor"), anc.getMessage)
    // detach snapshot 2 from main's lineage (rollback): now it is a
    // staged append main advanced past — the cherry-pick shape
    GraftTable.rollbackTo(dir, 1L)
    GraftTable.cherrypick(dir, 2L) // publishes the region-1 rows
    val n = GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count()
    assert(n == nation.filter(col("n_regionkey") <= 1).count(), s"rows after publish: $n")
    // a retried publish job must NOT double-insert
    val dup = intercept[IllegalArgumentException](GraftTable.cherrypick(dir, 2L))
    assert(dup.getMessage.contains("already cherry-picked"), dup.getMessage)
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() == n)
  }

  test("rollback requires an ancestor; set_current_snapshot is the redo") {
    val dir = create("b4")
    val nation = Tables.load(spark, sfDir, "nation")
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 0)) // snap 1
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 1)) // snap 2
    GraftTable.rollbackTo(dir, 1L) // undo: 2 is now a detached head
    // Iceberg's rule: rollback only moves BACKWARD along the lineage —
    // the abandoned head is not an ancestor of the restored state
    val e = intercept[IllegalArgumentException](GraftTable.rollbackTo(dir, 2L))
    assert(e.getMessage.contains("ancestor"), e.getMessage)
    // rollback_to_timestamp resolves along the CURRENT lineage too: an
    // instant after snap 2's commit still lands on snap 1 (the latest
    // ANCESTOR at that time), never the detached head
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val snap2Ts = meta1.snapshot(2L).get.timestampMs
    val proc = graft.sources.GraftProcedures
      .load("rollback_to_timestamp", _ => dir).get
      .bind(new org.apache.spark.sql.types.StructType())
      .asInstanceOf[org.apache.spark.sql.connector.catalog.procedures.BoundProcedure]
    val ex = intercept[IllegalArgumentException](proc.call(
      org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("db.t"),
        snap2Ts + 500L)).next())
    assert(ex.getMessage.contains("already current"), ex.getMessage)
    // set_current_snapshot is the redo: any existing snapshot, no
    // ancestry requirement
    GraftTable.setCurrentSnapshot(dir, 2L)
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() ==
      nation.filter(col("n_regionkey") <= 1).count())
    // and the SQL surface moves by REF name as well (undo again, then
    // redo through a tag pinned at the head)
    GraftTable.createTag(dir, "head2", Some(2L))
    GraftTable.rollbackTo(dir, 1L)
    val setProc = graft.sources.GraftProcedures
      .load("set_current_snapshot", _ => dir).get
      .bind(new org.apache.spark.sql.types.StructType())
      .asInstanceOf[org.apache.spark.sql.connector.catalog.procedures.BoundProcedure]
    val row = setProc.call(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("db.t"),
      null, org.apache.spark.unsafe.types.UTF8String.fromString("head2")))
      .next().asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows().head
    assert(row.getLong(0) == 1L && row.getLong(1) == 2L, row.toString)
    // a target that already IS current: upstream-style no-op success —
    // the same summary row shape, and NO new metadata version (a commit
    // that changes nothing would be pure churn)
    val vBefore = graft.iceberg.OptimisticCommit.currentVersion(dir)
    val row2 = setProc.call(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("db.t"),
      null, org.apache.spark.unsafe.types.UTF8String.fromString("head2")))
      .next().asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows().head
    assert(row2.getLong(0) == 2L && row2.getLong(1) == 2L, row2.toString)
    assert(graft.iceberg.OptimisticCommit.currentVersion(dir) == vBefore,
      "no-op set_current_snapshot must not commit a metadata version")
  }

  test("spark.wap.id stages invisibly; publish_changes fast-forwards or " +
      "cherry-picks; re-publish refuses") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wap").toString
    spark.conf.set("spark.sql.catalog.gwap", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwap.warehouse", wh)
    spark.sql("""CREATE TABLE gwap.db.t (k BIGINT, v STRING)
      TBLPROPERTIES ('write.wap.enabled'='true')""")
    spark.sql("INSERT INTO gwap.db.t VALUES (1, 'a')")
    def count() = spark.sql("SELECT COUNT(*) FROM gwap.db.t").head().getLong(0)
    def current() = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/t")).currentSnapshotId.get
    val head1 = current()
    // stage: the snapshot lands in the document with the wap.id summary,
    // but NO pointer moves — the rows are provably invisible
    spark.conf.set("spark.wap.id", "w1")
    try spark.sql("INSERT INTO gwap.db.t VALUES (2, 'b')")
    finally spark.conf.unset("spark.wap.id")
    assert(count() == 1L, "staged rows must be invisible")
    assert(current() == head1, "staging must not move the current pointer")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
    val staged = meta.snapshots.find(_.summary.get("wap.id").contains("w1")).get
    // publish while main never moved: the FAST-FORWARD case — the staged
    // id itself becomes current (no new snapshot, zero manifest work)
    spark.sql("CALL gwap.system.publish_changes('db.t', 'w1')")
    assert(current() == staged.snapshotId, "fast-forward publish keeps the id")
    assert(count() == 2L)
    // the publish stamps the stage DURABLY (wap.published): lineage
    // membership and the cherry-pick marker both rot (a rollback past
    // this head, an expired marker) — the stamp is what keeps an old
    // published stage from reverting to publishable/pinned-forever
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
      .snapshot(staged.snapshotId).get.summary.contains("wap.published"))
    // stage again, then ADVANCE main before publishing: the publish must
    // re-apply (cherry-pick case — a NEW snapshot id)
    spark.conf.set("spark.wap.id", "w2")
    try spark.sql("INSERT INTO gwap.db.t VALUES (3, 'c')")
    finally spark.conf.unset("spark.wap.id")
    spark.sql("INSERT INTO gwap.db.t VALUES (4, 'd')") // concurrent ingest
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
    val staged2 = meta2.snapshots.find(_.summary.get("wap.id").contains("w2")).get
    spark.sql("CALL gwap.system.publish_changes('db.t', 'w2')")
    assert(current() != staged2.snapshotId, "advanced-head publish re-applies")
    assert(count() == 4L)
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
      .snapshot(staged2.snapshotId).get.summary.contains("wap.published"),
      "the cherry-pick publish stamps the stage durably too")
    // publishing either id again refuses — never a double apply
    val e1 = intercept[Exception](
      spark.sql("CALL gwap.system.publish_changes('db.t', 'w1')"))
    assert(e1.getMessage.contains("no unpublished"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("CALL gwap.system.publish_changes('db.t', 'w2')"))
    assert(e2.getMessage.contains("no unpublished"), e2.getMessage)
    assert(count() == 4L)
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + chain(t.getCause)
    // row-level edits STAGE under a staging session (upstream parity):
    // the DELETE commits stage-only — invisible, pointer unmoved (the
    // dedicated staged-edit test drives publication end-to-end)
    val headBeforeW9 = current()
    spark.conf.set("spark.wap.id", "w9")
    try spark.sql("DELETE FROM gwap.db.t WHERE k = 1")
    finally spark.conf.unset("spark.wap.id")
    assert(count() == 4L, "the staged DELETE must stay invisible")
    assert(current() == headBeforeW9, "a staged DELETE must not move main")
    assert(TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
      .snapshots.exists(s => s.summary.get("wap.id").contains("w9") &&
        s.summary.get("wap.staged").contains("true")))
    // REPLACE TABLE refuses too — and the guard judges the table AS IT
    // STANDS, so omitting write.wap.enabled from the REPLACE's own
    // properties cannot sneak a full-table overwrite past the gate
    spark.conf.set("spark.wap.id", "w8")
    try {
      val re = intercept[Exception](spark.sql(
        "REPLACE TABLE gwap.db.t AS SELECT CAST(9 AS BIGINT) AS k, 'z' AS v"))
      assert(chain(re).contains("spark.wap.id"), chain(re))
    } finally spark.conf.unset("spark.wap.id")
    assert(count() == 4L, "the refused REPLACE must not land")
    // atomic CTAS under a staging session: a NEW table that opts into
    // WAP is created with its initial rows STAGED (visible only after
    // publish) — the staged-create wrapper re-derives the decision the
    // direct INSERT route captures in its write builder
    spark.conf.set("spark.wap.id", "w7")
    try spark.sql("""CREATE TABLE gwap.db.ctas
      TBLPROPERTIES('write.wap.enabled'='true')
      AS SELECT CAST(1 AS BIGINT) AS k, 'a' AS v""")
    finally spark.conf.unset("spark.wap.id")
    assert(spark.sql("SELECT COUNT(*) FROM gwap.db.ctas").head().getLong(0) == 0L,
      "CTAS rows must stage, not publish")
    spark.sql("CALL gwap.system.publish_changes('db.ctas', 'w7')")
    assert(spark.sql("SELECT COUNT(*) FROM gwap.db.ctas").head().getLong(0) == 1L)
    // a table that did NOT opt in commits normally under spark.wap.id —
    // the id still rides the summary as the audit trail, but WITHOUT the
    // staged marker it is never publishable (a recorded wap.id on a
    // normal commit or branch write must not re-land via publish)
    spark.sql("CREATE TABLE gwap.db.plain (k BIGINT)")
    spark.conf.set("spark.wap.id", "w3")
    try spark.sql("INSERT INTO gwap.db.plain VALUES (1)")
    finally spark.conf.unset("spark.wap.id")
    assert(spark.sql("SELECT COUNT(*) FROM gwap.db.plain").head().getLong(0) == 1L,
      "without write.wap.enabled the insert commits normally")
    val plainMeta = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/plain"))
    assert(plainMeta.currentSnapshot.get.summary.get("wap.id").contains("w3"))
    assert(!plainMeta.currentSnapshot.get.summary.contains("wap.staged"))
    // EDITS on the non-opted table keep the same audit trail appends
    // get: the DELETE commits normally (visible) with wap.id riding the
    // summary and no staged marker
    spark.conf.set("spark.wap.id", "w3d")
    try spark.sql("DELETE FROM gwap.db.plain WHERE k = 1")
    finally spark.conf.unset("spark.wap.id")
    assert(spark.sql("SELECT COUNT(*) FROM gwap.db.plain").head().getLong(0) == 0L,
      "without write.wap.enabled the edit commits normally")
    val plainDel = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/plain")).currentSnapshot.get
    assert(plainDel.summary.get("wap.id").contains("w3d"),
      s"the edit must record the audit id: ${plainDel.summary}")
    assert(!plainDel.summary.contains("wap.staged"))
    val e3 = intercept[Exception](
      spark.sql("CALL gwap.system.publish_changes('db.plain', 'w3')"))
    assert(e3.getMessage.contains("no unpublished staged"), e3.getMessage)
    // expiry vs stages: the keepLast window counts MAIN'S LINEAGE (a
    // staged snapshot's high id must not push the current head out of
    // the window), keepLast-only expiry RETAINS in-flight stages (work
    // someone is about to publish is not reclaimable the moment it
    // lands), and AGE-based expiry is the documented reclamation path
    spark.conf.set("spark.wap.id", "w4")
    try spark.sql("INSERT INTO gwap.db.t VALUES (5, 'e')")
    finally spark.conf.unset("spark.wap.id")
    spark.sql("CALL gwap.system.expire_snapshots('db.t', 1)")
    val mid = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
    assert(mid.snapshots.exists(s => s.summary.get("wap.id").contains("w4") &&
      s.summary.get("wap.staged").contains("true")),
      "keepLast-only expiry must retain the in-flight stage")
    // ...but a PUBLISHED stage gets no retention pass (w2 landed via the
    // cherry-pick re-apply; its marker alone must not pin it forever)
    assert(!mid.snapshots.exists(_.summary.get("wap.id").contains("w2")),
      "a published stage is ordinary history — keepLast expiry reclaims it")
    assert(count() == 4L, "the retained head must keep serving its rows")
    spark.sql("CALL gwap.system.expire_snapshots('db.t', 1, " +
      s"${System.currentTimeMillis() + 86400000L})")
    val after = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/t"))
    assert(!after.snapshots.exists(_.summary.get("wap.id").contains("w4")),
      "age-based expiry must reclaim the unpublished stage")
    assert(count() == 4L, "the retained head must keep serving its rows")
  }

  test("rollback_to_timestamp resolves the latest ancestor at the instant") {
    val dir = create("b3")
    val nation = Tables.load(spark, sfDir, "nation")
    // commits land at lastUpdatedMs + 1000 per CAS commit (T0-based clock)
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 0)) // snap 1
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 1)) // snap 2
    GraftTable.append(spark, dir, nation.filter(col("n_regionkey") === 2)) // snap 3
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val snap2At = meta.snapshotLog.find(_.snapshotId == 2L).get.timestampMs
    // an instant between snap 2 and snap 3 resolves to snap 2
    val resolved = graft.sources.GraftProcedures
      .load("rollback_to_timestamp", _ => dir).get
      .bind(new org.apache.spark.sql.types.StructType())
      .asInstanceOf[org.apache.spark.sql.connector.catalog.procedures.BoundProcedure]
    val row = resolved.call(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("db.t"), snap2At + 500L))
      .next().asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows().head
    assert(row.getLong(0) == 3L && row.getLong(1) == 2L, row.toString)
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).count() ==
      nation.filter(col("n_regionkey") <= 1).count())
  }

  test("rewrite_position_delete_files commits an empty delete side when nothing resolves") {
    import spark.implicits._
    val dir = create("b2")
    // the table's ONLY commit is an upsert: its equality delete has no
    // lower-sequence data file to address, so the rewrite's resolved set
    // is empty — it must still commit (dropping the vacuous eq-delete
    // manifest), not throw, and writes no delete file
    GraftTable.upsert(spark, dir,
      Seq((1, "ALPHA", 0), (2, "BETA", 1)).toDF("n_nationkey", "n_name", "n_regionkey"),
      Seq("n_nationkey"))
    GraftTable.rewritePositionDeleteFiles(spark, dir)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val delEntries = meta.currentSnapshot.flatMap(_.manifestList).toSeq
      .flatMap(ManifestListReader.read).filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path)).filter(e => e.status != 2 && e.content != 0)
    assert(meta.currentSnapshot.flatMap(_.operation).contains("replace"))
    assert(delEntries.isEmpty, s"expected no live delete entry, got $delEntries")
    val rows = GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .orderBy("n_nationkey").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "ALPHA"), (2, "BETA")), rows.toString)
  }

  test("age-based expiry PHYSICALLY reclaims an abandoned stage's files; " +
      "the published stage survives; delete_reachable_files counts stages") {
    // the WAP lifecycle end state: a staged snapshot that is never
    // published lives outside every ref's lineage — its FILES must
    // reclaim once the retention window passes, while the stage that
    // WAS published (now the head) keeps serving rows, and whole-table
    // reclamation must count staged files (they are reachable bytes)
    val wh = java.nio.file.Files.createTempDirectory("graft-wapx").toString
    spark.conf.set("spark.sql.catalog.gwex", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwex.warehouse", wh)
    spark.sql("""CREATE TABLE gwex.db.t (k BIGINT)
      TBLPROPERTIES ('write.wap.enabled'='true')""")
    spark.sql("INSERT INTO gwex.db.t VALUES (1)")
    def stage(id: String, v: Long): Unit = {
      spark.conf.set("spark.wap.id", id)
      try spark.sql(s"INSERT INTO gwex.db.t VALUES ($v)")
      finally spark.conf.unset("spark.wap.id")
    }
    stage("wa", 2)
    stage("wb", 3)
    val dir = s"$wh/db/t"
    def metaNow() = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    def dataFilesOf(s: Snapshot): Seq[String] =
      // only the manifests the stage ITSELF added (field 503): carried-
      // forward manifests keep their original ADDED statuses and belong
      // to retained history
      ManifestListReader.read(s.manifestList.get)
        .filter(i => i.content == 0 && i.addedSnapshotId == s.snapshotId)
        .flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status == 1 && e.content == 0).map(_.filePath)
    val stagedB = metaNow().snapshots
      .find(_.summary.get("wap.id").contains("wb")).get
    val bFiles = dataFilesOf(stagedB)
    def onDisk(p: String) = new java.io.File(p.stripPrefix("file:")).exists()
    assert(bFiles.nonEmpty && bFiles.forall(onDisk))
    // whole-table reclamation sees staged bytes: base + both stages
    val dry = spark.sql(s"""CALL gwex.system.delete_reachable_files(
      metadata_file => '${GraftTable.latestMetadataPath(dir)}',
      dry_run => true)""").head
    assert(dry.getInt(0) == 3, s"3 data files incl. both stages: $dry")
    spark.sql("CALL gwex.system.publish_changes('db.t', 'wa')")
    // everything predates the future cutoff; the published stage is the
    // head (retained), the abandoned stage must go — metadata AND bytes
    spark.sql("CALL gwex.system.expire_snapshots('db.t', 1, " +
      s"${System.currentTimeMillis() + 86400000L})")
    val after = metaNow()
    assert(!after.snapshots.exists(_.summary.get("wap.id").contains("wb")),
      "abandoned stage must expire")
    assert(after.snapshots.exists(_.summary.get("wap.id").contains("wa")),
      "published stage is the retained head")
    assert(bFiles.forall(p => !onDisk(p)),
      "the abandoned stage's data files must physically reclaim")
    assert(spark.sql("SELECT SUM(k) FROM gwex.db.t").head.getLong(0) == 3L,
      "published rows (1 + 2) must keep serving after the reclamation")
  }

  test("staged row-level edits: COW UPDATE and MOR MERGE stage invisibly, " +
      "publish by fast-forward only, refuse once main advances") {
    val wh = java.nio.file.Files.createTempDirectory("graft-waped").toString
    spark.conf.set("spark.sql.catalog.gwed", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwed.warehouse", wh)
    spark.sql("""CREATE TABLE gwed.db.t (k BIGINT, v STRING)
      TBLPROPERTIES ('write.wap.enabled'='true',
        'write.update.mode'='copy-on-write',
        'write.merge.mode'='merge-on-read')""")
    spark.sql("INSERT INTO gwed.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = s"$wh/db/t"
    def vOf(k: Long): String = spark.sql(
      s"SELECT v FROM gwed.db.t WHERE k = $k").head.getString(0)
    def current() = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(dir)).currentSnapshotId.get
    def staged(id: String, sql: String): Unit = {
      spark.conf.set("spark.wap.id", id)
      try spark.sql(sql) finally spark.conf.unset("spark.wap.id")
    }
    // COW UPDATE stages: the overwrite snapshot lands in the document,
    // nothing moves, the rewrite is invisible — then fast-forward
    // publication applies it with zero additional manifest work
    val head0 = current()
    staged("e1", "UPDATE gwed.db.t SET v = 'A' WHERE k = 1")
    assert(vOf(1) == "a", "staged COW UPDATE must stay invisible")
    assert(current() == head0)
    spark.sql("CALL gwed.system.publish_changes('db.t', 'e1')")
    assert(vOf(1) == "A", "published UPDATE must land")
    val pubMeta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(pubMeta.currentSnapshot.get.operation.contains("overwrite"))
    assert(pubMeta.currentSnapshot.get.summary.contains("wap.published"))
    // MOR MERGE stages: the delta (delete+data files) commits stage-only
    staged("e2", """MERGE INTO gwed.db.t t USING
      (SELECT CAST(2 AS BIGINT) AS k, 'B' AS v) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(vOf(2) == "b", "staged MOR MERGE must stay invisible")
    spark.sql("CALL gwed.system.publish_changes('db.t', 'e2')")
    assert(vOf(2) == "B", "published MERGE must land")
    // a staged edit whose parent is no longer the head REFUSES to
    // publish — it validated against that exact live-file state, and a
    // cherry-pick re-apply could resurrect rows
    staged("e3", "UPDATE gwed.db.t SET v = 'Z' WHERE k = 3")
    spark.sql("INSERT INTO gwed.db.t VALUES (4, 'd')") // main advances
    val e = intercept[Exception](
      spark.sql("CALL gwed.system.publish_changes('db.t', 'e3')"))
    assert(e.getMessage.contains("re-run the edit"), e.getMessage)
    assert(vOf(3) == "c", "the refused edit must not land")
    assert(spark.sql("SELECT COUNT(*) FROM gwed.db.t").head.getLong(0) == 4L)
    // the orphaned stage reclaims through age-based expiry like any
    // abandoned stage; main keeps serving
    spark.sql("CALL gwed.system.expire_snapshots('db.t', 1, " +
      s"${System.currentTimeMillis() + 86400000L})")
    val after = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(!after.snapshots.exists(_.summary.get("wap.id").contains("e3")),
      "the unpublishable stage must expire")
    assert(vOf(3) == "c" && vOf(1) == "A" && vOf(2) == "B")
  }

  test("racing staged edits on one base: the first publish wins, the " +
      "second refuses NAMING the snapshot_ids reclamation, which then " +
      "reclaims the abandoned stage surgically") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wapr").toString
    spark.conf.set("spark.sql.catalog.gwrc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwrc.warehouse", wh)
    spark.sql("""CREATE TABLE gwrc.db.t (k BIGINT, v STRING)
      TBLPROPERTIES ('write.wap.enabled'='true',
        'write.update.mode'='copy-on-write')""")
    spark.sql("INSERT INTO gwrc.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = s"$wh/db/t"
    def vOf(k: Long): String = spark.sql(
      s"SELECT v FROM gwrc.db.t WHERE k = $k").head.getString(0)
    def staged(id: String, sql: String): Unit = {
      spark.conf.set("spark.wap.id", id)
      try spark.sql(sql) finally spark.conf.unset("spark.wap.id")
    }
    // two sessions race: both stage a COW UPDATE against the SAME head
    // (staging moves no pointer, so the second session's scan still sees
    // the original base — the classic write-write race, made visible)
    staged("r1", "UPDATE gwrc.db.t SET v = 'A' WHERE k = 1")
    staged("r2", "UPDATE gwrc.db.t SET v = 'B' WHERE k = 2")
    val meta0 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val s1 = meta0.snapshots.find(_.summary.get("wap.id").contains("r1")).get
    val s2 = meta0.snapshots.find(_.summary.get("wap.id").contains("r2")).get
    assert(s1.parentSnapshotId == s2.parentSnapshotId,
      "both stages must fork the same base — that IS the race")
    // first publish fast-forwards; the second's staged rewrite was
    // validated against a base that is no longer the head, so it REFUSES
    // (a silent cherry-pick could resurrect the rows r1 rewrote) — and
    // the message hands the user the exact targeted-expiry call
    spark.sql("CALL gwrc.system.publish_changes('db.t', 'r1')")
    assert(vOf(1) == "A")
    val e = intercept[Exception](
      spark.sql("CALL gwrc.system.publish_changes('db.t', 'r2')"))
    assert(e.getMessage.contains(
      s"snapshot_ids => array(${s2.snapshotId}L)"), e.getMessage)
    assert(vOf(2) == "b", "the refused edit must not land")
    // run the reclamation the refusal named: exactly the abandoned stage
    // expires — published history and every row survive
    val nBefore = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(dir)).snapshots.size
    spark.sql("CALL gwrc.system.expire_snapshots(table => 'db.t', " +
      s"snapshot_ids => array(${s2.snapshotId}L))")
    val after = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(!after.snapshots.exists(_.summary.get("wap.id").contains("r2")))
    assert(after.snapshots.size == nBefore - 1,
      "targeted expiry is surgical — nothing else may drop")
    assert(vOf(1) == "A" && vOf(2) == "b" && vOf(3) == "c")
    // the losing session re-runs its edit against the advanced head
    // under a fresh wap.id — the documented recovery — and publishes
    staged("r3", "UPDATE gwrc.db.t SET v = 'B' WHERE k = 2")
    spark.sql("CALL gwrc.system.publish_changes('db.t', 'r3')")
    assert(vOf(1) == "A" && vOf(2) == "B" && vOf(3) == "c")
  }

  test("a staged INSERT OVERWRITE stays invisible and publishes by " +
      "fast-forward") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wapov").toString
    spark.conf.set("spark.sql.catalog.gwov", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwov.warehouse", wh)
    spark.sql("""CREATE TABLE gwov.db.t (k BIGINT)
      TBLPROPERTIES ('write.wap.enabled'='true')""")
    spark.sql("INSERT INTO gwov.db.t SELECT id FROM RANGE(5)")
    def rows() = spark.sql("SELECT SUM(k), COUNT(*) FROM gwov.db.t").head
    spark.conf.set("spark.wap.id", "ov1")
    try spark.sql("INSERT OVERWRITE gwov.db.t SELECT id FROM RANGE(100, 103)")
    finally spark.conf.unset("spark.wap.id")
    assert(rows().getLong(1) == 5L, "staged overwrite must stay invisible")
    spark.sql("CALL gwov.system.publish_changes('db.t', 'ov1')")
    val after = rows()
    assert(after.getLong(1) == 3L && after.getLong(0) == 303L,
      s"published overwrite must replace the content: $after")
  }

  test("programmatic merge and upsert honor the stage-or-audit contract") {
    // the two public row-changing APIs that commit outside the DSv2
    // routes: on a wap-opted table under a staging session they must
    // stage like every other edit tail — not silently publish
    val wh = java.nio.file.Files.createTempDirectory("graft-wappm").toString
    spark.conf.set("spark.sql.catalog.gwpm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwpm.warehouse", wh)
    spark.sql("""CREATE TABLE gwpm.db.t (k BIGINT, v STRING)
      TBLPROPERTIES ('write.wap.enabled'='true')""")
    spark.sql("INSERT INTO gwpm.db.t VALUES (1, 'a'), (2, 'b')")
    val dir = s"$wh/db/t"
    import spark.implicits._
    def rows() = spark.sql("SELECT k, v FROM gwpm.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    spark.conf.set("spark.wap.id", "pm1")
    try GraftTable.merge(spark, dir,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    finally spark.conf.unset("spark.wap.id")
    assert(rows() == Seq((1L, "a"), (2L, "b")), "staged merge must stay invisible")
    spark.sql("CALL gwpm.system.publish_changes('db.t', 'pm1')")
    assert(rows() == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    spark.conf.set("spark.wap.id", "pm2")
    try GraftTable.upsert(spark, dir, Seq((1L, "A")).toDF("k", "v"), Seq("k"))
    finally spark.conf.unset("spark.wap.id")
    assert(rows() == Seq((1L, "a"), (2L, "B"), (3L, "c")),
      "staged upsert must stay invisible")
    spark.sql("CALL gwpm.system.publish_changes('db.t', 'pm2')")
    assert(rows() == Seq((1L, "A"), (2L, "B"), (3L, "c")))
    // multi-session JVM: the decision reads the conf of the session the
    // CALLER passed — a sibling session's unset wap.id (the thread-local
    // fallback) must not publish rows this session staged
    val b = spark.newSession()
    b.conf.set("spark.wap.id", "pm3")
    val bDf = b.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(3L, "C")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    GraftTable.merge(b, dir, bDf, Seq("k"))
    assert(rows() == Seq((1L, "A"), (2L, "B"), (3L, "c")),
      "the explicit session's wap.id must stage, not the fallback's absence")
    spark.sql("CALL gwpm.system.publish_changes('db.t', 'pm3')")
    assert(rows() == Seq((1L, "A"), (2L, "B"), (3L, "C")))
  }

  test("a staged v3 DELETE (deletion vectors) stays invisible and " +
      "publishes by fast-forward") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wapdv").toString
    spark.conf.set("spark.sql.catalog.gwdv", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwdv.warehouse", wh)
    spark.sql("""CREATE TABLE gwdv.db.t (k BIGINT)
      TBLPROPERTIES ('write.wap.enabled'='true', 'format-version'='3',
        'write.delete.mode'='merge-on-read')""")
    spark.sql("INSERT INTO gwdv.db.t SELECT id FROM RANGE(10)")
    def count() = spark.sql("SELECT COUNT(*) FROM gwdv.db.t").head.getLong(0)
    spark.conf.set("spark.wap.id", "dv1")
    try spark.sql("DELETE FROM gwdv.db.t WHERE k >= 7")
    finally spark.conf.unset("spark.wap.id")
    assert(count() == 10L, "staged DV delete must stay invisible")
    spark.sql("CALL gwdv.system.publish_changes('db.t', 'dv1')")
    assert(count() == 7L, "published DV delete must land")
    assert(spark.sql("SELECT COUNT(*) FROM gwdv.db.t.position_deletes")
      .head.getLong(0) == 3L, "the published head serves the staged DVs")
  }
}

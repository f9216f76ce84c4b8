package graft.iceberg

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Characterization of every snapshot-producing commit shape: for each
  * one, the manifest-list rows it carries equal the parent list's rows
  * field for field; every manifest it writes is listed under the new
  * snapshot id and sequence with field 516 = the minimum live entry
  * sequence, field 504 = its own count of ADDED entries and
  * `manifest_length` = the file's length; a carried row whose manifest
  * it rewrites keeps that row's provenance; and its summary and
  * file-name prefixes are pinned. */
class SnapshotProducerSpec extends SparkSpec {

  private type Info = ManifestListReader.ManifestFileInfo

  private def meta(dir: String): TableMetadata =
    TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))

  /** A list row with its summary bytes as comparable values. */
  private def fields(i: Info) = (i.path, i.length, i.specId, i.addedSnapshotId,
    i.addedDataFilesCount, i.content,
    i.summaries.map(_.map(s => (s.containsNull, s.lower.map(_.toSeq), s.upper.map(_.toSeq)))),
    i.sequenceNumber, i.minSequenceNumber)

  private def provenance(i: Info) = fields(i).copy(_1 = "", _2 = 0L)

  /** What one commit added: its snapshot, the rows it carried verbatim,
    * the manifests it wrote, and the carried rows whose manifest it
    * rewrote. */
  private final case class Shape(snap: Snapshot, carried: Seq[Info],
      written: Seq[Info], rewritten: Seq[Info]) {
    def prefixes: Set[String] = (written ++ rewritten).map { i =>
      val name = i.path.split('/').last
      name.substring(0, name.indexOf(s"-${snap.snapshotId}-"))
    }.toSet

    /** Field 504: each written manifest's own count of ADDED entries. */
    def assertAddedCounts(): Unit = written.foreach { i =>
      val added = ManifestWriter.read(i.path).count(_.status == 1)
      assert(i.addedDataFilesCount == added,
        s"field 504 of ${i.path}: ${i.addedDataFilesCount}, the manifest adds $added")
    }
  }

  private def commitShape(dir: String)(op: => Any): Shape = {
    val before = meta(dir).snapshots.map(_.snapshotId).toSet
    op
    val after = meta(dir)
    val added = after.snapshots.filterNot(s => before(s.snapshotId))
    assert(added.size == 1, s"one snapshot per commit: ${added.map(_.snapshotId)}")
    val snap = added.head
    val id = snap.snapshotId
    val list = snap.manifestList.get
    assert(list.startsWith(s"$dir/snap-$id-") && list.endsWith("-list.avro"), list)
    val parentRows = snap.parentSnapshotId.flatMap(after.snapshot).toSeq
      .flatMap(s => ManifestListReader.read(s.manifestList.get))
    val parentByPath = parentRows.map(i => i.path -> i).toMap
    val rows = ManifestListReader.read(list)
    val (carried, fresh) = rows.partition(i => parentByPath.contains(i.path))
    carried.foreach(i => assert(fields(i) == fields(parentByPath(i.path)),
      s"carried row changed: ${fields(i)} vs ${fields(parentByPath(i.path))}"))
    val (written, rewritten) = fresh.partition(_.addedSnapshotId == id)
    fresh.foreach(i => assert(i.length == HadoopConfs.length(i.path),
      s"manifest_length of ${i.path}: ${i.length} vs ${HadoopConfs.length(i.path)}"))
    written.foreach { i =>
      assert(i.sequenceNumber == id, s"field 515 of ${i.path}")
      val live = ManifestWriter.read(i.path).filter(_.status != 2)
      val minSeq = (live.map(_.sequenceNumber.getOrElse(i.sequenceNumber)) :+ id).min
      assert(i.minSequenceNumber == minSeq,
        s"field 516 of ${i.path}: ${i.minSequenceNumber} vs $minSeq")
    }
    // a rewritten carried row keeps the provenance of the row it replaces
    val dropped = parentRows.filterNot(i => rows.exists(_.path == i.path))
    rewritten.foreach(i => assert(dropped.exists(d => provenance(d) == provenance(i)),
      s"rewritten row lost its provenance: ${fields(i)}"))
    Shape(snap, carried, written, rewritten)
  }

  private def catalog(name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-sp-$name").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s"$wh/db/t"
  }

  private def table(formatVersion: Int = 2): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sp").toString
    GraftTable.create(dir, IcebergSchema(0, Seq(
      IcebergField(1, "k", required = false, "long"),
      IcebergField(2, "v", required = false, "string"))),
      tableUuid = "5a9c0000-0000-4000-8000-000000000008", timestampMs = 1700000000000L,
      formatVersion = formatVersion)
    dir
  }

  private def rows(from: Long, to: Long, files: Int = 1) =
    spark.range(from, to, 1, files).select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))

  private val morProps = "TBLPROPERTIES ('write.update.mode'='merge-on-read', " +
    "'write.delete.mode'='merge-on-read', 'write.merge.mode'='merge-on-read'"

  test("append: unpartitioned and 3-tuple partitioned") {
    val dir = table()
    GraftTable.append(spark, dir, rows(0, 20, 2))
    val plain = commitShape(dir)(GraftTable.append(spark, dir, rows(20, 50, 2)))
    assert(plain.snap.operation.contains("append"))
    assert(plain.snap.summary == Map("added-data-files" -> "2", "added-records" -> "30"))
    assert(plain.prefixes == Set("m-append") && plain.written.size == 1)
    assert(plain.carried.size == 1 && plain.rewritten.isEmpty)
    plain.assertAddedCounts()

    val t = catalog("spa")
    spark.sql("CREATE TABLE spa.db.t (k BIGINT, r INT, v STRING) PARTITIONED BY (r)")
    spark.sql("INSERT INTO spa.db.t SELECT id, CAST(id % 3 AS INT), 'a' FROM range(0, 9)")
    val parts = commitShape(t)(spark.sql(
      "INSERT INTO spa.db.t SELECT /*+ COALESCE(1) */ id, CAST(id % 3 AS INT), 'b' FROM range(9, 18)"))
    assert(parts.snap.summary == Map("added-data-files" -> "3", "added-records" -> "9"))
    assert(parts.prefixes == Set("m-append") && parts.written.size == 3)
    assert(parts.written.forall(i => i.summaries.isDefined && i.content == 0))
    parts.assertAddedCounts()
  }

  test("append onto a branch and a write-audit-publish stage; cherrypick of the stage") {
    val t = catalog("spb")
    spark.sql("CREATE TABLE spb.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('write.wap.enabled'='true')")
    spark.sql("INSERT INTO spb.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(0, 5)")
    spark.sql("CALL spb.system.create_branch(table => 'db.t', branch => 'b')")
    spark.sql("INSERT INTO spb.db.t.branch_b SELECT /*+ COALESCE(1) */ id, 'b' FROM range(5, 8)")
    val branch = commitShape(t)(spark.sql(
      "INSERT INTO spb.db.t.branch_b SELECT /*+ COALESCE(1) */ id, 'b' FROM range(8, 10)"))
    assert(branch.snap.summary == Map("added-data-files" -> "1", "added-records" -> "2"))
    assert(branch.carried.size == 2 && branch.prefixes == Set("m-append"))
    branch.assertAddedCounts()

    spark.conf.set("spark.wap.id", "sp1")
    val staged =
      try commitShape(t)(spark.sql(
        "INSERT INTO spb.db.t SELECT /*+ COALESCE(1) */ id, 'w' FROM range(10, 14)"))
      finally spark.conf.unset("spark.wap.id")
    assert(staged.snap.summary == Map("added-data-files" -> "1", "added-records" -> "4",
      "wap.id" -> "sp1", "wap.staged" -> "true"))
    assert(staged.snap.parentSnapshotId == meta(t).currentSnapshotId)
    assert(staged.carried.size == 1 && staged.prefixes == Set("m-append"))
    staged.assertAddedCounts()

    spark.sql("INSERT INTO spb.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(20, 22)")
    val picked = commitShape(t)(GraftTable.cherrypick(t, staged.snap.snapshotId))
    assert(picked.snap.operation.contains("append"))
    assert(picked.snap.summary == Map("added-data-files" -> "1",
      "cherry-picked-snapshot-id" -> staged.snap.snapshotId.toString))
    assert(picked.carried.size == 2 && picked.prefixes == Set("m-cherry"))
    picked.assertAddedCounts()
  }

  test("copy-on-write UPDATE and GraftTable.merge") {
    val t = catalog("spc")
    spark.sql("CREATE TABLE spc.db.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO spc.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(0, 10)")
    spark.sql("INSERT INTO spc.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(10, 20)")
    val update = commitShape(t)(spark.sql("UPDATE spc.db.t SET v = 'u' WHERE k = 3"))
    assert(update.snap.operation.contains("overwrite"))
    assert(update.snap.summary == Map("added-data-files" -> "1", "deleted-data-files" -> "1"))
    assert(update.prefixes == Set("m-rowlevel") && update.carried.isEmpty)
    update.assertAddedCounts()

    val dir = table()
    GraftTable.append(spark, dir, rows(0, 10))
    GraftTable.append(spark, dir, rows(10, 20))
    GraftTable.deleteWhere(spark, dir, col("k") === 15)
    val merged = commitShape(dir)(GraftTable.merge(spark, dir,
      spark.range(18, 23).select(col("id").as("k"), lit("m").as("v")), Seq("k")))
    // one rewritten file and two insert files (the source's two
    // partitions holding unmatched keys)
    assert(merged.snap.summary == Map("added-data-files" -> "3", "deleted-data-files" -> "1"))
    assert(merged.prefixes == Set("m-merge"))
    assert(merged.carried.map(_.content) == Seq(1), "delete manifests carry")
    merged.assertAddedCounts()
  }

  test("full and where compaction") {
    val dir = table()
    (0 until 4).foreach(i => GraftTable.append(spark, dir, rows(i * 10, i * 10 + 10)))
    val where = commitShape(dir)(GraftTable.compact(spark, dir, where = Some("k < 15")))
    assert(where.snap.operation.contains("replace"))
    assert(where.snap.summary == Map("added-data-files" -> "1", "deleted-data-files" -> "2"))
    assert(where.prefixes == Set("m-compact") && where.carried.size == 2)
    where.assertAddedCounts()
    GraftTable.deleteWhere(spark, dir, col("k") === 33)
    val full = commitShape(dir)(GraftTable.compact(spark, dir))
    assert(full.snap.summary == Map("added-data-files" -> "1", "deleted-data-files" -> "3"))
    assert(full.prefixes == Set("m-compact") && full.carried.isEmpty)
    full.assertAddedCounts()
  }

  test("rewrite_position_delete_files on v2 and v3") {
    for (v <- Seq(2, 3)) {
      val dir = table(v)
      GraftTable.append(spark, dir, rows(0, 10))
      GraftTable.append(spark, dir, rows(10, 20))
      GraftTable.deleteWhere(spark, dir, col("k") === 2)
      GraftTable.deleteWhere(spark, dir, col("k") === 12)
      val rw = commitShape(dir)(GraftTable.rewritePositionDeleteFiles(spark, dir))
      assert(rw.snap.operation.contains("replace"))
      val added = if (v == 3) "2" else "1"
      assert(rw.snap.summary == Map("added-delete-files" -> added,
        "removed-delete-files" -> "2", "rewritten-equality-delete-files" -> "0") ++
        (if (v == 3) Map("added-dvs" -> "2") else Map.empty), s"v$v")
      assert(rw.prefixes == Set("m-posrw") && rw.carried.map(_.content) == Seq(0, 0))
      assert(rw.written.map(_.content) == Seq(1))
      rw.assertAddedCounts()
    }
  }

  test("SQL merge-on-read DELETE and UPDATE on v2 and v3 (a DV supersede)") {
    for (v <- Seq(2, 3)) {
      val name = s"spm$v"
      val t = catalog(name)
      spark.sql(s"CREATE TABLE $name.db.t (k BIGINT, v STRING) $morProps, " +
        s"'format-version'='$v')")
      spark.sql(s"INSERT INTO $name.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(0, 10)")
      spark.sql(s"INSERT INTO $name.db.t SELECT /*+ COALESCE(1) */ id, 'a' FROM range(10, 20)")
      val del = commitShape(t)(spark.sql(s"DELETE FROM $name.db.t WHERE k = 1 OR k = 11"))
      assert(del.snap.operation.contains("delete"))
      assert(del.snap.summary == Map("added-data-files" -> "0", "added-records" -> "0",
        "added-delete-files" -> (if (v == 3) "2" else "1"), "added-position-deletes" -> "2") ++
        (if (v == 3) Map("added-dvs" -> "2", "removed-dvs" -> "0") else Map.empty),
        s"v$v")
      assert(del.prefixes == Set("m-delta-del") && del.carried.size == 2)
      del.assertAddedCounts()
      val upd = commitShape(t)(spark.sql(s"UPDATE $name.db.t SET v = 'u' WHERE k = 2"))
      assert(upd.snap.operation.contains("overwrite"))
      assert(upd.snap.summary("added-data-files") == "1" &&
        upd.snap.summary("added-records") == "1" &&
        upd.snap.summary("added-delete-files") == "1" &&
        upd.snap.summary("added-position-deletes") == "1", s"v$v ${upd.snap.summary}")
      if (v == 3) {
        // the new DV for k=2's file supersedes that file's old DV; the
        // carried delete manifest re-lists the other file's DV
        assert(upd.snap.summary("added-dvs") == "1" && upd.snap.summary("removed-dvs") == "1")
        assert(upd.prefixes == Set("m-delta-data", "m-delta-del", "m-dvrw"))
        assert(upd.rewritten.map(_.content) == Seq(1))
      } else assert(upd.prefixes == Set("m-delta-data", "m-delta-del"))
      upd.assertAddedCounts()
    }
  }

  test("upsert") {
    val dir = table()
    GraftTable.append(spark, dir, rows(0, 10))
    val up = commitShape(dir)(GraftTable.upsert(spark, dir,
      spark.range(5, 15).select(col("id").as("k"), lit("u").as("v")), Seq("k")))
    assert(up.snap.operation.contains("overwrite"))
    assert(up.snap.summary == Map("added-data-files" -> "1", "added-records" -> "10",
      "added-delete-files" -> "1", "added-equality-deletes" -> "10"))
    assert(up.prefixes == Set("m-upsert-data", "m-upsert-del") && up.carried.size == 1)
    up.assertAddedCounts()
  }

  test("rewrite_manifests and the v2 to v3 row-lineage backfill") {
    val dir = table()
    (0 until 3).foreach(i => GraftTable.append(spark, dir, rows(i * 10, i * 10 + 10)))
    GraftTable.deleteWhere(spark, dir, col("k") === 4)
    val rm = commitShape(dir)(GraftTable.rewriteManifests(spark, dir))
    assert(rm.snap.operation.contains("replace"))
    assert(rm.snap.summary == Map("manifests-replaced" -> "3", "manifests-added" -> "1"))
    assert(rm.prefixes == Set("m-rewrite") && rm.carried.map(_.content) == Seq(1))
    rm.assertAddedCounts()

    GraftTable.append(spark, dir, rows(30, 40))
    val bf = commitShape(dir)(GraftTable.upgradeFormatVersion(dir, 3))
    assert(bf.snap.operation.contains("replace"))
    assert(bf.snap.summary == Map("row-lineage-backfill" -> "true", "assigned-row-ids" -> "40"))
    assert(bf.written.isEmpty && bf.prefixes == Set("m-lineage"))
    assert(bf.rewritten.size == 2 && bf.carried.map(_.content) == Seq(1))
  }

  /** Table-directory files whose name carries `uuid`. */
  private def filesOf(dir: String, uuid: String): Seq[String] =
    HadoopConfs.fileSystemFor(dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.contains(uuid)).toSeq

  /** The attempt id in a path `Attempt.rewrite` returned. */
  private def uuidOf(path: String, snapshotId: Long): String =
    path.split('/').last.split(s"-$snapshotId-").last.take(36)

  test("a losing attempt's manifests and list are deleted; the winner's stay") {
    val dir = table()
    GraftTable.append(spark, dir, rows(0, 10))
    val extra = s"$dir/data/extra.parquet"
    ParquetFiles.writeOne(rows(100, 105), extra)
    var attempts = Seq.empty[String]
    val result = SnapshotProducer.commit(dir) { a =>
      // the first attempt loses its race to an append committed meanwhile
      if (attempts.isEmpty) GraftTable.append(spark, dir, rows(10, 20))
      val carried = a.headRows.zipWithIndex.map { case (r, i) =>
        a.rewrite(r, "m-probe", s"-$i", ManifestWriter.read(r.path)) }
      attempts :+= uuidOf(carried.head.path, a.snapshotId)
      SnapshotProducer.Commit("append", Map("added-data-files" -> "1"), carried,
        Seq(SnapshotProducer.NewManifest("m-extra", Seq(ManifestWriter.EntryData(
          1, a.snapshotId, extra, 5L, HadoopConfs.length(extra), Map.empty, Map.empty)))))
    }
    assert(result.attempts == 2 && attempts.size == 2)
    assert(filesOf(dir, attempts(0)).isEmpty && attempts(0) != attempts(1),
      s"the losing attempt left ${filesOf(dir, attempts(0))}")
    // the winner: a rewritten manifest per carried row, the new manifest and the list
    assert(filesOf(dir, attempts(1)).size == 4, filesOf(dir, attempts(1)))
    assert(GraftTable.read(spark, GraftTable.latestMetadataPath(dir)).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 20L) ++ (100L until 105L))
  }

  test("an attempt whose closure throws deletes what it wrote") {
    val dir = table()
    GraftTable.append(spark, dir, rows(0, 10))
    var uuid = ""
    val e = intercept[IllegalStateException](SnapshotProducer.commit(dir) { a =>
      val r = a.headRows.head
      uuid = uuidOf(a.rewrite(r, "m-probe", "", ManifestWriter.read(r.path)).path,
        a.snapshotId)
      throw new IllegalStateException("validation failed")
    })
    assert(e.getMessage == "validation failed" && uuid.nonEmpty)
    assert(filesOf(dir, uuid).isEmpty, filesOf(dir, uuid))
    assert(meta(dir).snapshots.size == 1)
  }
}

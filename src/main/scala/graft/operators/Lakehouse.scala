package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.GraftFunctions

/** Iceberg v2 merge-on-read semantics + hidden partitioning — the
  * lakehouse write/maintenance surface the reference's read-only decoder
  * implies but never implements (its manifests carry `status` columns for
  * ADDED/EXISTING/DELETED files, ManifestFileReadTool.java:89-161; v2
  * tables additionally carry row-level delete files the scan must apply).
  *
  * - i13: position deletes — a delete file of (file_path, pos) pairs
  *   anti-joined against the scan on parquet's native `_metadata`
  *   (file_path, row_index) columns, exactly Iceberg's position-delete
  *   key. Deletes are typically KB-to-MB per data file, so AQE broadcasts
  *   the apply side and the 100 TB scan stays a plain parquet scan + one
  *   broadcast hash anti-join with no fact-table shuffle; an unbounded
  *   delete set degrades to a co-partitioned shuffle anti-join instead.
  * - i14: full MOR scan — position deletes and equality deletes layered,
  *   as a v2 reader must (position first is observationally equivalent
  *   here because data and deletes share one commit). Commit-order
  *   scoping — a delete never applies to files appended after it — is the
  *   `*Scoped` variants below, keyed on the manifest entries' data
  *   sequence numbers (i36 proves it end-to-end).
  * - i15: hidden-partitioning summary: spec-correct partition tuples
  *   (bucket/truncate/temporal ordinal — PartitionTransforms, pinned to
  *   the spec's test vectors) computed inside whole-stage codegen.
  */
object Lakehouse {

  type Q = (SparkSession, String) => DataFrame

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** orders + its parquet physical address columns — (file_path, row
    * position), the join key Iceberg position deletes use. */
  private def ordersWithPos(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.Tables.physicalSchema(spark, dir, "orders"))
      .parquet(s"$dir/orders.parquet")
      .select(col("*"),
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_pos"))

  /** Synthesized position-delete file: every 101st row position of each
    * data file, round-tripped through parquet like a real delete file
    * (written once per process, then read back — the entry's scan side
    * only ever sees the parquet). */
  private def positionDeletes(spark: SparkSession, dir: String): DataFrame = {
    val delDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-i13-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(delDir) {
      ordersWithPos(spark, dir)
        .filter(col("_pos") % 101 === 0)
        .select(col("_file").as("file_path"), col("_pos").as("pos"))
        .write.mode("overwrite").parquet(delDir)
    }
    spark.read.parquet(delDir)
  }

  /** Merge-on-read apply: survivors = data rows whose (file, pos) has no
    * delete-file entry. The join strategy is deliberately left to the
    * optimizer: delete sets are usually metadata-scale (AQE broadcasts
    * them from runtime stats), but a mass-delete over a 100 TB table can
    * be arbitrarily large — then this becomes a co-partitioned shuffle
    * anti-join on (file, pos), which a forced broadcast() hint would
    * instead OOM on. */
  def applyPositionDeletes(data: DataFrame, deletes: DataFrame): DataFrame =
    data.join(deletes,
      data("_file") === deletes("file_path") && data("_pos") === deletes("pos"),
      "left_anti")

  // ---------------------------------------------------------------- i13
  /** Position-delete merge-on-read over orders: delete every 101st row
    * position, aggregate the survivors. The oracle recomputes positions
    * as rank-by-key (valid because the testdata files are written sorted
    * by o_orderkey — single file, one row group; asserted monotonic at
    * every sf in-session), making the physical row_index semantics
    * oracle-checkable in pure SQL. */
  val positionDeleteScan: Q = (spark, dir) => {
    val live = applyPositionDeletes(ordersWithPos(spark, dir), positionDeletes(spark, dir))
    live.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        sum(dec(col("o_totalprice"))).cast(DoubleType).as("live_totalprice"))
      .orderBy(col("o_orderstatus"))
  }

  val positionDeleteScanSql: String =
    """WITH pos AS (
      |  SELECT o_orderstatus, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders)
      |SELECT o_orderstatus, COUNT(*) AS n_live,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS live_totalprice
      |FROM pos WHERE pos % 101 <> 0
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Synthesized equality-delete FILE: the delete set (customers with
    * deeply negative balances — deterministic, content-defined) written
    * once per process to parquet whose schema IS the equality columns, as
    * in Iceberg v2 where a delete file's rows carry the values of its
    * `equality_ids` columns. Real readers resolve those columns by field
    * id from the manifest entry; the testdata parquet has no field ids, so
    * resolution here is by the same column names. The scan side below only
    * ever sees this file — never the defining filter. */
  private def equalityDeletes(spark: SparkSession, dir: String): DataFrame = {
    val delDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-i14eq-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(delDir) {
      Tables.load(spark, dir, "customer")
        .filter(col("c_acctbal") < -900)
        // delete-file schema = the TARGET table's equality columns
        .select(col("c_custkey").as("o_custkey"))
        .write.mode("overwrite").parquet(delDir)
    }
    spark.read.parquet(delDir)
  }

  /** Equality-delete apply: survivors = data rows whose equality-column
    * tuple has no row in the delete file. The delete file's own schema
    * names the join keys (every delete-file column is an equality column),
    * so the apply generalizes to multi-column equality ids unchanged. */
  def applyEqualityDeletes(data: DataFrame, deletes: DataFrame): DataFrame = {
    // null-safe <=>: Iceberg equality deletes match null equality-field
    // values (null equals null) — `===` would never delete a null-keyed row
    val cond = deletes.columns.map(c => data(c) <=> deletes(c)).reduce(_ && _)
    data.join(deletes, cond, "left_anti")
  }

  // ---------------------------------------------------------------- i14
  /** Full v2 merge-on-read scan: position deletes AND equality deletes
    * layered, BOTH round-tripped through storage like real delete files
    * (the scan side reads parquet it did not compute). Equality deletes
    * apply by key anti-join, position deletes by (file, pos) anti-join.
    * Join strategies left to the optimizer (see applyPositionDeletes): at
    * this scale both delete sides broadcast from AQE's runtime stats and
    * the orders scan is never shuffled; a huge delete set degrades to a
    * shuffle anti-join instead of a forced-broadcast OOM. */
  val morScan: Q = (spark, dir) => {
    val posApplied = applyPositionDeletes(ordersWithPos(spark, dir), positionDeletes(spark, dir))
    applyEqualityDeletes(posApplied, equalityDeletes(spark, dir))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_live"),
        countDistinct(col("o_custkey")).as("n_custkeys"))
      .orderBy(col("o_orderpriority"))
  }

  val morScanSql: String =
    """WITH pos AS (
      |  SELECT o_orderpriority, o_custkey,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n_live,
      |  COUNT(DISTINCT o_custkey) AS n_custkeys
      |FROM pos o
      |WHERE pos % 101 <> 0
      |  AND NOT EXISTS (SELECT 1 FROM customer c
      |                  WHERE c.c_acctbal < -900 AND c.c_custkey = o.o_custkey)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- i15
  /** Hidden-partitioning summary: the partition tuple a spec-correct
    * Iceberg writer would assign each orders row —
    * (bucket[8](o_custkey), year(o_orderdate), truncate[3](o_orderpriority))
    * — with row counts per partition. bucket is the codegen'd
    * murmur3_x86_32 expression (spec test vectors pinned in
    * PartitionTransformsSpec); year is the 1970-relative ordinal; the
    * truncate width covers ASCII so substring == codepoint prefix. DuckDB
    * has no murmur3, so the oracle is a pinned golden (sf0.01). */
  val partitionSummary: Q = (spark, dir) => {
    val o = Tables.load(spark, dir, "orders")
    o.select(
        GraftFunctions.icebergBucket(spark, col("o_custkey"), 8).as("custkey_bucket"),
        (year(col("o_orderdate")) - 1970).as("order_year"),
        substring(col("o_orderpriority"), 1, 3).as("priority_trunc"))
      .groupBy(col("custkey_bucket"), col("order_year"), col("priority_trunc"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("custkey_bucket"), col("order_year"), col("priority_trunc"))
  }

  // ---------------------------------------------------------------- i16
  /** Compaction planning (the planning step of Iceberg's
    * rewrite_data_files maintenance): files ordered by path are packed
    * into target-size bins by cumulative start offset — a deterministic,
    * windowable approximation of greedy bin-packing — and each bin is the
    * rewrite task (files, bytes, records it would merge). The window is
    * global here because a table's file list is metadata-scale (KB per
    * manifest); a petabyte table partitions the window by partition value,
    * which is also the correct rewrite boundary. Target size is 500 bytes
    * against the fixture's two ~650-byte files so the plan demonstrably
    * splits; production uses 512 MB. */
  val compactionPlan: Q = (spark, _) => {
    val target = 500L
    val files = graft.iceberg.MetadataTables.files(spark,
      graft.iceberg.TableMetadata.parseFile(IcebergQueries.FixtureMetadata),
      Seq(IcebergQueries.FixtureManifest))
      .select(col("file_path"), col("file_size_in_bytes"), col("record_count"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("file_path"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    files
      .withColumn("cum_end", sum(col("file_size_in_bytes")).over(w))
      .withColumn("bin", floor((col("cum_end") - col("file_size_in_bytes")) / target))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("file_size_in_bytes")).as("total_bytes"),
        sum(col("record_count")).as("total_records"))
      .orderBy(col("bin"))
  }

  // ---------------------------------------------------------------- i17
  /** Snapshot-expiry planning (expire_snapshots): removable manifests =
    * those reachable from expired snapshots but NOT from any retained
    * one — a set difference over the two snapshots' manifest-list
    * closures, i.e. exactly the reachability computation Iceberg's
    * maintenance runs before deleting files. Demonstrated on a
    * synthesized two-snapshot history (the fixture table has one): the
    * old snapshot holds the fixture manifest, the current one a
    * compacted rewrite, so expiring the old snapshot frees the fixture
    * manifest and its 2 entries. EXCEPT is a distributed anti-join —
    * the same plan at a million manifests. */
  val snapshotExpiry: Q = (spark, _) => {
    import graft.iceberg.{ManifestListWriter, ManifestReader, ManifestWriter, MetadataTables}
    val dir = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-i17-${graft.Scratch.procToken}")).toString
    val rewritten = s"$dir/rewritten-m0.avro"
    val listOld = s"$dir/snap-1-list.avro"
    val listCur = s"$dir/snap-2-list.avro"
    graft.TmpOutputs.ensure(dir) {
      // current snapshot = a manifest rewrite (rewrite_manifests): the
      // fixture manifest's entries re-listed in one new manifest, every
      // stat READ from the source container — no fabricated files/stats.
      // (Data compaction on real files is i21, LakehouseExec; the fixture's
      // data paths are dead /tmp files from the reference's own test run.)
      ManifestWriter.write(rewritten, ManifestWriter.read(IcebergQueries.FixtureManifest)
        .map(e => e.copy(status = 0, snapshotId = 2L)))
      ManifestListWriter.write(listOld, Seq(IcebergQueries.FixtureManifest), 1L)
      ManifestListWriter.write(listCur, Seq(rewritten), 2L)
    }
    val reachableOld = MetadataTables.manifests(spark, listOld).select(col("manifest_path"))
    val reachableCur = MetadataTables.manifests(spark, listCur).select(col("manifest_path"))
    val expired = reachableOld.except(reachableCur)
    val expiredEntries = ManifestReader
      .entries(spark, expired.collect().map(_.getString(0)).toSeq) // metadata-scale path list
      .agg(count(lit(1)).as("n_expired_entries"),
        sum(col("data_file.record_count")).as("expired_records"))
    reachableCur.agg(count(lit(1)).as("n_retained_manifests"))
      .crossJoin(expired.agg(count(lit(1)).as("n_expired_manifests")))
      .crossJoin(expiredEntries)
  }

  // ---------------------------------------------------------------- i18
  /** Snapshot COMMIT — the write half i16/i17 plan for: execute a
    * manifest rewrite (new manifest + manifest-list), then publish a new
    * `metadata.json` via MetadataWriter.commitSnapshot (snapshot appended,
    * current-snapshot-id advanced, main ref moved, snapshot-log extended,
    * superseded document recorded in the metadata-log — the structure of
    * src/main/resources/graft/fixtures/v1.metadata.json:38-95). The gate:
    * everything after the commit re-reads ONLY the committed document and
    * the containers it references — per-snapshot lineage and file rollups
    * come from storage, not from in-memory state. The fixture's recorded
    * manifest-list is a dead /tmp path from the reference's own test run,
    * so the old snapshot's KB-sized list is first rewritten (same content)
    * and repointed, as in i08. */
  /** Builds the committed fixture-maintenance table into `dir` (no
    * caching — callers wrap with TmpOutputs.ensure): rewrites the old
    * snapshot's manifest-list (the fixture's recorded one is a dead /tmp
    * path from the reference's own run, as in i08), executes a MANIFEST
    * rewrite (rewrite_manifests: the fixture's entries re-listed in one
    * new manifest, stats read from the source container — the fixture's
    * data paths are dead, so data compaction on real files lives in i21/
    * LakehouseExec), and commits the new snapshot via MetadataWriter.
    * Returns the committed metadata path. */
  private def buildFixtureCompactionCommit(dir: String): String = {
    import graft.iceberg._
    val committedPath = s"$dir/v2.metadata.json"
    val base0 = TableMetadata.parseFile(IcebergQueries.FixtureMetadata)
    val oldSnap = base0.currentSnapshot.getOrElse(
      throw new IllegalStateException("fixture has no current snapshot"))
    val listOld = s"$dir/snap-${oldSnap.snapshotId}-list.avro"
    ManifestListWriter.write(listOld, Seq(IcebergQueries.FixtureManifest), oldSnap.snapshotId)
    val base = base0.copy(snapshots = base0.snapshots.map(s =>
      if (s.snapshotId == oldSnap.snapshotId) s.copy(manifestList = Some(listOld)) else s))
    val newId = oldSnap.snapshotId + 1
    val src = ManifestWriter.read(IcebergQueries.FixtureManifest)
    val rewritten = s"$dir/compacted-m0.avro"
    ManifestWriter.write(rewritten, src.map(e => e.copy(status = 0, snapshotId = newId)))
    val listNew = s"$dir/snap-$newId-list.avro"
    ManifestListWriter.write(listNew, Seq(rewritten), newId, addedDataFilesCount = 0)
    val newSnap = Snapshot(newId, Some(oldSnap.snapshotId),
      oldSnap.timestampMs + 1000, Some("replace"),
      Map("manifests-created" -> "1", "manifests-replaced" -> "1",
        "total-data-files" -> src.size.toString,
        "total-records" -> src.map(_.recordCount).sum.toString),
      Some(listNew), oldSnap.schemaId)
    MetadataWriter.write(committedPath,
      MetadataWriter.commitSnapshot(base, newSnap, Some(IcebergQueries.FixtureMetadata)))
    committedPath
  }

  val snapshotCommit: Q = (spark, _) => {
    import graft.iceberg._
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-i18-${graft.Scratch.procToken}").toString
    val committedPath = s"$dir/v2.metadata.json"
    graft.TmpOutputs.ensure(dir) { buildFixtureCompactionCommit(dir) }
    // commit gate: storage only from here on
    val committed = TableMetadata.parseFile(committedPath)
    val snaps = MetadataTables.snapshots(spark, committed)
      .select(col("snapshot_id"),
        coalesce(col("parent_id"), lit(-1L)).as("parent_id"),
        col("committed_at_ms"), col("operation"),
        element_at(col("summary"), "total-data-files").cast("long").as("total_data_files"))
    val hist = MetadataTables.history(spark, committed)
      .select(col("snapshot_id"), col("is_current"))
    val rollup = committed.snapshots
      .map { s =>
        // two-level planning from the committed document: manifest-list →
        // manifest paths (KB-scale collect) → distributed entry scan
        val manifestPaths = MetadataTables
          .manifests(spark, s.manifestList.getOrElse(
            throw new IllegalStateException(s"snapshot ${s.snapshotId} has no manifest-list")))
          .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
        ManifestReader.entries(spark, manifestPaths)
          .agg(count(lit(1)).as("n_files"),
            sum(col("data_file.record_count")).as("n_records"))
          .select(lit(s.snapshotId).as("snapshot_id"), col("n_files"), col("n_records"))
      }
      .reduce(_ unionByName _)
    snaps.join(hist, Seq("snapshot_id")).join(rollup, Seq("snapshot_id"))
      .orderBy(col("committed_at_ms"))
  }

  // ---------------------------------------------------------------- i19
  /** Rollback — the recovery half of pointer management: after the i18
    * compaction commit, `rollback_to_snapshot(parent)` publishes a THIRD
    * metadata document whose current pointer and main ref move back to the
    * pre-compaction snapshot while both snapshots stay (expiry, i17, owns
    * physical cleanup). The read-back builds the history table from the
    * rolled-back document only: the original snapshot appears twice
    * (made current at commit time AND at rollback time, both flagged
    * current), the compaction snapshot once, superseded — exactly the
    * lineage a user audits after an undo. */
  val snapshotRollback: Q = (spark, _) => {
    import graft.iceberg._
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-i19-${graft.Scratch.procToken}").toString
    val rolledBackPath = s"$dir/v3.metadata.json"
    graft.TmpOutputs.ensure(dir) {
      val committedPath = buildFixtureCompactionCommit(dir)
      val committed = TableMetadata.parseFile(committedPath)
      val cur = committed.currentSnapshot.get
      val parent = cur.parentSnapshotId.getOrElse(
        throw new IllegalStateException("compaction snapshot has no parent"))
      MetadataWriter.write(rolledBackPath, MetadataWriter.rollbackTo(
        committed, parent, cur.timestampMs + 1000, Some(committedPath)))
    }
    // rollback gate: storage only from here on
    val meta = TableMetadata.parseFile(rolledBackPath)
    val ops = MetadataTables.snapshots(spark, meta)
      .select(col("snapshot_id"), col("operation"))
    MetadataTables.history(spark, meta)
      .join(ops, Seq("snapshot_id"))
      .select(col("made_current_at_ms"), col("snapshot_id"),
        col("operation"), col("is_current"))
      .orderBy(col("made_current_at_ms"))
  }

  // ---------------------------------------------------------------- i20
  /** Metadata-document lineage — Iceberg's `metadata_log_entries` table
    * over the commit → rollback chain of i18/i19: each superseded document
    * (the fixture v1, the compaction commit v2) with the time it was
    * superseded, read from the final rolled-back document only. Paths are
    * process-local temp files, so the output projects the stable version
    * basename (`vN.metadata.json`) instead of the full path. */
  val metadataLineage: Q = (spark, _) => {
    import graft.iceberg._
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-i20-${graft.Scratch.procToken}").toString
    val rolledBackPath = s"$dir/v3.metadata.json"
    graft.TmpOutputs.ensure(dir) {
      val committedPath = buildFixtureCompactionCommit(dir)
      val committed = TableMetadata.parseFile(committedPath)
      val cur = committed.currentSnapshot.get
      MetadataWriter.write(rolledBackPath, MetadataWriter.rollbackTo(
        committed, cur.parentSnapshotId.get, cur.timestampMs + 1000, Some(committedPath)))
    }
    val meta = TableMetadata.parseFile(rolledBackPath)
    MetadataTables.metadataLog(spark, meta)
      .select(col("superseded_at_ms"),
        regexp_extract(col("metadata_file"), "v(\\d+)\\.metadata\\.json$", 0)
          .as("metadata_file_version"))
      .orderBy(col("superseded_at_ms"))
  }

  val queries: Map[String, Q] = Map(
    "i20_metadata_log" -> metadataLineage,
    "i19_rollback" -> snapshotRollback,
    "i18_commit" -> snapshotCommit,
    "i17_snapshot_expiry" -> snapshotExpiry,
    "i16_compaction_plan" -> compactionPlan,
    "i13_position_deletes" -> positionDeleteScan,
    "i14_mor_scan" -> morScan,
    "i15_partition_transforms" -> partitionSummary)

  val oracles: Map[String, String] = Map(
    "i13_position_deletes" -> positionDeleteScanSql,
    "i14_mor_scan" -> morScanSql)
  // i15's golden oracle lives in GoldenOracles (sf-pinned)
}

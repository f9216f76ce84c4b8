package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.iceberg._
import graft.iceberg.IcebergTypes.TInt
import graft.operators.LakehouseExec._

/** Second wave of table-maintenance execution — the pruning and layout
  * operations that decide how much of a 100 TB table a query ever touches.
  *
  * - i33: manifest-list partition-summary pruning — the TOP level of
  *   Iceberg's two-level pruning. Each manifest_file row carries a
  *   partition summary (spec field 507: contains_null/lower/upper per
  *   partition field); a planner evaluates the predicate against the
  *   summary and skips non-matching manifests WITHOUT OPENING THEM. At
  *   scale this is what keeps planning proportional to matching manifests
  *   (thousands) instead of listed files (millions).
  * - i34: equality→position delete rewrite (rewrite_position_delete_files'
  *   convert step): equality deletes are cheap to WRITE (the writer never
  *   reads the table) but expensive to READ (every scan re-resolves the
  *   predicate); maintenance resolves them once into position deletes and
  *   commits a replace, restoring cheap MOR reads.
  * - i35: sort-order evolution + clustering rewrite — the metadata commit
  *   declares the target layout (sort-orders[] grows, default advances),
  *   the rewrite makes it physical, and the read-back PROVES the payoff:
  *   a key-range predicate overlaps every pre-rewrite file's bounds but
  *   exactly one post-rewrite file's. Clustering is a pure win at scale:
  *   same bytes, far fewer files scanned.
  *
  * Same honesty gate as LakehouseExec: every stat is derived from files on
  * disk, every read resolves only committed documents and the containers
  * they reference, timestamps are fixed (T0), and oracles are plain SQL
  * over nation (25 rows, bit-identical at every sf).
  */
object LakehouseMaint {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- i33
  /** List-level pruning: one manifest per region (5 manifests), each
    * carrying a partition summary derived from its entries' bounds. The
    * region-3 scan consults ONLY the manifest-list: 4 manifests are
    * skipped unopened, the surviving manifest yields the file list, and
    * the data read is the distributed parquet scan of that list. */
  val listPruning: Q = (spark, sfDir) => {
    val dir = entryDir("i33", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      val manifests = inParallel(0 until 5) { r =>
        val f = s"$dir/data/region-$r.parquet"
        writeOneParquet(nation.filter(col("n_regionkey") === r)
          .orderBy(col("n_nationkey")), f)
        val entry = deriveEntry(spark, f, snapshotId = 1L)
        val m = s"$dir/m-$r.avro"
        ManifestWriter.write(m, Seq(entry))
        // summary derived from the manifest's OWN entry bounds (field 3 =
        // n_regionkey, the partition source column) — never hand-pinned
        m -> ManifestListWriter.FieldSummary(containsNull = false,
          entry.lowerBounds(3), entry.upperBounds(3))
      }
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, manifests.map(_._1), 1L,
        addedDataFilesCount = 1,
        summaries = manifests.map { case (m, s) => m -> Seq(s) }.toMap)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "5"), Some(list1), Some(0))
      val withSpec = baseMetadata(dir).copy(partitionSpecs = Seq(PartitionSpec(0,
        Seq(PartitionField("n_regionkey", "identity", 3, 1000)))))
      MetadataWriter.write(s"$dir/v1.metadata.json",
        MetadataWriter.commitSnapshot(withSpec, snap1, None))
    }
    val meta = TableMetadata.parseFile(s"$dir/v1.metadata.json")
    val cur = meta.currentSnapshot.get
    val listPath = cur.manifestList.get
    val nTotal = ManifestListReader.read(listPath).size
    // the DSv2 two-level route: `manifest-list` resolves the manifest set
    // and its field-507 summaries; the pushed bound filters prune
    // non-matching manifests at the LIST level (never opened), survivors
    // get the entry-level probe — one InputPartition per opened manifest
    val survivors = spark.read.format("graft-manifest")
      .option("metadata", s"$dir/v1.metadata.json")
      .option("manifest-list", listPath)
      .load()
      .filter(col("lower_n_regionkey") <= 3 && col("upper_n_regionkey") >= 3)
      .select(col("data_file.file_path"))
    val nOpened = survivors.rdd.getNumPartitions
    val files = survivors.collect().map(_.getString(0)).toIndexedSeq
    ParquetFiles.read(spark, files)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(nTotal).as("n_manifests_total"),
        lit(nOpened).as("n_manifests_opened"),
        lit(files.size).as("n_files_scanned"),
        col("n_rows"), col("sum_key"))
  }

  val listPruningSql: String =
    """SELECT CAST(5 AS INTEGER) AS n_manifests_total,
      |  CAST(1 AS INTEGER) AS n_manifests_opened,
      |  CAST(1 AS INTEGER) AS n_files_scanned,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey = 3""".stripMargin

  // ---------------------------------------------------------------- i34
  /** Equality→position delete rewrite: snapshot 2 commits an equality
    * delete (schema = the equality column n_name, values = the names of
    * nations 4, 11, 21 — one per data file). Maintenance resolves the
    * values against the data files ONCE — semi-join to (file_path,
    * row_index) — writes a position-delete file, and commits a replace
    * snapshot whose delete manifest carries ONLY position deletes. The
    * read-back proves both halves: zero equality-delete files remain
    * reachable, and the position-only MOR scan equals the original
    * equality semantics. */
  val eqToPosRewrite: Q = (spark, sfDir) => {
    val dir = entryDir("i34", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir)
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      val paths = filePaths(spark, snap1)
      // the equality-delete commit: values only, no table read — the cheap
      // write that makes equality deletes attractive to writers
      val eqFile = s"$dir/data/eq-delete-00000.parquet"
      writeOneParquet(Tables.load(spark, sfDir, "nation")
        .filter(col("n_nationkey").isin(4, 11, 21))
        .select(col("n_name")).orderBy(col("n_name")), eqFile)
      val mEq = s"$dir/m-del-eq.avro"
      ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
        1, 2L, eqFile, ParquetFiles.read(spark, Seq(eqFile)).count(), HadoopConfs.length(eqFile),
        Map.empty, Map.empty, content = 2)))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-0.avro", mEq), 2L,
        addedDataFilesCount = 0, contents = Map(mEq -> 1),
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> paths.size))
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("delete"),
        Map("added-delete-files" -> "1"), Some(list2), Some(0))
      val v2 = s"$dir/v2.metadata.json"
      MetadataWriter.write(v2, MetadataWriter.commitSnapshot(base, snap2, Some(v1)))
      // the rewrite: resolve equality values to physical row addresses
      // (one distributed semi-join — the cost every SCAN was paying)
      val committed = TableMetadata.parseFile(v2)
      val eqValues = ParquetFiles.read(spark, Seq(eqFile))
      val posFile = s"$dir/data/pos-delete-00000.parquet"
      writeOneParquet(ParquetFiles.read(spark, paths)
        .select(col("n_name"),
          col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"))
        .join(eqValues, Seq("n_name"), "left_semi")
        .select(col("file_path"), col("pos"))
        .orderBy(col("file_path"), col("pos")), posFile)
      val mPos = s"$dir/m-del-pos.avro"
      ManifestWriter.write(mPos, Seq(ManifestWriter.EntryData(
        1, 3L, posFile, ParquetFiles.read(spark, Seq(posFile)).count(), HadoopConfs.length(posFile),
        Map.empty, Map.empty, content = 1)))
      val list3 = s"$dir/snap-3-list.avro"
      ManifestListWriter.write(list3, Seq(s"$dir/m-0.avro", mPos), 3L,
        addedDataFilesCount = 0, contents = Map(mPos -> 1),
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> paths.size))
      val snap3 = Snapshot(3L, Some(2L), snap2.timestampMs + 1000, Some("replace"),
        Map("added-delete-files" -> "1", "removed-delete-files" -> "1"),
        Some(list3), Some(0))
      MetadataWriter.write(s"$dir/v3.metadata.json",
        MetadataWriter.commitSnapshot(committed, snap3, Some(v2)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v3.metadata.json")
    val cur = meta.currentSnapshot.get
    val delEntries = fileEntries(spark, cur, content = 1)
      .select(col("file_path"), col("content")).collect()
    val nEq = delEntries.count(_.getInt(1) == 2)
    val nPos = delEntries.count(_.getInt(1) == 1)
    val data = ParquetFiles.read(spark, filePaths(spark, cur, content = 0))
      .select(col("*"),
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_pos"))
    val posDeletes = spark.read
      .parquet(delEntries.filter(_.getInt(1) == 1).map(_.getString(0)).toIndexedSeq: _*)
      .select(col("file_path"), col("pos"))
    Lakehouse.applyPositionDeletes(data, posDeletes)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(col("n_regionkey"), lit(nEq).as("n_eq_files"),
        lit(nPos).as("n_pos_files"), col("n_live"), col("sum_key"))
      .orderBy(col("n_regionkey"))
  }

  val eqToPosRewriteSql: String =
    """SELECT n_regionkey, CAST(0 AS INTEGER) AS n_eq_files,
      |  CAST(1 AS INTEGER) AS n_pos_files,
      |  COUNT(*) AS n_live, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_nationkey NOT IN (4, 11, 21)
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i35
  /** Sort-order evolution + clustering rewrite. Snapshot 1 writes nation
    * interleaved (n_nationkey % 3 → every file's key bounds span nearly
    * the whole table); the commit appends sort order 1
    * (identity(n_nationkey) asc) and advances the default; the rewrite
    * sorts and re-splits into key ranges; snapshot 2 replaces the files.
    * The read-back measures what clustering bought: the predicate
    * `n_nationkey BETWEEN 5 AND 9` overlaps ALL 3 pre-rewrite files'
    * bounds but exactly 1 post-rewrite file's — same bytes, 3× fewer
    * files scanned, straight from the committed manifests' stats. */
  val sortOrderRewrite: Q = (spark, sfDir) => {
    val dir = entryDir("i35", sfDir)
    def overlap(e: ManifestWriter.EntryData): Boolean = {
      val lo = SingleValueCodec.decode(TInt, e.lowerBounds(1)).asInstanceOf[Int]
      val hi = SingleValueCodec.decode(TInt, e.upperBounds(1)).asInstanceOf[Int]
      lo <= 9 && 5 <= hi
    }
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      // interleaved layout: a hash-ish split, the unclustered worst case
      val filesA = inParallel(0 until 3) { i =>
        val f = s"$dir/data/mod-$i.parquet"
        writeOneParquet(nation.filter(col("n_nationkey") % 3 === i)
          .orderBy(col("n_nationkey")), f)
        f
      }
      val entriesA = inParallel(filesA)(f => deriveEntry(spark, f, 1L))
      ManifestWriter.write(s"$dir/m-0.avro", entriesA)
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, Seq(s"$dir/m-0.avro"), 1L,
        addedDataFilesCount = filesA.size)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> filesA.size.toString), Some(list1), Some(0))
      val v1 = s"$dir/v1.metadata.json"
      MetadataWriter.write(v1, MetadataWriter.commitSnapshot(baseMetadata(dir), snap1, None))
      // declare the target layout, then make it physical
      val evolved = MetadataWriter.evolveSortOrder(TableMetadata.parseFile(v1),
        SortOrder(1, Seq(SortField("identity", 1, "asc", "nulls-first"))), T0 + 1500)
      val old = ParquetFiles.read(spark, filesA)
      val entriesB = inParallel(Seq((0, 10), (10, 20), (20, 25)).zipWithIndex) {
        case ((lo, hi), i) =>
          val f = s"$dir/data/sorted-0000$i.parquet"
          writeOneParquet(old.filter(col("n_nationkey") >= lo && col("n_nationkey") < hi)
            .orderBy(col("n_nationkey")), f)
          deriveEntry(spark, f, 2L)
      }
      ManifestWriter.write(s"$dir/m-1.avro", entriesB)
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-1.avro"), 2L,
        addedDataFilesCount = entriesB.size)
      val snap2 = Snapshot(2L, Some(1L), T0 + 2000, Some("replace"),
        Map("added-data-files" -> entriesB.size.toString,
          "deleted-data-files" -> filesA.size.toString), Some(list2), Some(0))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(evolved, snap2, Some(v1)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    val before = ManifestWriter.read(s"$dir/m-0.avro")
    val after = ManifestWriter.read(s"$dir/m-1.avro")
    val survivors = after.filter(overlap).map(_.filePath)
    ParquetFiles.read(spark, survivors)
      .filter(col("n_nationkey").between(5, 9)) // residual within the file
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(meta.sortOrders.size).as("n_orders"),
        lit(meta.defaultSortOrderId).as("default_order_id"),
        lit(before.count(overlap)).as("files_overlap_before"),
        lit(survivors.size).as("files_overlap_after"),
        col("n_rows"), col("sum_key"))
  }

  val sortOrderRewriteSql: String =
    """SELECT CAST(2 AS INTEGER) AS n_orders, CAST(1 AS INTEGER) AS default_order_id,
      |  CAST(3 AS INTEGER) AS files_overlap_before,
      |  CAST(1 AS INTEGER) AS files_overlap_after,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_nationkey BETWEEN 5 AND 9""".stripMargin

  // ---------------------------------------------------------------- i36
  /** Sequence-number-scoped delete applicability — the v2 rule that makes
    * MOR sound across commits. Timeline (data sequence numbers = commit
    * order): seq 1 appends keys <13; seq 2 commits an EQUALITY delete
    * whose values name nation 2 (present, in the seq-1 file) AND nation
    * 20 (not yet in the table); seq 3 appends keys >=13 — including
    * nation 20, whose name matches the older delete. A reader applying
    * every reachable delete to every data file would wrongly drop nation
    * 20; the spec scopes an equality delete to data files with STRICTLY
    * LOWER data sequence number, so the late row survives. Sequence
    * numbers ride the manifest entries (field 3) from the write path and
    * drive the scan's per-file delete scoping — the oracle's
    * `n_late_key_present = 1` is the proof the scoping executed. */
  val seqScopedScan: Q = (spark, sfDir) => {
    val dir = entryDir("i36", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      // seq 1: append keys < 13
      val fA = s"$dir/data/early-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")), fA)
      val mA = s"$dir/m-0.avro"
      ManifestWriter.write(mA,
        Seq(deriveEntry(spark, fA, 1L).copy(sequenceNumber = Some(1L))))
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, Seq(mA), 1L, addedDataFilesCount = 1)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list1), Some(0))
      val v1 = s"$dir/v1.metadata.json"
      MetadataWriter.write(v1, MetadataWriter.commitSnapshot(baseMetadata(dir), snap1, None))
      // seq 2: equality delete naming nations 2 (present) and 20 (future)
      val eqFile = s"$dir/data/eq-delete-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey").isin(2, 20))
        .select(col("n_name")).orderBy(col("n_name")), eqFile)
      val mDel = s"$dir/m-del.avro"
      ManifestWriter.write(mDel, Seq(ManifestWriter.EntryData(
        1, 2L, eqFile, ParquetFiles.read(spark, Seq(eqFile)).count(), HadoopConfs.length(eqFile),
        Map.empty, Map.empty, content = 2, sequenceNumber = Some(2L))))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(mA, mDel), 2L,
        addedDataFilesCount = 0, contents = Map(mDel -> 1),
        addedSnapshotIds = Map(mA -> 1L), addedCounts = Map(mA -> 1))
      val snap2 = Snapshot(2L, Some(1L), T0 + 2000, Some("delete"),
        Map("added-delete-files" -> "1"), Some(list2), Some(0))
      val v2 = s"$dir/v2.metadata.json"
      MetadataWriter.write(v2, MetadataWriter.commitSnapshot(TableMetadata.parseFile(v1), snap2, Some(v1)))
      // seq 3: append keys >= 13 — nation 20 arrives AFTER the delete
      val fB = s"$dir/data/late-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") >= 13)
        .orderBy(col("n_nationkey")), fB)
      val mB = s"$dir/m-1.avro"
      ManifestWriter.write(mB,
        Seq(deriveEntry(spark, fB, 3L).copy(sequenceNumber = Some(3L))))
      val list3 = s"$dir/snap-3-list.avro"
      ManifestListWriter.write(list3, Seq(mA, mDel, mB), 3L,
        addedDataFilesCount = 1, contents = Map(mDel -> 1),
        addedSnapshotIds = Map(mA -> 1L, mDel -> 2L),
        addedCounts = Map(mA -> 1, mDel -> 0))
      val snap3 = Snapshot(3L, Some(2L), T0 + 3000, Some("append"),
        Map("added-data-files" -> "1"), Some(list3), Some(0))
      MetadataWriter.write(s"$dir/v3.metadata.json",
        MetadataWriter.commitSnapshot(TableMetadata.parseFile(v2), snap3, Some(v2)))
    }
    // the hand-built table reads like any other: GraftTable.read plans
    // (path, data-sequence) pairs from the manifests and the scan scopes
    // the equality delete to the STRICTLY lower-sequence data file
    val metaPath = s"$dir/v3.metadata.json"
    GraftTable.read(spark, metaPath)
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        count(when(col("n_nationkey") === 2, 1)).as("n_deleted_key_present"),
        count(when(col("n_nationkey") === 20, 1)).as("n_late_key_present"))
      .select(lit(TableMetadata.parseFile(metaPath).snapshots.size).as("n_snapshots"),
        col("n_live"), col("sum_key"),
        col("n_deleted_key_present"), col("n_late_key_present"))
  }

  val seqScopedScanSql: String =
    """SELECT CAST(3 AS INTEGER) AS n_snapshots, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  COUNT(CASE WHEN n_nationkey = 2 THEN 1 END) AS n_deleted_key_present,
      |  COUNT(CASE WHEN n_nationkey = 20 THEN 1 END) AS n_late_key_present
      |FROM nation WHERE n_nationkey <> 2""".stripMargin

  // ---------------------------------------------------------------- i37
  /** Hidden-partition transform pruning at scan time. The table is
    * written bucket[4](n_nationkey)-partitioned — one file+manifest per
    * bucket, the spec recorded in the committed metadata, each manifest's
    * field-507 summary carrying its bucket ordinal (partition summaries
    * live in TRANSFORM space, that's what makes them prunable without
    * reading data). The scan for `n_nationkey = 17` never names a
    * partition column: planning converts 17 through the spec's transform
    * (murmur3 bucket — ScanPlanning.transformValue), tests the bucket
    * ordinal against each summary, and opens exactly 1 of 4 manifests;
    * a key-BOUNDS check could never prune here because every bucket file
    * spans nearly the full key range — that is precisely what hidden
    * partitioning adds over min/max stats. Residual `n_nationkey = 17`
    * still applies in the data scan (bucket membership is necessary, not
    * sufficient). */
  val transformPrunedScan: Q = (spark, sfDir) => {
    val dir = entryDir("i37", sfDir)
    val NBuckets = 4
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      val bucketed = nation.withColumn("_bucket",
        graft.functions.GraftFunctions.icebergBucket(spark, col("n_nationkey"), NBuckets))
      val manifests = inParallel(0 until NBuckets) { b =>
        val f = s"$dir/data/bucket-$b.parquet"
        writeOneParquet(bucketed.filter(col("_bucket") === b)
          .drop("_bucket").orderBy(col("n_nationkey")), f)
        val m = s"$dir/m-$b.avro"
        ManifestWriter.write(m, Seq(deriveEntry(spark, f, snapshotId = 1L)))
        // summary in transform space: this manifest holds exactly bucket b
        m -> ManifestListWriter.FieldSummary(containsNull = false,
          SingleValueCodec.encode(TInt, b), SingleValueCodec.encode(TInt, b))
      }
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, manifests.map(_._1), 1L,
        addedDataFilesCount = 1,
        summaries = manifests.map { case (m, s) => m -> Seq(s) }.toMap)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> NBuckets.toString), Some(list1), Some(0))
      val withSpec = baseMetadata(dir).copy(partitionSpecs = Seq(PartitionSpec(0,
        Seq(PartitionField("n_nationkey_bucket", s"bucket[$NBuckets]", 1, 1000)))))
      MetadataWriter.write(s"$dir/v1.metadata.json",
        MetadataWriter.commitSnapshot(withSpec, snap1, None))
    }
    val meta = TableMetadata.parseFile(s"$dir/v1.metadata.json")
    val cur = meta.currentSnapshot.get
    // hidden-partition planning: source predicate → transform space →
    // summary test; only the matching bucket's manifest is ever opened
    val surviving = ScanPlanning.pruneManifestsByTransform(
      ManifestListReader.read(cur.manifestList.get), meta, sourceFieldId = 1, values = Seq(17))
    val files = surviving.flatMap(i => ManifestWriter.read(i.path).map(_.filePath))
    ParquetFiles.read(spark, files)
      .filter(col("n_nationkey") === 17) // residual within the bucket
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(NBuckets).as("n_manifests_total"),
        lit(surviving.size).as("n_manifests_opened"),
        col("n_rows"), col("sum_key"))
  }

  val transformPrunedScanSql: String =
    """SELECT CAST(4 AS INTEGER) AS n_manifests_total,
      |  CAST(1 AS INTEGER) AS n_manifests_opened,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_nationkey = 17""".stripMargin

  // ---------------------------------------------------------------- i38
  /** Delete-aware incremental scan — the CDC changelog read that completes
    * i30 (append-only consumption). Timeline: snapshot 1 appends keys <20
    * (two files); snapshot 2 is a position-delete DML (region 2); snapshot
    * 3 appends keys >=20. The changelog over (1, 3] emits one (op, row)
    * stream per snapshot, all resolved from the committed documents:
    * INSERTs are the rows of data files whose manifest entry is
    * (status=ADDED, snapshot_id=s); DELETEs are the data rows addressed by
    * the position-delete files the snapshot added — materialized by an
    * inner join of (file_path, pos) against the parquet `_metadata`
    * address of the PRE-DELETE file set, exactly how a changelog reader
    * turns physical delete vectors back into logical rows. Both sides are
    * distributed scans; the only driver state is the KB-scale file lists. */
  val changelogScan: Q = (spark, sfDir) => {
    val dir = entryDir("i38", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir, ranges = Seq((0, 10), (10, 20)))
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      val paths = filePaths(spark, snap1)
      // snapshot 2: position-delete DML (the i22 write path)
      val delFile = s"$dir/data/delete-00000.parquet"
      writeOneParquet(
        ParquetFiles.read(spark, paths)
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("n_regionkey"))
          .filter(col("n_regionkey") === 2)
          .select(col("file_path"), col("pos"))
          .orderBy(col("file_path"), col("pos")), delFile)
      val delManifest = s"$dir/m-del.avro"
      ManifestWriter.write(delManifest, Seq(ManifestWriter.EntryData(
        1, 2L, delFile, ParquetFiles.read(spark, Seq(delFile)).count(), HadoopConfs.length(delFile),
        Map.empty, Map.empty, content = 1, sequenceNumber = Some(2L))))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-0.avro", delManifest), 2L,
        addedDataFilesCount = 0, contents = Map(delManifest -> 1),
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> paths.size))
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("delete"),
        Map("added-delete-files" -> "1"), Some(list2), Some(0))
      val v2 = s"$dir/v2.metadata.json"
      MetadataWriter.write(v2, MetadataWriter.commitSnapshot(base, snap2, Some(v1)))
      // snapshot 3: late append (keys >= 20)
      val f3 = s"$dir/data/nation-append-00000.parquet"
      writeOneParquet(Tables.load(spark, sfDir, "nation")
        .filter(col("n_nationkey") >= 20).orderBy(col("n_nationkey")), f3)
      val m3 = s"$dir/m-1.avro"
      ManifestWriter.write(m3, Seq(deriveEntry(spark, f3, 3L)
        .copy(sequenceNumber = Some(3L))))
      val list3 = s"$dir/snap-3-list.avro"
      ManifestListWriter.write(list3, Seq(s"$dir/m-0.avro", delManifest, m3), 3L,
        addedDataFilesCount = 1, contents = Map(delManifest -> 1),
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L, delManifest -> 2L),
        addedCounts = Map(s"$dir/m-0.avro" -> paths.size, delManifest -> 0))
      val snap3 = Snapshot(3L, Some(2L), snap1.timestampMs + 2000, Some("append"),
        Map("added-data-files" -> "1"), Some(list3), Some(0))
      MetadataWriter.write(s"$dir/v3.metadata.json",
        MetadataWriter.commitSnapshot(TableMetadata.parseFile(v2), snap3, Some(v2)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v3.metadata.json")
    val changes = meta.snapshots.filter(_.snapshotId > 1L).sortBy(_.snapshotId).map { s =>
      // LIST-level incremental selection first: only manifests the list
      // records as added by THIS snapshot (field 503 — carried-forward
      // manifests keep their original adding snapshot) are ever opened;
      // entry-level (snapshot_id, status=ADDED) stays as the inner filter.
      // At a million-manifest table this is what keeps a changelog step
      // proportional to the commit, not the table.
      val addedManifests = ManifestListReader.read(s.manifestList.get)
        .filter(_.addedSnapshotId == s.snapshotId).map(_.path)
      val entries =
        if (addedManifests.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else ManifestReader.entries(spark, addedManifests)
          .filter(col("snapshot_id") === s.snapshotId && col("status") === 1)
          .select(col("data_file.file_path").as("file_path"),
            col("data_file.content").as("content"))
          .collect() // KB-scale: the files THIS snapshot added
      val added = entries.filter(_.getInt(1) == 0).map(_.getString(0)).toIndexedSeq
      val posDeletes = entries.filter(_.getInt(1) == 1).map(_.getString(0)).toIndexedSeq
      val inserts =
        if (added.isEmpty) None
        else Some(ParquetFiles.read(spark, added)
          .select(lit(s.snapshotId).as("snapshot_id"), lit("insert").as("op"),
            col("n_nationkey"), col("n_regionkey")))
      val deletes =
        if (posDeletes.isEmpty) None
        else {
          // resolve delete addresses against the PRE-snapshot data files
          val preSnap = meta.snapshot(s.parentSnapshotId.get).get
          val data = ParquetFiles.read(spark, filePaths(spark, preSnap))
            .select(col("*"),
              col("_metadata.file_path").as("_file"),
              col("_metadata.row_index").as("_pos"))
          val del = ParquetFiles.read(spark, posDeletes)
          Some(data.join(del,
            data("_file") === del("file_path") && data("_pos") === del("pos"))
            .select(lit(s.snapshotId).as("snapshot_id"), lit("delete").as("op"),
              col("n_nationkey"), col("n_regionkey")))
        }
      (inserts.toSeq ++ deletes.toSeq).reduceOption(_ unionByName _)
    }
    changes.flatten.reduce(_ unionByName _)
      .orderBy(col("snapshot_id"), col("n_nationkey"))
  }

  val changelogScanSql: String =
    """SELECT * FROM (
      |  SELECT CAST(2 AS BIGINT) AS snapshot_id, 'delete' AS op,
      |    n_nationkey, n_regionkey
      |  FROM nation WHERE n_regionkey = 2 AND n_nationkey < 20
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'insert', n_nationkey, n_regionkey
      |  FROM nation WHERE n_nationkey >= 20)
      |ORDER BY snapshot_id, n_nationkey""".stripMargin

  // ---------------------------------------------------------------- i39
  /** The one-call table read (GraftTable.read) over a four-commit table
    * that exercises every read-path layer at once: seq 1 appends keys
    * <13; seq 2 equality-deletes the names of nations 2 and 20 (20 not
    * yet in the table); seq 3 appends keys >=13 (nation 20 arrives and
    * must ESCAPE the older equality delete); seq 4 position-deletes
    * nation 5's physical row. One API call resolves the head snapshot,
    * routes data vs delete manifests, groups scans by data sequence
    * number, and applies both delete kinds with spec scoping — expected
    * content: nation minus {2, 5}, with 20 present. */
  val tableRead: Q = (spark, sfDir) =>
    GraftTable.read(spark, s"${i39Table(spark, sfDir)}/v4.metadata.json")
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        count(when(col("n_nationkey") === 20, 1)).as("n_late_key_present"),
        count(when(col("n_nationkey").isin(2, 5), 1)).as("n_deleted_present"))

  /** Builds (once per process) the i39 four-commit table — every
    * read-path layer in one fixture; shared by i39 and the i49 DSv2
    * full-MOR read. Returns the table dir (head document: v4). */
  private def i39Table(spark: SparkSession, sfDir: String): String = {
    val dir = entryDir("i39", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      // seq 1: keys < 13
      val fA = s"$dir/data/early-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")), fA)
      val mA = s"$dir/m-0.avro"
      ManifestWriter.write(mA,
        Seq(deriveEntry(spark, fA, 1L).copy(sequenceNumber = Some(1L))))
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, Seq(mA), 1L, addedDataFilesCount = 1)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list1), Some(0))
      val v1 = s"$dir/v1.metadata.json"
      MetadataWriter.write(v1, MetadataWriter.commitSnapshot(baseMetadata(dir), snap1, None))
      // seq 2: equality delete naming nations 2 (present) and 20 (future)
      val eqFile = s"$dir/data/eq-delete-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey").isin(2, 20))
        .select(col("n_name")).orderBy(col("n_name")), eqFile)
      val mEq = s"$dir/m-del-eq.avro"
      ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
        1, 2L, eqFile, ParquetFiles.read(spark, Seq(eqFile)).count(), HadoopConfs.length(eqFile),
        Map.empty, Map.empty, content = 2, sequenceNumber = Some(2L))))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(mA, mEq), 2L,
        addedDataFilesCount = 0, contents = Map(mEq -> 1),
        addedSnapshotIds = Map(mA -> 1L), addedCounts = Map(mA -> 1))
      val snap2 = Snapshot(2L, Some(1L), T0 + 2000, Some("delete"),
        Map("added-delete-files" -> "1"), Some(list2), Some(0))
      val v2 = s"$dir/v2.metadata.json"
      MetadataWriter.write(v2,
        MetadataWriter.commitSnapshot(TableMetadata.parseFile(v1), snap2, Some(v1)))
      // seq 3: keys >= 13 arrive AFTER the equality delete
      val fB = s"$dir/data/late-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") >= 13)
        .orderBy(col("n_nationkey")), fB)
      val mB = s"$dir/m-1.avro"
      ManifestWriter.write(mB,
        Seq(deriveEntry(spark, fB, 3L).copy(sequenceNumber = Some(3L))))
      val list3 = s"$dir/snap-3-list.avro"
      ManifestListWriter.write(list3, Seq(mA, mEq, mB), 3L,
        addedDataFilesCount = 1, contents = Map(mEq -> 1),
        addedSnapshotIds = Map(mA -> 1L, mEq -> 2L),
        addedCounts = Map(mA -> 1, mEq -> 0))
      val snap3 = Snapshot(3L, Some(2L), T0 + 3000, Some("append"),
        Map("added-data-files" -> "1"), Some(list3), Some(0))
      val v3 = s"$dir/v3.metadata.json"
      MetadataWriter.write(v3,
        MetadataWriter.commitSnapshot(TableMetadata.parseFile(v2), snap3, Some(v2)))
      // seq 4: position-delete nation 5's physical row (in the seq-1 file)
      val posFile = s"$dir/data/pos-delete-00000.parquet"
      writeOneParquet(ParquetFiles.read(spark, Seq(fA))
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"), col("n_nationkey"))
        .filter(col("n_nationkey") === 5)
        .select(col("file_path"), col("pos")), posFile)
      val mPos = s"$dir/m-del-pos.avro"
      ManifestWriter.write(mPos, Seq(ManifestWriter.EntryData(
        1, 4L, posFile, ParquetFiles.read(spark, Seq(posFile)).count(), HadoopConfs.length(posFile),
        Map.empty, Map.empty, content = 1, sequenceNumber = Some(4L))))
      val list4 = s"$dir/snap-4-list.avro"
      ManifestListWriter.write(list4, Seq(mA, mEq, mB, mPos), 4L,
        addedDataFilesCount = 0, contents = Map(mEq -> 1, mPos -> 1),
        addedSnapshotIds = Map(mA -> 1L, mEq -> 2L, mB -> 3L),
        addedCounts = Map(mA -> 1, mEq -> 0, mB -> 1))
      val snap4 = Snapshot(4L, Some(3L), T0 + 4000, Some("delete"),
        Map("added-delete-files" -> "1"), Some(list4), Some(0))
      MetadataWriter.write(s"$dir/v4.metadata.json",
        MetadataWriter.commitSnapshot(TableMetadata.parseFile(v3), snap4, Some(v3)))
    }
    dir
  }

  val tableReadSql: String =
    """SELECT COUNT(*) AS n_live, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  COUNT(CASE WHEN n_nationkey = 20 THEN 1 END) AS n_late_key_present,
      |  COUNT(CASE WHEN n_nationkey IN (2, 5) THEN 1 END) AS n_deleted_present
      |FROM nation WHERE n_nationkey NOT IN (2, 5)""".stripMargin

  // ---------------------------------------------------------------- i40
  /** The write half of the one-call API: create → two CONCURRENT appends
    * → row-level DELETE, every commit through the OptimisticCommit CAS
    * loop. The two appends race deliberately: one loses the version
    * claim, refreshes, and re-applies — re-deriving its snapshot id,
    * sequence number, parent, and carried-forward manifests from the
    * winner's document — so both land on one linear history regardless
    * of order. The read-back is the composed GraftTable.read, so the
    * oracle checks the WHOLE create/append/delete/read lifecycle through
    * the public API only. */
  val tableDml: Q = (spark, sfDir) => {
    val dir = entryDir("i40", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000040", timestampMs = T0)
      inParallel(Seq(
        nation.filter(col("n_nationkey") < 13),
        nation.filter(col("n_nationkey") >= 13)), slots = 2) { part =>
        GraftTable.append(spark, dir, part.orderBy(col("n_nationkey")))
      }
      GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
    }
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(col("n_regionkey"), col("n_live"), col("sum_key"),
        lit(meta.snapshots.size).as("n_snapshots"),
        lit(OptimisticCommit.currentVersion(dir)).as("metadata_version"))
      .orderBy(col("n_regionkey"))
  }

  val tableDmlSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  CAST(3 AS INTEGER) AS n_snapshots, CAST(4 AS INTEGER) AS metadata_version
      |FROM nation WHERE n_regionkey <> 2
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i41
  /** MERGE INTO through the public API, on a table that already carries
    * a pending position delete (region 2 rows). The source updates keys
    * 1 and 3 (live → whole-row replace), re-targets key 8 (DELETED →
    * counts as unmatched, re-inserts), and inserts key 25. COW semantics
    * under MOR: only the file holding matched keys is rewritten — with
    * its pending deletes materialized — while untouched files carry
    * forward with their ORIGINAL sequence numbers so the old delete
    * still applies to them. The oracle replays the merge in SQL. */
  val mergeApi: Q = (spark, sfDir) => {
    val dir = entryDir("i41", sfDir)
    graft.TmpOutputs.ensure(dir) {
      import spark.implicits._
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000041", timestampMs = T0)
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")))
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13)
        .orderBy(col("n_nationkey")))
      GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
      GraftTable.merge(spark, dir,
        Seq((1, "ARGENTINA*", 1), (3, "CANADA*", 1), (8, "INDIA*", 2),
          (25, "ATLANTIS", 4))
          .toDF("n_nationkey", "n_name", "n_regionkey"),
        keyCols = Seq("n_nationkey"))
    }
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        count(when(col("n_name").endsWith("*"), 1)).as("n_updated"))
      .orderBy(col("n_regionkey"))
  }

  val mergeApiSql: String =
    """WITH src(n_nationkey, n_name, n_regionkey) AS (
      |  SELECT * FROM (VALUES (1,'ARGENTINA*',1),(3,'CANADA*',1),
      |                        (8,'INDIA*',2),(25,'ATLANTIS',4))),
      |live AS (SELECT n_nationkey, n_name, n_regionkey FROM nation
      |         WHERE n_regionkey <> 2),
      |merged AS (
      |  SELECT l.n_nationkey,
      |    COALESCE(s.n_name, l.n_name) AS n_name,
      |    COALESCE(s.n_regionkey, l.n_regionkey) AS n_regionkey
      |  FROM live l LEFT JOIN src s ON l.n_nationkey = s.n_nationkey
      |  UNION ALL
      |  SELECT s.n_nationkey, s.n_name, s.n_regionkey FROM src s
      |  WHERE s.n_nationkey NOT IN (SELECT n_nationkey FROM live))
      |SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  COUNT(CASE WHEN n_name LIKE '%*' THEN 1 END) AS n_updated
      |FROM merged GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i42
  /** Compaction through the public API, over a table with a pending
    * position delete — BOTH rewrite shapes in one lineage. First a
    * PARTIAL rewrite (`where => n_nationkey < 13`, upstream
    * RewriteDataFiles' filter): only the low-key files rewrite (their
    * deletes materialized), the high-key files carry verbatim and the
    * delete manifest CARRIES — it still addresses them. Then the full
    * rewrite: the MOR-resolved content lands in one target-size file
    * and the replace list carries NO delete manifests (the deletes are
    * physically gone, not just inert). The scan equals the
    * pre-compaction scan throughout; the two replace snapshots and the
    * partial step's carried delete manifest are read back from the
    * final metadata (deterministic — file counts are not). */
  val compactApi: Q = (spark, sfDir) => {
    val dir = entryDir("i42", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000042", timestampMs = T0)
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")))
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13)
        .orderBy(col("n_nationkey")))
      GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
      GraftTable.compact(spark, dir, where = Some("n_nationkey < 13"))
      GraftTable.compact(spark, dir)
    }
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val infos = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
    val replaces = meta.snapshots.filter(_.operation.contains("replace"))
      .sortBy(_.snapshotId)
    val partialInfos = ManifestListReader.read(replaces.head.manifestList.get)
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(
        lit(infos.count(_.content == 0)).as("n_data_manifests"),
        lit(infos.count(_.content == 1)).as("n_delete_manifests"),
        lit(meta.currentSnapshot.get.operation.getOrElse("")).as("op"),
        lit(replaces.size).as("n_replace_snaps"),
        lit(partialInfos.count(_.content == 1)).as("n_partial_delete_manifests"),
        col("n_live"), col("sum_key"))
  }

  val compactApiSql: String =
    """SELECT CAST(1 AS INTEGER) AS n_data_manifests,
      |  CAST(0 AS INTEGER) AS n_delete_manifests, 'replace' AS op,
      |  CAST(2 AS INTEGER) AS n_replace_snaps,
      |  CAST(1 AS INTEGER) AS n_partial_delete_manifests,
      |  COUNT(*) AS n_live, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey <> 2""".stripMargin

  // ---------------------------------------------------------------- i43
  /** Hidden-partitioned writes through the public API: the table is
    * CREATED with spec bucket[4](n_nationkey), and a plain `append`
    * lands one file per bucket with each manifest's field-507 summary
    * carrying its transform-space bucket ordinal — the API writes
    * prunable metadata with no extra step. `readWhere(n_nationkey = 17)`
    * then converts the key through the spec's transform and opens 1 of 4
    * manifests, never touching the rest. Write and read sides share the
    * same murmur3 kernel (the spec-pinned codegen'd expression), which
    * is what makes the round trip safe. */
  val partitionedWrite: Q = (spark, sfDir) => {
    val dir = entryDir("i43", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000043", timestampMs = T0,
        spec = PartitionSpec(0,
          Seq(PartitionField("n_nationkey_bucket", "bucket[4]", 1, 1000))))
      GraftTable.append(spark, dir,
        Tables.load(spark, sfDir, "nation").orderBy(col("n_nationkey")))
    }
    val (df, opened, total) = GraftTable.readWhere(
      spark, GraftTable.latestMetadataPath(dir), sourceFieldId = 1, value = 17)
    df.agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(total).as("n_manifests_total"),
        lit(opened).as("n_manifests_opened"),
        col("n_rows"), col("sum_key"))
  }

  val partitionedWriteSql: String =
    """SELECT CAST(4 AS INTEGER) AS n_manifests_total,
      |  CAST(1 AS INTEGER) AS n_manifests_opened,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_nationkey = 17""".stripMargin

  // ---------------------------------------------------------------- i44
  /** The full lifecycle through the public API, ending in expiry: create
    * → two appends → DELETE → compact (4 snapshots) → expireSnapshots
    * keeping only the compacted head. The metadata drops the expired
    * snapshots, and every artifact reachable only from them — the
    * pre-compaction data files, the position-delete file, their
    * manifests and lists — is physically deleted; the data directory
    * ends up holding exactly the one compacted file, and the scan still
    * equals the logical table. */
  val expireApi: Q = (spark, sfDir) => {
    val dir = entryDir("i44", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000044", timestampMs = T0)
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")))
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13)
        .orderBy(col("n_nationkey")))
      GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
      GraftTable.compact(spark, dir)
      GraftTable.expireSnapshots(spark, dir, keepLast = 1)
    }
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val fs = HadoopConfs.fileSystemFor(dir)
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(meta.snapshots.size).as("n_snapshots"),
        lit(onDisk).as("n_files_on_disk"),
        col("n_rows"), col("sum_key"))
  }

  val expireApiSql: String =
    """SELECT CAST(1 AS INTEGER) AS n_snapshots,
      |  CAST(1 AS INTEGER) AS n_files_on_disk,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey <> 2""".stripMargin

  // ---------------------------------------------------------------- i45
  /** Pruned read COMPOSED with merge-on-read (the r7 refusal, resolved):
    * a bucket[4](n_nationkey)-partitioned table holds a LIVE position
    * delete (key 17), and `readWhere` both prunes — each key predicate
    * converts into bucket space and opens 1 of 4 data manifests, the
    * delete manifest always applies — and hides the deleted row. The
    * deleted key's partition IS scanned (its manifest summary matches)
    * yet returns nothing: the sequence-scoped anti-join runs inside the
    * pruned plan. A second read of a live key in another bucket returns
    * its row, also from one opened manifest. */
  val prunedMorRead: Q = (spark, sfDir) => {
    val dir = entryDir("i45", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000045", timestampMs = T0,
        spec = PartitionSpec(0,
          Seq(PartitionField("n_nationkey_bucket", "bucket[4]", 1, 1000))))
      GraftTable.append(spark, dir,
        Tables.load(spark, sfDir, "nation").orderBy(col("n_nationkey")))
      GraftTable.deleteWhere(spark, dir, col("n_nationkey") === 17)
    }
    val path = GraftTable.latestMetadataPath(dir)
    val (gone, openedGone, total) = GraftTable.readWhere(spark, path, 1, 17)
    val (kept, openedKept, _) = GraftTable.readWhere(spark, path, 1, 18)
    gone.agg(count(lit(1)).as("n_deleted_rows"))
      .crossJoin(kept.agg(count(lit(1)).as("n_live_rows"),
        sum(col("n_nationkey")).cast("long").as("live_key")))
      .select(lit(total).as("n_manifests_total"),
        lit(openedGone).as("opened_deleted_key"),
        lit(openedKept).as("opened_live_key"),
        col("n_deleted_rows"), col("n_live_rows"), col("live_key"))
  }

  val prunedMorReadSql: String =
    """SELECT CAST(4 AS INTEGER) AS n_manifests_total,
      |  CAST(1 AS INTEGER) AS opened_deleted_key,
      |  CAST(1 AS INTEGER) AS opened_live_key,
      |  COUNT(CASE WHEN 1 = 0 THEN 1 END) AS n_deleted_rows,
      |  COUNT(CASE WHEN n_nationkey = 18 THEN 1 END) AS n_live_rows,
      |  CAST(SUM(CASE WHEN n_nationkey = 18 THEN n_nationkey END) AS BIGINT) AS live_key
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i46
  /** Timestamp time travel through the public read: the snapshot-log
    * maps each commit's wall-clock instant to its snapshot (i08's rule —
    * latest entry at-or-before the asked instant), so `read(asOf =
    * T0+2500)` sees both appends but not the later delete, and `read(asOf
    * = T0+1500)` sees only the first append. Commit timestamps are
    * deterministic (base.lastUpdatedMs + 1000 per commit), making the
    * travel points stable at every sf. */
  val asofRead: Q = (spark, sfDir) => {
    val dir = entryDir("i46", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000046", timestampMs = T0)
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")))                          // T0+1000
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13)
        .orderBy(col("n_nationkey")))                          // T0+2000
      GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2) // T0+3000
    }
    val path = GraftTable.latestMetadataPath(dir)
    val early = GraftTable.read(spark, path, asOfTimestampMs = Some(T0 + 1500))
    val mid = GraftTable.read(spark, path, asOfTimestampMs = Some(T0 + 2500))
    early.agg(count(lit(1)).as("n_rows_early"),
        sum(col("n_nationkey")).cast("long").as("sum_early"))
      .crossJoin(mid.agg(count(lit(1)).as("n_rows_mid"),
        sum(col("n_nationkey")).cast("long").as("sum_mid")))
  }

  val asofReadSql: String =
    """SELECT COUNT(CASE WHEN n_nationkey < 13 THEN 1 END) AS n_rows_early,
      |  CAST(SUM(CASE WHEN n_nationkey < 13 THEN n_nationkey END) AS BIGINT) AS sum_early,
      |  COUNT(*) AS n_rows_mid,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_mid
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i47
  /** Whole-table DSv2 read: `spark.read.format("graft-table")` over a
    * committed table with a LIVE position delete. The connector plans
    * from the metadata document (list → manifests, concurrent, sequence
    * inheritance) and applies the position deletes INSIDE each file's
    * partition reader — task-local MOR with no join in the plan, which is
    * how a production v2 reader ships deletes to a 1000-executor scan.
    * The aggregate proves region 2's rows never surface. */
  val dsv2TableRead: Q = (spark, sfDir) => {
    val dir = entryDir("i47", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000047", timestampMs = T0)
      GraftTable.append(spark, dir,
        Tables.load(spark, sfDir, "nation").orderBy(col("n_nationkey")))
      GraftTable.deleteWhere(spark, dir, col("n_regionkey") === 2)
    }
    spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .orderBy(col("n_regionkey"))
  }

  val dsv2TableReadSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey <> 2
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i48
  /** Catalyst-driven manifest pruning through the DSv2 route: the caller
    * writes an ordinary `.filter`, the connector pushes the equality into
    * bucket space and prunes the manifest-list's field-507 summaries. The
    * proof is destructive: every manifest the predicate must prune is
    * OVERWRITTEN WITH GARBAGE in setup — the read returns the right row
    * only if planning never opens them (the i33 corrupted-manifest
    * technique, now behind `spark.read.format("graft-table")`). */
  val dsv2TablePruned: Q = (spark, sfDir) => {
    val dir = entryDir("i48", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000048", timestampMs = T0,
        spec = PartitionSpec(0,
          Seq(PartitionField("n_nationkey_bucket", "bucket[4]", 1, 1000))))
      GraftTable.append(spark, dir,
        Tables.load(spark, sfDir, "nation").orderBy(col("n_nationkey")))
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val listPath = meta.currentSnapshot.get.manifestList.get
      val infos = ManifestListReader.read(listPath)
      val keep = ScanPlanning.pruneManifestsByTransform(infos, meta, 1, Seq(18))
        .map(_.path).toSet
      infos.filterNot(i => keep(i.path)).foreach(i =>
        java.nio.file.Files.write(java.nio.file.Paths.get(i.path),
          "corrupted: planning must never open this manifest".getBytes))
    }
    spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .filter(col("n_nationkey") === 18)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  val dsv2TablePrunedSql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey = 18"

  // ---------------------------------------------------------------- i49
  /** The COMPLETE v2 read contract through the DSv2 route: the i39
    * four-commit table (both delete kinds, sequence scoping, a late
    * append that must escape the older equality delete) read via
    * `spark.read.format("graft-table")`. Both delete kinds apply INSIDE
    * the partition readers — position deletes as row-index skips,
    * equality deletes as task-local value sets under the STRICT
    * lower-sequence rule — so the plan is a bare BatchScan even though
    * the table carries two kinds of pending deletes. Same oracle as i39:
    * the two routes must agree row-for-row. */
  val dsv2FullMor: Q = (spark, sfDir) => {
    val dir = i39Table(spark, sfDir)
    spark.read.format("graft-table")
      .option("metadata", s"$dir/v4.metadata.json").load()
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        count(when(col("n_nationkey") === 20, 1)).as("n_late_key_present"),
        count(when(col("n_nationkey").isin(2, 5), 1)).as("n_deleted_present"))
  }

  val dsv2FullMorSql: String = tableReadSql

  // ---------------------------------------------------------------- i50
  /** Schema evolution through the public API: create (3 columns) →
    * append → `evolveSchema` adds n_comment and advances
    * current-schema-id (a CAS-committed, metadata-only change) → the
    * NEXT append carries the new column with no further ceremony. The
    * read projects everything through the evolved schema: pre-evolution
    * rows null-fill n_comment, post-evolution rows carry real values —
    * both facts pinned in one aggregate. */
  val schemaEvolutionApi: Q = (spark, sfDir) => {
    val dir = entryDir("i50", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000050", timestampMs = T0)
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") < 13)
        .orderBy(col("n_nationkey")))
      GraftTable.evolveSchema(dir, IcebergSchema(1, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"),
        IcebergField(4, "n_comment", required = false, "string"))))
      GraftTable.append(spark, dir, nation.filter(col("n_nationkey") >= 13)
        .withColumn("n_comment", concat(lit("c-"), col("n_name")))
        .orderBy(col("n_nationkey")))
    }
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("n_comment").isNull, 1)).as("n_null_comment"),
        count(col("n_comment")).as("n_with_comment"),
        min(col("n_comment")).as("first_comment"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
  }

  val schemaEvolutionApiSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(CASE WHEN n_nationkey < 13 THEN 1 END) AS n_null_comment,
      |  COUNT(CASE WHEN n_nationkey >= 13 THEN 1 END) AS n_with_comment,
      |  MIN(CASE WHEN n_nationkey >= 13 THEN 'c-' || n_name END) AS first_comment,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i51
  /** Distributed writes through Spark's native writer API:
    * `df.write.format("graft-table").mode("append").save()`. Each task
    * streams its rows into its own parquet file and derives bound stats
    * INLINE; the driver's commit lands one append snapshot through the
    * CAS loop — two saves → two snapshots on one linear history. The
    * proof that task-written stats are real: the low-key data file is
    * OVERWRITTEN WITH GARBAGE after the writes, and the filtered read
    * still answers — file-level bound pruning (manifest stats, no file
    * open) never touches it. */
  val dsv2Write: Q = (spark, sfDir) => {
    val dir = entryDir("i51", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000051", timestampMs = T0)
      def save(df: org.apache.spark.sql.DataFrame): Unit =
        df.orderBy(col("n_nationkey")).coalesce(1)
          .write.format("graft-table")
          .option("metadata", GraftTable.latestMetadataPath(dir))
          .mode("append").save()
      save(nation.filter(col("n_nationkey") < 13))
      save(nation.filter(col("n_nationkey") >= 13))
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val lowFile = ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
        .filter(_.content == 0).flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0)
        .find(e => SingleValueCodec.decode(TInt, e.upperBounds(1)) == 12).get.filePath
      java.nio.file.Files.write(java.nio.file.Paths.get(lowFile),
        "corrupted: task-written bound stats must prune this unopened".getBytes)
    }
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .filter(col("n_nationkey") === 18)
      .select(lit(meta.snapshots.size).as("n_snapshots"),
        col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  val dsv2WriteSql: String =
    """SELECT CAST(2 AS INTEGER) AS n_snapshots, n_nationkey, n_name, n_regionkey
      |FROM nation WHERE n_nationkey = 18""".stripMargin

  // ---------------------------------------------------------------- i52
  /** Hidden-partitioned writes through Spark's native writer API: the
    * Write declares a clustered distribution on the partition source
    * column (`RequiresDistributionAndOrdering` — Catalyst inserts the
    * shuffle), each task splits its rows into one file per murmur3-bucket
    * tuple, and every file commits under its own manifest with the
    * tuple's field-507 summary — so the NATIVE pruned read (readWhere)
    * prunes data another engine route wrote. The proof is destructive
    * again: every manifest the key predicate must prune is overwritten
    * with garbage; the read answers only because planning never opens
    * them. File/manifest COUNTS vary with the cluster's task layout, so
    * the pinned facts are the surviving row and that pruning happened. */
  val dsv2PartitionedWrite: Q = (spark, sfDir) => {
    val dir = entryDir("i52", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000052", timestampMs = T0,
        spec = PartitionSpec(0,
          Seq(PartitionField("n_nationkey_bucket", "bucket[4]", 1, 1000))))
      Tables.load(spark, sfDir, "nation").orderBy(col("n_nationkey"))
        .write.format("graft-table")
        .option("metadata", GraftTable.latestMetadataPath(dir))
        .mode("append").save()
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val listPath = meta.currentSnapshot.get.manifestList.get
      val infos = ManifestListReader.read(listPath)
      val keep = ScanPlanning.pruneManifestsByTransform(infos, meta, 1, Seq(18))
        .map(_.path).toSet
      infos.filterNot(i => keep(i.path)).foreach(i =>
        java.nio.file.Files.write(java.nio.file.Paths.get(i.path),
          "corrupted: planning must never open this manifest".getBytes))
    }
    val (df, opened, total) = GraftTable.readWhere(
      spark, GraftTable.latestMetadataPath(dir), 1, 18)
    df.select(lit(opened < total).as("pruned"),
      col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  val dsv2PartitionedWriteSql: String =
    """SELECT TRUE AS pruned, n_nationkey, n_name, n_regionkey
      |FROM nation WHERE n_nationkey = 18""".stripMargin

  // ---------------------------------------------------------------- i53
  /** Plain SQL end-to-end through the GraftCatalog: CREATE TABLE with a
    * hidden bucket partition, INSERT INTO (the DSv2 write path — shuffle
    * by the clustered distribution, per-tuple files, CAS append), DELETE
    * FROM (SupportsDelete → position-delete merge-on-read commit), and a
    * SELECT aggregate (the DSv2 scan, task-local MOR). No programmatic
    * API in sight — a SQL user of any lakehouse engine could run exactly
    * these statements. Catalog state is nothing but table directories. */
  val sqlLifecycle: Q = (spark, sfDir) => {
    val wh = entryDir("i53", sfDir)
    spark.conf.set("spark.sql.catalog.graft_sql",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i53_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_sql.db.nations
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        PARTITIONED BY (bucket(4, n_nationkey))""")
      spark.sql("""INSERT INTO graft_sql.db.nations
        SELECT n_nationkey, n_name, n_regionkey FROM i53_nation_src""")
      spark.sql("DELETE FROM graft_sql.db.nations WHERE n_regionkey = 2")
    }
    spark.sql("""SELECT n_regionkey, COUNT(*) AS n_live,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      FROM graft_sql.db.nations GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  val sqlLifecycleSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey <> 2
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i54
  /** RANGE predicates prune manifests at the list level: an
    * identity-partitioned table (one manifest per region, each summary an
    * exact identity interval) read through the DSv2 source with a plain
    * `>=` filter — the value range maps through the monotonic transform
    * and planning skips every manifest whose summary interval cannot
    * overlap it. Proof is destructive as usual: the prunable manifests
    * are garbage on disk, the scan answers only because they never open.
    * Equality pruning (i48) covers bucket space; this covers the
    * monotonic family (identity/truncate/year/month/day) where RANGES —
    * the most common analytic predicate — prune too. */
  val rangePrunedScan: Q = (spark, sfDir) => {
    val dir = entryDir("i54", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000054", timestampMs = T0,
        spec = PartitionSpec(0,
          Seq(PartitionField("n_regionkey_id", "identity", 3, 1000))))
      GraftTable.append(spark, dir,
        Tables.load(spark, sfDir, "nation").orderBy(col("n_nationkey")))
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val listPath = meta.currentSnapshot.get.manifestList.get
      val infos = ManifestListReader.read(listPath)
      val keep = ScanPlanning.pruneManifestsByRange(infos, meta, 3, Some(3), None)
        .map(_.path).toSet
      infos.filterNot(i => keep(i.path)).foreach(i =>
        java.nio.file.Files.write(java.nio.file.Paths.get(i.path),
          "corrupted: range pruning must never open this manifest".getBytes))
    }
    spark.read.format("graft-table")
      .option("metadata", GraftTable.latestMetadataPath(dir)).load()
      .filter(col("n_regionkey") >= 3)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .orderBy(col("n_regionkey"))
  }

  val rangePrunedScanSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_rows,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey >= 3
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i55
  /** SQL UPDATE and MERGE INTO — group-based copy-on-write through
    * SupportsRowLevelOperations: Spark scans the AFFECTED groups through
    * the operation's scan (condition pushdown prunes untouched files at
    * both metadata levels), computes replacement rows, and the commit
    * swaps exactly the scanned files in one CAS replace snapshot;
    * untouched files carry forward as EXISTING entries with original
    * sequence numbers. The `_file` metadata attribute rides along so the
    * engine's row projection applies before rows reach the task writers.
    * UPDATE rewrites one key in place; MERGE upserts a matched key and
    * inserts an unmatched one — the full DML surface, in SQL. */
  val sqlUpdateMerge: Q = (spark, sfDir) => {
    val wh = entryDir("i55", sfDir)
    spark.conf.set("spark.sql.catalog.graft_dml",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dml.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i55_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_dml.db.nations
        (n_nationkey INT, n_name STRING, n_regionkey INT)""")
      spark.sql("""INSERT INTO graft_dml.db.nations
        SELECT n_nationkey, n_name, n_regionkey FROM i55_nation_src""")
      spark.sql("""UPDATE graft_dml.db.nations
        SET n_name = concat('upd-', n_name) WHERE n_nationkey = 3""")
      spark.sql("""MERGE INTO graft_dml.db.nations t
        USING (SELECT 5 AS n_nationkey, CAST('MERGED_5' AS STRING) AS n_name, 0 AS n_regionkey
               UNION ALL SELECT 99, 'NEW_99', 4) s
        ON t.n_nationkey = s.n_nationkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    }
    spark.sql("""SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_k,
      MAX(CASE WHEN n_nationkey = 3 THEN n_name END) AS name_3,
      MAX(CASE WHEN n_nationkey = 5 THEN n_name END) AS name_5,
      MAX(CASE WHEN n_nationkey = 99 THEN n_name END) AS name_99
      FROM graft_dml.db.nations""")
  }

  val sqlUpdateMergeSql: String =
    """SELECT COUNT(*) + 1 AS n_rows,
      |  CAST(SUM(n_nationkey) + 99 AS BIGINT) AS sum_k,
      |  'upd-NATION_3' AS name_3, 'MERGED_5' AS name_5, 'NEW_99' AS name_99
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i56
  /** DECIMAL through the SQL route (round-9): CREATE TABLE with a
    * DECIMAL(12,2) money column through the catalog, INSERT through the
    * DSv2 task writers (FIXED_LEN_BYTE_ARRAY per the Iceberg parquet
    * mapping — the type set `IcebergDatumWriter.java:195-197` carries —
    * with bound stats tracked inline through the single-value codec's
    * big-endian unscaled encoding), and SELECT back through the DSv2
    * reader with a pushed decimal range predicate. The two INSERTs split
    * the rows by price band, so the filter's entry-level bound pruning
    * has a file to skip — and the aggregate hash-matches DuckDB doing
    * the same decimal arithmetic on the raw parquet. */
  val sqlDecimal: Q = (spark, sfDir) => {
    val wh = entryDir("i56", sfDir)
    spark.conf.set("spark.sql.catalog.graft_dec2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dec2.warehouse", wh)
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("i56_orders_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_dec2.db.orders
        (o_orderkey BIGINT, o_totalprice DECIMAL(12,2))""")
      spark.sql("""INSERT INTO graft_dec2.db.orders
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2))
        FROM i56_orders_src WHERE o_totalprice < 250000""")
      spark.sql("""INSERT INTO graft_dec2.db.orders
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2))
        FROM i56_orders_src WHERE o_totalprice >= 250000""")
    }
    spark.sql("""SELECT COUNT(*) AS n_big,
      CAST(SUM(o_totalprice) AS DECIMAL(18,2)) AS sum_price,
      CAST(MIN(o_totalprice) AS DECIMAL(12,2)) AS min_price,
      CAST(MAX(o_totalprice) AS DECIMAL(12,2)) AS max_price
      FROM graft_dec2.db.orders WHERE o_totalprice > 300000.00""")
  }

  val sqlDecimalSql: String =
    """SELECT COUNT(*) AS n_big,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS sum_price,
      |  CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS min_price,
      |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS max_price
      |FROM orders WHERE CAST(o_totalprice AS DECIMAL(12,2)) > 300000.00""".stripMargin

  // ---------------------------------------------------------------- i57
  /** Equality-delete WRITES through the public API (round-9): the
    * streaming-upsert shape — one commit lands an equality-delete file on
    * the key columns plus the replacement data file at the SAME sequence
    * number, so the spec's strict rule (equality deletes hit strictly
    * LOWER sequences only) kills every older row with an upserted key
    * while the same-commit replacements survive. No read of existing
    * data, no rewrite: O(input) write I/O — the CDC-stream shape, and
    * the first producer of equality deletes outside fixture builders.
    * Keys 3 and 5 are replaced, key 99 is net-new; the read-back is the
    * composed MOR read. */
  val upsertApi: Q = (spark, sfDir) => {
    val dir = entryDir("i57", sfDir)
    graft.TmpOutputs.ensure(dir) {
      GraftTable.create(dir, IcebergSchema(0, Seq(
        IcebergField(1, "n_nationkey", required = false, "int"),
        IcebergField(2, "n_name", required = false, "string"),
        IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000057", timestampMs = T0)
      GraftTable.append(spark, dir, Tables.load(spark, sfDir, "nation"))
      import spark.implicits._
      val changes = Seq((3, "UPS_3", 3), (5, "UPS_5", 0), (99, "NEW_99", 4))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      GraftTable.upsert(spark, dir, changes, Seq("n_nationkey"))
    }
    GraftTable.read(spark, GraftTable.latestMetadataPath(dir))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_k"),
        max(when(col("n_nationkey") === 3, col("n_name"))).as("name_3"),
        max(when(col("n_nationkey") === 5, col("n_name"))).as("name_5"),
        max(when(col("n_nationkey") === 99, col("n_name"))).as("name_99"))
  }

  val upsertApiSql: String =
    """SELECT COUNT(*) + 1 AS n_rows,
      |  CAST(SUM(n_nationkey) + 99 AS BIGINT) AS sum_k,
      |  'UPS_3' AS name_3, 'UPS_5' AS name_5, 'NEW_99' AS name_99
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i58
  /** SQL UPDATE / DELETE / MERGE in MERGE-ON-READ mode (round-9): the
    * table declares `write.<op>.mode = merge-on-read` and every DML lands
    * through the delta route (`SupportsDelta`) — position-delete files +
    * new data files in ONE snapshot keyed by the scan's (_file, _pos) row
    * coordinates, O(changed rows) write I/O, untouched data never
    * rewritten (MorDmlSpec pins the file-level contract; this entry pins
    * the ANSWER against DuckDB replaying the same DML). The UPDATE
    * renames one key, the MERGE upserts a matched key and inserts a new
    * one, and the subquery DELETE forces the row-level plan (predicate
    * pushdown can't serve it). */
  val sqlMorDml: Q = (spark, sfDir) => {
    val wh = entryDir("i58", sfDir)
    spark.conf.set("spark.sql.catalog.graft_mor",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mor.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i58_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_mor.db.nations
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('write.update.mode'='merge-on-read',
          'write.delete.mode'='merge-on-read',
          'write.merge.mode'='merge-on-read')""")
      spark.sql("""INSERT INTO graft_mor.db.nations
        SELECT n_nationkey, n_name, n_regionkey FROM i58_nation_src""")
      spark.sql("""UPDATE graft_mor.db.nations
        SET n_name = concat('mor-', n_name) WHERE n_nationkey = 7""")
      spark.sql("""MERGE INTO graft_mor.db.nations t
        USING (SELECT 11 AS n_nationkey, CAST('MOR_11' AS STRING) AS n_name, 1 AS n_regionkey
               UNION ALL SELECT 88, 'NEW_88', 3) s
        ON t.n_nationkey = s.n_nationkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      spark.sql("""DELETE FROM graft_mor.db.nations
        WHERE n_nationkey IN (SELECT n_nationkey FROM i58_nation_src
                              WHERE n_nationkey IN (2, 4))""")
    }
    spark.sql("""SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_k,
      MAX(CASE WHEN n_nationkey = 7 THEN n_name END) AS name_7,
      MAX(CASE WHEN n_nationkey = 11 THEN n_name END) AS name_11,
      MAX(CASE WHEN n_nationkey = 88 THEN n_name END) AS name_88,
      COUNT(CASE WHEN n_nationkey IN (2, 4) THEN 1 END) AS n_deleted_present
      FROM graft_mor.db.nations""")
  }

  val sqlMorDmlSql: String =
    """SELECT COUNT(*) - 1 AS n_rows,
      |  CAST(SUM(n_nationkey) + 88 - 2 - 4 AS BIGINT) AS sum_k,
      |  'mor-NATION_7' AS name_7, 'MOR_11' AS name_11, 'NEW_88' AS name_88,
      |  CAST(0 AS BIGINT) AS n_deleted_present
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i59
  /** SQL maintenance procedures — the `CALL catalog.system.<proc>` surface
    * over the CAS machinery: per-task insert files bin-packed by
    * rewrite_data_files, the compacted head tagged, main rolled back one
    * snapshot and fast-forwarded onto the tag, then everything but the
    * head expired (physical cleanup included). The final aggregate runs
    * over the one compacted file that survives — every number a plain
    * GROUP BY over nation for the oracle. */
  val sqlProcedures: Q = (spark, sfDir) => {
    val wh = entryDir("i59", sfDir)
    spark.conf.set("spark.sql.catalog.graft_proc_e",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_proc_e.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i59_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_proc_e.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')""")
      spark.sql("""INSERT INTO graft_proc_e.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i59_nation_src
        WHERE n_regionkey < 2""")
      spark.sql("""INSERT INTO graft_proc_e.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i59_nation_src
        WHERE n_regionkey >= 2""")
      spark.sql(
        "CALL graft_proc_e.system.rewrite_data_files(table => 'db.n')")
      spark.sql("CALL graft_proc_e.system.create_tag('db.n', 'compacted')")
      spark.sql("CALL graft_proc_e.system.rollback_to_snapshot('db.n', 2)")
      spark.sql("CALL graft_proc_e.system.fast_forward('db.n', 'compacted')")
      spark.sql("CALL graft_proc_e.system.expire_snapshots('db.n', 1)")
    }
    spark.sql("""SELECT n_regionkey, COUNT(*) AS n_live,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      FROM graft_proc_e.db.n GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  val sqlProceduresSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i62
  /** Write-audit-publish PURELY from SQL — no programmatic API in sight:
    * `CALL create_branch` forks an `audit` ref, `INSERT INTO
    * t.branch_audit` (the branch-suffixed identifier) stages appends
    * that move ONLY the branch, `VERSION AS OF 'audit'` reads the staged
    * state by ref NAME while main provably still serves the pre-stage
    * rows, and `CALL fast_forward` publishes. This was the last i27
    * capability not drivable end-to-end from SQL; at scale it is how
    * ingest pipelines land data a validation job must approve before
    * analysts can see it. */
  val sqlWap: Q = (spark, sfDir) => {
    val wh = entryDir("i62", sfDir)
    spark.conf.set("spark.sql.catalog.graft_wapx",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wapx.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i62_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_wapx.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')""")
      spark.sql("""INSERT INTO graft_wapx.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i62_nation_src
        WHERE n_regionkey < 3""")
      spark.sql("CALL graft_wapx.system.create_branch(table => 'db.n', branch => 'audit')")
      spark.sql("""INSERT INTO graft_wapx.db.n.branch_audit
        SELECT n_nationkey, n_name, n_regionkey FROM i62_nation_src
        WHERE n_regionkey >= 3""")
      // staged DELETE (round 14): the predicate scans the BRANCH head —
      // it removes a base row AND would see the staged appends — and the
      // delete snapshot moves only the branch ref
      spark.sql("DELETE FROM graft_wapx.db.n.branch_audit WHERE n_nationkey = 0")
      // staged MERGE + UPDATE (round 16): row-level operations plan
      // against the BRANCH head (the MERGE's matched keys include rows
      // BOTH from main's base and the staged appends — proving a
      // branch-head scan) and their replace snapshots move only the
      // branch ref — the WAP story completed for edits
      spark.sql("""MERGE INTO graft_wapx.db.n.branch_audit t
        USING (SELECT n_nationkey FROM i62_nation_src
               WHERE n_nationkey IN (2, 23)) s
        ON t.n_nationkey = s.n_nationkey
        WHEN MATCHED THEN UPDATE SET n_regionkey = t.n_regionkey + 10""")
      spark.sql("""UPDATE graft_wapx.db.n.branch_audit
        SET n_regionkey = 99 WHERE n_nationkey = 24""")
      // audit: main must NOT see staged rows, the staged delete, or any
      // staged edit; the ref-name read must see them all
      val mainRow = spark.sql(
        "SELECT COUNT(*), COUNT(CASE WHEN n_nationkey = 0 THEN 1 END), " +
          "COUNT(CASE WHEN n_regionkey >= 10 THEN 1 END) " +
          "FROM graft_wapx.db.n").head()
      val auditRow = spark.sql(
        "SELECT COUNT(*), COUNT(CASE WHEN n_regionkey >= 10 THEN 1 END) " +
          "FROM graft_wapx.db.n VERSION AS OF 'audit'").head()
      require(mainRow.getLong(0) < auditRow.getLong(0) &&
        mainRow.getLong(1) == 1L && mainRow.getLong(2) == 0L,
        s"staging leaked into main: main=$mainRow audit=$auditRow")
      require(auditRow.getLong(1) == 3L,
        s"branch edits not visible on the branch: audit=$auditRow")
      spark.sql("CALL graft_wapx.system.fast_forward('db.n', 'audit')")
      // round 17: the OTHER WAP flavor for edits — under spark.wap.id on
      // a wap-opted table, an UPDATE commits STAGE-ONLY (provably
      // invisible, no pointer moves), then publish_changes fast-forwards
      // main onto the staged rewrite; the oracle models only the
      // published end state
      spark.sql("""ALTER TABLE graft_wapx.db.n
        SET TBLPROPERTIES ('write.wap.enabled'='true')""")
      spark.conf.set("spark.wap.id", "i62-edit")
      try spark.sql("""UPDATE graft_wapx.db.n
        SET n_regionkey = 42 WHERE n_nationkey = 1""")
      finally spark.conf.unset("spark.wap.id")
      require(spark.sql("""SELECT COUNT(*) FROM graft_wapx.db.n
          WHERE n_regionkey = 42""").head().getLong(0) == 0L,
        "a wap.id staged UPDATE must be invisible until publish_changes")
      spark.sql("CALL graft_wapx.system.publish_changes('db.n', 'i62-edit')")
    }
    spark.sql("""SELECT n_regionkey, COUNT(*) AS n_live,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      FROM graft_wapx.db.n GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  val sqlWapSql: String =
    """SELECT CASE WHEN n_nationkey = 1 THEN 42
      |            WHEN n_nationkey = 24 THEN 99
      |            WHEN n_nationkey IN (2, 23) THEN n_regionkey + 10
      |            ELSE n_regionkey END AS n_regionkey,
      |  COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_nationkey <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- i61
  /** The maintenance schedule a platform team actually runs, end-to-end
    * from SQL: three INSERTs leave three manifests and failed-write
    * debris sits in data/; `CALL rewrite_manifests` consolidates
    * planning metadata (data never read — proven destructively: the
    * pre-rewrite manifests are garbage on disk before the final SELECT),
    * and `CALL remove_orphan_files` reclaims exactly the unreachable
    * debris (the summary row pins the count at 2; committed files all
    * survive or the aggregate breaks). At 100 TB manifest count is the
    * PLANNING bottleneck and stranded files are the STORAGE leak — these
    * two procedures are the scheduled answer to both, and after i59 they
    * complete the SQL-callable maintenance set. */
  val sqlMaintProcs: Q = (spark, sfDir) => {
    val wh = entryDir("i61", sfDir)
    spark.conf.set("spark.sql.catalog.graft_mnt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mnt.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i61_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_mnt.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('commit-timestamp-ms'='1700000000000')""")
      (0 until 3).foreach(r => spark.sql(
        s"""INSERT INTO graft_mnt.db.n
           SELECT n_nationkey, n_name, n_regionkey FROM i61_nation_src
           WHERE MOD(n_regionkey, 3) = $r"""))
      val dir = s"$wh/db/n"
      val fs = HadoopConfs.fileSystemFor(dir)
      Seq("zz-orphan-a.parquet", "zz-orphan-b.parquet").foreach { n =>
        val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/data/$n"))
        out.write("failed-write debris, never committed".getBytes); out.close()
      }
      val preInfos = ManifestListReader.read(TableMetadata
        .parseFile(GraftTable.latestMetadataPath(dir))
        .currentSnapshot.get.manifestList.get).filter(_.content == 0)
      require(preInfos.size == 3, s"expected 3 manifests, got ${preInfos.size}")
      val rw = spark.sql(
        "CALL graft_mnt.system.rewrite_manifests(table => 'db.n')").head()
      require(rw.getInt(0) == 3 && rw.getInt(1) == 1,
        s"rewrite_manifests reported $rw")
      val orph = spark.sql(
        "CALL graft_mnt.system.remove_orphan_files(table => 'db.n')").head()
      require(orph.getInt(0) == 2, s"remove_orphan_files reported $orph")
      // destructive: the consolidated manifest is the ONLY readable one
      preInfos.foreach(i => java.nio.file.Files.write(java.nio.file.Paths.get(PathId(i.path)),
        "corrupted: the consolidated manifest serves all reads now".getBytes))
    }
    spark.sql("""SELECT n_regionkey, COUNT(*) AS n_live,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      FROM graft_mnt.db.n GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  val sqlMaintProcsSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i60
  /** Embeddings live IN the lakehouse: `array<float>` through the full
    * SQL/DSv2 table stack. CREATE TABLE declares the embedding column
    * (the catalog serializes it as the Iceberg canonical list JSON with
    * spec-style nested element ids), INSERT INTO lands the corpus
    * through the task writers' 3-level parquet list encoding, and the
    * cosine top-k reads BOTH sides back from the graft table — the
    * vectorized route, since arrays of vectorizable elements keep
    * columnar eligibility. Query shape is s01's broadcast plan (corpus
    * scans once, never shuffles); the neighbor's label rides along to
    * prove scalar columns coexist with the array. At 100 TB this is the
    * difference between an engine that ANALYZES embeddings and one that
    * can also STORE them with snapshots, time travel, and DML.
    * (Reference type-lattice parity: IcebergDatumWriter.java:124-180
    * walks ARRAY the same outer-first way.) */
  val embeddingTable: Q = (spark, sfDir) => {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val wh = entryDir("i60", sfDir)
    spark.conf.set("spark.sql.catalog.graft_emb",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_emb.warehouse", wh)
    Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("i60_emb_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_emb.db.embeddings
        (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)""")
      spark.sql("""INSERT INTO graft_emb.db.embeddings
        SELECT vec_id, embedding, label FROM i60_emb_src""")
    }
    val emb = spark.table("graft_emb.db.embeddings")
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val cos = dot($"query_emb", $"embedding") /
      (sqrt(dot($"query_emb", $"query_emb")) * sqrt(dot($"embedding", $"embedding")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"label", cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        $"label".as("neighbor_label"), $"cos".as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  val embeddingTableSql: String =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id, c.label,
      |    list_sum([q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE for i in range(1, len(q.embedding) + 1)]) /
      |    (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE for i in range(1, len(q.embedding) + 1)])) *
      |     sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE for i in range(1, len(c.embedding) + 1)]))) AS cos
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 3 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, label, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
      |  label AS neighbor_label, cos AS cosine
      |FROM ranked WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "i62_sql_wap" -> sqlWap,
    "i61_sql_maint_procs" -> sqlMaintProcs,
    "i60_embedding_table" -> embeddingTable,
    "i59_sql_procedures" -> sqlProcedures,
    "i58_sql_mor_dml" -> sqlMorDml,
    "i57_upsert_api" -> upsertApi,
    "i56_sql_decimal" -> sqlDecimal,
    "i55_sql_update_merge" -> sqlUpdateMerge,
    "i54_range_pruned_scan" -> rangePrunedScan,
    "i53_sql_lifecycle" -> sqlLifecycle,
    "i52_dsv2_partitioned_write" -> dsv2PartitionedWrite,
    "i51_dsv2_write" -> dsv2Write,
    "i47_dsv2_table_read" -> dsv2TableRead,
    "i48_dsv2_table_pruned" -> dsv2TablePruned,
    "i49_dsv2_full_mor" -> dsv2FullMor,
    "i50_schema_evolution_api" -> schemaEvolutionApi,
    "i45_pruned_mor_read" -> prunedMorRead,
    "i46_asof_read" -> asofRead,
    "i44_expire_api" -> expireApi,
    "i43_partitioned_write" -> partitionedWrite,
    "i41_merge_api" -> mergeApi,
    "i42_compact_api" -> compactApi,
    "i40_table_dml" -> tableDml,
    "i39_table_read" -> tableRead,
    "i38_changelog_scan" -> changelogScan,
    "i33_list_pruning" -> listPruning,
    "i34_eq_to_pos_rewrite" -> eqToPosRewrite,
    "i35_sort_order_rewrite" -> sortOrderRewrite,
    "i36_seq_scoped_scan" -> seqScopedScan,
    "i37_transform_pruned_scan" -> transformPrunedScan)

  val oracles: Map[String, String] = Map(
    "i62_sql_wap" -> sqlWapSql,
    "i61_sql_maint_procs" -> sqlMaintProcsSql,
    "i60_embedding_table" -> embeddingTableSql,
    "i59_sql_procedures" -> sqlProceduresSql,
    "i58_sql_mor_dml" -> sqlMorDmlSql,
    "i57_upsert_api" -> upsertApiSql,
    "i56_sql_decimal" -> sqlDecimalSql,
    "i55_sql_update_merge" -> sqlUpdateMergeSql,
    "i54_range_pruned_scan" -> rangePrunedScanSql,
    "i53_sql_lifecycle" -> sqlLifecycleSql,
    "i52_dsv2_partitioned_write" -> dsv2PartitionedWriteSql,
    "i51_dsv2_write" -> dsv2WriteSql,
    "i47_dsv2_table_read" -> dsv2TableReadSql,
    "i48_dsv2_table_pruned" -> dsv2TablePrunedSql,
    "i49_dsv2_full_mor" -> dsv2FullMorSql,
    "i50_schema_evolution_api" -> schemaEvolutionApiSql,
    "i45_pruned_mor_read" -> prunedMorReadSql,
    "i46_asof_read" -> asofReadSql,
    "i44_expire_api" -> expireApiSql,
    "i43_partitioned_write" -> partitionedWriteSql,
    "i41_merge_api" -> mergeApiSql,
    "i42_compact_api" -> compactApiSql,
    "i40_table_dml" -> tableDmlSql,
    "i39_table_read" -> tableReadSql,
    "i38_changelog_scan" -> changelogScanSql,
    "i33_list_pruning" -> listPruningSql,
    "i34_eq_to_pos_rewrite" -> eqToPosRewriteSql,
    "i35_sort_order_rewrite" -> sortOrderRewriteSql,
    "i36_seq_scoped_scan" -> seqScopedScanSql,
    "i37_transform_pruned_scan" -> transformPrunedScanSql)
}

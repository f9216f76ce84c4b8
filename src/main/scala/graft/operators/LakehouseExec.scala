package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.iceberg._
import graft.iceberg.IcebergTypes.{TInt, TString}

/** Table-maintenance EXECUTION — the write half that i16/i17 only planned.
  *
  * Each entry builds a real local Iceberg-shaped table from the round's
  * testdata (nation: fixed 25 rows, bit-identical at every sf — so the
  * oracle is plain SQL over the same parquet, no goldens): data files are
  * genuinely written parquet, every manifest stat (record_count,
  * file_size_in_bytes, lower/upper bounds) is DERIVED from the files on
  * disk — never pinned literals — and commits go through
  * MetadataWriter.commitSnapshot, the structure of the reference fixture
  * (src/main/resources/graft/fixtures/v1.metadata.json:38-95). After the
  * commit, every read resolves ONLY the committed document and the
  * containers it references (the same storage gate as i18).
  *
  * - i21: compaction executed — bin-pack plan over real file sizes, the
  *   compacted parquet physically rewritten, stats re-derived from it,
  *   replace-snapshot committed; pre- and post-compaction scans must agree.
  * - i22: row-level DELETE — predicate → (file_path, row_index) capture on
  *   parquet `_metadata` → position-delete parquet file → delete-manifest
  *   routed by manifest_file.content=1 (spec field 517) → delete-snapshot
  *   commit → merge-on-read scan.
  * - i23: snapshot expiry executed — i17's reachability difference, then
  *   the unreachable manifests/list/data files are physically deleted and
  *   the metadata rewritten without the expired snapshot.
  * - i24: schema evolution — add-column commit (schemas[] grows,
  *   current-schema-id advances, v1.metadata.json:7-37 model); old and new
  *   data files read through the evolved schema with null-fill.
  * - i25: ref-based time travel — a tag pins the pre-compaction snapshot;
  *   `AS OF <tag>` resolves through the committed refs map.
  * - i26: MERGE INTO, copy-on-write — only files containing matched keys
  *   are rewritten; untouched files carry forward as EXISTING entries.
  * - i27: write-audit-publish — staged rows commit to a branch (main
  *   pointer untouched), the audit reads the branch from storage, publish
  *   fast-forwards main onto the audited snapshot.
  *
  * Scale notes: manifest/list handling is metadata-scale by construction
  * (KB per document — the same driver-side boundary Iceberg's planner
  * uses); every data read/write is a distributed parquet job. Compaction
  * writes one file per bin via coalesce(1) because a bin IS the rewrite
  * task — at 100 TB there are thousands of bins, each an independent task,
  * parallelism lives across bins, not inside one.
  */
object LakehouseExec {

  type Q = (SparkSession, String) => DataFrame

  /** Fixed commit epoch: synthetic timestamps must be deterministic for
    * the oracle (never wall-clock). */
  private[operators] val T0 = 1700000000000L

  private val schema0 = IcebergSchema(0, Seq(
    IcebergField(1, "n_nationkey", required = false, "int"),
    IcebergField(2, "n_name", required = false, "string"),
    IcebergField(3, "n_regionkey", required = false, "int")))

  /** Evolution target of i24: field 4 added by the add-column commit. */
  private val schema1 = IcebergSchema(1,
    schema0.fields :+ IcebergField(4, "n_name_len", required = false, "int"))

  private[operators] def entryDir(tag: String, sfDir: String): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$tag-${graft.Scratch.procToken}",
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")).toString

  /** Runs independent rewrite tasks concurrently: each bin/file rewrite
    * is its own Spark job, submitted from a small driver pool (Spark's
    * scheduler interleaves their stages across executors), so wall-clock
    * scales with the slowest task instead of the task count — the shape
    * that matters when a 100 TB compaction has thousands of bins.
    * Results keep `items` order (shared with scan planning — Par). */
  private[operators] def inParallel[A, B](items: Seq[A], slots: Int = 8)(f: A => B): Seq[B] =
    graft.iceberg.Par.inParallel(items, slots)(f)

  private[operators] def writeOneParquet(df: DataFrame, outFile: String): Unit =
    ParquetFiles.writeOne(df, outFile)

  /** Manifest entry with every stat DERIVED from the written file: row
    * count and per-column bounds from a scan of the parquet itself,
    * file size from the filesystem — the honesty gate the fabricated
    * stats of the old i18 fixture path lacked. */
  private[operators] def deriveEntry(spark: SparkSession, file: String,
      snapshotId: Long): ManifestWriter.EntryData = {
    val row = ParquetFiles.read(spark, Seq(file)).agg(
      count(lit(1)),
      min(col("n_nationkey")), max(col("n_nationkey")),
      min(col("n_name")), max(col("n_name")),
      min(col("n_regionkey")), max(col("n_regionkey"))).head()
    val lower = Map(
      1 -> SingleValueCodec.encode(TInt, row.getInt(1)),
      2 -> SingleValueCodec.encode(TString, row.getString(3)),
      3 -> SingleValueCodec.encode(TInt, row.getInt(5)))
    val upper = Map(
      1 -> SingleValueCodec.encode(TInt, row.getInt(2)),
      2 -> SingleValueCodec.encode(TString, row.getString(4)),
      3 -> SingleValueCodec.encode(TInt, row.getInt(6)))
    ManifestWriter.EntryData(1, snapshotId, file,
      row.getLong(0), HadoopConfs.length(file), lower, upper)
  }

  private[operators] def baseMetadata(dir: String): TableMetadata = TableMetadata(
    formatVersion = 2, tableUuid = "b6b9a6a1-0000-4000-8000-000000000021",
    location = dir, lastUpdatedMs = T0,
    topLevelSchema = None, currentSchemaId = Some(0), schemas = Seq(schema0),
    partitionSpecs = Seq(PartitionSpec(0, Nil)), defaultSpecId = 0,
    sortOrders = Seq(SortOrder(0, Nil)), defaultSortOrderId = 0,
    properties = Map.empty, currentSnapshotId = None, refs = Nil,
    snapshots = Nil, snapshotLog = Nil, metadataLog = Nil)

  /** Builds the base table: nation split into key-range parquet files,
    * one manifest with derived stats, a manifest-list, and a committed
    * v1 metadata document. Returns the metadata path. */
  private[operators] def buildBase(spark: SparkSession, sfDir: String, dir: String,
      ranges: Seq[(Int, Int)] = Seq((0, 10), (10, 20), (20, 25))): String = {
    val nation = Tables.load(spark, sfDir, "nation")
    val files = inParallel(ranges.zipWithIndex) { case ((lo, hi), i) =>
      val f = s"$dir/data/nation-0000$i.parquet"
      writeOneParquet(
        nation.filter(col("n_nationkey") >= lo && col("n_nationkey") < hi)
          .orderBy(col("n_nationkey")), f)
      f
    }
    val entries = inParallel(files)(f => deriveEntry(spark, f, snapshotId = 1L))
    val manifest = s"$dir/m-0.avro"
    ManifestWriter.write(manifest, entries)
    val list1 = s"$dir/snap-1-list.avro"
    ManifestListWriter.write(list1, Seq(manifest), 1L, addedDataFilesCount = files.size)
    val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
      Map("added-data-files" -> files.size.toString,
        "total-data-files" -> files.size.toString,
        "total-records" -> entries.map(_.recordCount).sum.toString),
      Some(list1), Some(0))
    val v1 = s"$dir/v1.metadata.json"
    MetadataWriter.write(v1, MetadataWriter.commitSnapshot(baseMetadata(dir), snap1, None))
    v1
  }

  /** Data-file entries reachable from a snapshot, from storage only:
    * manifest-list (filtered on the v2 `content` routing field) →
    * distributed manifest scan. */
  private[operators] def fileEntries(spark: SparkSession, snap: Snapshot,
      content: Int = 0): DataFrame = {
    val list = snap.manifestList.getOrElse(
      throw new IllegalStateException(s"snapshot ${snap.snapshotId} has no manifest-list"))
    val manifestPaths = MetadataTables.manifests(spark, list)
      .filter(col("content") === content)
      .select(col("manifest_path")).collect().map(_.getString(0)).toSeq // KB-scale
    require(manifestPaths.nonEmpty, s"no content=$content manifests in $list")
    ManifestReader.entries(spark, manifestPaths)
      .select(col("data_file.file_path").as("file_path"),
        col("data_file.content").as("content"),
        col("data_file.record_count").as("record_count"),
        col("data_file.file_size_in_bytes").as("file_size_in_bytes"),
        col("data_file.lower_bounds").as("lower_bounds"),
        col("data_file.upper_bounds").as("upper_bounds"),
        col("sequence_number"))
  }

  private[operators] def filePaths(spark: SparkSession, snap: Snapshot, content: Int = 0): Seq[String] =
    fileEntries(spark, snap, content).select("file_path")
      .collect().map(_.getString(0)).toSeq

  /** Executes the i16 bin-pack plan against the committed v1 table:
    * cumulative-offset binning over REAL file sizes, one physical parquet
    * rewrite per bin, stats re-derived from the compacted files, and a
    * replace-snapshot commit. Returns the new metadata path. */
  private def execCompaction(spark: SparkSession, dir: String, v1Path: String,
      target: Long = 512L * 1024 * 1024): String = {
    val base = TableMetadata.parseFile(v1Path)
    val snap1 = base.currentSnapshot.getOrElse(
      throw new IllegalStateException("base table has no current snapshot"))
    val w = Window.orderBy(col("file_path"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val planned = fileEntries(spark, snap1)
      .withColumn("cum_end", sum(col("file_size_in_bytes")).over(w))
      .withColumn("bin", floor((col("cum_end") - col("file_size_in_bytes")) / target))
      .select(col("bin"), col("file_path"))
      .collect() // metadata-scale: one row per data file
    val bins = planned.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    val newEntries = inParallel(bins) { case (bin, rows) =>
      val out = f"$dir/data/compacted-${bin}%05d.parquet"
      // the rewrite itself: a distributed read of the bin's files merged
      // into one sorted output file (the bin IS the parallelism unit)
      writeOneParquet(
        ParquetFiles.read(spark, rows.map(_.getString(1)).toIndexedSeq)
          .orderBy(col("n_nationkey")), out)
      deriveEntry(spark, out, snapshotId = 2L)
    }
    val manifest = s"$dir/m-1.avro"
    ManifestWriter.write(manifest, newEntries)
    val list2 = s"$dir/snap-2-list.avro"
    ManifestListWriter.write(list2, Seq(manifest), 2L, addedDataFilesCount = newEntries.size)
    val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("replace"),
      Map("added-data-files" -> newEntries.size.toString,
        "deleted-data-files" -> planned.length.toString,
        "total-data-files" -> newEntries.size.toString,
        "total-records" -> newEntries.map(_.recordCount).sum.toString),
      Some(list2), Some(0))
    val v2 = s"$dir/v2.metadata.json"
    MetadataWriter.write(v2, MetadataWriter.commitSnapshot(base, snap2, Some(v1Path)))
    v2
  }

  // ---------------------------------------------------------------- i21
  /** Compaction executed on real data. The read-back rolls up BOTH
    * snapshots from the committed document: per snapshot, the manifest's
    * derived stats (file count, record sum, decoded n_nationkey bounds)
    * and a fresh distributed scan of the referenced parquet — metadata
    * stats and physical data must tell the same story, and the compacted
    * snapshot must preserve the original content exactly. */
  val compactionExec: Q = (spark, sfDir) => {
    val dir = entryDir("i21", sfDir)
    graft.TmpOutputs.ensure(dir) {
      execCompaction(spark, dir, buildBase(spark, sfDir, dir)); ()
    }
    val committed = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    committed.snapshots.sortBy(_.snapshotId).map { s =>
      val entries = fileEntries(spark, s).collect() // metadata-scale
      val paths = entries.map(_.getAs[String]("file_path")).toIndexedSeq
      val minBound = entries.map(r => SingleValueCodec.decode(TInt,
        r.getAs[scala.collection.Map[Int, Array[Byte]]]("lower_bounds")(1)).asInstanceOf[Int]).min
      val maxBound = entries.map(r => SingleValueCodec.decode(TInt,
        r.getAs[scala.collection.Map[Int, Array[Byte]]]("upper_bounds")(1)).asInstanceOf[Int]).max
      ParquetFiles.read(spark, paths)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("n_nationkey")).cast("long").as("sum_key"),
          countDistinct(col("n_regionkey")).as("n_regions"))
        .select(lit(s.snapshotId).as("snapshot_id"),
          lit(s.operation.getOrElse("")).as("operation"),
          lit(entries.length).cast("long").as("n_files"),
          lit(entries.map(_.getAs[Long]("record_count")).sum).as("n_records_meta"),
          lit(minBound).as("min_key_bound"), lit(maxBound).as("max_key_bound"),
          col("n_rows"), col("sum_key"), col("n_regions"))
    }.reduce(_ unionByName _).orderBy(col("snapshot_id"))
  }

  val compactionExecSql: String =
    """SELECT CAST(1 AS BIGINT) AS snapshot_id, 'append' AS operation,
      |  CAST(3 AS BIGINT) AS n_files, COUNT(*) AS n_records_meta,
      |  CAST(MIN(n_nationkey) AS INTEGER) AS min_key_bound,
      |  CAST(MAX(n_nationkey) AS INTEGER) AS max_key_bound,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS n_regions
      |FROM nation
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'replace', CAST(1 AS BIGINT), COUNT(*),
      |  CAST(MIN(n_nationkey) AS INTEGER), CAST(MAX(n_nationkey) AS INTEGER),
      |  COUNT(*), CAST(SUM(n_nationkey) AS BIGINT),
      |  CAST(COUNT(DISTINCT n_regionkey) AS BIGINT)
      |FROM nation
      |ORDER BY snapshot_id""".stripMargin

  // ---------------------------------------------------------------- i22
  /** Row-level DELETE writing a position-delete file (the v2 MOR write
    * path): DELETE WHERE n_regionkey = 2 captures (file_path, row_index)
    * from parquet `_metadata`, lands them as a position-delete parquet in
    * the i13 schema, commits a delete snapshot whose manifest-list routes
    * the delete manifest via content=1 — then the merge-on-read scan
    * reassembles everything from storage. */
  val deleteDml: Q = (spark, sfDir) => {
    val dir = entryDir("i22", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir)
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      val paths = filePaths(spark, snap1)
      val delFile = s"$dir/data/delete-00000.parquet"
      // predicate → physical row addresses; sorted so the delete file is
      // deterministic (Iceberg requires position deletes sorted by
      // file_path, pos)
      writeOneParquet(
        ParquetFiles.read(spark, paths)
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("n_regionkey"))
          .filter(col("n_regionkey") === 2)
          .select(col("file_path"), col("pos"))
          .orderBy(col("file_path"), col("pos")), delFile)
      val delManifest = s"$dir/m-del.avro"
      // content=1 (spec field 134): the file IS a position-delete file —
      // entry-level routing must agree with the list-level content=1
      ManifestWriter.write(delManifest, Seq(ManifestWriter.EntryData(
        1, 2L, delFile, ParquetFiles.read(spark, Seq(delFile)).count(), HadoopConfs.length(delFile),
        Map.empty, Map.empty, content = 1)))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-0.avro", delManifest), 2L,
        addedDataFilesCount = 0, contents = Map(delManifest -> 1),
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> paths.size))
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("delete"),
        Map("added-delete-files" -> "1", "total-data-files" -> paths.size.toString,
          "total-delete-files" -> "1"),
        Some(list2), Some(0))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(base, snap2, Some(v1)))
    }
    // merge-on-read, storage only: data manifests + delete manifests both
    // resolved through the committed document's manifest-list routing
    val committed = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    val cur = committed.currentSnapshot.get
    val data = ParquetFiles.read(spark, filePaths(spark, cur, content = 0))
      .select(col("*"),
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_pos"))
    val deletes = ParquetFiles.read(spark, filePaths(spark, cur, content = 1))
      .select(col("file_path"), col("pos"))
    Lakehouse.applyPositionDeletes(data, deletes)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .orderBy(col("n_regionkey"))
  }

  val deleteDmlSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey <> 2
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i23
  /** Snapshot expiry EXECUTED: i17's reachability difference (manifests
    * and data files of the expired snapshot not reachable from any
    * retained one), the unreachable artifacts physically deleted, and the
    * metadata rewritten without the expired snapshot. The read-back
    * proves both halves: survivors scan to exactly the original content,
    * and every expired artifact is gone from disk and from the document. */
  val expireExec: Q = (spark, sfDir) => {
    val dir = entryDir("i23", sfDir)
    val v3 = s"$dir/v3.metadata.json"
    graft.TmpOutputs.ensure(dir) {
      val v2 = execCompaction(spark, dir, buildBase(spark, sfDir, dir))
      val committed = TableMetadata.parseFile(v2)
      val snap1 = committed.snapshot(1L).get
      val snap2 = committed.currentSnapshot.get
      // reachability difference — EXCEPT is the distributed anti-join (at
      // a million manifests this runs as the same plan, un-collected)
      val expiredManifests = MetadataTables.manifests(spark, snap1.manifestList.get)
        .select(col("manifest_path"))
        .except(MetadataTables.manifests(spark, snap2.manifestList.get)
          .select(col("manifest_path")))
        .collect().map(_.getString(0)).toSeq
      val expiredFiles = fileEntries(spark, snap1).select(col("file_path"))
        .except(fileEntries(spark, snap2).select(col("file_path")))
        .collect().map(_.getString(0)).toSeq
      (expiredManifests ++ expiredFiles :+ snap1.manifestList.get).foreach { p =>
        HadoopConfs.fileSystemFor(p).delete(new Path(p), false)
      }
      MetadataWriter.write(v3, MetadataWriter.expireSnapshot(
        committed, 1L, snap2.timestampMs + 1000, Some(v2)))
    }
    val meta = TableMetadata.parseFile(v3)
    val cur = meta.currentSnapshot.get
    // by construction these were snapshot 1's artifacts — all must be gone
    val expiredArtifacts = Seq(s"$dir/m-0.avro", s"$dir/snap-1-list.avro") ++
      (0 until 3).map(i => s"$dir/data/nation-0000$i.parquet")
    val nLeft = expiredArtifacts.count(p =>
      HadoopConfs.fileSystemFor(p).exists(new Path(p)))
    ParquetFiles.read(spark, filePaths(spark, cur))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(meta.snapshots.size).as("n_snapshots"),
        lit(meta.snapshot(1L).isDefined).as("expired_resolvable"),
        lit(nLeft).cast("long").as("n_expired_artifacts_left"),
        lit(cur.snapshotId).as("current_snapshot_id"),
        col("n_rows"), col("sum_key"))
  }

  val expireExecSql: String =
    """SELECT CAST(1 AS INTEGER) AS n_snapshots, FALSE AS expired_resolvable,
      |  CAST(0 AS BIGINT) AS n_expired_artifacts_left,
      |  CAST(2 AS BIGINT) AS current_snapshot_id,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i24
  /** Schema-evolution commit: snapshot 1 appends a 3-column file under
    * schema 0; an add-column commit appends schema 1 (field 4,
    * n_name_len) and advances current-schema-id; snapshot 2 appends a
    * 4-column file under schema 1. The read-back projects BOTH files
    * through the evolved schema (old file null-fills the new column) —
    * the versioned-schema model of v1.metadata.json:7-37 /
    * ManifestFileReadTool.java:176-188. */
  val schemaEvolution: Q = (spark, sfDir) => {
    val dir = entryDir("i24", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      val fA = s"$dir/data/nation-v0-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") < 13).orderBy(col("n_nationkey")), fA)
      val mA = s"$dir/m-0.avro"
      ManifestWriter.write(mA, Seq(deriveEntry(spark, fA, 1L)))
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, Seq(mA), 1L, addedDataFilesCount = 1)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list1), Some(0))
      val v1 = s"$dir/v1.metadata.json"
      MetadataWriter.write(v1, MetadataWriter.commitSnapshot(baseMetadata(dir), snap1, None))
      // the add-column commit, then an append THROUGH the evolved schema
      val evolved = MetadataWriter.evolveSchema(TableMetadata.parseFile(v1), schema1, T0 + 1500)
      val fB = s"$dir/data/nation-v1-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") >= 13)
        .withColumn("n_name_len", length(col("n_name")).cast("int"))
        .orderBy(col("n_nationkey")), fB)
      val mB = s"$dir/m-1.avro"
      ManifestWriter.write(mB, Seq(deriveEntry(spark, fB, 2L)))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(mA, mB), 2L, addedDataFilesCount = 1,
        addedSnapshotIds = Map(mA -> 1L))
      val snap2 = Snapshot(2L, Some(1L), T0 + 2000, Some("append"),
        Map("added-data-files" -> "1", "total-data-files" -> "2"), Some(list2), Some(1))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(evolved, snap2, Some(v1)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    // Spark read schema derived from the document's CURRENT schema — the
    // null-fill projection a v2 reader applies to pre-evolution files
    val sparkSchema = StructType(meta.currentSchema.fields.map(f =>
      StructField(f.name, IcebergTypes.fromStringOpt(f.fieldType).getOrElse(
        throw new IllegalStateException(s"unsupported type ${f.fieldType}")).sparkType,
        nullable = true)))
    spark.read.schema(sparkSchema).parquet(filePaths(spark, meta.currentSnapshot.get): _*)
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_name_len")).as("n_with_len"),
        sum(col("n_name_len")).cast("long").as("sum_len"))
      .select(lit(meta.schemas.size).as("n_schemas"),
        lit(meta.currentSchemaId.get).as("current_schema_id"),
        col("n_rows"), col("n_with_len"), col("sum_len"))
  }

  val schemaEvolutionSql: String =
    """SELECT CAST(2 AS INTEGER) AS n_schemas, CAST(1 AS INTEGER) AS current_schema_id,
      |  COUNT(*) AS n_rows,
      |  COUNT(CASE WHEN n_nationkey >= 13 THEN 1 END) AS n_with_len,
      |  CAST(SUM(CASE WHEN n_nationkey >= 13 THEN length(n_name) END) AS BIGINT) AS sum_len
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i25
  /** Ref-based time travel: the compaction commit carries a tag pinning
    * the pre-compaction snapshot; the read resolves `AS OF
    * 'pre-compaction'` through the committed document's refs map
    * (TableMetadata.refs) to the ORIGINAL 3 files — unchanged content
    * even though the current snapshot is the compacted rewrite. */
  val tagTravel: Q = (spark, sfDir) => {
    val dir = entryDir("i25", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v2 = execCompaction(spark, dir, buildBase(spark, sfDir, dir))
      MetadataWriter.write(s"$dir/v3.metadata.json",
        MetadataWriter.createTag(TableMetadata.parseFile(v2), "pre-compaction", 1L))
    }
    val meta = TableMetadata.parseFile(s"$dir/v3.metadata.json")
    val ref = meta.refs.find(_.name == "pre-compaction").getOrElse(
      throw new IllegalStateException("tag 'pre-compaction' not committed"))
    val snap = meta.snapshot(ref.snapshotId).getOrElse(
      throw new IllegalStateException(s"tagged snapshot ${ref.snapshotId} missing"))
    val paths = filePaths(spark, snap)
    ParquetFiles.read(spark, paths)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(ref.name).as("ref_name"), lit(ref.refType).as("ref_type"),
        lit(ref.snapshotId).as("snapshot_id"),
        lit(paths.size).cast("long").as("n_files"),
        col("n_rows"), col("sum_key"))
  }

  val tagTravelSql: String =
    """SELECT 'pre-compaction' AS ref_name, 'tag' AS ref_type,
      |  CAST(1 AS BIGINT) AS snapshot_id, CAST(3 AS BIGINT) AS n_files,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i26
  /** MERGE INTO, copy-on-write: a source of updates (keys 1-3, name gets
    * a '*' suffix) and inserts (two new nations) merges into the table.
    * Only the files that CONTAIN matched keys are rewritten (located via
    * `_metadata.file_path`, exactly Iceberg's COW file granularity) —
    * here keys 1-3 live in one of the three range files, so the other
    * two ride into the new snapshot as untouched EXISTING entries read
    * from the old manifest; inserts land in their own new file. The
    * read-back scans the committed overwrite snapshot only. */
  val mergeDml: Q = (spark, sfDir) => {
    val dir = entryDir("i26", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir)
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      val paths = filePaths(spark, snap1)
      import spark.implicits._
      val updates = Tables.load(spark, sfDir, "nation")
        .filter(col("n_nationkey").isin(1, 2, 3))
        .select(col("n_nationkey"),
          concat(col("n_name"), lit("*")).as("u_name"))
      val inserts = Seq((25, "ATLANTIS", 4), (26, "VALYRIA", 0))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      // COW: which files hold matched keys? (file list is metadata-scale)
      val withFile = ParquetFiles.read(spark, paths)
        .select(col("*"), col("_metadata.file_path").as("_file"))
      val affected = withFile.join(updates, Seq("n_nationkey"), "left_semi")
        .select(col("_file")).distinct().collect().map(_.getString(0)).toSet
      // `_metadata.file_path` is a URI (file:///...), manifest entries hold
      // plain paths — compare their path ids
      val affectedPaths = affected.map(PathId(_))
      // rewrite each affected file in place of its old entry: unmatched
      // rows pass through, matched rows take the update
      val rewrittenEntries = inParallel(affected.toSeq.sorted.zipWithIndex) { case (f, i) =>
        val out = f"$dir/data/merged-${i}%05d.parquet"
        writeOneParquet(
          withFile.filter(col("_file") === f)
            .join(updates, Seq("n_nationkey"), "left_outer")
            .select(col("n_nationkey"),
              coalesce(col("u_name"), col("n_name")).as("n_name"),
              col("n_regionkey"))
            .orderBy(col("n_nationkey")), out)
        deriveEntry(spark, out, snapshotId = 2L)
      }
      val insertFile = s"$dir/data/merge-insert-00000.parquet"
      writeOneParquet(inserts.orderBy(col("n_nationkey")), insertFile)
      // untouched files carry forward as EXISTING entries, stats straight
      // from the previous manifest (never recomputed, never fabricated)
      val oldEntries = ManifestWriter.read(s"$dir/m-0.avro")
      val untouched = oldEntries
        .filterNot(e => affectedPaths.contains(PathId(e.filePath)))
        .map(e => e.copy(status = 0, snapshotId = 2L))
      require(oldEntries.size - untouched.size == affectedPaths.size,
        "every COW-affected file must match exactly one manifest entry — " +
          "a path-format mismatch here would silently duplicate rows")
      val manifest = s"$dir/m-merge.avro"
      ManifestWriter.write(manifest,
        untouched ++ rewrittenEntries :+ deriveEntry(spark, insertFile, 2L))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(manifest), 2L,
        addedDataFilesCount = rewrittenEntries.size + 1)
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("overwrite"),
        Map("added-data-files" -> (rewrittenEntries.size + 1).toString,
          "deleted-data-files" -> affected.size.toString),
        Some(list2), Some(0))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(base, snap2, Some(v1)))
    }
    val committed = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    val cur = committed.currentSnapshot.get
    val paths = filePaths(spark, cur)
    ParquetFiles.read(spark, paths)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        count(when(col("n_name").endsWith("*"), 1)).as("n_updated"))
      .select(col("n_regionkey"), lit(paths.size).cast("long").as("n_files"),
        col("n_rows"), col("sum_key"), col("n_updated"))
      .orderBy(col("n_regionkey"))
  }

  /** Oracle replays the merge in SQL: updates to keys 1-3, two inserts;
    * n_files pins the COW granularity (3 original − 1 rewritten-in-place
    * + 1 insert file = 4). */
  val mergeDmlSql: String =
    """WITH merged AS (
      |  SELECT n_nationkey,
      |    CASE WHEN n_nationkey IN (1,2,3) THEN n_name || '*' ELSE n_name END AS n_name,
      |    n_regionkey
      |  FROM nation
      |  UNION ALL
      |  SELECT * FROM (VALUES (25, 'ATLANTIS', 4), (26, 'VALYRIA', 0))
      |    v(n_nationkey, n_name, n_regionkey))
      |SELECT n_regionkey, CAST(4 AS BIGINT) AS n_files, COUNT(*) AS n_rows,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  COUNT(CASE WHEN n_name LIKE '%*' THEN 1 END) AS n_updated
      |FROM merged GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i27
  /** Write-audit-publish over a branch: staged rows commit to branch
    * `audit` (main pointer untouched — readers of main cannot see them),
    * the audit step validates the branch scan FROM STORAGE, and the
    * publish step fast-forwards main onto the audited snapshot. The
    * read-back proves the final state: main and audit resolve to the same
    * head and the main scan now contains the staged rows. */
  val wapPublish: Q = (spark, sfDir) => {
    val dir = entryDir("i27", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir)
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      import spark.implicits._
      // stage: append two rows on branch `audit`
      val staged = s"$dir/data/staged-00000.parquet"
      writeOneParquet(Seq((25, "ATLANTIS", 4), (26, "VALYRIA", 0))
        .toDF("n_nationkey", "n_name", "n_regionkey")
        .orderBy(col("n_nationkey")), staged)
      val mStage = s"$dir/m-stage.avro"
      ManifestWriter.write(mStage, Seq(deriveEntry(spark, staged, 2L)))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-0.avro", mStage), 2L,
        addedDataFilesCount = 1,
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> 3))
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list2), Some(0))
      val v2 = s"$dir/v2.metadata.json"
      MetadataWriter.write(v2, MetadataWriter.commitToBranch(base, snap2, "audit", Some(v1)))
      // audit: main must NOT see staged rows yet; the branch must. Both
      // checks read the staged document from storage.
      val stagedMeta = TableMetadata.parseFile(v2)
      require(stagedMeta.currentSnapshotId.contains(1L),
        "WAP staging must leave the main pointer untouched")
      val auditRef = stagedMeta.refs.find(_.name == "audit").get
      val auditRows = spark.read
        .parquet(filePaths(spark, stagedMeta.snapshot(auditRef.snapshotId).get): _*)
      require(auditRows.filter(col("n_nationkey").isNull).isEmpty,
        "audit failed: staged data has null keys")
      // publish: fast-forward main onto the audited snapshot
      MetadataWriter.write(s"$dir/v3.metadata.json", MetadataWriter.fastForward(
        stagedMeta, auditRef.snapshotId, snap2.timestampMs + 1000, Some(v2)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v3.metadata.json")
    val mainAt = meta.currentSnapshot.get
    val auditAt = meta.refs.find(_.name == "audit").get.snapshotId
    val paths = filePaths(spark, mainAt)
    ParquetFiles.read(spark, paths)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(mainAt.snapshotId).as("main_at"), lit(auditAt).as("audit_at"),
        lit(paths.size).cast("long").as("n_files"),
        col("n_rows"), col("sum_key"))
  }

  val wapPublishSql: String =
    """SELECT CAST(2 AS BIGINT) AS main_at, CAST(2 AS BIGINT) AS audit_at,
      |  CAST(4 AS BIGINT) AS n_files, COUNT(*) + 2 AS n_rows,
      |  CAST(SUM(n_nationkey) + 51 AS BIGINT) AS sum_key
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i28
  /** Full v2 MOR DML: ONE delete snapshot carrying BOTH delete-file
    * kinds, routed by the spec's data_file.content field (134) — a
    * position-delete file (rows of n_regionkey=2, addressed by
    * (file_path, row_index)) and an equality-delete file (schema = the
    * equality column n_name, carrying the names of nations 0 and 14).
    * The merge-on-read scan reassembles everything from the committed
    * document: data manifests (list content=0), delete manifests (list
    * content=1), then entry-level routing 1=position / 2=equality, then
    * both delete kinds layered — the complete v2 read contract, with the
    * complete v2 WRITE path producing its inputs. */
  val morDml: Q = (spark, sfDir) => {
    val dir = entryDir("i28", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir)
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      val paths = filePaths(spark, snap1)
      val withMeta = ParquetFiles.read(spark, paths)
        .select(col("*"),
          col("_metadata.file_path").as("_file"),
          col("_metadata.row_index").as("_pos"))
      // position deletes: DELETE WHERE n_regionkey = 2
      val posFile = s"$dir/data/pos-delete-00000.parquet"
      writeOneParquet(withMeta.filter(col("n_regionkey") === 2)
        .select(col("_file").as("file_path"), col("_pos").as("pos"))
        .orderBy(col("file_path"), col("pos")), posFile)
      // equality deletes: DELETE WHERE n_name IN (names of nations 0, 14)
      // — the file's schema IS the equality column list
      val eqFile = s"$dir/data/eq-delete-00000.parquet"
      writeOneParquet(withMeta.filter(col("n_nationkey").isin(0, 14))
        .select(col("n_name")).orderBy(col("n_name")), eqFile)
      val delManifest = s"$dir/m-del.avro"
      ManifestWriter.write(delManifest, Seq(
        ManifestWriter.EntryData(1, 2L, posFile,
          ParquetFiles.read(spark, Seq(posFile)).count(), HadoopConfs.length(posFile),
          Map.empty, Map.empty, content = 1),
        ManifestWriter.EntryData(1, 2L, eqFile,
          ParquetFiles.read(spark, Seq(eqFile)).count(), HadoopConfs.length(eqFile),
          Map.empty, Map.empty, content = 2)))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-0.avro", delManifest), 2L,
        addedDataFilesCount = 0, contents = Map(delManifest -> 1),
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> paths.size))
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("delete"),
        Map("added-delete-files" -> "2", "total-delete-files" -> "2"),
        Some(list2), Some(0))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(base, snap2, Some(v1)))
    }
    val committed = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    val cur = committed.currentSnapshot.get
    // entry-level routing: position vs equality delete files
    val delEntries = fileEntries(spark, cur, content = 1)
      .select(col("file_path"), col("content")).collect()
    def delPaths(kind: Int): Seq[String] =
      delEntries.filter(_.getInt(1) == kind).map(_.getString(0)).toIndexedSeq
    val data = ParquetFiles.read(spark, filePaths(spark, cur, content = 0))
      .select(col("*"),
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_pos"))
    val posApplied = Lakehouse.applyPositionDeletes(data,
      ParquetFiles.read(spark, delPaths(1)).select(col("file_path"), col("pos")))
    Lakehouse.applyEqualityDeletes(posApplied,
      ParquetFiles.read(spark, delPaths(2)))
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_live"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .orderBy(col("n_regionkey"))
  }

  val morDmlSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation o
      |WHERE n_regionkey <> 2
      |  AND NOT EXISTS (SELECT 1 FROM nation d
      |                  WHERE d.n_nationkey IN (0, 14) AND d.n_name = o.n_name)
      |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i29
  /** Partition-pruned scan EXECUTED: the table is written identity-
    * partitioned by n_regionkey (one file per region, the partition spec
    * recorded in the committed metadata), and the scan for one region
    * plans through the DSv2 manifest source's typed bound columns —
    * `lower_n_regionkey <= 3 <= upper_n_regionkey` decided from manifest
    * stats DERIVED from the written files, so 4 of 5 files are skipped
    * without ever being opened. This is Iceberg's metadata file-skipping
    * read path end-to-end on a real written table (i03 proves the same
    * pruning on the reference fixture); for identity partitioning the
    * bounds ARE the partition tuple, which is why Iceberg can treat
    * partitioning as just another stats dimension. The data read is the
    * distributed parquet scan of the surviving file list. */
  val partitionPrunedExec: Q = (spark, sfDir) => {
    val dir = entryDir("i29", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      val files = inParallel(0 until 5) { r =>
        val f = s"$dir/data/region-$r.parquet"
        writeOneParquet(nation.filter(col("n_regionkey") === r)
          .orderBy(col("n_nationkey")), f)
        f
      }
      val entries = inParallel(files)(f => deriveEntry(spark, f, snapshotId = 1L))
      ManifestWriter.write(s"$dir/m-0.avro", entries)
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, Seq(s"$dir/m-0.avro"), 1L,
        addedDataFilesCount = files.size)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> files.size.toString), Some(list1), Some(0))
      // the hidden-partitioning contract lives in the committed spec
      val withSpec = baseMetadata(dir).copy(partitionSpecs = Seq(PartitionSpec(0,
        Seq(PartitionField("n_regionkey", "identity", 3, 1000)))))
      MetadataWriter.write(s"$dir/v1.metadata.json",
        MetadataWriter.commitSnapshot(withSpec, snap1, None))
    }
    // scan planning: typed bound columns + filter pushdown over the
    // manifest (KB-scale); only the surviving file list reaches the
    // distributed parquet read
    val survivors = spark.read.format("graft-manifest")
      .option("metadata", s"$dir/v1.metadata.json")
      .load(s"$dir/m-0.avro")
      .filter(col("lower_n_regionkey") <= 3 && col("upper_n_regionkey") >= 3)
      .select(col("data_file.file_path"))
      .collect().map(_.getString(0)).toIndexedSeq
    ParquetFiles.read(spark, survivors)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(survivors.size).as("n_files_scanned"), lit(5).as("n_files_total"),
        col("n_rows"), col("sum_key"))
  }

  val partitionPrunedExecSql: String =
    """SELECT CAST(1 AS INTEGER) AS n_files_scanned, CAST(5 AS INTEGER) AS n_files_total,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey = 3""".stripMargin

  // ---------------------------------------------------------------- i30
  /** Incremental append scan (Iceberg's incremental consumption / CDC
    * read): snapshot 1 holds keys <20, snapshot 2 appends keys >=20; the
    * incremental reader consumes ONLY the files ADDED by snapshot 2 —
    * selected by the manifest entries' (snapshot_id, status=ADDED)
    * fields, exactly the metadata an incremental planner uses — and never
    * rescans the base data. */
  val incrementalScan: Q = (spark, sfDir) => {
    val dir = entryDir("i30", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val v1 = buildBase(spark, sfDir, dir, ranges = Seq((0, 10), (10, 20)))
      val base = TableMetadata.parseFile(v1)
      val snap1 = base.currentSnapshot.get
      val nation = Tables.load(spark, sfDir, "nation")
      val f = s"$dir/data/nation-append-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") >= 20)
        .orderBy(col("n_nationkey")), f)
      val m1 = s"$dir/m-1.avro"
      ManifestWriter.write(m1, Seq(deriveEntry(spark, f, snapshotId = 2L)))
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(s"$dir/m-0.avro", m1), 2L,
        addedDataFilesCount = 1,
        addedSnapshotIds = Map(s"$dir/m-0.avro" -> 1L),
        addedCounts = Map(s"$dir/m-0.avro" -> 2))
      val snap2 = Snapshot(2L, Some(1L), snap1.timestampMs + 1000, Some("append"),
        Map("added-data-files" -> "1", "total-data-files" -> "3"),
        Some(list2), Some(0))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(base, snap2, Some(v1)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    val cur = meta.currentSnapshot.get
    // incremental selection in BOTH Iceberg levels: the manifest-list's
    // added_snapshot_id (field 503) picks only the manifests this commit
    // added — carried-forward manifests are never opened — then the
    // entries' (snapshot_id, status=ADDED) fields select the files
    val manifestPaths = ManifestListReader.read(cur.manifestList.get)
      .filter(_.addedSnapshotId == cur.snapshotId).map(_.path)
    val added = ManifestReader.entries(spark, manifestPaths)
      .filter(col("snapshot_id") === cur.snapshotId && col("status") === 1)
      .select(col("data_file.file_path"))
      .collect().map(_.getString(0)).toIndexedSeq
    ParquetFiles.read(spark, added)
      .agg(count(lit(1)).as("n_rows"),
        min(col("n_nationkey")).as("min_key"), max(col("n_nationkey")).as("max_key"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(added.size).as("n_added_files"), col("n_rows"),
        col("min_key"), col("max_key"), col("sum_key"))
  }

  val incrementalScanSql: String =
    """SELECT CAST(1 AS INTEGER) AS n_added_files, COUNT(*) AS n_rows,
      |  MIN(n_nationkey) AS min_key, MAX(n_nationkey) AS max_key,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_nationkey >= 20""".stripMargin

  // ---------------------------------------------------------------- i31
  /** Orphan-file cleanup executed (remove_orphan_files): debris files in
    * the data directory that NO snapshot references — failed-write
    * leftovers — are found and deleted by the engine's DISTRIBUTED sweep
    * (GraftTable.removeOrphanFiles): referenced paths as a Spark scan of
    * the manifests through the graft-manifest DSv2 source, the directory
    * listing streamed executor-side, a LEFT ANTI join for the
    * difference, executor-side deletes — never a file-count-proportional
    * driver set. The dry run gates the candidate count BEFORE anything
    * deletes (a path-normalization bug here would delete live data); the
    * read-back proves the table is intact (scan equals nation) and the
    * directory holds exactly the referenced files. */
  val orphanCleanup: Q = (spark, sfDir) => {
    val dir = entryDir("i31", sfDir)
    val orphans = Seq(s"$dir/data/orphan-00000.parquet", s"$dir/data/orphan-00001.parquet")
    graft.TmpOutputs.ensure(dir) {
      buildBase(spark, sfDir, dir)
      // simulate failed-write debris: parquet in the data dir, never
      // committed to any snapshot
      orphans.foreach(p => writeOneParquet(
        Tables.load(spark, sfDir, "nation").limit(3), p))
      val wouldDelete = GraftTable.removeOrphanFiles(spark, dir, dryRun = true)
      require(wouldDelete == orphans.size,
        s"orphan sweep found $wouldDelete candidates, expected ${orphans.size} — " +
          "a path-normalization bug here would delete live data")
      val deleted = GraftTable.removeOrphanFiles(spark, dir)
      require(deleted == orphans.size,
        s"orphan sweep deleted $deleted files, expected ${orphans.size}")
    }
    val meta = TableMetadata.parseFile(s"$dir/v1.metadata.json")
    val cur = meta.currentSnapshot.get
    val paths = filePaths(spark, cur)
    val fs = HadoopConfs.fileSystemFor(dir)
    val onDisk = fs.listStatus(new Path(s"$dir/data")).map(_.getPath.getName)
      .count(_.endsWith(".parquet"))
    val orphansLeft = orphans.count(p => fs.exists(new Path(p)))
    ParquetFiles.read(spark, paths)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(onDisk).as("n_files_on_disk"),
        lit(paths.size).as("n_referenced"),
        lit(orphansLeft).as("orphans_left"),
        col("n_rows"), col("sum_key"))
  }

  val orphanCleanupSql: String =
    """SELECT CAST(3 AS INTEGER) AS n_files_on_disk, CAST(3 AS INTEGER) AS n_referenced,
      |  CAST(0 AS INTEGER) AS orphans_left,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i32
  /** Partition-spec evolution with the mixed-spec scan it forces:
    * snapshot 1 appends one UNPARTITIONED file (spec 0, keys <13); the
    * spec evolves to identity(n_regionkey) (spec 1, default-spec-id
    * advanced, old spec retained); snapshot 2 appends one file per region
    * under spec 1 (keys >=13), each manifest's spec id recorded in the
    * manifest-list (field 502). A region-3 scan must then do what a real
    * mixed-spec reader does: files under spec 1 prune by partition (only
    * the region-3 file survives), while the pre-evolution file CANNOT be
    * partition-pruned and is read with the residual predicate — the
    * subtlety that makes partition evolution safe in Iceberg. */
  val specEvolution: Q = (spark, sfDir) => {
    val dir = entryDir("i32", sfDir)
    graft.TmpOutputs.ensure(dir) {
      val nation = Tables.load(spark, sfDir, "nation")
      val fA = s"$dir/data/unpart-00000.parquet"
      writeOneParquet(nation.filter(col("n_nationkey") < 13).orderBy(col("n_nationkey")), fA)
      val mA = s"$dir/m-0.avro"
      ManifestWriter.write(mA, Seq(deriveEntry(spark, fA, 1L)))
      val list1 = s"$dir/snap-1-list.avro"
      ManifestListWriter.write(list1, Seq(mA), 1L, addedDataFilesCount = 1)
      val snap1 = Snapshot(1L, None, T0 + 1000, Some("append"),
        Map("added-data-files" -> "1"), Some(list1), Some(0))
      val v1 = s"$dir/v1.metadata.json"
      MetadataWriter.write(v1, MetadataWriter.commitSnapshot(baseMetadata(dir), snap1, None))
      // evolve: identity(n_regionkey) becomes the default spec
      val evolved = MetadataWriter.evolvePartitionSpec(TableMetadata.parseFile(v1),
        PartitionSpec(1, Seq(PartitionField("n_regionkey", "identity", 3, 1000))),
        T0 + 1500)
      // append under the NEW spec: one file per region present in keys >=13
      val regions = Tables.load(spark, sfDir, "nation")
        .filter(col("n_nationkey") >= 13).select(col("n_regionkey"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
      val entriesB = inParallel(regions) { r =>
        val f = s"$dir/data/spec1-region-$r.parquet"
        writeOneParquet(nation.filter(col("n_nationkey") >= 13 && col("n_regionkey") === r)
          .orderBy(col("n_nationkey")), f)
        deriveEntry(spark, f, 2L)
      }
      val mB = s"$dir/m-1.avro"
      ManifestWriter.write(mB, entriesB)
      val list2 = s"$dir/snap-2-list.avro"
      ManifestListWriter.write(list2, Seq(mA, mB), 2L,
        addedDataFilesCount = entriesB.size, specIds = Map(mA -> 0, mB -> 1),
        addedSnapshotIds = Map(mA -> 1L), addedCounts = Map(mA -> 1))
      val snap2 = Snapshot(2L, Some(1L), T0 + 2000, Some("append"),
        Map("added-data-files" -> entriesB.size.toString), Some(list2), Some(0))
      MetadataWriter.write(s"$dir/v2.metadata.json",
        MetadataWriter.commitSnapshot(evolved, snap2, Some(v1)))
    }
    val meta = TableMetadata.parseFile(s"$dir/v2.metadata.json")
    val cur = meta.currentSnapshot.get
    // mixed-spec planning: route each manifest by its recorded spec id
    val manifests = MetadataTables.manifests(spark, cur.manifestList.get)
      .select(col("manifest_path"), col("partition_spec_id"))
      .collect() // KB-scale
    var total = 0
    val survivors = manifests.flatMap { r =>
      val entries = ManifestWriter.read(r.getString(0))
      total += entries.size
      if (r.getInt(1) == 0) entries.map(_.filePath) // pre-evolution: unprunable
      else entries.filter { e =>
        val lo = SingleValueCodec.decode(TInt, e.lowerBounds(3)).asInstanceOf[Int]
        val hi = SingleValueCodec.decode(TInt, e.upperBounds(3)).asInstanceOf[Int]
        lo <= 3 && 3 <= hi
      }.map(_.filePath)
    }.toIndexedSeq
    ParquetFiles.read(spark, survivors)
      .filter(col("n_regionkey") === 3) // residual: the spec-0 file is mixed
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .select(lit(meta.partitionSpecs.size).as("n_specs"),
        lit(meta.defaultSpecId).as("default_spec_id"),
        lit(total).cast("long").as("n_files_total"),
        lit(survivors.size).cast("long").as("n_files_scanned"),
        col("n_rows"), col("sum_key"))
  }

  val specEvolutionSql: String =
    """SELECT CAST(2 AS INTEGER) AS n_specs, CAST(1 AS INTEGER) AS default_spec_id,
      |  CAST(1 + (SELECT COUNT(DISTINCT n_regionkey) FROM nation WHERE n_nationkey >= 13)
      |    AS BIGINT) AS n_files_total,
      |  CAST(1 + (SELECT COUNT(DISTINCT n_regionkey) FROM nation
      |            WHERE n_nationkey >= 13 AND n_regionkey = 3)
      |    AS BIGINT) AS n_files_scanned,
      |  COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation WHERE n_regionkey = 3""".stripMargin

  val queries: Map[String, Q] = Map(
    "i32_spec_evolution" -> specEvolution,
    "i30_incremental_scan" -> incrementalScan,
    "i31_orphan_cleanup" -> orphanCleanup,
    "i21_compaction_exec" -> compactionExec,
    "i22_delete_dml" -> deleteDml,
    "i23_expire_exec" -> expireExec,
    "i24_schema_evolution" -> schemaEvolution,
    "i25_tag_travel" -> tagTravel,
    "i26_merge_dml" -> mergeDml,
    "i27_wap_publish" -> wapPublish,
    "i28_mor_dml" -> morDml,
    "i29_partition_pruned_exec" -> partitionPrunedExec)

  val oracles: Map[String, String] = Map(
    "i32_spec_evolution" -> specEvolutionSql,
    "i30_incremental_scan" -> incrementalScanSql,
    "i31_orphan_cleanup" -> orphanCleanupSql,
    "i21_compaction_exec" -> compactionExecSql,
    "i22_delete_dml" -> deleteDmlSql,
    "i23_expire_exec" -> expireExecSql,
    "i24_schema_evolution" -> schemaEvolutionSql,
    "i25_tag_travel" -> tagTravelSql,
    "i26_merge_dml" -> mergeDmlSql,
    "i27_wap_publish" -> wapPublishSql,
    "i28_mor_dml" -> morDmlSql,
    "i29_partition_pruned_exec" -> partitionPrunedExecSql)
}

package graft.iceberg

import graft.{SparkSpec, Tables}

/** `compute_table_stats` → the metadata `statistics` entry → the scan's
  * V2 columnStats → Spark CBO attribute statistics: the whole ANALYZE
  * loop, plus the staleness/expiry rules around it. */
class TableStatsSpec extends SparkSpec {

  test("ANALYZE lands a statistics file and CBO sees per-column stats") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats").toString
    spark.conf.set("spark.sql.catalog.gstat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstat.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("gstat_nation")
    spark.sql("CREATE TABLE gstat.db.t (k BIGINT, name STRING, r BIGINT)")
    spark.sql("""INSERT INTO gstat.db.t
      SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN NULL ELSE n_name END,
        n_regionkey FROM gstat_nation""")
    val dir = s"$wh/db/t"

    val out = spark.sql("CALL gstat.system.compute_table_stats(table => 'db.t')").head
    assert(out.getLong(1) == 25L, "row_count")
    assert(out.getInt(2) == 3, "analyzed_columns_count")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta.statistics.size == 1 &&
      meta.statistics.head.snapshotId == out.getLong(0))
    val doc = TableStats.read(meta.statistics.head.path)
    assert(doc.rowCount == 25L)
    // the blob is a spec-layout Puffin container: leading magic, a
    // trailing [Magic|payload|size(i32 LE)|flags|Magic] footer, blob
    // offsets/lengths that really address the bodies, and the recorded
    // file size exact
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(meta.statistics.head.path))
    assert(raw.length.toLong == meta.statistics.head.fileSizeInBytes)
    val magic = "PFA1".getBytes("UTF-8")
    assert(raw.take(4).sameElements(magic) && raw.takeRight(4).sameElements(magic))
    val psize = java.nio.ByteBuffer.wrap(raw, raw.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val footerJson = new String(raw, raw.length - 12 - psize, psize, "UTF-8")
    val footer = new com.fasterxml.jackson.databind.ObjectMapper().readTree(footerJson)
    import scala.jdk.CollectionConverters._
    val blobs = footer.get("blobs").elements().asScala.toSeq
    // 3 engine NDV blobs + 3 standard theta blobs (k/name/r all eligible)
    assert(blobs.size == 6)
    blobs.filter(_.get("type").asText == "graft-ndv-v1").foreach { b =>
      val off = b.get("offset").asLong.toInt
      val len = b.get("length").asLong.toInt
      val body = new String(raw, off, len, "UTF-8")
      assert(body.startsWith("{") && body.contains("ndv"), body)
    }
    assert(blobs.count(_.get("type").asText ==
      "apache-datasketches-theta-v1") == 3)
    // exact quantities exact, the HLL estimate within its error bound
    val kId = meta.currentSchema.fields.find(_.name == "k").get.id
    val nameId = meta.currentSchema.fields.find(_.name == "name").get.id
    assert(doc.columns(nameId).nullCount.contains(1L))
    assert(math.abs(doc.columns(kId).ndv - 25L) <= 2L, doc.columns(kId).toString)

    // re-analyzing the SAME snapshot replaces, never accumulates — and
    // the replaced blob reclaims immediately
    spark.sql("CALL gstat.system.compute_table_stats(table => 'db.t')")
    val afterReplace = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(afterReplace.statistics.size == 1)
    assert(!new java.io.File(meta.statistics.head.path).exists(),
      "replaced stats blob must reclaim")

    // CBO: the optimized scan relation carries attribute stats — NDV and
    // null count from the blob, min/max from the manifest bounds
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.sql("SELECT k, name FROM gstat.db.t")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(25)), stats.toString)
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      val kStat = byName("k")
      assert(kStat.distinctCount.exists(d => (d - 25).abs <= 2), kStat.toString)
      assert(kStat.min.contains(0L) && kStat.max.contains(24L), kStat.toString)
      assert(byName("name").nullCount.contains(BigInt(1)), byName("name").toString)

      // a FILTERED scan refuses column stats (they'd describe the wrong
      // relation); the plain row-count estimate machinery still works
      val filtered = spark.sql("SELECT k FROM gstat.db.t WHERE k > 5")
        .queryExecution.optimizedPlan.collectLeaves().head.stats
      assert(filtered.attributeStats.isEmpty, filtered.toString)

      // a new commit makes the blob stale: NDV no longer served (wrong
      // snapshot), manifest-derived min/max still exact and served
      spark.sql("INSERT INTO gstat.db.t VALUES (100, 'extra', 9)")
      val after = spark.sql("SELECT k FROM gstat.db.t")
        .queryExecution.optimizedPlan.stats
      val kAfter = after.attributeStats.map { case (a, s) => a.name -> s }("k")
      assert(kAfter.distinctCount.isEmpty, kAfter.toString)
      assert(kAfter.max.contains(100L), kAfter.toString)

      // pending deletes drop ALL column stats (visible rows unknowable
      // from metadata)
      spark.sql("DELETE FROM gstat.db.t WHERE k = 100")
      val deleted = spark.sql("SELECT k FROM gstat.db.t")
        .queryExecution.optimizedPlan.stats
      assert(deleted.attributeStats.isEmpty, deleted.toString)
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)

    // expiring the analyzed snapshot reclaims its statistics entry AND
    // the physical blob
    val statsPath = afterReplace.statistics.head.path
    assert(new java.io.File(statsPath).exists())
    spark.sql("CALL gstat.system.rewrite_data_files(table => 'db.t')")
    spark.sql("CALL gstat.system.expire_snapshots('db.t', 1)")
    val finalMeta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(finalMeta.statistics.isEmpty, finalMeta.statistics.toString)
    assert(!new java.io.File(statsPath).exists(), "expired stats blob must reclaim")
  }

  test("the standard theta blob decodes raw and matches the reference " +
      "library serialization") {
    val wh = java.nio.file.Files.createTempDirectory("graft-theta").toString
    spark.conf.set("spark.sql.catalog.gtheta", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtheta.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("gtheta_nation")
    spark.sql("CREATE TABLE gtheta.db.t (k BIGINT, name STRING)")
    spark.sql("""INSERT INTO gtheta.db.t
      SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN NULL ELSE n_name END
      FROM gtheta_nation""")
    spark.sql("CALL gtheta.system.compute_table_stats(table => 'db.t')")
    val meta = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/t"))
    val (raw, refs, _) = Puffin.read(meta.statistics.head.path)
    val kId = meta.currentSchema.fields.find(_.name == "k").get.id
    val thetaRef = refs.find(r =>
      r.blobType == TableStats.ThetaBlobType && r.fields == Seq(kId))
      .getOrElse(fail("no theta blob for column k"))
    // the spec's ndv property rides on the blob
    assert(thetaRef.properties("ndv") == "25")
    val body = java.util.Arrays.copyOfRange(raw,
      thetaRef.offset.toInt, (thetaRef.offset + thetaRef.length).toInt)

    // RAW decode against the published DataSketches compact-theta
    // format (SerVer 3): preamble byte layout, flags, the ordered
    // 64-bit hash run — no library in the loop
    val preLongs = body(0) & 0x3f
    assert(body(1) == 3, s"serial version ${body(1)}")
    assert(body(2) == 3, s"family id ${body(2)} (3 = COMPACT)")
    val flags = body(5) & 0xff
    assert((flags & 0x01) == 0, "must be little-endian")
    assert((flags & 0x08) != 0, "COMPACT flag")
    assert((flags & 0x10) != 0, "ORDERED flag")
    assert((flags & 0x04) == 0, "non-empty sketch")
    assert(preLongs == 2, s"exact-mode compact sketch expected, preLongs $preLongs")
    val bb = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val retained = bb.getInt(8)
    assert(retained == 25, s"25 distinct keys, retained $retained")
    assert(body.length == preLongs * 8 + retained * 8, "exact serialized length")
    val hashes = (0 until retained).map(i => bb.getLong(preLongs * 8 + i * 8))
    assert(hashes == hashes.sorted, "ordered sketch: ascending hash run")
    assert(hashes.forall(_ > 0), "theta hashes are positive 63-bit values")

    // interop: an independently-built reference sketch over the same
    // values (Iceberg single-value serialization of each key) produces
    // BYTE-IDENTICAL serialization — ours is the reference format, not
    // an imitation
    val refSketch = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0L until 25L).foreach(k =>
      refSketch.update(SingleValueCodec.encode(IcebergTypes.TLong, k)))
    assert(java.util.Arrays.equals(refSketch.compact(true, null).toByteArray, body),
      "blob must equal the reference library's compact serialization")
    // and the library round-trips our bytes to the exact estimate
    val est = org.apache.datasketches.theta.Sketches.wrapSketch(
      org.apache.datasketches.memory.Memory.wrap(body)).getEstimate
    assert(est == 25.0, s"exact-mode estimate $est")
  }

  test("ANALYZE covers NTZ timestamp / date / decimal columns: exact NDV, " +
      "standard blobs present, malformed foreign ndv falls to the sketch") {
    // the one-scan fusion made the theta sketch the NDV source for every
    // eligible type — this pins the sketchBytes bridges for the types the
    // fixture tables don't otherwise exercise (TIMESTAMP_NTZ rows always
    // surface as LocalDateTime — Spark has no legacy external type for
    // NTZ — and must hash to the spec's micros serialization)
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-t").toString
    spark.conf.set("spark.sql.catalog.gstat3", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstat3.warehouse", wh)
    spark.sql("""CREATE TABLE gstat3.db.t
      (ts TIMESTAMP_NTZ, d DATE, m DECIMAL(12, 2), k BIGINT)""")
    spark.sql("""INSERT INTO gstat3.db.t SELECT
      TIMESTAMP_NTZ '2024-01-01 00:00:00' + MAKE_INTERVAL(0,0,0,0,0,0, id % 7),
      DATE '2024-03-01' + CAST(id % 5 AS INT),
      CAST(id % 11 AS DECIMAL(12, 2)) / 4, id
      FROM RANGE(40)""")
    val out = spark.sql(
      "CALL gstat3.system.compute_table_stats(table => 'db.t')").head
    val dir = s"$wh/db/t"
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc = TableStats.read(meta.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.rowCount == 40L)
    // theta is EXACT below its nominal entries — no tolerance needed
    assert(doc.columns(idOf("ts")).ndv == 7L, doc.columns(idOf("ts")).toString)
    assert(doc.columns(idOf("d")).ndv == 5L, doc.columns(idOf("d")).toString)
    assert(doc.columns(idOf("m")).ndv == 11L, doc.columns(idOf("m")).toString)
    assert(doc.columns(idOf("k")).ndv == 40L, doc.columns(idOf("k")).toString)
    assert(doc.columns.values.forall(_.nullCount.contains(0L)))
    // all four columns carry the STANDARD blob (NTZ timestamp included —
    // its values HAVE a spec single-value serialization)
    val (raw, refs, _) = Puffin.read(meta.statistics.head.path)
    assert(refs.count(_.blobType == TableStats.ThetaBlobType) == 4, refs.map(_.blobType))
    // the NTZ sketch equals a reference sketch over the micros
    // serialization — the bridge hashes spec bytes, not JVM toString
    val tsRef = refs.find(r => r.blobType == TableStats.ThetaBlobType &&
      r.fields.head == idOf("ts")).get
    val body = java.util.Arrays.copyOfRange(
      raw, tsRef.offset.toInt, (tsRef.offset + tsRef.length).toInt)
    val refSk = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0 until 7).foreach { s =>
      val dt = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, s)
      refSk.update(SingleValueCodec.encode(IcebergTypes.TTimestamp, dt))
    }
    assert(java.util.Arrays.equals(refSk.compact(true, null).toByteArray, body),
      "NTZ blob must equal the reference sketch over spec micros bytes")
    // a malformed ndv property on a foreign blob must not kill the doc:
    // rewrite one ref's properties through a hand-built foreign file
    val foreign = s"$wh/foreign.puffin"
    Puffin.write(foreign,
      Seq(Puffin.Blob(TableStats.ThetaBlobType, Seq(idOf("k")),
        out.getLong(0), 1L, Map("ndv" -> "4.0E1"), body)),
      Map("snapshot-id" -> out.getLong(0).toString, "row-count" -> "40"))
    val fdoc = TableStats.read(foreign)
    assert(fdoc.columns(idOf("k")).ndv == 7L,
      s"malformed ndv property must fall to the sketch estimate: $fdoc")
  }

  test("ANALYZE skips nested columns (no canonical bytes to hash) and " +
      "counts empty strings in the engine NDV (sketch update is a no-op)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-n").toString
    spark.conf.set("spark.sql.catalog.gstat4", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstat4.warehouse", wh)
    spark.sql("""CREATE TABLE gstat4.db.t
      (k BIGINT, s STRING, nest STRUCT<a: BIGINT, b: STRING>)""")
    spark.sql("""INSERT INTO gstat4.db.t VALUES
      (1, '',  named_struct('a', CAST(1 AS BIGINT), 'b', 'x')),
      (2, 'v', named_struct('a', CAST(2 AS BIGINT), 'b', 'y')),
      (3, '',  named_struct('a', CAST(3 AS BIGINT), 'b', 'z')),
      (4, NULL, NULL)""")
    val out = spark.sql(
      "CALL gstat4.system.compute_table_stats(table => 'db.t')").head
    val meta = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/t"))
    val doc = TableStats.read(meta.statistics.head.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.rowCount == 4L)
    // the struct column carries NO stats entry — before the sketchable
    // filter this crashed the whole ANALYZE with a MatchError
    assert(!doc.columns.contains(idOf("nest")), doc.columns.keys.toString)
    assert(out.getInt(2) == 2, "analyzed columns: k and s only")
    // '' is ONE distinct value of s: datasketches silently no-ops on an
    // empty byte array, so the engine record counts it separately
    assert(doc.columns(idOf("s")).ndv == 2L, doc.columns(idOf("s")).toString)
    assert(doc.columns(idOf("s")).nullCount.contains(1L))
    assert(doc.columns(idOf("k")).ndv == 4L)
  }

  test("incremental ANALYZE after appends reads ONLY the new files: old " +
      "files destructively corrupted, refresh still exact") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-i").toString
    spark.conf.set("spark.sql.catalog.ginc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginc.warehouse", wh)
    spark.sql("CREATE TABLE ginc.db.t (k BIGINT, s STRING)")
    spark.sql("""INSERT INTO ginc.db.t SELECT id,
      CASE WHEN id = 5 THEN NULL WHEN id = 6 THEN '' ELSE CONCAT('v', id) END
      FROM RANGE(20)""")
    val dir = s"$wh/db/t"
    def dataFiles(): Seq[String] = {
      val m = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      m.currentSnapshot.flatMap(_.manifestList).toSeq
        .flatMap(ManifestListReader.read).filter(_.content == 0)
        .flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0).map(_.filePath)
    }
    val batch1Files = dataFiles()
    val out1 = spark.sql(
      "CALL ginc.system.compute_table_stats(table => 'db.t')").head
    assert(out1.getString(4) == "full")
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    def idOf(n: String) = meta1.currentSchema.fields.find(_.name == n).get.id
    // the empty-adjust flag persists with the document — the +1 the
    // sketch body cannot carry must survive an incremental union
    val sk1 = TableStats.readWithSketches(meta1.statistics.head.path)
    assert(sk1.sawEmpty == Set(idOf("s")), sk1.sawEmpty.toString)
    assert(sk1.bodies.keySet == Set(idOf("k"), idOf("s")))
    // the hashed type is recorded per field — the widening guard's input
    assert(sk1.fieldTypes == Map(idOf("k") -> "long", idOf("s") -> "string"),
      sk1.fieldTypes.toString)

    // two more appends, then DESTROY every batch-1 data file on disk: an
    // incremental refresh that touched any old byte would now throw
    spark.sql("""INSERT INTO ginc.db.t SELECT id,
      CASE WHEN id = 25 THEN NULL ELSE CONCAT('v', id) END
      FROM RANGE(20, 30)""")
    spark.sql(
      "INSERT INTO ginc.db.t SELECT id, CONCAT('w', id) FROM RANGE(30, 35)")
    batch1Files.foreach { p =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p.stripPrefix("file:")),
        "not a parquet file".getBytes("UTF-8"))
    }
    assertThrows[Exception](spark.sql("SELECT SUM(k) FROM ginc.db.t").collect())

    val out2 = spark.sql(
      "CALL ginc.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out2.getString(4) == "incremental", out2.toString)
    assert(out2.getLong(1) == 35L, "row_count sums the append chain")
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(meta2.statistics.map(_.snapshotId) == Seq(out1.getLong(0), out2.getLong(0)))
    val doc = TableStats.read(
      meta2.statistics.find(_.snapshotId == out2.getLong(0)).get.path)
    assert(doc.rowCount == 35L)
    // theta is exact below nominal entries: unioned NDV exact, and the
    // empty-string +1 carried across the union from the anchor document
    assert(doc.columns(idOf("k")).ndv == 35L, doc.columns(idOf("k")).toString)
    assert(doc.columns(idOf("s")).ndv == 33L, doc.columns(idOf("s")).toString)
    assert(doc.columns(idOf("s")).nullCount.contains(2L))
    assert(doc.columns(idOf("k")).nullCount.contains(0L))
    // NDV within theta error of a full recompute — exact mode here, so
    // equality: 18 v-values + '' from batch 1, 9 + null from batch 2,
    // 5 w-values from batch 3
    val sk2 = TableStats.readWithSketches(
      meta2.statistics.find(_.snapshotId == out2.getLong(0)).get.path)
    assert(sk2.sawEmpty == Set(idOf("s")))
    // re-running incremental on the already-analyzed head is a NO-OP
    // success: same registered state back, no new metadata version, no
    // new blob — a per-ingest scheduler must not burn a commit per call
    val vBefore = OptimisticCommit.currentVersion(dir)
    val out3 = spark.sql(
      "CALL ginc.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out3.getString(4) == "incremental" && out3.getLong(1) == 35L)
    assert(out3.getString(3) == out2.getString(3), "same statistics file")
    assert(OptimisticCommit.currentVersion(dir) == vBefore,
      "analyzed-head refresh must not commit a metadata version")
  }

  test("incremental ANALYZE survives int->bigint widening: promoted-type " +
      "hashing keeps sketches union-compatible (the Puffin spec rule)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-w").toString
    spark.conf.set("spark.sql.catalog.gincw", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gincw.warehouse", wh)
    spark.sql("CREATE TABLE gincw.db.t (k INT)")
    spark.sql("INSERT INTO gincw.db.t SELECT CAST(id AS INT) FROM RANGE(20)")
    spark.sql("CALL gincw.system.compute_table_stats(table => 'db.t')")
    val dir = s"$wh/db/t"
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    def idOf(m: TableMetadata, n: String) =
      m.currentSchema.fields.find(_.name == n).get.id
    val kId = idOf(meta1, "k")
    // the INT column's sketch body hashes the PROMOTED longs — byte-
    // identical to a reference sketch over 8-byte long serializations
    // (a 4-byte int hash here would break foreign unions and widening)
    val sk1 = TableStats.readWithSketches(meta1.statistics.head.path)
    assert(sk1.fieldTypes(kId) == "long", sk1.fieldTypes.toString)
    val ref = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0L until 20L).foreach(v =>
      ref.update(SingleValueCodec.encode(IcebergTypes.TLong, v)))
    assert(java.util.Arrays.equals(ref.compact(true, null).toByteArray, sk1.bodies(kId)),
      "int column must hash as promoted longs")
    // widen, append an OVERLAPPING range, destroy the old bytes: the
    // refresh must stay incremental AND exact across the type change
    spark.sql("ALTER TABLE gincw.db.t ALTER COLUMN k TYPE BIGINT")
    val batch1Files = meta1.currentSnapshot.flatMap(_.manifestList).toSeq
      .flatMap(ManifestListReader.read).filter(_.content == 0)
      .flatMap(i => ManifestWriter.read(i.path))
      .filter(e => e.status != 2 && e.content == 0).map(_.filePath)
    spark.sql("INSERT INTO gincw.db.t SELECT id FROM RANGE(10, 25)")
    batch1Files.foreach(p => java.nio.file.Files.write(
      java.nio.file.Paths.get(p.stripPrefix("file:")), "junk".getBytes("UTF-8")))
    val out = spark.sql(
      "CALL gincw.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental",
      s"promotion-compatible widening must stay incremental: $out")
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc = TableStats.read(
      meta2.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    // 0..24 distinct: the 10..19 overlap hashes IDENTICALLY on both
    // sides of the widening — a 4-byte/8-byte mismatch would report 35
    assert(doc.rowCount == 35L)
    assert(doc.columns(idOf(meta2, "k")).ndv == 25L,
      doc.columns(idOf(meta2, "k")).toString)
  }

  test("incremental ANALYZE falls back to the full recompute when the " +
      "chain holds a non-append snapshot") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-f").toString
    spark.conf.set("spark.sql.catalog.gincf", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gincf.warehouse", wh)
    spark.sql("CREATE TABLE gincf.db.t (k BIGINT, s STRING)")
    spark.sql(
      "INSERT INTO gincf.db.t SELECT id, CONCAT('v', id) FROM RANGE(20)")
    spark.sql("CALL gincf.system.compute_table_stats(table => 'db.t')")
    // a DELETE between the anchor and the head: a theta union cannot
    // subtract, so the incremental request must recompute from scratch
    spark.sql("DELETE FROM gincf.db.t WHERE k < 5")
    spark.sql(
      "INSERT INTO gincf.db.t SELECT id, CONCAT('v', id) FROM RANGE(20, 25)")
    val out = spark.sql(
      "CALL gincf.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "full", out.toString)
    assert(out.getLong(1) == 20L, "15 surviving + 5 appended")
    val meta = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/t"))
    val doc = TableStats.read(
      meta.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.columns(idOf("k")).ndv == 20L, doc.columns(idOf("k")).toString)
  }

  test("ANALYZE accepts snapshot_id (historical, keyed to it) and a " +
      "columns restriction; unknown columns refuse") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-a").toString
    spark.conf.set("spark.sql.catalog.gstat5", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstat5.warehouse", wh)
    spark.sql("CREATE TABLE gstat5.db.t (k BIGINT, name STRING)")
    spark.sql("INSERT INTO gstat5.db.t SELECT id, CONCAT('v', id) FROM RANGE(10)")
    val dir = s"$wh/db/t"
    val snap1 = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(dir)).currentSnapshotId.get
    spark.sql("INSERT INTO gstat5.db.t SELECT id, CONCAT('v', id) FROM RANGE(10, 20)")
    val out = spark.sql(s"""CALL gstat5.system.compute_table_stats(
      table => 'db.t', snapshot_id => $snap1, columns => array('k'))""").head
    assert(out.getLong(0) == snap1, "stats keyed to the analyzed snapshot")
    assert(out.getInt(2) == 1, "one analyzed column")
    assert(out.getString(4) == "full")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc = TableStats.read(meta.statistics.find(_.snapshotId == snap1).get.path)
    val kId = meta.currentSchema.fields.find(_.name == "k").get.id
    val nameId = meta.currentSchema.fields.find(_.name == "name").get.id
    assert(doc.rowCount == 10L, "historical snapshot's rows, not the head's")
    assert(doc.columns(kId).ndv == 10L && doc.columns(kId).nullCount.contains(0L))
    assert(!doc.columns.contains(nameId), "unrequested column carries no stats")
    val e = intercept[Exception](spark.sql("""CALL gstat5.system.compute_table_stats(
      table => 'db.t', columns => array('nope'))""").collect())
    assert(e.getMessage.contains("not a sketchable column"), e.getMessage)
    val dup = intercept[Exception](spark.sql("""CALL gstat5.system.compute_table_stats(
      table => 'db.t', columns => array('k', 'name', 'k'))""").collect())
    assert(dup.getMessage.endsWith("duplicate column names: k"),
      s"only the actual duplicate is named: ${dup.getMessage}")
    // the content-sliced metadata tables: data/delete halves, current and
    // all-snapshots flavors
    spark.sql("DELETE FROM gstat5.db.t WHERE k = 0")
    def cnt(t: String) =
      spark.sql(s"SELECT COUNT(*) FROM gstat5.db.t.$t").head.getLong(0)
    assert(cnt("data_files") >= 2L, "both appends' data files")
    assert(cnt("delete_files") >= 1L, "the DELETE's delete file")
    assert(cnt("files") == cnt("data_files") + cnt("delete_files"),
      "files = data + delete halves")
    assert(cnt("all_data_files") >= cnt("data_files"))
    assert(cnt("all_delete_files") >= cnt("delete_files"))
    assert(spark.sql("SELECT DISTINCT content FROM gstat5.db.t.all_data_files")
      .collect().map(_.getInt(0)).toSeq == Seq(0))
  }

  test("the analyzed-head no-op defers to the compatibility guards: a " +
      "schema change or restricted doc at the head still recomputes") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-n2").toString
    spark.conf.set("spark.sql.catalog.gincn", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gincn.warehouse", wh)
    spark.sql("CREATE TABLE gincn.db.t (k BIGINT)")
    spark.sql("INSERT INTO gincn.db.t SELECT id FROM RANGE(20)")
    val dir = s"$wh/db/t"
    spark.sql("CALL gincn.system.compute_table_stats(table => 'db.t')")
    // ADD COLUMN commits a metadata version but NO snapshot: the anchor
    // is still the head, yet the registered doc lacks the new column —
    // the no-op must NOT serve it; the column-set guard recomputes
    spark.sql("ALTER TABLE gincn.db.t ADD COLUMN c BIGINT")
    val out = spark.sql(
      "CALL gincn.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "full",
      s"schema change at the head must recompute, not no-op: $out")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc = TableStats.read(meta.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    val cId = meta.currentSchema.fields.find(_.name == "c").get.id
    assert(doc.columns(cId).nullCount.contains(20L),
      "the recompute must cover the added column")
    // a columns-RESTRICTED doc at the head must not no-op either: the
    // next incremental recomputes the full sketchable set
    spark.sql(
      "CALL gincn.system.compute_table_stats(table => 'db.t', columns => array('k'))")
    val out2 = spark.sql(
      "CALL gincn.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out2.getString(4) == "full", out2.toString)
    assert(out2.getInt(2) == 2, "full sketchable set recomputed")
    // with a COMPLETE doc at the head, the repeat call IS the no-op
    val vBefore = OptimisticCommit.currentVersion(dir)
    val out3 = spark.sql(
      "CALL gincn.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out3.getString(4) == "incremental" && out3.getInt(2) == 2)
    assert(OptimisticCommit.currentVersion(dir) == vBefore)
  }

  test("a FOREIGN stats file carrying only standard theta blobs serves NDV") {
    // interop the other direction: another engine's ANALYZE writes only
    // apache-datasketches-theta-v1 blobs (no graft-ndv-v1 anywhere) —
    // the reader must still surface NDV, from the spec's ndv property
    // when present, else from the sketch itself; null count honestly
    // absent (a theta sketch doesn't carry one)
    val sk1 = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0L until 40L).foreach(v =>
      sk1.update(SingleValueCodec.encode(IcebergTypes.TLong, v)))
    val sk2 = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0L until 7L).foreach(v =>
      sk2.update(SingleValueCodec.encode(IcebergTypes.TLong, v * 3)))
    val path = java.nio.file.Files.createTempDirectory("graft-foreign")
      .resolve("foreign-stats.puffin").toString
    Puffin.write(path, Seq(
      // with the ndv property (the common case)
      Puffin.Blob(TableStats.ThetaBlobType, Seq(1), 42L, 42L,
        Map("ndv" -> "40"), sk1.compact(true, null).toByteArray),
      // property-less: the reader must fall back to the sketch estimate
      Puffin.Blob(TableStats.ThetaBlobType, Seq(2), 42L, 42L,
        Map.empty, sk2.compact(true, null).toByteArray)),
      Map("snapshot-id" -> "42", "row-count" -> "40"))
    val doc = TableStats.read(path)
    assert(doc.snapshotId == 42L && doc.rowCount == 40L)
    assert(doc.columns(1) == TableStats.ColumnStats(40L, None))
    assert(doc.columns(2) == TableStats.ColumnStats(7L, None))
  }

  test("TRULY foreign Puffin interop: engine-less file properties, " +
      "compressed bodies/footer, unknown codecs and malformed blobs " +
      "each cost only themselves") {
    def theta(n: Long, step: Long = 1L): Array[Byte] = {
      val s = org.apache.datasketches.theta.UpdateSketch.builder().build()
      (0L until n).foreach(v =>
        s.update(SingleValueCodec.encode(IcebergTypes.TLong, v * step)))
      s.compact(true, null).toByteArray
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-foreign2")
    val path = dir.resolve("foreign2.puffin").toString
    Puffin.write(path, Seq(
      // zstd-compressed body, declared ndv (the common Trino shape)
      Puffin.Blob(TableStats.ThetaBlobType, Seq(1), 42L, 42L,
        Map("ndv" -> "40"), theta(40), codec = Some("zstd")),
      // lz4-compressed, property-less: the reader must DECOMPRESS then
      // fall back to the sketch estimate
      Puffin.Blob(TableStats.ThetaBlobType, Seq(2), 42L, 42L,
        Map.empty, theta(7, 3), codec = Some("lz4")),
      // a malformed blob REUSING the engine's own type name: empty
      // fields list, junk body — must cost itself only
      Puffin.Blob("graft-ndv-v1", Seq.empty, 42L, 42L, Map.empty,
        "{}".getBytes("UTF-8"))),
      Map.empty) // NO snapshot-id / row-count file properties
    val doc = TableStats.read(path)
    assert(doc.snapshotId == -1L && doc.rowCount == -1L,
      s"engine counters must read as unknown, not throw: $doc")
    assert(doc.columns(1) == TableStats.ColumnStats(40L, None))
    assert(doc.columns(2) == TableStats.ColumnStats(7L, None))
    // the decompressed body is union-ready (byte-identical to the raw
    // compact sketch)
    val skd = TableStats.readWithSketches(path)
    assert(skd.bodies(2).toSeq == theta(7, 3).toSeq)
    // an UNKNOWN codec (future spec revision) drops only its own blob:
    // patch the footer's "lz4" to an unknown same-length token
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val patched = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("\"lz4\"", "\"zq4\"")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val path2 = dir.resolve("unknown-codec.puffin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(path2), patched)
    val doc2 = TableStats.read(path2)
    assert(doc2.columns.get(1).map(_.ndv).contains(40L), doc2.toString)
    assert(!doc2.columns.contains(2),
      "a body-dependent blob with an unknown codec must drop, not misparse")
    // lz4-compressed FOOTER (spec flags bit 0): rebuild the file with a
    // compressed payload and the flag set — the directory must still read
    val pSize = java.nio.ByteBuffer.wrap(raw, raw.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val payload = java.util.Arrays.copyOfRange(
      raw, raw.length - 12 - pSize, raw.length - 12)
    val bos = new java.io.ByteArrayOutputStream()
    val lz = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    lz.write(payload); lz.close()
    val cPayload = bos.toByteArray
    val head = java.util.Arrays.copyOfRange(raw, 0, raw.length - 12 - pSize)
    val tail = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(cPayload.length).putInt(1).array()
    val path3 = dir.resolve("compressed-footer.puffin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(path3),
      head ++ cPayload ++ tail ++ Array('P'.toByte, 'F'.toByte, 'A'.toByte, '1'.toByte))
    val doc3 = TableStats.read(path3)
    assert(doc3.columns(1).ndv == 40L && doc3.columns(2).ndv == 7L, doc3.toString)
    // an UNDEFINED flag bit refuses loudly rather than misparse
    val badTail = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(pSize).putInt(4).array()
    val path4 = dir.resolve("bad-flags.puffin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(path4),
      head ++ payload ++ badTail ++ Array('P'.toByte, 'F'.toByte, 'A'.toByte, '1'.toByte))
    val e = intercept[IllegalArgumentException](TableStats.read(path4))
    assert(e.getMessage.contains("flags"), e.getMessage)
  }

  test("write() preserves a foreign column's DECLARED ndv through the " +
      "standard blob's property — a metadata re-key never shifts the CBO") {
    val s = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0L until 30L).foreach(v =>
      s.update(SingleValueCodec.encode(IcebergTypes.TLong, v)))
    val body = s.compact(true, null).toByteArray
    // a foreign column: declared ndv 1000 (their exact count), sketch
    // estimate only 30 — the re-written file must serve 1000, not 30
    val doc = TableStats.Doc(7L, 30L,
      Map(5 -> TableStats.ColumnStats(1000L, None)))
    val p = java.nio.file.Files.createTempDirectory("graft-rekey")
      .resolve("rekeyed.puffin").toString
    TableStats.write(p, doc, Map(5 -> body))
    val back = TableStats.read(p)
    assert(back.columns(5) == TableStats.ColumnStats(1000L, None), back.toString)
    assert(back.snapshotId == 7L && back.rowCount == 30L)
  }

  test("a FOREIGN-written statistics file ATTACHED to the snapshot serves " +
      "NDV to the CBO through the DSv2 Statistics surface") {
    // the full interop loop: another engine ANALYZEs the table and
    // registers a stats file holding ONLY standard theta blobs (no
    // graft-ndv-v1 anywhere); our scan must serve its NDV to Spark's
    // CBO, with the null count honestly absent
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-x").toString
    spark.conf.set("spark.sql.catalog.gfor", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfor.warehouse", wh)
    spark.sql("CREATE TABLE gfor.db.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO gfor.db.t SELECT id, CONCAT('v', id) FROM RANGE(30)")
    val dir = s"$wh/db/t"
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val snapId = meta.currentSnapshotId.get
    val kId = meta.currentSchema.fields.find(_.name == "k").get.id
    val sk = org.apache.datasketches.theta.UpdateSketch.builder().build()
    (0L until 30L).foreach(v =>
      sk.update(SingleValueCodec.encode(IcebergTypes.TLong, v)))
    val path = s"$dir/foreign-stats.puffin"
    val (_, size) = Puffin.write(path, Seq(
      Puffin.Blob(TableStats.ThetaBlobType, Seq(kId), snapId, snapId,
        Map("ndv" -> "30"), sk.compact(true, null).toByteArray)),
      Map("snapshot-id" -> snapId.toString, "row-count" -> "30"))
    OptimisticCommit.commit(dir, (base, basePath) => base.copy(
      statistics = base.statistics :+ StatisticsFile(snapId, path, size),
      lastUpdatedMs = base.lastUpdatedMs + 1000,
      metadataLog = base.metadataLog :+
        MetadataLogEntry(base.lastUpdatedMs, basePath)))
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.sql("SELECT k, s FROM gfor.db.t")
        .queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      val kStat = byName("k")
      assert(kStat.distinctCount.contains(BigInt(30)), kStat.toString)
      assert(kStat.nullCount.isEmpty,
        s"a theta sketch carries no null count — must not invent one: $kStat")
      assert(kStat.min.contains(0L) && kStat.max.contains(29L), kStat.toString)
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("the scan serves CBO stats through a replace-only chain: a " +
      "compaction must not lose the analyzed NDVs") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-cbo").toString
    spark.conf.set("spark.sql.catalog.gcboc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcboc.warehouse", wh)
    spark.sql("CREATE TABLE gcboc.db.t (k BIGINT, s STRING)")
    spark.sql("""INSERT INTO gcboc.db.t SELECT id,
      CASE WHEN id = 3 THEN NULL ELSE CONCAT('v', id) END FROM RANGE(30)""")
    spark.sql("CALL gcboc.system.compute_table_stats(table => 'db.t')")
    spark.sql("CALL gcboc.system.rewrite_data_files(table => 'db.t')")
    val meta = TableMetadata.parseFile(
      GraftTable.latestMetadataPath(s"$wh/db/t"))
    assert(meta.statistics.map(_.snapshotId)
        .forall(id => !meta.currentSnapshotId.contains(id)),
      "precondition: the document is keyed to the pre-compaction snapshot")
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.sql("SELECT k, s FROM gcboc.db.t")
        .queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.get("k").exists(_.distinctCount.contains(BigInt(30))),
        s"ancestor document through a replace must serve: $byName")
      assert(byName.get("s").exists(_.nullCount.contains(BigInt(1))), byName.toString)
      // a DELETE after the compaction changes the rowset: the chain to
      // the anchor is no longer replace-only, so no stats are served
      spark.sql("DELETE FROM gcboc.db.t WHERE k < 5")
      val stats2 = spark.sql("SELECT k, s FROM gcboc.db.t")
        .queryExecution.optimizedPlan.stats
      assert(stats2.attributeStats.isEmpty,
        s"a rowset-changing chain must not serve stale NDVs: ${stats2.attributeStats}")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("incremental ANALYZE is compaction-transparent: a replace in the " +
      "chain preserves the rowset; only appended ORIGINALS are read") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-c").toString
    spark.conf.set("spark.sql.catalog.gincc", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gincc.warehouse", wh)
    spark.sql("CREATE TABLE gincc.db.t (k BIGINT, s STRING)")
    spark.sql("""INSERT INTO gincc.db.t SELECT id,
      CASE WHEN id = 5 THEN NULL WHEN id = 6 THEN '' ELSE CONCAT('v', id) END
      FROM RANGE(20)""")
    val dir = s"$wh/db/t"
    def dataFiles(): Seq[String] = {
      val m = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      m.currentSnapshot.flatMap(_.manifestList).toSeq
        .flatMap(ManifestListReader.read).filter(_.content == 0)
        .flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0).map(_.filePath)
    }
    def corrupt(p: String): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(p.stripPrefix("file:")),
      "not a parquet file".getBytes("UTF-8"))
    val batch1Files = dataFiles()
    spark.sql("CALL gincc.system.compute_table_stats(table => 'db.t')")
    spark.sql("""INSERT INTO gincc.db.t SELECT id,
      CASE WHEN id = 25 THEN NULL ELSE CONCAT('v', id) END
      FROM RANGE(20, 35)""")
    val batch2Files = dataFiles().diff(batch1Files)
    assert(batch2Files.nonEmpty)
    // the maintenance loop's compaction: ONE replace snapshot between
    // the anchor and the head — the r16-shaped guard recomputed the
    // whole table here; the rowset is provably unchanged
    spark.sql("CALL gincc.system.rewrite_data_files(table => 'db.t')")
    val liveFiles = dataFiles()
    assert(liveFiles.intersect(batch1Files ++ batch2Files).isEmpty,
      "compaction must have replaced every original")
    // destroy the anchor-time originals AND every LIVE file: a refresh
    // that read any old byte — or took the lazy route through the head's
    // live files — would now throw; only batch 2's dead originals remain
    (batch1Files ++ liveFiles).foreach(corrupt)
    assertThrows[Exception](spark.sql("SELECT SUM(k) FROM gincc.db.t").collect())
    val out = spark.sql(
      "CALL gincc.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 35L)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(out.getLong(0) == meta.currentSnapshotId.get,
      "the refreshed document must be keyed to the head (replace) snapshot")
    val doc = TableStats.read(
      meta.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    // exact below nominal entries: 18 v-values + '' from batch 1, 14
    // v-values + null from batch 2
    assert(doc.columns(idOf("k")).ndv == 35L, doc.columns(idOf("k")).toString)
    assert(doc.columns(idOf("s")).ndv == 33L, doc.columns(idOf("s")).toString)
    assert(doc.columns(idOf("s")).nullCount.contains(2L))
  }

  test("incremental ANALYZE over an all-replace chain re-keys the " +
      "document to the head with ZERO data bytes read") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-r").toString
    spark.conf.set("spark.sql.catalog.gincr", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gincr.warehouse", wh)
    spark.sql("CREATE TABLE gincr.db.t (k BIGINT, s STRING)")
    spark.sql(
      "INSERT INTO gincr.db.t SELECT id, CONCAT('v', id) FROM RANGE(20)")
    val dir = s"$wh/db/t"
    val out1 = spark.sql(
      "CALL gincr.system.compute_table_stats(table => 'db.t')").head
    spark.sql("CALL gincr.system.rewrite_data_files(table => 'db.t')")
    // destroy EVERY data file — originals and compaction outputs: the
    // anchor document alone must carry the refresh
    val m = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    m.snapshots.flatMap(_.manifestList).distinct
      .flatMap(ManifestListReader.read).filter(_.content == 0).map(_.path)
      .distinct.flatMap(ManifestWriter.read).filter(_.content == 0)
      .map(_.filePath).distinct.foreach(p => java.nio.file.Files.write(
        java.nio.file.Paths.get(p.stripPrefix("file:")),
        "junk".getBytes("UTF-8")))
    val out2 = spark.sql(
      "CALL gincr.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out2.getString(4) == "incremental", out2.toString)
    assert(out2.getLong(1) == 20L)
    assert(out2.getLong(0) != out1.getLong(0),
      "the document must be re-keyed to the compaction snapshot")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    assert(out2.getLong(0) == meta.currentSnapshotId.get)
    val doc = TableStats.read(
      meta.statistics.find(_.snapshotId == out2.getLong(0)).get.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.columns(idOf("k")).ndv == 20L, doc.columns(idOf("k")).toString)
  }

  test("incremental ANALYZE falls back to full when a replace-bearing " +
      "chain's appended original was reclaimed on disk") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-g").toString
    spark.conf.set("spark.sql.catalog.gincg", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gincg.warehouse", wh)
    spark.sql("CREATE TABLE gincg.db.t (k BIGINT, s STRING)")
    spark.sql(
      "INSERT INTO gincg.db.t SELECT id, CONCAT('v', id) FROM RANGE(20)")
    val dir = s"$wh/db/t"
    def dataFiles(): Seq[String] = {
      val m = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      m.currentSnapshot.flatMap(_.manifestList).toSeq
        .flatMap(ManifestListReader.read).filter(_.content == 0)
        .flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0).map(_.filePath)
    }
    val batch1Files = dataFiles()
    spark.sql("CALL gincg.system.compute_table_stats(table => 'db.t')")
    spark.sql(
      "INSERT INTO gincg.db.t SELECT id, CONCAT('v', id) FROM RANGE(20, 35)")
    val batch2Files = dataFiles().diff(batch1Files)
    spark.sql("CALL gincg.system.rewrite_data_files(table => 'db.t')")
    // a foreign engine's expiry reclaimed one dead original: the probe
    // must catch it BEFORE the scan and recompute from the live files
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      batch2Files.head.stripPrefix("file:")))
    val out = spark.sql(
      "CALL gincg.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "full", out.toString)
    assert(out.getLong(1) == 35L)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc = TableStats.read(
      meta.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.columns(idOf("k")).ndv == 35L, doc.columns(idOf("k")).toString)
  }

  test("incremental ANALYZE falls back to full when a replace-bearing " +
      "chain's appended original is TRUNCATED (probe passes, scan fails)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-t").toString
    spark.conf.set("spark.sql.catalog.ginct", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginct.warehouse", wh)
    spark.sql("CREATE TABLE ginct.db.t (k BIGINT, s STRING)")
    spark.sql(
      "INSERT INTO ginct.db.t SELECT id, CONCAT('v', id) FROM RANGE(20)")
    val dir = s"$wh/db/t"
    def dataFiles(): Seq[String] = {
      val m = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      m.currentSnapshot.flatMap(_.manifestList).toSeq
        .flatMap(ManifestListReader.read).filter(_.content == 0)
        .flatMap(i => ManifestWriter.read(i.path))
        .filter(e => e.status != 2 && e.content == 0).map(_.filePath)
    }
    val batch1Files = dataFiles()
    spark.sql("CALL ginct.system.compute_table_stats(table => 'db.t')")
    spark.sql(
      "INSERT INTO ginct.db.t SELECT id, CONCAT('v', id) FROM RANGE(20, 35)")
    val batch2Files = dataFiles().diff(batch1Files)
    spark.sql("CALL ginct.system.rewrite_data_files(table => 'db.t')")
    // a foreign GC that TRUNCATES instead of deleting (or one racing the
    // existence probe): the file EXISTS, so the probe passes — the scan
    // failure itself must fall back. The originals are dead bytes at the
    // head; the live (compacted) files carry the recompute.
    java.nio.file.Files.write(java.nio.file.Paths.get(
      batch2Files.head.stripPrefix("file:")), "stub".getBytes("UTF-8"))
    val out = spark.sql(
      "CALL ginct.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "full", out.toString)
    assert(out.getLong(1) == 35L)
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc = TableStats.read(
      meta.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.columns(idOf("k")).ndv == 35L, doc.columns(idOf("k")).toString)
  }

  test("expiry RE-KEYS a statistics document through a replace-only " +
      "path instead of destroying it; rowset-changing paths still drop") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-e").toString
    spark.conf.set("spark.sql.catalog.gexr", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gexr.warehouse", wh)
    spark.sql("CREATE TABLE gexr.db.t (k BIGINT, s STRING)")
    spark.sql("""INSERT INTO gexr.db.t SELECT id,
      CASE WHEN id = 3 THEN NULL ELSE CONCAT('v', id) END FROM RANGE(30)""")
    val dir = s"$wh/db/t"
    val analyzed = spark.sql(
      "CALL gexr.system.compute_table_stats(table => 'db.t')").head.getLong(0)
    val oldPath = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      .statistics.find(_.snapshotId == analyzed).get.path
    spark.sql("CALL gexr.system.rewrite_data_files(table => 'db.t')")
    spark.sql("CALL gexr.system.expire_snapshots('db.t', 1)")
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val head = meta.currentSnapshotId.get
    assert(meta.snapshots.map(_.snapshotId) == Seq(head),
      "precondition: only the compaction snapshot survives the expiry")
    val entry = meta.statistics match {
      case Seq(one) => one
      case other => fail(s"exactly one re-keyed document expected: $other")
    }
    assert(entry.snapshotId == head,
      "the document must re-key to the replace descendant, not vanish")
    assert(entry.path != oldPath && !java.nio.file.Files.exists(
        java.nio.file.Paths.get(oldPath.stripPrefix("file:"))),
      "the superseded container must be rewritten (blob snapshot ids " +
        "move with the entry) and the old file reclaimed")
    val doc = TableStats.read(entry.path)
    assert(doc.snapshotId == head, doc.toString)
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    assert(doc.columns(idOf("k")).ndv == 30L, doc.columns(idOf("k")).toString)
    assert(doc.columns(idOf("s")).nullCount.contains(1L))
    // the re-keyed document is a live INCREMENTAL anchor: the expiry
    // physically reclaimed the pre-compaction originals, so an exact
    // refresh after the next ingest proves no old byte was needed
    spark.sql(
      "INSERT INTO gexr.db.t SELECT id, CONCAT('v', id) FROM RANGE(30, 45)")
    val out = spark.sql(
      "CALL gexr.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 45L)
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val doc2 = TableStats.read(
      meta2.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    assert(doc2.columns(idOf("k")).ndv == 45L, doc2.columns(idOf("k")).toString)
    // a rowset-CHANGING child (DELETE) breaks exactness: that document
    // genuinely dies with its snapshot
    spark.sql("CREATE TABLE gexr.db.u (k BIGINT)")
    spark.sql("INSERT INTO gexr.db.u SELECT id FROM RANGE(10)")
    spark.sql("CALL gexr.system.compute_table_stats(table => 'db.u')")
    spark.sql("DELETE FROM gexr.db.u WHERE k < 3")
    spark.sql("CALL gexr.system.expire_snapshots('db.u', 1)")
    val metaU = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/u"))
    assert(metaU.statistics.isEmpty,
      s"a delete-bearing path must not re-key: ${metaU.statistics}")
  }

  test("expiry re-key defers to a descendant's own document and keeps " +
      "the newest source on a shared replace chain") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-o").toString
    spark.conf.set("spark.sql.catalog.gexo", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gexo.warehouse", wh)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      spark.sql("CREATE TABLE gexo.db.t (k BIGINT)")
      spark.sql("INSERT INTO gexo.db.t SELECT id FROM RANGE(25)")
      val dir = s"$wh/db/t"
      spark.sql("CALL gexo.system.compute_table_stats(table => 'db.t')")
      spark.sql("CALL gexo.system.rewrite_data_files(table => 'db.t')")
      // the head re-analyzes AFTER the compaction: its own (identical)
      // document must win over the expired ancestor's re-key
      val headDoc = spark.sql(
        "CALL gexo.system.compute_table_stats(table => 'db.t')").head
      spark.sql("CALL gexo.system.expire_snapshots('db.t', 1)")
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val entry = meta.statistics match {
        case Seq(one) => one
        case other => fail(s"exactly one document expected: $other")
      }
      assert(entry.snapshotId == headDoc.getLong(0))
      assert(entry.path == headDoc.getString(3),
        "the descendant's own document must survive untouched")
      // and the CBO still sees the NDVs at the head after the expiry
      val stats = spark.sql("SELECT k FROM gexo.db.t")
        .queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.get("k").exists(_.distinctCount.contains(BigInt(25))),
        byName.toString)
      // TWO expired documents on one replace chain (S1 analyzed, S2 =
      // data-file rewrite analyzed again, S3 = manifest rewrite) both
      // target the retained head: exactly ONE survives the dedup
      spark.sql("CREATE TABLE gexo.db.u (k BIGINT)")
      spark.sql("INSERT INTO gexo.db.u SELECT id FROM RANGE(12)")
      spark.sql("CALL gexo.system.compute_table_stats(table => 'db.u')")
      spark.sql("CALL gexo.system.rewrite_data_files(table => 'db.u')")
      spark.sql("CALL gexo.system.compute_table_stats(table => 'db.u')")
      spark.sql("CALL gexo.system.rewrite_manifests(table => 'db.u')")
      spark.sql("CALL gexo.system.expire_snapshots('db.u', 1)")
      val metaU = TableMetadata.parseFile(
        GraftTable.latestMetadataPath(s"$wh/db/u"))
      val headU = metaU.currentSnapshotId.get
      assert(metaU.snapshots.map(_.snapshotId) == Seq(headU))
      val entryU = metaU.statistics match {
        case Seq(one) => one
        case other => fail(s"two sources must dedup to one re-key: $other")
      }
      assert(entryU.snapshotId == headU)
      val docU = TableStats.read(entryU.path)
      assert(docU.rowCount == 12L &&
        docU.columns.values.toSeq.map(_.ndv) == Seq(12L), docU.toString)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  private def partFiles(cat: String, col: String, v: Long): Seq[String] =
    spark.sql(s"SELECT DISTINCT _file FROM $cat.db.t WHERE $col = $v")
      .collect().map(_.getString(0)).toSeq

  private def corruptFile(p: String): Unit = java.nio.file.Files.write(
    java.nio.file.Paths.get(p.stripPrefix("file:")),
    "not a parquet file".getBytes("UTF-8"))

  test("PARTITION SKETCH BANK: a row-level DELETE dirties ONE partition; " +
      "incremental ANALYZE reads only its bytes (others corrupted on disk)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-b").toString
    spark.conf.set("spark.sql.catalog.gbank", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbank.warehouse", wh)
    spark.sql("CREATE TABLE gbank.db.t (k BIGINT, s STRING, r BIGINT) " +
      "PARTITIONED BY (r)")
    spark.sql("""INSERT INTO gbank.db.t SELECT id,
      CASE WHEN id = 5 THEN NULL WHEN id = 6 THEN '' ELSE CONCAT('v', id) END,
      id % 3 FROM RANGE(30)""")
    val dir = s"$wh/db/t"
    spark.sql("CALL gbank.system.compute_table_stats(table => 'db.t')")
    // the full ANALYZE of a partitioned table banks per-partition
    // sketches alongside the table-level blobs
    val meta0 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk0 = TableStats.readWithSketches(
      meta0.statistics.find(_.snapshotId == meta0.currentSnapshotId.get).get.path)
    assert(sk0.bank.keySet == Set("{r_id=0}", "{r_id=1}", "{r_id=2}"), sk0.bank.keySet)
    assert(sk0.bank.values.map(_.rowCount).toSeq.sorted == Seq(10L, 10L, 10L))
    assert(sk0.doc.rowCount == 30L)
    def idOf(n: String) = meta0.currentSchema.fields.find(_.name == n).get.id
    // table-level values are the bank's sums/unions — exact at this scale
    assert(sk0.doc.columns(idOf("k")).ndv == 30L)
    assert(sk0.doc.columns(idOf("s")).ndv == 29L) // 28 v-values + ''
    assert(sk0.doc.columns(idOf("s")).nullCount.contains(1L))
    // a row-level MOR delete lands in partition r=1 only (k=4 → r=1)
    spark.sql("DELETE FROM gbank.db.t WHERE k = 4")
    // destroy EVERY other partition's data bytes: the refresh passes only
    // if clean partitions are served from the bank, never rescanned
    (partFiles("gbank", "r", 0) ++ partFiles("gbank", "r", 2))
      .foreach(corruptFile)
    assertThrows[Exception](spark.sql("SELECT SUM(k) FROM gbank.db.t").collect())
    val out = spark.sql(
      "CALL gbank.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 29L, out.toString)
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk1 = TableStats.readWithSketches(
      meta1.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    // the refreshed bank: r=1 re-sketched to 9 rows, the rest carried
    assert(sk1.bank("{r_id=1}").rowCount == 9L, sk1.bank.view.mapValues(_.rowCount).toMap)
    assert(sk1.bank("{r_id=0}").rowCount == 10L && sk1.bank("{r_id=2}").rowCount == 10L)
    // exact quantities at this scale: k loses the deleted key, s keeps
    // its one null (id=5 lives in r=2) and loses 'v4'
    assert(sk1.doc.columns(idOf("k")).ndv == 29L, sk1.doc.columns(idOf("k")).toString)
    assert(sk1.doc.columns(idOf("s")).ndv == 28L, sk1.doc.columns(idOf("s")).toString)
    assert(sk1.doc.columns(idOf("s")).nullCount.contains(1L))
    assert(sk1.doc.columns(idOf("k")).nullCount.contains(0L))
  }

  test("PARTITION SKETCH BANK batches B tuples per job: the job count " +
      "drops ~B-fold and the bank is byte-identical to the per-tuple path") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-bb").toString
    spark.conf.set("spark.sql.catalog.gbat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbat.warehouse", wh)
    spark.sql("CREATE TABLE gbat.db.t (k BIGINT, s STRING, r BIGINT) " +
      "PARTITIONED BY (r)")
    // 12 tuples, with a null, an empty string and a MOR delete in the mix
    // so every accumulator dimension (nulls, empties, sketch, delete
    // application) crosses the batched path
    spark.sql("""INSERT INTO gbat.db.t SELECT id,
      CASE WHEN id = 5 THEN NULL WHEN id = 6 THEN '' ELSE CONCAT('v', id) END,
      id % 12 FROM RANGE(60)""")
    spark.sql("DELETE FROM gbat.db.t WHERE k = 17")
    val dir = s"$wh/db/t"
    def jobsDuring(body: => Unit): Int = {
      // the job group is an inheritable thread-local: Par.inParallel
      // creates its pool inside the call, so batch jobs inherit it
      val group = "bank-batch-" + System.nanoTime()
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // the status store is fed asynchronously off the listener bus —
      // require the count stable across THREE consecutive polls (a
      // single 300ms-apart pair can straddle a bus stall mid-drain)
      def n() = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var prev = -1
      var stable = 0
      while (stable < 3) {
        val cur = n()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        Thread.sleep(250)
      }
      prev
    }
    def bankOf(): Map[String, (Long, Map[Int, (Seq[Byte], Long, Boolean)])] = {
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val sk = TableStats.readWithSketches(meta.statistics
        .find(_.snapshotId == meta.currentSnapshotId.get).get.path)
      sk.bank.view.mapValues(p => (p.rowCount, p.cols.view.mapValues(c =>
        (c.body.toSeq, c.nullCount, c.sawEmpty)).toMap)).toMap
    }
    spark.conf.set("graft.stats.bankBatchTuples", "1")
    val jobsPerTuple = jobsDuring {
      spark.sql("CALL gbat.system.compute_table_stats(table => 'db.t')") }
    val bankPerTuple = bankOf()
    assert(bankPerTuple.size == 12 && jobsPerTuple >= 12,
      s"per-tuple: ${bankPerTuple.size} tuples, $jobsPerTuple jobs")
    // re-analyze the SAME snapshot batched: 12 tuples in ⌈12/4⌉ = 3
    // batch jobs — the per-job overhead drops ~4-fold (each batch costs
    // what one tuple's job chain did: same read shape, same joins)
    spark.conf.set("graft.stats.bankBatchTuples", "4")
    try {
      val jobsBatched = jobsDuring {
        spark.sql("CALL gbat.system.compute_table_stats(table => 'db.t')") }
      // the contract is job count ∝ batches, not tuples: each batch job
      // chain costs a few fixed submissions (scan collect + broadcast
      // stages for the seq-lookup/delete/index joins), so pin a per-batch
      // ceiling AND a 2-fold aggregate cut (measured: 27 → 12 here; at
      // 10^4 tuples and B=32 the same shape is 22500 → ~1300)
      assert(jobsBatched <= 5 * 3,
        s"batched $jobsBatched jobs for 3 batches — per-batch job chain " +
          "must stay bounded")
      assert(jobsBatched * 2 <= jobsPerTuple,
        s"batched $jobsBatched jobs vs per-tuple $jobsPerTuple — batching " +
          "must cut job submissions at least 2-fold at B=4")
      // the banked stats are BYTE-IDENTICAL: counts are exact sums either
      // way and theta compact/union is insertion-order-free in exact mode
      assert(bankOf() == bankPerTuple)
    } finally spark.conf.unset("graft.stats.bankBatchTuples")
    // and the batched bank still serves the incremental delete path
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    def idOf(n: String) = meta.currentSchema.fields.find(_.name == n).get.id
    spark.sql("DELETE FROM gbat.db.t WHERE k = 3")
    val out = spark.sql(
      "CALL gbat.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 58L, out.toString)
    val sk = TableStats.readWithSketches(
      TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).statistics
        .find(_.snapshotId == out.getLong(0)).get.path)
    assert(sk.bank("{r_id=3}").rowCount == 4L,
      sk.bank.view.mapValues(_.rowCount).toMap)
    assert(sk.doc.columns(idOf("k")).ndv == 58L)
    // the APPEND-path bank refresh batches too: 6 tuples at B=4 refresh
    // in 2 batch jobs with exact per-tuple results
    spark.conf.set("graft.stats.bankBatchTuples", "4")
    try {
      spark.sql(
        "INSERT INTO gbat.db.t SELECT id, CONCAT('w', id), id % 6 FROM RANGE(100, 130)")
      val out2 = spark.sql(
        "CALL gbat.system.compute_table_stats(table => 'db.t', incremental => true)").head
      assert(out2.getString(4) == "incremental", out2.toString)
      assert(out2.getLong(1) == 88L, out2.toString)
      val sk2 = TableStats.readWithSketches(
        TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).statistics
          .find(_.snapshotId == out2.getLong(0)).get.path)
      // r_id=0: 5 original (k%12=0) + 5 appended (k%6=0 in 100..129)
      assert(sk2.bank("{r_id=0}").rowCount == 10L,
        sk2.bank.view.mapValues(_.rowCount).toMap)
      assert(sk2.doc.columns(idOf("k")).ndv == 88L)
    } finally spark.conf.unset("graft.stats.bankBatchTuples")
  }

  test("PARTITION SKETCH BANK survives the append-path refresh: append → " +
      "incremental → delete elsewhere → only the deleted partition rescans") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-ba").toString
    spark.conf.set("spark.sql.catalog.gbapp", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbapp.warehouse", wh)
    spark.sql("CREATE TABLE gbapp.db.t (k BIGINT, r BIGINT) PARTITIONED BY (r)")
    spark.sql("INSERT INTO gbapp.db.t SELECT id, id % 3 FROM RANGE(30)")
    val dir = s"$wh/db/t"
    spark.sql("CALL gbapp.system.compute_table_stats(table => 'db.t')")
    // append into r=1 only; the O(delta) append path must refresh the
    // bank by unioning the appended files' stats into r=1's entry
    spark.sql("INSERT INTO gbapp.db.t SELECT id, 1 FROM RANGE(100, 105)")
    val out1 = spark.sql(
      "CALL gbapp.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out1.getString(4) == "incremental", out1.toString)
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk1 = TableStats.readWithSketches(
      meta1.statistics.find(_.snapshotId == out1.getLong(0)).get.path)
    assert(sk1.bank("{r_id=1}").rowCount == 15L, sk1.bank.view.mapValues(_.rowCount).toMap)
    // now delete in r=0 and destroy every OTHER partition's bytes —
    // including the files the append path just banked for r=1: the
    // bank carried through the append refresh must serve them
    spark.sql("DELETE FROM gbapp.db.t WHERE k = 0")
    (partFiles("gbapp", "r", 1) ++ partFiles("gbapp", "r", 2))
      .foreach(corruptFile)
    assertThrows[Exception](spark.sql("SELECT SUM(k) FROM gbapp.db.t").collect())
    val out2 = spark.sql(
      "CALL gbapp.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out2.getString(4) == "incremental", out2.toString)
    assert(out2.getLong(1) == 34L, out2.toString)
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk2 = TableStats.readWithSketches(
      meta2.statistics.find(_.snapshotId == out2.getLong(0)).get.path)
    def idOf(n: String) = meta2.currentSchema.fields.find(_.name == n).get.id
    assert(sk2.bank("{r_id=0}").rowCount == 9L)
    assert(sk2.doc.columns(idOf("k")).ndv == 34L, sk2.doc.columns(idOf("k")).toString)
  }

  test("PARTITION SKETCH BANK survives streaming upserts: upsert data " +
      "lands per-tuple, ANALYZE banks, and a later upsert dirties only " +
      "its own partition (others corrupted on disk)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-up").toString
    spark.conf.set("spark.sql.catalog.gbup", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbup.warehouse", wh)
    spark.sql("CREATE TABLE gbup.db.t (k BIGINT, v STRING, r BIGINT) " +
      "PARTITIONED BY (r)")
    spark.sql("INSERT INTO gbup.db.t SELECT id, CONCAT('v', id), id % 3 FROM RANGE(30)")
    val dir = s"$wh/db/t"
    // a CDC-shaped upsert touching r=1 (update k=4, insert k=100): its
    // data files must land TUPLE-PURE in per-tuple manifests, not one
    // untupled file that parks the bank
    GraftTable.upsert(spark, dir, spark.sql(
      "SELECT CAST(4 AS BIGINT) k, 'u4' v, CAST(1 AS BIGINT) r " +
        "UNION ALL SELECT 100, 'u100', 1"), Seq("k"))
    assert(spark.sql("SELECT COUNT(*) FROM gbup.db.t").head.getLong(0) == 31L)
    // the full ANALYZE banks: every live data manifest (including the
    // upsert's) pins exactly one tuple
    spark.sql("CALL gbup.system.compute_table_stats(table => 'db.t')")
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk1 = TableStats.readWithSketches(meta1.statistics
      .find(_.snapshotId == meta1.currentSnapshotId.get).get.path)
    assert(sk1.bank.keySet == Set("{r_id=0}", "{r_id=1}", "{r_id=2}"),
      s"upsert must not park the bank: ${sk1.bank.keySet}")
    assert(sk1.bank("{r_id=1}").rowCount == 11L,
      sk1.bank.view.mapValues(_.rowCount).toMap)
    def idOf(n: String) = meta1.currentSchema.fields.find(_.name == n).get.id
    assert(sk1.doc.rowCount == 31L)
    assert(sk1.doc.columns(idOf("v")).ndv == 31L) // 'u4'/'u100' replaced 'v4'
    // second upsert, keys scoped to r=1's envelope only ([31,34] misses
    // r=0's [0,27] and r=2's [2,29]); every OTHER partition's bytes are
    // destroyed — the incremental refresh passes only if the upserted
    // partition alone rescans and the rest serve from the bank
    GraftTable.upsert(spark, dir, spark.sql(
      "SELECT CAST(31 AS BIGINT) k, 'u31' v, CAST(1 AS BIGINT) r " +
        "UNION ALL SELECT 34, 'u34', 1"), Seq("k"))
    (partFiles("gbup", "r", 0) ++ partFiles("gbup", "r", 2)).foreach(corruptFile)
    assertThrows[Exception](spark.sql("SELECT SUM(k) FROM gbup.db.t").collect())
    val out = spark.sql(
      "CALL gbup.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 33L, out.toString)
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk2 = TableStats.readWithSketches(meta2.statistics
      .find(_.snapshotId == out.getLong(0)).get.path)
    assert(sk2.bank("{r_id=1}").rowCount == 13L,
      sk2.bank.view.mapValues(_.rowCount).toMap)
    assert(sk2.doc.columns(idOf("k")).ndv == 33L)
    // list-level pruning is alive over the upserted layout: the r=1 read
    // plans past the corrupted partitions without opening them
    val row = spark.sql(
      "SELECT COUNT(*), CAST(SUM(k) AS BIGINT) FROM gbup.db.t WHERE r = 1").head
    assert(row.getLong(0) == 13L, row.toString)
  }

  test("PARTITION SKETCH BANK survives an expiry RE-KEY: partial " +
      "compaction + expiry move the doc, a later delete still rescans " +
      "one partition") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-bk").toString
    spark.conf.set("spark.sql.catalog.gbrk", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbrk.warehouse", wh)
    spark.sql("CREATE TABLE gbrk.db.t (k BIGINT, r BIGINT) PARTITIONED BY (r)")
    spark.sql("INSERT INTO gbrk.db.t SELECT id, id % 3 FROM RANGE(30)")
    val dir = s"$wh/db/t"
    spark.sql("CALL gbrk.system.compute_table_stats(table => 'db.t')")
    // the maintenance loop: partial compaction of ONE partition (r=1's
    // files rewrite; r=0/r=2 manifests carry verbatim), then expiry of
    // everything but the compacted head — the analyzed snapshot expires
    // and its document RE-KEYS to the replace descendant, bank included
    spark.sql("CALL gbrk.system.rewrite_data_files(table => 'db.t', " +
      "where => 'r = 1')")
    spark.sql("CALL gbrk.system.expire_snapshots('db.t', 1)")
    val meta1 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val rekeyed = meta1.statistics.find(
      _.snapshotId == meta1.currentSnapshotId.get).getOrElse(
      fail(s"doc must re-key to the replace head: ${meta1.statistics}"))
    val skR = TableStats.readWithSketches(rekeyed.path)
    assert(skR.bank.keySet == Set("{r_id=0}", "{r_id=1}", "{r_id=2}"),
      s"the bank must re-key with its document: ${skR.bank.keySet}")
    // a delete in r=0 now refreshes against the re-keyed anchor: only
    // r=0 rescans — r=1 (compacted but row-identical) and r=2 serve
    // from the carried bank while their bytes are garbage on disk
    spark.sql("DELETE FROM gbrk.db.t WHERE k = 3")
    (partFiles("gbrk", "r", 1) ++ partFiles("gbrk", "r", 2))
      .foreach(corruptFile)
    val out = spark.sql(
      "CALL gbrk.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 29L, out.toString)
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk2 = TableStats.readWithSketches(
      meta2.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    assert(sk2.bank("{r_id=0}").rowCount == 9L,
      sk2.bank.view.mapValues(_.rowCount).toMap)
    val kId = meta2.currentSchema.fields.find(_.name == "k").get.id
    assert(sk2.doc.columns(kId).ndv == 29L, sk2.doc.columns(kId).toString)
  }

  test("rewrite_manifests BACKFILLS field-110 on a pre-110 table: the eq " +
      "delete regains its null-free proof and bank refresh re-scopes " +
      "(other partitions corrupted on disk)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-bf").toString
    spark.conf.set("spark.sql.catalog.gbbf", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbbf.warehouse", wh)
    spark.sql("CREATE TABLE gbbf.db.t (k BIGINT, r BIGINT) PARTITIONED BY (r)")
    spark.sql("INSERT INTO gbbf.db.t SELECT id, CAST(id / 10 AS BIGINT) FROM RANGE(30)")
    val dir = s"$wh/db/t"
    spark.sql("CALL gbbf.system.compute_table_stats(table => 'db.t')")
    // a PRE-field-110 equality delete lands (the pre-r18 engine shape):
    // key bounds recorded, null_value_counts ABSENT — without the
    // null-free proof the bank must conservatively dirty everything
    val meta0 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val kId = meta0.currentSchema.fields.find(_.name == "k").get.id
    val head0 = meta0.currentSnapshot.get
    val carried = ManifestListReader.read(head0.manifestList.get)
    val snapId = meta0.snapshots.map(_.snapshotId).max + 1
    val eqF = s"$dir/data/eq-legacy.parquet"
    graft.iceberg.ParquetFiles.writeOne(
      spark.range(10, 13).selectExpr("id AS k"), eqF)
    val mEq = s"$dir/m-eq-legacy.avro"
    ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
      1, snapId, eqF, 3L, graft.iceberg.HadoopConfs.length(eqF),
      Map(kId -> SingleValueCodec.encode(IcebergTypes.TLong, 10L)),
      Map(kId -> SingleValueCodec.encode(IcebergTypes.TLong, 12L)),
      content = 2, sequenceNumber = Some(snapId))))
    val list = s"$dir/snap-$snapId-legacy-list.avro"
    ManifestListWriter.write(list, carried.map(_.path) :+ mEq, snapId,
      contents = carried.map(i => i.path -> i.content).toMap + (mEq -> 1),
      specIds = carried.map(i => i.path -> i.specId).toMap,
      summaries = carried.flatMap(i => i.summaries.map(ss => i.path -> ss.map(
        s => ManifestListWriter.FieldSummary(s.containsNull,
          s.lower.getOrElse(Array.empty), s.upper.getOrElse(Array.empty))))).toMap,
      addedSnapshotIds = carried.map(i => i.path -> i.addedSnapshotId).toMap,
      addedCounts = carried.map(i => i.path -> i.addedDataFilesCount).toMap,
      seqNums = carried.map(i => i.path -> i.sequenceNumber).toMap,
      minSeqNums = carried.map(i => i.path -> i.minSequenceNumber).toMap)
    OptimisticCommit.commit(dir, (base, basePath) =>
      MetadataWriter.commitSnapshot(base,
        Snapshot(snapId, base.currentSnapshotId, base.lastUpdatedMs + 1000,
          Some("overwrite"), Map("added-delete-files" -> "1"),
          Some(list), base.currentSchemaId), Some(basePath)))
    assert(spark.sql("SELECT COUNT(*) FROM gbbf.db.t").head.getLong(0) == 27L)
    // the backfill pass: rewrite_manifests reads the delete file's own
    // column stats, re-lists the eq entry WITH its null counts, and
    // keeps the data manifests tuple-pure (bank still usable)
    spark.sql("CALL gbbf.system.rewrite_manifests(table => 'db.t')")
    val metaR = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val delEntries = metaR.currentSnapshot.flatMap(_.manifestList).toSeq
      .flatMap(ManifestListReader.read).filter(_.content == 1)
      .flatMap(i => ManifestWriter.read(i.path)).filter(_.content == 2)
    assert(delEntries.nonEmpty &&
      delEntries.forall(_.nullValueCounts.get(kId).contains(0L)),
      s"field-110 must be backfilled: ${delEntries.map(_.nullValueCounts)}")
    // with the proof restored, [10,12] scopes to r=1 only: destroy the
    // other partitions' bytes — the refresh passes only if they stay
    // clean and serve from the bank
    (partFiles("gbbf", "r", 0) ++ partFiles("gbbf", "r", 2)).foreach(corruptFile)
    val out = spark.sql(
      "CALL gbbf.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 27L, out.toString)
    val sk2 = TableStats.readWithSketches(
      TableMetadata.parseFile(GraftTable.latestMetadataPath(dir)).statistics
        .find(_.snapshotId == out.getLong(0)).get.path)
    assert(sk2.bank("{r_id=1}").rowCount == 7L,
      sk2.bank.view.mapValues(_.rowCount).toMap)
    assert(sk2.bank("{r_id=0}").rowCount == 10L &&
      sk2.bank("{r_id=2}").rowCount == 10L)
    assert(sk2.doc.columns(kId).ndv == 27L, sk2.doc.columns(kId).toString)
  }

  test("PARTITION SKETCH BANK scopes EQUALITY deletes by null-free key " +
      "bounds: a CDC-shaped eq delete dirties only the overlapping partition") {
    val wh = java.nio.file.Files.createTempDirectory("graft-stats-be").toString
    spark.conf.set("spark.sql.catalog.gbeq", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbeq.warehouse", wh)
    spark.sql("CREATE TABLE gbeq.db.t (k BIGINT, r BIGINT) PARTITIONED BY (r)")
    // key ranges ALIGN with partitions: r0 holds k 0..9, r1 10..19, r2 20..29
    spark.sql("INSERT INTO gbeq.db.t SELECT id, CAST(id / 10 AS BIGINT) FROM RANGE(30)")
    val dir = s"$wh/db/t"
    spark.sql("CALL gbeq.system.compute_table_stats(table => 'db.t')")
    // a foreign-CDC-shaped equality delete lands: keys 10..12, manifest
    // entry carrying the key-column bounds AND the spec field-110
    // null-free proof — the shape a Flink/upsert CDC writer produces
    val meta0 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val kId = meta0.currentSchema.fields.find(_.name == "k").get.id
    val head0 = meta0.currentSnapshot.get
    val carried = ManifestListReader.read(head0.manifestList.get)
    val snapId = meta0.snapshots.map(_.snapshotId).max + 1
    val eqF = s"$dir/data/eq-cdc.parquet"
    graft.iceberg.ParquetFiles.writeOne(
      spark.range(10, 13).selectExpr("id AS k"), eqF)
    val mEq = s"$dir/m-eq-cdc.avro"
    ManifestWriter.write(mEq, Seq(ManifestWriter.EntryData(
      1, snapId, eqF, 3L, graft.iceberg.HadoopConfs.length(eqF),
      Map(kId -> SingleValueCodec.encode(IcebergTypes.TLong, 10L)),
      Map(kId -> SingleValueCodec.encode(IcebergTypes.TLong, 12L)),
      content = 2, sequenceNumber = Some(snapId),
      nullValueCounts = Map(kId -> 0L))))
    val list = s"$dir/snap-$snapId-cdc-list.avro"
    ManifestListWriter.write(list, carried.map(_.path) :+ mEq, snapId,
      contents = carried.map(i => i.path -> i.content).toMap + (mEq -> 1),
      specIds = carried.map(i => i.path -> i.specId).toMap,
      summaries = carried.flatMap(i => i.summaries.map(ss => i.path -> ss.map(
        s => ManifestListWriter.FieldSummary(s.containsNull,
          s.lower.getOrElse(Array.empty), s.upper.getOrElse(Array.empty))))).toMap,
      addedSnapshotIds = carried.map(i => i.path -> i.addedSnapshotId).toMap,
      addedCounts = carried.map(i => i.path -> i.addedDataFilesCount).toMap,
      seqNums = carried.map(i => i.path -> i.sequenceNumber).toMap,
      minSeqNums = carried.map(i => i.path -> i.minSequenceNumber).toMap)
    OptimisticCommit.commit(dir, (base, basePath) =>
      MetadataWriter.commitSnapshot(base,
        Snapshot(snapId, base.currentSnapshotId, base.lastUpdatedMs + 1000,
          Some("overwrite"), Map("added-delete-files" -> "1"),
          Some(list), base.currentSchemaId), Some(basePath)))
    assert(spark.sql("SELECT COUNT(*) FROM gbeq.db.t").head.getLong(0) == 27L,
      "the eq delete must apply through the MOR read")
    // the delete's key interval [10,12] can only overlap r=1's envelope
    // [10,19] — r=0 and r=2 must stay CLEAN: destroy their bytes
    (partFiles("gbeq", "r", 0) ++ partFiles("gbeq", "r", 2))
      .foreach(corruptFile)
    val out = spark.sql(
      "CALL gbeq.system.compute_table_stats(table => 'db.t', incremental => true)").head
    assert(out.getString(4) == "incremental", out.toString)
    assert(out.getLong(1) == 27L, out.toString)
    val meta2 = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
    val sk2 = TableStats.readWithSketches(
      meta2.statistics.find(_.snapshotId == out.getLong(0)).get.path)
    assert(sk2.bank("{r_id=1}").rowCount == 7L,
      sk2.bank.view.mapValues(_.rowCount).toMap)
    assert(sk2.bank("{r_id=0}").rowCount == 10L &&
      sk2.bank("{r_id=2}").rowCount == 10L)
    assert(sk2.doc.columns(kId).ndv == 27L, sk2.doc.columns(kId).toString)
  }
}

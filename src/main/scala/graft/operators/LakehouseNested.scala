package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.iceberg._
import graft.iceberg.IcebergTypes.TInt
import graft.operators.LakehouseExec.entryDir

/** Round-12 lakehouse surface: nested column types and the SQL paths a
  * platform team drives daily.
  *
  * - i63: struct/map columns through the FULL catalog + DSv2 stack — an
  *   LLM-data platform stores typed metadata (source, license, scores)
  *   and string-keyed attribute maps NEXT TO the text, not in a side
  *   table. CREATE TABLE serializes the nested types as the Iceberg
  *   canonical JSON object forms (spec-style shared id sequence), the
  *   task writers encode the standard parquet group/MAP layouts, and the
  *   vectorized parquet reader decodes them back. (Reference type-lattice
  *   parity: RECORD and MAP at IcebergDatumWriter.java:124-180.)
  * - i64: SQL `PARTITIONED BY (years(date))` — the most common real
  *   table layout, declared from SQL and proven to prune: the manifests
  *   whose year-summaries exclude the queried year are CORRUPTED on
  *   disk, so the range query's success proves the planner skipped them
  *   unopened (the i29/i61 proof pattern, now in transform space).
  * - i65: sort order declared from SQL (`ALTER TABLE … SET TBLPROPERTIES
  *   ('write.sort-order' = …)`) — subsequent INSERTs range-distribute and
  *   sort, landing files whose bound stats are disjoint key ranges (the
  *   i35 contract with no programmatic API in sight).
  * - i66: `expire_snapshots(older_than_ms => …)` — the age-based expiry
  *   policy platform teams schedule; the newest `retain_last` snapshots
  *   always survive regardless of age.
  * - i67: the `partitions` inspection table — per-tuple file/record
  *   counts from the manifest-list summaries, Iceberg's
  *   `SELECT * FROM t.partitions` surface.
  * - i68: `rewrite_position_delete_files` — equality deletes resolved to
  *   position deletes once, all delete files compacted to one.
  * - i69: `cherrypick_snapshot` — the WAP publish path when main
  *   advanced past the fork and fast_forward must refuse.
  * - i70: type-widening evolution (`ALTER COLUMN … TYPE BIGINT/DOUBLE`)
  *   with lossless promotion of pre-widening files on every route.
  * - i71: stats-served aggregates — COUNT(*)/MIN/MAX pushed into the
  *   scan and answered from manifest stats, zero data bytes read.
  */
object LakehouseNested {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- i63
  val nestedTable: Q = (spark, sfDir) => {
    val wh = entryDir("i63", sfDir)
    spark.conf.set("spark.sql.catalog.graft_nst",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_nst.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i63_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_nst.db.docs (
        n_nationkey INT,
        info STRUCT<name: STRING, region: INT>,
        attrs MAP<STRING, BIGINT>)""")
      spark.sql("""INSERT INTO graft_nst.db.docs
        SELECT n_nationkey,
          named_struct('name', n_name, 'region', n_regionkey),
          map('rk', CAST(n_regionkey AS BIGINT),
              'len', CAST(length(n_name) AS BIGINT))
        FROM i63_nation_src""")
      // the committed metadata must carry the canonical nested JSON —
      // re-parsing it yields the same Spark types (round-trip proof)
      val meta = TableMetadata.parseFile(
        GraftTable.latestMetadataPath(s"$wh/db/docs"))
      val round = GraftTable.sparkSchema(meta)
      require(round("info").dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
        round("attrs").dataType.isInstanceOf[org.apache.spark.sql.types.MapType],
        s"nested types did not round-trip through metadata: $round")
    }
    spark.sql("""SELECT n_nationkey, info.name AS i_name, info.region AS i_region,
      attrs['rk'] AS a_rk, attrs['len'] AS a_len
      FROM graft_nst.db.docs ORDER BY n_nationkey""")
  }

  val nestedTableSql: String =
    """SELECT n_nationkey, n_name AS i_name, n_regionkey AS i_region,
      |  CAST(n_regionkey AS BIGINT) AS a_rk, CAST(length(n_name) AS BIGINT) AS a_len
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- i64
  val sqlDatePartition: Q = (spark, sfDir) => {
    val wh = entryDir("i64", sfDir)
    spark.conf.set("spark.sql.catalog.graft_dtp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dtp.warehouse", wh)
    Tables.load(spark, sfDir, "orders").createOrReplaceTempView("i64_orders_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_dtp.db.ord
        (o_orderkey BIGINT, o_odate DATE, o_totalprice DOUBLE)
        PARTITIONED BY (years(o_odate))""")
      spark.sql("""INSERT INTO graft_dtp.db.ord
        SELECT o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
        FROM i64_orders_src""")
      // corrupted-manifest pruning proof: every data manifest whose
      // year-summary excludes 1995 (ordinal 25) becomes unreadable; the
      // 1995 range query below can only succeed if the planner pruned
      // them from the manifest-list summaries WITHOUT opening them
      val dir = s"$wh/db/ord"
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      val infos = ManifestListReader
        .read(meta.currentSnapshot.get.manifestList.get).filter(_.content == 0)
      val doomed = infos.filter(_.summaries.exists(_.headOption.exists { s =>
        (for { lo <- s.lower.filter(_.nonEmpty); hi <- s.upper.filter(_.nonEmpty) }
          yield SingleValueCodec.decode(TInt, lo).asInstanceOf[Int] > 25 ||
            SingleValueCodec.decode(TInt, hi).asInstanceOf[Int] < 25)
          .getOrElse(false)
      }))
      require(doomed.size >= 2 && doomed.size < infos.size,
        s"expected a prunable year layout, got ${doomed.size}/${infos.size}")
      doomed.foreach(i => java.nio.file.Files.write(java.nio.file.Paths.get(PathId(i.path)),
        "corrupted: year-pruning must skip this manifest unopened".getBytes))
    }
    spark.sql("""SELECT COUNT(*) AS n_rows,
      CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18, 2))), 2) AS DOUBLE) AS total
      FROM graft_dtp.db.ord
      WHERE o_odate >= DATE'1995-01-01' AND o_odate <= DATE'1995-12-31'""")
  }

  val sqlDatePartitionSql: String =
    """SELECT COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18, 2))), 2) AS DOUBLE) AS total
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'""".stripMargin

  // ---------------------------------------------------------------- i65
  val sqlWriteOrder: Q = (spark, sfDir) => {
    val wh = entryDir("i65", sfDir)
    spark.conf.set("spark.sql.catalog.graft_swo",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_swo.warehouse", wh)
    Tables.load(spark, sfDir, "customer").createOrReplaceTempView("i65_cust_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_swo.db.cust
        (c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)""")
      spark.sql("""ALTER TABLE graft_swo.db.cust
        SET TBLPROPERTIES ('write.sort-order' = 'c_custkey ASC')""")
      // force several tasks so the range distribution has something to
      // range over — each task's file must own a DISJOINT key interval.
      // (AQE would coalesce this KB-scale shuffle into one task; at real
      // scale the range exchange keeps its parallelism on its own.)
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val saved = spark.conf.get(coalesceKey)
      spark.conf.set(coalesceKey, "false")
      spark.sql("SET spark.sql.shuffle.partitions=4")
      try spark.sql("""INSERT INTO graft_swo.db.cust
        SELECT c_custkey, c_name, c_acctbal FROM i65_cust_src""")
      finally {
        spark.conf.set(coalesceKey, saved)
        spark.sql("SET spark.sql.shuffle.partitions=32")
      }
      val dir = s"$wh/db/cust"
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(dir))
      require(meta.defaultSortOrderId == 1 && meta.sortOrders.nonEmpty,
        s"ALTER did not evolve the sort order: ${meta.sortOrders}")
      // the i35 contract, SQL-declared: per-file custkey bounds disjoint
      val entries = ManifestListReader
        .read(meta.currentSnapshot.get.manifestList.get).filter(_.content == 0)
        .flatMap(i => ManifestWriter.read(i.path)).filter(_.content == 0)
      val ranges = entries.flatMap { e =>
        for { lo <- e.lowerBounds.get(1); hi <- e.upperBounds.get(1) }
          yield (SingleValueCodec.decode(IcebergTypes.TLong, lo).asInstanceOf[Long],
            SingleValueCodec.decode(IcebergTypes.TLong, hi).asInstanceOf[Long])
      }.sortBy(_._1)
      require(ranges.size == entries.size && ranges.size > 1,
        s"expected multiple bounded files, got ${ranges.size}")
      ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
        require(hi < lo, s"file key ranges overlap: $ranges")
      case _ => }
    }
    spark.sql("""SELECT COUNT(*) AS n_rows, MIN(c_custkey) AS min_k,
      MAX(c_custkey) AS max_k,
      CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18, 2))), 2) AS DOUBLE) AS bal
      FROM graft_swo.db.cust WHERE c_custkey <= 100""")
  }

  val sqlWriteOrderSql: String =
    """SELECT COUNT(*) AS n_rows, MIN(c_custkey) AS min_k, MAX(c_custkey) AS max_k,
      |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18, 2))), 2) AS DOUBLE) AS bal
      |FROM customer WHERE c_custkey <= 100""".stripMargin

  // ---------------------------------------------------------------- i66
  private val T0 = LakehouseExec.T0

  val expireOlderThan: Q = (spark, sfDir) => {
    val wh = entryDir("i66", sfDir)
    spark.conf.set("spark.sql.catalog.graft_exp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_exp.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i66_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql(s"""CREATE TABLE graft_exp.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('commit-timestamp-ms'='$T0')""")
      // four append snapshots at T0+1s..T0+4s (the deterministic commit
      // clock: each CAS commit advances lastUpdatedMs by 1000)
      (0 until 4).foreach(i => spark.sql(s"""INSERT INTO graft_exp.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i66_nation_src
        WHERE pmod(n_nationkey, 4) = $i"""))
      // age cutoff T0+3.5s: snapshots 1 and 2 are old enough to expire;
      // snapshot 3 is ALSO older than the cutoff but survives because the
      // newest retain_last=2 are always kept — the production guard that
      // a scheduled age policy can never empty history
      val row = spark.sql(s"""CALL graft_exp.system.expire_snapshots(
        table => 'db.n', retain_last => 2,
        older_than_ms => ${T0 + 3500})""").head()
      require(row.getInt(0) == 2 && row.getInt(1) == 2,
        s"expected (expired=2, retained=2), got $row")
      val left = TableMetadata.parseFile(
        GraftTable.latestMetadataPath(s"$wh/db/n")).snapshots.map(_.snapshotId)
      require(left == Seq(3L, 4L), s"expected snapshots [3, 4], got $left")
    }
    spark.sql("""SELECT COUNT(*) AS n_rows,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      COUNT(DISTINCT n_regionkey) AS n_regions
      FROM graft_exp.db.n""")
  }

  val expireOlderThanSql: String =
    """SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      |  COUNT(DISTINCT n_regionkey) AS n_regions
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i67
  /** The `partitions` inspection table over a SQL-created identity-
    * partitioned table: per-tuple file/record counts straight from the
    * manifest-list summaries + entry counts — Iceberg's
    * `SELECT * FROM t.partitions` surface. The per-region record counts
    * are exactly nation's region histogram, which is the oracle. */
  val partitionsTable: Q = (spark, sfDir) => {
    val wh = entryDir("i67", sfDir)
    spark.conf.set("spark.sql.catalog.graft_pts",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pts.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i67_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_pts.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        PARTITIONED BY (n_regionkey)""")
      spark.sql("""INSERT INTO graft_pts.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i67_nation_src""")
    }
    import org.apache.spark.sql.functions.col
    spark.sql("SELECT partition, record_count FROM graft_pts.db.n.partitions")
      .orderBy(col("partition"))
  }

  val partitionsTableSql: String =
    """SELECT '{n_regionkey_id=' || n_regionkey || '}' AS partition,
      |  COUNT(*) AS record_count
      |FROM nation GROUP BY n_regionkey ORDER BY partition""".stripMargin

  // ---------------------------------------------------------------- i68
  /** `rewrite_position_delete_files` from SQL: the table accumulates MOR
    * debt of BOTH kinds — a row-level DELETE lands a position-delete
    * file, a streaming-shape upsert lands an equality-delete file — and
    * the procedure resolves the equality values to physical addresses
    * once, compacts all delete files into ONE position-delete file, and
    * leaves data files untouched. The read-back proves the equality
    * semantics survived the rewrite exactly (deleted keys gone, the
    * upserted key resolves to its replacement), and the delete_files
    * inspection table proves the delete side is position-only. */
  val rewritePosDeletes: Q = (spark, sfDir) => {
    import spark.implicits._
    val wh = entryDir("i68", sfDir)
    spark.conf.set("spark.sql.catalog.graft_rpd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rpd.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i68_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql(s"""CREATE TABLE graft_rpd.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('commit-timestamp-ms'='$T0')""")
      spark.sql("""INSERT INTO graft_rpd.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i68_nation_src""")
      // MOR debt kind 1: a row-level DELETE → position-delete file
      spark.sql("DELETE FROM graft_rpd.db.n WHERE n_nationkey IN (2, 4)")
      // MOR debt kind 2: a streaming-shape upsert → equality-delete file
      GraftTable.upsert(spark, s"$wh/db/n",
        Seq((7, "RPD_7", 9)).toDF("n_nationkey", "n_name", "n_regionkey"),
        Seq("n_nationkey"))
      val row = spark.sql(
        "CALL graft_rpd.system.rewrite_position_delete_files(table => 'db.n')").head()
      require(row.getInt(0) >= 2 && row.getInt(1) == 1,
        s"expected >=2 delete files compacted to 1, got $row")
    }
    val delKinds = spark.sql(
      """SELECT content, COUNT(*) AS n FROM graft_rpd.db.n.delete_files
        GROUP BY content""").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    require(delKinds == Seq((1, 1L)),
      s"expected exactly one position-delete file, got $delKinds")
    spark.sql("""SELECT COUNT(*) AS n_rows,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      MAX(CASE WHEN n_nationkey = 7 THEN n_name END) AS name_7,
      COUNT(CASE WHEN n_nationkey IN (2, 4) THEN 1 END) AS n_deleted_present
      FROM graft_rpd.db.n""")
  }

  val rewritePosDeletesSql: String =
    """SELECT COUNT(*) - 2 AS n_rows,
      |  CAST(SUM(n_nationkey) - 2 - 4 AS BIGINT) AS sum_key,
      |  'RPD_7' AS name_7, CAST(0 AS BIGINT) AS n_deleted_present
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i69
  /** Cherry-pick publish — the WAP ending fast_forward cannot serve:
    * after the audit branch forks, MAIN ADVANCES (a concurrent ingest
    * lands — itself staged through the `spark.wap.id` flavor: the insert
    * commits stage-only under `write.wap.enabled`, provably invisible
    * until `publish_changes` fast-forwards main onto the staged id), so
    * the audited snapshot no longer descends from the head and
    * fast_forward must refuse. `cherrypick_snapshot` re-applies the
    * staged snapshot's ADDED manifests onto main as a NEW commit
    * (entries re-sequenced, main's lineage intact) — both the interim
    * main rows and the audited rows are visible after publish. BOTH WAP
    * mechanisms (branch refs and wap.id staging) drive one entry. */
  val cherrypickPublish: Q = (spark, sfDir) => {
    val wh = entryDir("i69", sfDir)
    spark.conf.set("spark.sql.catalog.graft_chp",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_chp.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i69_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql(s"""CREATE TABLE graft_chp.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)
        TBLPROPERTIES ('commit-timestamp-ms'='$T0',
          'write.wap.enabled'='true')""")
      spark.sql("""INSERT INTO graft_chp.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i69_nation_src
        WHERE n_regionkey < 2""")
      spark.sql("CALL graft_chp.system.create_branch(table => 'db.n', branch => 'audit')")
      spark.sql("""INSERT INTO graft_chp.db.n.branch_audit
        SELECT n_nationkey, n_name, n_regionkey FROM i69_nation_src
        WHERE n_regionkey IN (2, 3)""")
      // main advances past the fork — through the OTHER write-audit-
      // publish flavor: the region-4 insert STAGES under spark.wap.id
      // (snapshot in the document, no pointer moves — readers provably
      // blind to it), then publish_changes lands it. Main never moved
      // between stage and publish, so the publish is the fast-forward
      // case: the staged id itself becomes current, zero manifest work.
      val preStage = spark.sql("SELECT COUNT(*) FROM graft_chp.db.n").head().getLong(0)
      spark.conf.set("spark.wap.id", "i69-audit-1")
      try
        spark.sql("""INSERT INTO graft_chp.db.n
          SELECT n_nationkey, n_name, n_regionkey FROM i69_nation_src
          WHERE n_regionkey = 4""")
      finally spark.conf.unset("spark.wap.id")
      require(spark.sql("SELECT COUNT(*) FROM graft_chp.db.n").head().getLong(0)
          == preStage,
        "a wap.id staged insert must be invisible until publish_changes")
      spark.sql("CALL graft_chp.system.publish_changes('db.n', 'i69-audit-1')")
      require(spark.sql("SELECT COUNT(*) FROM graft_chp.db.n").head().getLong(0)
          > preStage, "publish_changes must land the staged rows")
      // fast_forward must refuse the now-non-descendant audit branch
      val ffRefused = scala.util.Try(
        spark.sql("CALL graft_chp.system.fast_forward('db.n', 'audit')")).isFailure
      require(ffRefused, "fast_forward must refuse a non-descendant target")
      val staged = spark.sql(
        "SELECT snapshot_id FROM graft_chp.db.n.refs WHERE name = 'audit'")
        .head().getLong(0)
      spark.sql(s"CALL graft_chp.system.cherrypick_snapshot('db.n', $staged)")
    }
    spark.sql("""SELECT n_regionkey, COUNT(*) AS n_live,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      FROM graft_chp.db.n GROUP BY n_regionkey ORDER BY n_regionkey""")
  }

  val cherrypickPublishSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_live,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- i70
  /** Type-widening evolution from SQL: `ALTER COLUMN k TYPE BIGINT` /
    * `ALTER COLUMN bal TYPE DOUBLE` (the safe promotions — anything else
    * refused), then an insert whose key EXCEEDS int range proves the
    * declared type really widened; old INT32/FLOAT files promote
    * losslessly on every read route. Fractions are exact halves, so the
    * float→double promotion is bit-exact and the double sum is
    * oracle-stable. */
  val typeWidening: Q = (spark, sfDir) => {
    val wh = entryDir("i70", sfDir)
    spark.conf.set("spark.sql.catalog.graft_twd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_twd.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i70_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_twd.db.n
        (n_nationkey INT, n_name STRING, bal FLOAT)""")
      spark.sql("""INSERT INTO graft_twd.db.n
        SELECT n_nationkey, n_name, CAST(n_nationkey AS FLOAT) / 2
        FROM i70_nation_src""")
      spark.sql("ALTER TABLE graft_twd.db.n ALTER COLUMN n_nationkey TYPE BIGINT")
      spark.sql("ALTER TABLE graft_twd.db.n ALTER COLUMN bal TYPE DOUBLE")
      spark.sql("""INSERT INTO graft_twd.db.n
        VALUES (CAST(5000000000 AS BIGINT), 'WIDE', CAST(99.25 AS DOUBLE))""")
    }
    spark.sql("""SELECT COUNT(*) AS n_rows,
      CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
      MAX(n_nationkey) AS max_key,
      CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS sum_bal
      FROM graft_twd.db.n""")
  }

  val typeWideningSql: String =
    """SELECT COUNT(*) + 1 AS n_rows,
      |  CAST(SUM(n_nationkey) + 5000000000 AS BIGINT) AS sum_key,
      |  CAST(5000000000 AS BIGINT) AS max_key,
      |  CAST(ROUND(SUM(CAST(n_nationkey AS DOUBLE) / 2) + 99.25, 2) AS DOUBLE) AS sum_bal
      |FROM nation""".stripMargin

  // ---------------------------------------------------------------- i71
  /** Stats-served aggregates: `SELECT COUNT(*), MIN(k), MAX(k) FROM t`
    * on a clean table answers from ONE KB-scale metadata pass — the
    * aggregate pushes into the scan and a LocalTableScan serves it, no
    * data bytes read. Proven destructively: every data file is corrupted
    * before the query, so only the manifest stats can know the answer.
    * At 100 TB this is the single most-asked metadata question
    * (row count) going from a full scan to milliseconds. */
  val statsAggregate: Q = (spark, sfDir) => {
    val wh = entryDir("i71", sfDir)
    spark.conf.set("spark.sql.catalog.graft_agg",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_agg.warehouse", wh)
    Tables.load(spark, sfDir, "nation").createOrReplaceTempView("i71_nation_src")
    graft.TmpOutputs.ensure(wh) {
      spark.sql("""CREATE TABLE graft_agg.db.n
        (n_nationkey INT, n_name STRING, n_regionkey INT)""")
      spark.sql("""INSERT INTO graft_agg.db.n
        SELECT n_nationkey, n_name, n_regionkey FROM i71_nation_src""")
      val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(s"$wh/db/n"))
      ManifestListReader.read(meta.currentSnapshot.get.manifestList.get)
        .flatMap(i => ManifestWriter.read(i.path)).filter(_.content == 0)
        .foreach(e => java.nio.file.Files.write(java.nio.file.Paths.get(PathId(e.filePath)),
          "corrupted: aggregates must come from manifest stats".getBytes))
    }
    val df = spark.sql("""SELECT COUNT(*) AS n_rows,
      MIN(n_nationkey) AS min_key, MAX(n_nationkey) AS max_key,
      MAX(n_name) AS max_name
      FROM graft_agg.db.n""")
    require(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "the aggregate must be stats-served:\n" +
        df.queryExecution.executedPlan.toString)
    df
  }

  val statsAggregateSql: String =
    """SELECT COUNT(*) AS n_rows, MIN(n_nationkey) AS min_key,
      |  MAX(n_nationkey) AS max_key, MAX(n_name) AS max_name
      |FROM nation""".stripMargin

  val queries: Map[String, Q] = Map(
    "i71_stats_aggregate" -> statsAggregate,
    "i70_type_widening" -> typeWidening,
    "i69_cherrypick_publish" -> cherrypickPublish,
    "i68_rewrite_pos_deletes" -> rewritePosDeletes,
    "i63_nested_table" -> nestedTable,
    "i64_sql_date_partition" -> sqlDatePartition,
    "i65_sql_write_order" -> sqlWriteOrder,
    "i66_expire_older_than" -> expireOlderThan,
    "i67_partitions_table" -> partitionsTable)

  val oracles: Map[String, String] = Map(
    "i71_stats_aggregate" -> statsAggregateSql,
    "i70_type_widening" -> typeWideningSql,
    "i69_cherrypick_publish" -> cherrypickPublishSql,
    "i68_rewrite_pos_deletes" -> rewritePosDeletesSql,
    "i63_nested_table" -> nestedTableSql,
    "i64_sql_date_partition" -> sqlDatePartitionSql,
    "i65_sql_write_order" -> sqlWriteOrderSql,
    "i66_expire_older_than" -> expireOlderThanSql,
    "i67_partitions_table" -> partitionsTableSql)
}

package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table: the same DataFrame model as
  * batch (`readStream` → transforms → `writeStream`), with event-time
  * watermarks, tumbling windows and arbitrary stateful processing
  * (`mapGroupsWithState`).
  *
  * The entries below drive the streams with Trigger.AvailableNow against
  * the parquet file source and land results in a memory sink, so the
  * correctness harness can treat them like any other query; in production
  * the identical pipeline tails a directory/Kafka source continuously.
  * The reference has no streaming at all (SURVEY.md §2.2) — this is
  * north-star surface.
  */
object EventStreams {

  type Q = (SparkSession, String) => DataFrame

  /** The stream's declared schema is the file's ACTUAL footer schema (one
    * batch-planning read — cheap, metadata only), so `ts` arrives as
    * whatever physical form this testdata generation shipped (nanos long,
    * TIMESTAMP_NTZ micros, or TimestampType) and [[graft.Tables.normalizeTs]]
    * — the same dispatch the batch route uses — canonicalizes it to
    * micros TimestampType. Self-describing: no flag or generation
    * assumptions baked into the stream. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // r22: served from Tables' JVM-wide schema cache — the per-drive
    // schema-inference job (one per streaming entry per bench pass) was
    // pure fixed cost over an immutable input
    val physical = graft.Tables.physicalSchema(spark, dir, "events")
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(physical)
        // the file source wants a directory/glob, not a bare file path
        .parquet(s"$dir/*events.parquet"))
  }

  /** Micro-batches that carried input rows in the most recent
    * [[runToMemory]] drive — lets specs pin the single-batch assumption
    * some oracles depend on (see [[streamDedup]]). */
  @volatile private[streaming] var lastDriveInputBatches: Int = -1

  private def runToMemory(spark: SparkSession, df: DataFrame, mode: OutputMode,
      noDataBatches: Boolean = false): DataFrame = {
    val name = "mem_" + UUID.randomUUID().toString.replace("-", "")
    // Stateful streaming ops keep ONE state store per shuffle partition,
    // each paying per-batch snapshot/commit overhead — at this input scale
    // anything beyond a handful of stores is pure fixed cost (a production
    // deployment sizes this to state volume, and it's fixed at the FIRST
    // run of a checkpoint). The result is partitioning-independent;
    // restored after the drive.
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    // Most entries driven through this harness never emit on watermark
    // finalization (Complete/Update re-emit per batch; the Append entries
    // — stream-stream inner join, dropDuplicatesWithinWatermark,
    // mapGroups/transformWithState — all emit in the data batch itself;
    // watermarks only bound STATE), so for them the trailing no-data
    // micro-batch Spark would run to advance the watermark is pure
    // per-query fixed cost and stays off. An entry whose OUTPUT is the
    // finalization itself (st15's windowed Append aggregation) passes
    // noDataBatches=true: the trailing batch is then the event that
    // emits the closed windows.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevNd = spark.conf.get(ndKey)
    spark.conf.set(ndKey, noDataBatches.toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastDriveInputBatches = q.recentProgress.count(_.numInputRows > 0)
    } finally {
      spark.conf.set(key, prev)
      spark.conf.set(ndKey, prevNd)
    }
    spark.table(name)
  }

  /** Tumbling 1-hour event-time windows with a 30-minute watermark —
    * the streaming twin of the batch hourly rollup (Relational.q20), and
    * hash-matched against the same DuckDB oracle: AvailableNow over one
    * file is a single micro-batch, so the watermark drops nothing and
    * streaming output == batch output. */
  val streamHourly: Q = (spark, dir) => {
    import spark.implicits._
    val windowed = eventsStream(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast(DecimalType(12, 2))), 2).cast(DoubleType).as("total_value"))
    // Complete mode: Append would hold back windows the watermark hasn't
    // passed when AvailableNow terminates (the trailing 30 minutes), so
    // the finite-drive harness would miss the newest windows.
    runToMemory(spark, windowed, OutputMode.Complete())
      .select(date_format($"window.start", "yyyy-MM-dd HH:00:00").as("hour"),
        $"event_type", $"n_events", $"total_value")
      .orderBy($"hour", $"event_type")
  }

  val streamHourlySql: String =
    """SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  /** st15 — APPEND-mode windowed aggregation: the watermark-finalization
    * semantic itself, under the oracle gate. Append emits a window
    * exactly once, when the watermark passes its END — the contract that
    * lets a downstream append-only sink (files, Kafka, an Iceberg append)
    * receive each window as an immutable fact instead of st10's
    * rewrite-the-world Complete stream. The drive needs the trailing
    * no-data micro-batch (harness flag): the single data batch runs at
    * watermark 0 and emits NOTHING; the no-data batch then advances the
    * watermark to max(ts) − 30 min and flushes every closed window. The
    * windows still open at that cutoff are withheld — deterministically,
    * so DuckDB recomputes the SAME cutoff (window end ≤ max(ts) − 30 min)
    * and exact equality proves both the emit-once finalization AND the
    * withholding. State at scale: one row per (open window × type) per
    * partition, bounded by eviction at the same watermark. */
  val streamHourlyAppend: Q = (spark, dir) => {
    import spark.implicits._
    val windowed = eventsStream(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast(DecimalType(12, 2))), 2).cast(DoubleType).as("total_value"))
    runToMemory(spark, windowed, OutputMode.Append(), noDataBatches = true)
      .select(date_format($"window.start", "yyyy-MM-dd HH:00:00").as("hour"),
        $"event_type", $"n_events", $"total_value")
      .orderBy($"hour", $"event_type")
  }

  val streamHourlyAppendSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
      |FROM events
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      |  <= (SELECT MAX(ts) FROM events) - INTERVAL 30 MINUTE
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin

  final case class SessionEvent(user_id: Long, ts_us: Long, event_id: Long)
  final case class SessionState(nSessions: Long, nEvents: Long, lastTsUs: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Arbitrary stateful processing: per-user sessionization (30-minute
    * gap) via mapGroupsWithState — the streaming twin of the batch
    * lag/cumsum sessionizer (Relational.q21), hash-matched against the
    * same oracle.
    *
    * Events are sorted in-group per batch; state carries (session count,
    * event count, last timestamp) across batches. At production scale the
    * state store shards by user_id — memory per key is O(1).
    */
  val streamSessions: Q = (spark, dir) => {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[SessionEvent]
    val gapUs = 1800L * 1000000L

    val sessions = events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var s = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
          sorted.foreach { e =>
            val newSession = s.lastTsUs == Long.MinValue || e.ts_us - s.lastTsUs > gapUs
            s = SessionState(s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1, e.ts_us)
          }
          state.update(s)
          UserSessions(userId, s.nSessions, s.nEvents)
      }
    runToMemory(spark, sessions.toDF(), OutputMode.Update())
      .orderBy($"user_id")
  }

  val streamSessionsSql: String =
    """SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts_us,
      |      CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |        LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |      FROM events) a) b) c
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Gap-based sessions via the built-in `session_window` (dynamic-gap
    * merging windows) — the third independent implementation of the same
    * semantics (batch lag/cumsum = q21, mapGroupsWithState = st02), all
    * hash-matched against one oracle. */
  val streamSessionWindow: Q = (spark, dir) => {
    import spark.implicits._
    val sessions = eventsStream(spark, dir)
      .withWatermark("ts", "30 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      // the session_window struct never leaves the stream: the post-sink
      // rollup reads only (user_id, n_events), so dropping the struct
      // before the Complete-mode sink re-emits every row per batch cuts
      // the driver-side collect width (R21Probe4: ~-0.2 s warm,
      // hash-identical)
      .select($"user_id", $"n_events")
    runToMemory(spark, sessions, OutputMode.Complete())
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .orderBy($"user_id")
  }

  /** q21's oracle, reused: session_window(gap) merges any events within
    * 30 minutes of each other — identical partitioning to the lag>gap
    * cumulative-flag formulation. */
  val streamSessionWindowSql: String =
    """SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts_us,
      |      CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |        LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |      FROM events) a) b) c
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Stream-stream inner join with event-time range condition: each error
    * joined to purchases of the same user in the preceding hour. Both
    * sides watermarked (bounds the join state); AvailableNow processes the
    * single file in one batch, so the result equals the batch interval
    * join and shares its oracle. Output keyed deterministically and
    * aggregated per error event. */
  val streamIntervalJoin: Q = (spark, dir) => {
    import spark.implicits._
    // ONE stream source self-joined (Spark supports stream self-joins):
    // both sides derive from the same relation, so the engine tracks one
    // offset log and lists/plans the file source once per micro-batch
    // instead of twice — measured ~0.3 s/drive at sf0.1, and at scale it
    // halves the source listing/scan for every interval-join micro-batch.
    // Join semantics and output are identical (the sides differ only in
    // their filters).
    val ev = eventsStream(spark, dir)
    val errors = ev
      .filter($"event_type" === "error")
      .select($"event_id".as("e_id"), $"user_id".as("e_user"), $"ts".as("e_ts"))
      .withWatermark("e_ts", "30 minutes")
    val purchases = ev
      .filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val joined = errors.join(purchases,
      $"e_user" === $"p_user" &&
        $"p_ts" >= $"e_ts" - expr("INTERVAL 1 HOUR") && $"p_ts" < $"e_ts")
      // the post-sink rollup reads only (e_id, p_ts): halve the joined
      // row before the memory sink's driver-side collect (R21Probe4)
      .select($"e_id", $"p_ts")
    runToMemory(spark, joined, OutputMode.Append())
      .groupBy($"e_id")
      .agg(count(lit(1)).as("n_recent_purchases"), max(unix_micros($"p_ts")).as("last_purchase_us"))
      .orderBy($"e_id")
  }

  val streamIntervalJoinSql: String =
    """SELECT e.event_id AS e_id, COUNT(*) AS n_recent_purchases,
      |  MAX(epoch_us(p.ts)) AS last_purchase_us
      |FROM events e JOIN events p
      |  ON e.event_type = 'error' AND p.event_type = 'purchase'
      |  AND e.user_id = p.user_id
      |  AND epoch_us(p.ts) >= epoch_us(e.ts) - CAST(3600 AS BIGINT) * 1000000
      |  AND epoch_us(p.ts) < epoch_us(e.ts)
      |GROUP BY e.event_id
      |ORDER BY e_id""".stripMargin

  /** Streaming deduplication: `dropDuplicatesWithinWatermark` keeps one
    * row per (user_id, event_type) with state evicted as the watermark
    * advances — the streaming twin of d01's exact dedup and the state-
    * bounded form a continuous ingest pipeline needs (plain dropDuplicates
    * without event-time keys grows state forever). Which row survives per
    * key is batch-order-dependent, so the entry aggregates to the
    * key-level count — deterministic and oracle-checkable.
    *
    * SINGLE-BATCH ASSUMPTION: the COUNT(DISTINCT) oracle equality holds
    * because AvailableNow over one file delivers all input in one
    * micro-batch; with the 1-hour watermark, input split across batches
    * (e.g. maxFilesPerTrigger) could re-emit a key whose duplicate
    * arrives > 1h of event time after state eviction. StreamingSpec pins
    * the one-batch drive via [[lastDriveInputBatches]]. */
  val streamDedup: Q = (spark, dir) => {
    import spark.implicits._
    val dedup = eventsStream(spark, dir)
      // only the dedup keys + the watermark column: prunes the scan down
      // from all 6 event columns and narrows both the state rows and the
      // memory sink's driver-side collect (guide §2.3 — project before
      // the exchange/sink). Which row survives per key is irrelevant once
      // projected; the post-sink count is identical (R21Probe4,
      // hash-pinned).
      .select($"user_id", $"event_type", $"ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"event_type")
    runToMemory(spark, dedup, OutputMode.Append())
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_distinct_users"))
      .orderBy($"event_type")
  }

  val streamDedupSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  final case class SessionRow(
      user_id: Long, session_idx: Long, n_events: Long, start_us: Long, end_us: Long)

  /** flatMapGroupsWithState — the multi-output arbitrary-stateful API
    * (mapGroupsWithState's one-row-per-key sibling, st02): each user's
    * group emits one row PER SESSION (30-minute gap), not one rollup row.
    * Events are sorted in-group before folding so the output is
    * deterministic; state would carry the open session across batches in
    * a continuous run (AvailableNow delivers one batch, so every session
    * closes at end-of-group). Oracle: the per-session batch rollup of the
    * q21 sessionizer. */
  val streamSessionDetail: Q = (spark, dir) => {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
      .as[SessionEvent]
    val gapUs = 1800L * 1000000L
    val sessions = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
          val out = Seq.newBuilder[SessionRow]
          var idx = 0L; var n = 0L; var start = Long.MinValue; var last = Long.MinValue
          sorted.foreach { e =>
            if (last != Long.MinValue && e.ts_us - last > gapUs) {
              out += SessionRow(userId, idx, n, start, last)
              idx += 1; n = 0L; start = e.ts_us
            } else if (last == Long.MinValue) start = e.ts_us
            n += 1; last = e.ts_us
          }
          if (n > 0) out += SessionRow(userId, idx, n, start, last)
          state.update(SessionState(idx + 1, n, last))
          out.result().iterator
      }
    runToMemory(spark, sessions.toDF(), OutputMode.Append())
      .orderBy($"user_id", $"session_idx")
  }

  val streamSessionDetailSql: String =
    """SELECT user_id, CAST(session_id - 1 AS BIGINT) AS session_idx,
      |  COUNT(*) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |FROM (
      |  SELECT user_id, ts_us,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, ts_us,
      |      CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |        LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |      FROM events) a) b) c
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_idx""".stripMargin

  final case class UserEvent(user_id: Long, event_type: String, ts_us: Long)
  final case class UserStats(user_id: Long, n_events: Long, n_purchase: Long, last_event_us: Long)

  /** transformWithState processor: ValueState accumulator per user.
    * Counts and max are order-independent, so the emitted row is
    * deterministic whatever order the batch iterator yields. */
  private class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserStats] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserStats] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserStats]("agg",
        org.apache.spark.sql.Encoders.product[UserStats],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserStats] = {
      val prev = Option(state.get()).getOrElse(UserStats(key, 0L, 0L, Long.MinValue))
      var n = prev.n_events; var p = prev.n_purchase; var last = prev.last_event_us
      rows.foreach { e =>
        n += 1
        if (e.event_type == "purchase") p += 1
        if (e.ts_us > last) last = e.ts_us
      }
      val agg = UserStats(key, n, p, last)
      state.update(agg)
      Iterator.single(agg)
    }
  }

  /** transformWithState — Spark 4's arbitrary-stateful successor to
    * map/flatMapGroupsWithState (st02/st06): typed ValueState with an
    * explicit StatefulProcessor lifecycle, TTL support and the RocksDB
    * state store (required by the API; HDFS-backed stores are not
    * supported for it). Per-user running totals emitted once per batch —
    * AvailableNow drives one batch, so the output equals the batch GROUP
    * BY and shares its oracle. */
  val streamTransformWithState: Q = (spark, dir) => {
    import spark.implicits._
    val events = eventsStream(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
      .as[UserEvent]
    val stats = events.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToMemory(spark, stats.toDF(), OutputMode.Append()).orderBy($"user_id")
    finally spark.conf.set(key, prev)
  }

  val streamTransformWithStateSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  MAX(epoch_us(ts)) AS last_event_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stream-static join — the enrichment shape of every production
    * ingest: the unbounded stream joins a bounded dimension that is
    * re-read per micro-batch (so dim updates are picked up) and
    * broadcast (the stream side is never shuffled for the join). Events
    * whose user_id matches a customer key gain the nation dimension;
    * rollup per nation. Inner join keeps the result append-safe without
    * watermark bookkeeping on the static side. */
  val streamStaticJoin: Q = (spark, dir) => {
    import spark.implicits._
    val dim = graft.Tables.load(spark, dir, "customer")
      .join(graft.Tables.load(spark, dir, "nation"),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val enriched = eventsStream(spark, dir)
      .join(broadcast(dim), $"user_id" === $"c_custkey")
      // project to the two columns the post-sink rollup reads: the memory
      // sink collects every output row to the driver, so without this the
      // sink ships all event columns (props is a fat string) AND the scan
      // loses column pruning. Warm A/B (R21Probe4): 3.25 → 1.84 s min;
      // result hash-identical.
      .select($"n_name", $"user_id")
    runToMemory(spark, enriched, OutputMode.Append())
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"n_name")
  }

  val streamStaticJoinSql: String =
    """SELECT n_name, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** foreachBatch sink — the production escape hatch for sinks Spark has
    * no native writer for (JDBC upserts, Iceberg commits): each
    * micro-batch lands as an idempotent `batch=<id>` parquet directory
    * (mode Overwrite ⇒ replays of the same batch id rewrite, not
    * duplicate — the exactly-once recipe), then the landed data is read
    * back and aggregated, putting the whole sink round-trip under the
    * oracle gate (ForeachBatchSpec additionally drives the multi-batch
    * case). */
  val streamForeachBatchSink: Q = (spark, dir) => {
    import spark.implicits._
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st09-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(out) {
      val purchases = eventsStream(spark, dir)
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"value")
      val q = purchases.writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch=$id")
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(s"$out/batch=*")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"value".cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .orderBy($"user_id")
  }

  val streamForeachBatchSinkSql: String =
    """SELECT user_id, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Complete-mode streaming rollup — the live-dashboard semantic: every
    * trigger rewrites the FULL result table in the sink (no watermark, no
    * append finalization; state is the whole aggregate, which is why
    * complete mode only fits bounded-cardinality keys). After an
    * AvailableNow drive the sink table equals the batch aggregate exactly,
    * putting the mode's replace-on-trigger contract under the oracle
    * gate. */
  val streamCompleteRollup: Q = (spark, dir) => {
    import spark.implicits._
    val agg = eventsStream(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
    runToMemory(spark, agg, OutputMode.Complete())
      .orderBy($"event_type")
  }

  val streamCompleteRollupSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** One micro-batch of table ingest (the foreachBatch body of st11,
    * separated so the replay contract is spec-testable): land the batch
    * as one parquet file, derive manifest stats from it, extend the
    * manifest-list with the previous snapshot's manifests READ FROM
    * STORAGE, and commit snapshot id+1 onto metadata version `version`.
    * A replayed batch id finds its snapshot committed and only re-lands
    * the (same-named, overwritten) file — exactly-once. Returns the new
    * metadata version. */
  private[streaming] def ingestBatch(spark: SparkSession, out: String,
      df: DataFrame, id: Long, version: Int): Int = {
    import spark.implicits._
    import graft.iceberg._
    val T0 = 1700000000000L
    val prevPath = s"$out/v$version.metadata.json"
    val cur = TableMetadata.parseFile(prevPath)
    val snapId = id + 1
    val f = f"$out/data/batch-${id}%05d.parquet"
    ParquetFiles.writeOne(df.orderBy($"event_id"), f)
    if (cur.snapshots.exists(_.snapshotId == snapId)) return version // replayed
    val stats = graft.iceberg.ParquetFiles.read(spark, Seq(f))
      .agg(count(lit(1)), min($"event_id"), max($"event_id")).head()
    val manifest = f"$out/m-${id}%05d.avro"
    ManifestWriter.write(manifest, Seq(ManifestWriter.EntryData(
      1, snapId, f, stats.getLong(0), HadoopConfs.length(f),
      Map(1 -> SingleValueCodec.encode(IcebergTypes.TLong, stats.getLong(1))),
      Map(1 -> SingleValueCodec.encode(IcebergTypes.TLong, stats.getLong(2))))))
    // carried-forward manifests keep their ORIGINAL provenance (spec field
    // 503/504) read back from the previous list — list-level incremental
    // planning on added_snapshot_id stays sound across micro-batches
    val prevManifests = cur.currentSnapshot.toSeq.flatMap(s =>
      MetadataTables.manifests(spark, s.manifestList.get)
        .select(col("manifest_path"), col("added_snapshot_id"),
          col("added_data_files_count"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))))
    val list = s"$out/snap-$snapId-list.avro"
    ManifestListWriter.write(list, prevManifests.map(_._1) :+ manifest, snapId,
      addedDataFilesCount = 1,
      addedSnapshotIds = prevManifests.map(p => p._1 -> p._2).toMap,
      addedCounts = prevManifests.map(p => p._1 -> p._3).toMap)
    val snap = Snapshot(snapId, cur.currentSnapshotId,
      T0 + 1000 * snapId, Some("append"),
      Map("added-data-files" -> "1"), Some(list), Some(0))
    MetadataWriter.write(s"$out/v${version + 1}.metadata.json",
      MetadataWriter.commitSnapshot(cur, snap, Some(prevPath)))
    version + 1
  }

  // ---------------------------------------------------------------- st11
  /** Streaming ingest INTO the lakehouse table: each micro-batch lands as
    * one parquet data file and commits one append snapshot through the
    * same MetadataWriter path as the batch maintenance ops (i21-i28) —
    * stats derived from the written file, manifest-list extended with the
    * previous snapshot's manifests read back from storage, parent chain
    * linked. Exactly-once: a replayed batch id finds its snapshot already
    * committed and only re-lands the (idempotent, same-named) file. The
    * read-back proves the whole chain from the FINAL committed document:
    * the table scan equals the stream input, the snapshot parent chain is
    * linear, and the manifests' record counts reconcile with the scan —
    * regardless of how many micro-batches the source chose. */
  /** The st11 build: an empty lakehouse table at `out`, then the whole
    * events stream ingested through foreachBatch — one append snapshot
    * per micro-batch. Shared by st11 (ingest alone) and st12 (ingest
    * composed with maintenance). */
  private def runIngest(spark: SparkSession, dir: String, out: String): Unit = {
    import spark.implicits._
    import graft.iceberg._
    val T0 = 1700000000000L
    val schema = IcebergSchema(0, Seq(
      IcebergField(1, "event_id", required = false, "long"),
      IcebergField(2, "event_type", required = false, "string"),
      IcebergField(3, "value", required = false, "double")))
    MetadataWriter.write(s"$out/v1.metadata.json", TableMetadata(
      2, "b6b9a6a1-0000-4000-8000-0000000000s1", out, T0, None, Some(0),
      Seq(schema), Seq(PartitionSpec(0, Nil)), 0, Seq(SortOrder(0, Nil)), 0,
      Map.empty, None, Nil, Nil, Nil, Nil))
    var version = 1 // foreachBatch runs sequentially on the driver
    val q = eventsStream(spark, dir)
      .select($"event_id", $"event_type", $"value")
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        version = ingestBatch(spark, out, df, id, version); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  val streamTableIngest: Q = (spark, dir) => {
    import spark.implicits._
    import graft.iceberg._
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st11-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(out) { runIngest(spark, dir, out) }
    // read-back: newest committed document only
    import graft.iceberg._
    val fs = HadoopConfs.fileSystemFor(out)
    val latest = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .maxBy(n => n.stripPrefix("v").stripSuffix(".metadata.json").toInt)
    val meta = TableMetadata.parseFile(s"$out/$latest")
    val cur = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("ingest committed no snapshot"))
    val manifestPaths = MetadataTables.manifests(spark, cur.manifestList.get)
      .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
    val entries = ManifestReader.entries(spark, manifestPaths)
      .select(col("data_file.file_path").as("file_path"),
        col("data_file.record_count").as("record_count")).collect()
    val chainOk = meta.snapshots.sortBy(_.snapshotId).sliding(2).forall {
      case Seq(a, b) => b.parentSnapshotId.contains(a.snapshotId)
      case _ => true
    }
    val scan = graft.iceberg.ParquetFiles.read(spark, entries.map(_.getString(0)).toIndexedSeq)
    val statsOk = scan.count() == entries.map(_.getLong(1)).sum
    scan.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .select($"event_type", $"n_events", $"total_value",
        lit(chainOk).as("chain_ok"), lit(statsOk).as("stats_ok"))
      .orderBy($"event_type")
  }

  val streamTableIngestSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  TRUE AS chain_ok, TRUE AS stats_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- st12
  /** Streaming ingest COMPOSED with table maintenance: the st11 ingest
    * leaves one small file and one manifest per micro-batch — the classic
    * streaming-table pathology — and this entry proves the i21-style
    * compaction runs over that streaming-created metadata. All data files
    * of the streamed table are rewritten into one, stats re-derived from
    * the compacted file, and the replace snapshot commits through
    * [[graft.iceberg.OptimisticCommit]] — the CAS loop a maintenance
    * process on a LIVE streaming table needs, because the ingest may race
    * it with another append (here the snapshot id and parent are derived
    * from the REFRESHED base inside the update, so a retry lands on
    * whatever the stream committed meanwhile). The read-back resolves the
    * newest committed document only: one data file, a `replace` head
    * snapshot, and the full stream content intact. */
  val streamCompaction: Q = (spark, dir) => {
    import spark.implicits._
    import graft.iceberg._
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st12-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(out) {
      runIngest(spark, dir, out)
      // compaction: every data file of the streamed head -> one sorted file
      val preMeta = TableMetadata.parseFile(
        OptimisticCommit.metadataPath(out, OptimisticCommit.currentVersion(out)))
      val preSnap = preMeta.currentSnapshot.getOrElse(
        throw new IllegalStateException("ingest committed no snapshot"))
      val preFiles = MetadataTables.manifests(spark, preSnap.manifestList.get)
        .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
        .flatMap(m => ManifestWriter.read(m).map(_.filePath)).distinct
      val compacted = s"$out/data/compacted-00000.parquet"
      ParquetFiles.writeOne(
        graft.iceberg.ParquetFiles.read(spark, preFiles).orderBy($"event_id"), compacted)
      val stats = graft.iceberg.ParquetFiles.read(spark, Seq(compacted))
        .agg(count(lit(1)), min($"event_id"), max($"event_id")).head()
      OptimisticCommit.commit(out, (base, basePath) => {
        val snapId = base.snapshots.map(_.snapshotId).max + 1
        // revalidate against the REFRESHED base — the CAS loop may hand us
        // a different head than the one the rewrite read. Conflicting file
        // sets abort: if a concurrent commit removed any source file, the
        // compacted bytes would resurrect deleted data. Concurrent APPENDS
        // are compatible: their files carry forward beside the compacted
        // one, statuses/stats straight from the current manifests.
        val curEntries = base.currentSnapshot.toSeq
          .flatMap(s => ManifestListReader.read(s.manifestList.get))
          .flatMap(i => ManifestWriter.read(i.path))
        val missing = preFiles.filterNot(curEntries.map(_.filePath).toSet)
        if (missing.nonEmpty) throw OptimisticCommit.CommitConflictException(
          s"compaction sources removed by a concurrent commit: ${missing.mkString(", ")}")
        val carried = curEntries.filterNot(e => preFiles.contains(e.filePath))
          .map(_.copy(status = 0, snapshotId = snapId)) // EXISTING
        val manifest = s"$out/m-compacted-$snapId.avro"
        ManifestWriter.write(manifest, ManifestWriter.EntryData(
          1, snapId, compacted, stats.getLong(0), HadoopConfs.length(compacted),
          Map(1 -> SingleValueCodec.encode(IcebergTypes.TLong, stats.getLong(1))),
          Map(1 -> SingleValueCodec.encode(IcebergTypes.TLong, stats.getLong(2))))
          +: carried)
        val list = s"$out/snap-$snapId-list.avro"
        ManifestListWriter.write(list, Seq(manifest),
          snapId, addedDataFilesCount = 1)
        MetadataWriter.commitSnapshot(base,
          Snapshot(snapId, base.currentSnapshotId, base.lastUpdatedMs + 1000,
            Some("replace"),
            Map("added-data-files" -> "1",
              "deleted-data-files" -> preFiles.size.toString),
            Some(list), Some(0)),
          Some(basePath))
      })
    }
    // read-back: newest committed document only
    val meta = TableMetadata.parseFile(
      OptimisticCommit.metadataPath(out, OptimisticCommit.currentVersion(out)))
    val cur = meta.currentSnapshot.get
    val files = MetadataTables.manifests(spark, cur.manifestList.get)
      .select(col("manifest_path")).collect().map(_.getString(0)).toSeq
      .flatMap(m => ManifestWriter.read(m).map(_.filePath)).distinct
    graft.iceberg.ParquetFiles.read(spark, files)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .select($"event_type", $"n_events", $"total_value",
        lit(files.size).as("n_files_after"),
        lit(cur.operation.getOrElse("")).as("op"))
      .orderBy($"event_type")
  }

  val streamCompactionSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  CAST(1 AS INTEGER) AS n_files_after, 'replace' AS op
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- st13
  /** Streaming ingest through Spark's NATIVE sink API —
    * `writeStream.format("graft-table")` — no foreachBatch escape hatch
    * (contrast st11): the connector's StreamingWrite lands each
    * micro-batch as one CAS-committed append snapshot tagged
    * `streaming-query-epoch`, which is what makes an epoch REPLAY after
    * restart idempotent (the tag is found, the re-written files are
    * dropped, no duplicate snapshot — spec-proven in TableSourceSpec).
    * The read-back is the composed GraftTable.read over whatever
    * snapshots the engine's triggers produced, so the oracle pins the
    * whole stream→commit→read lifecycle through public APIs only. */
  val streamTableSink: Q = (spark, dir) => {
    import spark.implicits._
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st13-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(out) {
      graft.iceberg.GraftTable.create(out, graft.iceberg.IcebergSchema(0, Seq(
        graft.iceberg.IcebergField(1, "event_id", required = false, "long"),
        graft.iceberg.IcebergField(2, "user_id", required = false, "long"),
        graft.iceberg.IcebergField(3, "value", required = false, "double"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000130",
        timestampMs = 1700000000000L)
      val q = eventsStream(spark, dir)
        .filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"value")
        .writeStream.format("graft-table")
        .option("metadata", s"$out/v1.metadata.json")
        .option("checkpointLocation", s"$out/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.iceberg.GraftTable.read(spark,
        graft.iceberg.GraftTable.latestMetadataPath(out))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"value".cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .orderBy($"user_id")
  }

  val streamTableSinkSql: String =
    """SELECT user_id, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- st14
  /** Streaming READ of a graft table — `readStream.format("graft-table")`
    * (Iceberg's incremental snapshot consumption as a native Structured
    * Streaming source, the read-side twin of st13): three append commits
    * stream through the micro-batch source with `max-snapshots-per-trigger
    * = 1` (admission control: one snapshot per batch — a restart over a
    * deep backlog plans bounded batches, never one giant scan), drain via
    * Trigger.AvailableNow into an exactly-once parquet file sink, and the
    * aggregate over the SINK's content matches the batch oracle — so the
    * oracle pins offsets, per-snapshot planning, and the drain loop
    * end-to-end through public APIs only. */
  val streamTableRead: Q = (spark, dir) => {
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st14-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(out) {
      val table = s"$out/table"
      graft.iceberg.GraftTable.create(table, graft.iceberg.IcebergSchema(0, Seq(
        graft.iceberg.IcebergField(1, "n_nationkey", required = false, "int"),
        graft.iceberg.IcebergField(2, "n_name", required = false, "string"),
        graft.iceberg.IcebergField(3, "n_regionkey", required = false, "int"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-000000000140",
        timestampMs = 1700000000000L)
      val nation = graft.Tables.load(spark, dir, "nation")
      Seq((0, 10), (10, 20), (20, 26)).foreach { case (lo, hi) =>
        graft.iceberg.GraftTable.append(spark, table,
          nation.filter(col("n_nationkey") >= lo && col("n_nationkey") < hi)
            .orderBy(col("n_nationkey")))
      }
      val q = spark.readStream.format("graft-table")
        .option("metadata", graft.iceberg.GraftTable.latestMetadataPath(table))
        .option("max-snapshots-per-trigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$out/sink")
        .option("checkpointLocation", s"$out/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.parquet(s"$out/sink")
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("sum_key"))
      .orderBy(col("n_regionkey"))
  }

  val streamTableReadSql: String =
    """SELECT n_regionkey, COUNT(*) AS n_rows,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------- st16
  /** Streaming CDC UPSERT into the lakehouse table — the Flink-style
    * equality-delete ingest shape: each micro-batch reduces to its latest
    * row per key (`user_id`; `event_id` is the change-log LSN), drops
    * rows the table already supersedes, and lands ONE upsert snapshot
    * through [[graft.iceberg.GraftTable.upsert]] — an equality-delete
    * file on the key plus the replacement data file at the same sequence
    * number, so every pre-existing row with an upserted key dies under
    * the spec's strictly-lower-sequence rule while the replacements
    * survive. The LSN guard (apply a row only if its lsn beats the
    * table's current row for that key) is what makes the sink correct
    * under ANY batching the source chooses — an out-of-order or REPLAYED
    * batch filters itself down to nothing instead of regressing keys, so
    * the final state is the max-lsn row per key regardless of how the
    * stream was cut (and the sink is naturally idempotent without
    * batch-id bookkeeping). Two AvailableNow drives (even LSNs, then odd)
    * force genuine cross-commit replacement: the second drive's equality
    * deletes must kill rows the first committed. An upsert never reads or
    * rewrites existing data files — O(input) write I/O per batch, which
    * is why high-frequency CDC uses this shape instead of COW MERGE; the
    * guard's table read is one MOR scan of KEYS per batch (at 100 TB a
    * production sink bloom-prunes it by the batch's key range — the
    * delete-side stats the upsert commit already writes).
    *
    * In-entry gates: ≥2 snapshots committed, the head snapshot actually
    * carries equality deletes, and the MOR read-back (which must apply
    * stacked equality deletes from BOTH drives) matches DuckDB's
    * batch-recomputed latest-row-per-key state exactly. */
  val streamUpsert: Q = (spark, dir) => {
    import spark.implicits._
    import graft.iceberg._
    val out = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-st16-${graft.Scratch.procToken}",
      dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
    graft.TmpOutputs.ensure(out) {
      GraftTable.create(out, IcebergSchema(0, Seq(
        IcebergField(1, "user_id", required = false, "long"),
        IcebergField(2, "lsn", required = false, "long"),
        IcebergField(3, "event_type", required = false, "string"),
        IcebergField(4, "value", required = false, "double"))),
        tableUuid = "b6b9a6a1-0000-4000-8000-0000000000s6",
        timestampMs = 1700000000000L)
      def drive(phase: org.apache.spark.sql.Column): Unit = {
        val q = eventsStream(spark, dir)
          .filter(phase)
          .select($"user_id", $"event_id".as("lsn"), $"event_type", $"value")
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            val wK = org.apache.spark.sql.expressions.Window
              .partitionBy($"user_id").orderBy($"lsn".desc)
            val latest = df.withColumn("rn", row_number().over(wK))
              .filter($"rn" === 1).drop("rn")
            val metaNow = TableMetadata.parseFile(GraftTable.latestMetadataPath(out))
            // the guard read is KEY-RANGE PRUNED by the batch's own
            // [min, max] user_id (one tiny agg over the RAW batch — the
            // key span of `latest` is identical and this skips the
            // window shuffle): data files whose committed key bounds
            // can't overlap the batch never open — at 100 TB the guard
            // costs O(overlapping files) per batch, not one full key
            // scan of the table (KeyRangePruneSpec proves the skip
            // destructively)
            val keySpan = df.agg(
              min($"user_id").as("lo"), max($"user_id").as("hi")).head()
            val cur =
              if (metaNow.currentSnapshot.isEmpty || keySpan.isNullAt(0))
                Seq.empty[(Long, Long)].toDF("user_id", "cur_lsn")
              else GraftTable.readKeyRange(spark,
                  GraftTable.latestMetadataPath(out), fieldId = 1,
                  keySpan.getLong(0), keySpan.getLong(1))
                .select($"user_id", $"lsn".as("cur_lsn"))
            val fresh = latest.join(cur, Seq("user_id"), "left_outer")
              .filter($"cur_lsn".isNull || $"lsn" > $"cur_lsn").drop("cur_lsn")
              .cache() // two actions below — land the guard join once
            try {
              if (fresh.limit(1).count() > 0)
                GraftTable.upsert(spark, out, fresh, Seq("user_id"))
            } finally fresh.unpersist()
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drive(col("event_id") % 2 === 0)
      drive(col("event_id") % 2 === 1)
    }
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(out))
    require(meta.snapshots.size >= 2,
      s"expected one commit per drive, got ${meta.snapshots.size}")
    val head = meta.currentSnapshot.getOrElse(
      throw new IllegalStateException("upsert stream committed no snapshot"))
    require(head.summary.get("added-equality-deletes").exists(_.toLong > 0),
      s"head snapshot carries no equality deletes: ${head.summary}")
    GraftTable.read(spark, GraftTable.latestMetadataPath(out))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
        sum($"value".cast(DecimalType(12, 2))).cast(DoubleType).as("latest_value_sum"),
        max($"lsn").as("max_lsn"))
      .orderBy($"event_type")
  }

  val streamUpsertSql: String =
    """WITH latest AS (
      |  SELECT user_id, event_id AS lsn, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS latest_value_sum,
      |  MAX(lsn) AS max_lsn
      |FROM latest WHERE rn = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "st16_upsert_stream" -> streamUpsert,
    "st15_hourly_append" -> streamHourlyAppend,
    "st14_stream_table_read" -> streamTableRead,
    "st13_table_sink" -> streamTableSink,
    "st12_stream_compaction" -> streamCompaction,
    "st11_table_ingest" -> streamTableIngest,
    "st10_complete_rollup" -> streamCompleteRollup,
    "st09_foreach_batch_sink" -> streamForeachBatchSink,
    "st08_stream_static_join" -> streamStaticJoin,
    "st07_transform_with_state" -> streamTransformWithState,
    "st06_session_detail" -> streamSessionDetail,
    "st01_stream_hourly" -> streamHourly,
    "st02_stream_sessions" -> streamSessions,
    "st03_session_window" -> streamSessionWindow,
    "st04_stream_interval_join" -> streamIntervalJoin,
    "st05_stream_dedup" -> streamDedup)

  val oracles: Map[String, String] = Map(
    "st16_upsert_stream" -> streamUpsertSql,
    "st15_hourly_append" -> streamHourlyAppendSql,
    "st14_stream_table_read" -> streamTableReadSql,
    "st13_table_sink" -> streamTableSinkSql,
    "st12_stream_compaction" -> streamCompactionSql,
    "st11_table_ingest" -> streamTableIngestSql,
    "st10_complete_rollup" -> streamCompleteRollupSql,
    "st09_foreach_batch_sink" -> streamForeachBatchSinkSql,
    "st08_stream_static_join" -> streamStaticJoinSql,
    "st07_transform_with_state" -> streamTransformWithStateSql,
    "st06_session_detail" -> streamSessionDetailSql,
    "st01_stream_hourly" -> streamHourlySql,
    "st02_stream_sessions" -> streamSessionsSql,
    "st03_session_window" -> streamSessionWindowSql,
    "st04_stream_interval_join" -> streamIntervalJoinSql,
    "st05_stream_dedup" -> streamDedupSql)
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark operation as the client saw it. `ms` is its wall time;
  * `ok` is false when it threw or its output failed the check. */
final case class OpRec(cls: String, ms: Double, ok: Boolean, note: String = "")

/** Everything one run shares: the session, the seed, the work directory
  * and (in a traced run) the tracer, listener counters and table probe. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val traced: Boolean) {
  val tracer = new Tracer(traced)
  val setupCounters = new Counters
  val opCounters = new Counters
  val probe = new TableProbe(tracer)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  /** Commit attempts per programmatic commit (CommitResult.attempts). */
  val casAttempts = new ConcurrentLinkedQueue[Int]()
  /** Commit ops: wall ms minus the ms a Spark job of the op was running. */
  val commitDriverMs = new ConcurrentLinkedQueue[Double]()
  /** Maintenance procedures: (wall ms, bytes of the data files they removed). */
  val maint = new ConcurrentLinkedQueue[(Double, Long)]()
  /** manifest2json calls: (ms, records emitted). */
  val cli = new ConcurrentLinkedQueue[(Double, Int)]()
  /** Rows handed back to the client or written, for input/output ratios. */
  val outRows = new AtomicLong
  /** Phase-level facts a workload reports (table shape, decode probe...). */
  val facts = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  /** True while the timed phase is being traced (probes and listeners on). */
  @volatile var probing = false
  /** The counters listening now (set-up or timed phase of a traced run). */
  @volatile var listening: Option[Counters] = None
  /** Wall and client-thread CPU nanoseconds of the benchmark's own work
    * inside a timed phase (expected answers, output checks, picking
    * inputs), excluded from ops/s and CPU per op. */
  val harnessNs, harnessCpuNs = new AtomicLong
  private val opIds = new AtomicLong

  def sql(s: String) = spark.sql(s)

  /** Run `body` as the benchmark's own work: its time is counted in
    * [[harnessNs]] and [[harnessCpuNs]]. */
  def untimed[T](body: => T): T = {
    val c0 = Ctx.threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      harnessNs.addAndGet(System.nanoTime() - t0)
      harnessCpuNs.addAndGet(Ctx.threads.getCurrentThreadCpuTime - c0)
    }
  }

  /** Run one operation: `exec` is timed, `check` is [[untimed]]. Listener
    * events of the op's Spark jobs carry its id. */
  def op[T](cls: String, commit: Boolean = false, label: String = "")(exec: => T)(
      check: T => Option[String]): OpRec = {
    val id = opIds.incrementAndGet()
    spark.sparkContext.setLocalProperty(Counters.OpKey, id.toString)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = tracer.withOp(id)(scala.util.Try(tracer.span(s"op.$cls")(exec)))
    val ms = (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Counters.OpKey, null)
    val rec = untimed(Outcome.judge(cls, ms, res)(check))
    if (commit) listening.foreach { c =>
      c.flush(spark)
      commitDriverMs.add((wall1 - wall0) - c.jobMs(id))
    }
    if (!rec.ok) System.err.println(s"[perfbench] $cls failed: ${rec.note} [$label]")
    rec
  }

  /** A set-up step: timed like an op when traced, fatal when it fails. */
  def step[T](cls: String, commit: Boolean = true)(body: => T): T = {
    var out: Option[T] = None
    val rec = op(cls, commit)(body) { v => out = Some(v); None }
    if (!rec.ok) throw new IllegalStateException(s"set-up step $cls failed: ${rec.note}")
    out.get
  }

  def record(r: OpRec): Unit = ops.add(r)

  /** Forget the ops of a finished phase (warm-up, untraced half). */
  def resetOps(): Unit = { ops.clear(); harnessNs.set(0); harnessCpuNs.set(0); outRows.set(0) }
  def allOps: Seq[OpRec] = ops.asScala.toSeq

  /** Run `rounds` whole rounds of the workload's op mix, so every run
    * does the same work in the same proportions; returns wall seconds. */
  def loop(rounds: Int)(round: => Unit): Double = {
    val t0 = System.nanoTime()
    (1 to rounds).foreach(_ => round)
    (System.nanoTime() - t0) / 1e9
  }
}

/** What Main needs from a workload. */
trait Workload {
  /** How many times set-up runs (setup_s is their median). */
  def copies: Int
  /** The op class whose latencies `p50_ms` and `tail_ms` report: the
    * workload's most frequent ops, so both are order statistics of one
    * distribution rather than of a mix of classes. */
  def latencyClass: String
  /** Write the generated inputs (untimed). */
  def prepare(): Unit
  def setup(k: Int): Unit
  /** Record the table's shape in a traced run, tagged `setup` or `end`. */
  def shape(tag: String): Unit
  def warmUp(): Unit
  /** Generate the inputs of the next `phase(budgetS)`, before its clock
    * and CPU count start. */
  def stage(budgetS: Double): Unit = ()
  /** Run the op mix for about `budgetS`; returns the phase's wall seconds. */
  def phase(budgetS: Double): Double
  /** The end-of-run check of the final table, if the workload has one. */
  def check(): Option[String]
  def decodeProbe(): Unit
  def spaceAmp(): Double
}

/** How an op's outcome is judged and counted. */
object Outcome {

  /** An op failed when it threw, when its check found a difference, or
    * when the check itself threw. */
  def judge[T](cls: String, ms: Double, res: scala.util.Try[T])(check: T => Option[String]): OpRec =
    res match {
      case scala.util.Success(v) =>
        val bad = scala.util.Try(check(v)).fold(e => Some(s"check threw: $e"), identity)
        OpRec(cls, ms, bad.isEmpty, bad.getOrElse(""))
      case scala.util.Failure(e) => OpRec(cls, ms, ok = false, s"$e")
    }

  /** Failed ops, plus one when the end-of-run check of the final table
    * found a difference. */
  def failures(ops: Seq[OpRec], finalCheck: Option[String]): Int =
    ops.count(!_.ok) + finalCheck.size
}

object Ctx {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
}

object Env {
  /** Spark cores and client threads: the host's processors, at most 4. */
  val cores: Int = math.min(Runtime.getRuntime.availableProcessors, 4)

  /** The fixed run environment: local[cores] with shuffle partitions equal
    * to cores, AQE on, UI off, UTC, nanosAsLong, every scratch directory
    * under the run's own work directory. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.variant.writeShredding.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", s"$work/wh")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}

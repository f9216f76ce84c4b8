package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.iceberg.{ManifestListReader, ManifestWriter, TableMetadata}
import graft.sources.GraftTableInputPartition

/** Counters fed by Spark's public listener APIs while a traced run is
  * listening: job/stage/task counts and task metrics (SparkListener),
  * Catalyst phase times (QueryExecutionListener over each query's
  * `tracker`) and micro-batch durations (StreamingQueryListener). Jobs
  * are attributed to the benchmark operation whose id the submitting
  * thread set as the `perfbench.op` local property. */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val cpuNs, shuffleBytes, spillBytes, recordsRead, recordsWritten = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new DoubleAdder
  val batches, queries = new AtomicLong
  val streamMs = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  /** op id → finished job intervals (epoch ms). */
  val jobIntervals = new ConcurrentHashMap[Long, java.util.List[(Long, Long)]]()

  def streamTotal(key: String): Double =
    Option(streamMs.get(key)).map(_.sum).getOrElse(0.0)

  /** Milliseconds of `op`'s wall time during which one of its jobs ran. */
  def jobMs(op: Long): Double =
    Option(jobIntervals.get(op)).map(l => Tracer.merged(l.asScala.toSeq).toDouble)
      .getOrElse(0.0)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.OpKey)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (op, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        jobIntervals.computeIfAbsent(op,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Long)]()))
          .add((t0, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      p.get("analysis").foreach(s => analysisMs.add(s.durationMs.toDouble))
      p.get("optimization").foreach(s => optimizationMs.add(s.durationMs.toDouble))
      p.get("planning").foreach(s => planningMs.add(s.durationMs.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queries.incrementAndGet()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      if (e.progress.numInputRows > 0) {
        batches.incrementAndGet()
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          streamMs.computeIfAbsent(k, _ => new DoubleAdder).add(v.doubleValue)
        }
      }
    }
  }

  def attach(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.listening = Some(this)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(ctx: Ctx): Unit = {
    val spark = ctx.spark
    flush(spark)
    ctx.listening = None
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def flush(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchListenerFlush(spark.sparkContext)
}

object Counters {
  val OpKey = "perfbench.op"
}

/** What a traced run learns about a table by calling the table format's
  * own public readers — timed as spans, never by instrumenting the
  * engine. */
final class TableProbe(tracer: Tracer) {
  val parseMs, listMs, manifestMs, planMs = new ConcurrentLinkedQueue[Double]()
  val metadataBytes = new ConcurrentLinkedQueue[Long]()
  val manifestsPerSnapshot = new ConcurrentLinkedQueue[Int]()
  /** (table directory, snapshot id) → files the snapshot added: path → bytes. */
  val added = new ConcurrentHashMap[(String, Long), ConcurrentHashMap[String, Long]]()
  /** (data files a scan planned, live data files of its snapshot). */
  val pruning = new ConcurrentLinkedQueue[(Int, Int)]()

  private def timed[T](name: String, into: java.util.Queue[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    into.add((System.nanoTime() - t0) / 1e6)
    r
  }

  /** Parse the head document, read its manifest list and every manifest;
    * remember the files each snapshot added. */
  def head(metadataPath: String): TableShape = {
    val meta = timed("iceberg.metadata_parse", parseMs)(TableMetadata.parseFile(metadataPath))
    metadataBytes.add(java.nio.file.Files.size(java.nio.file.Paths.get(metadataPath)))
    val infos = meta.currentSnapshot.flatMap(_.manifestList).map { l =>
      timed("iceberg.manifest_list", listMs)(ManifestListReader.read(l))
    }.getOrElse(Nil)
    manifestsPerSnapshot.add(infos.size)
    val entries = timed("iceberg.manifest_read", manifestMs)(infos.flatMap(i => ManifestWriter.read(i.path)))
    val table = new java.io.File(metadataPath).getParent
    entries.filter(_.status == 1).foreach { e =>
      added.computeIfAbsent((table, e.snapshotId), _ => new ConcurrentHashMap[String, Long]())
        .put(e.filePath, e.fileSizeInBytes)
    }
    val live = entries.filter(_.status != 2)
    TableShape(meta.snapshots.size, infos.size,
      live.filter(_.content == 0).map(e => e.filePath -> e.fileSizeInBytes).toMap,
      live.count(_.content != 0))
  }

  /** Plan the graft-table scan(s) of a query the way its executor would:
    * `Scan.toBatch.planInputPartitions()` on each BatchScanExec of the
    * physical plan. Returns the distinct data files planned. */
  def plan(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    val parts = timed("sources.plan", planMs)(
      scans.flatMap(_.scan.toBatch.planInputPartitions().toSeq))
    parts.collect { case p: GraftTableInputPartition => p.filePath }.distinct.size
  }
}

/** The head snapshot of a table: live data files (path → bytes). */
final case class TableShape(snapshots: Int, manifests: Int,
    liveData: Map[String, Long], deleteFiles: Int) {
  def dataFiles: Int = liveData.size
  def liveDataFiles: Seq[String] = liveData.keys.toSeq.sorted
}

package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.streaming.Trigger

import graft.iceberg.GraftTable

/** `lake_write`: two clients committing to one table, each running a quota
  * of ops set by the run's seconds.
  *
  * Set-up (repeated [[LakeWrite.Copies]] times; the last copy is used): a
  * merge-on-read lineitem table from [[LakeWrite.BaseSlices]] SQL INSERTs.
  *
  * Timed phase, two client threads:
  *  - ingest alternates GraftTable.append of a seeded slice of new order
  *    keys with a Structured Streaming micro-batch (Trigger.AvailableNow,
  *    a landing directory into the graft-table sink);
  *  - dml runs MERGE, UPDATE and DELETE in SQL over the base keys, and
  *    every [[LakeWrite.MaintEvery]]-th op a maintenance procedure
  *    (expire_snapshots, rewrite_manifests).
  * Key spaces are disjoint, so the final table is determined by the two
  * clients' own sequences; it is checked against the benchmark's model. */
final class LakeWrite(ctx: Ctx) extends Workload {
  import LakeWrite._
  private val spark = ctx.spark
  private val base = Data.lines(ctx.seed, 1, BaseOrders + 1)
  private val src = s"${ctx.work}/src"
  private var copy = 0
  private def table = s"graft.db.lw_$copy"
  private def tableDir = s"${ctx.work}/wh/db/lw_$copy"

  // the model: base rows (mutable), rows MERGE inserted, slices ingested
  private val alive = Array.fill(base.size)(true)
  private val qty = base.quantity.clone()
  private val disc = base.discount.clone()
  private val merged = mutable.Map.empty[(Long, Int), (Double, Double, Double)]
  private val ingested = new java.util.concurrent.ConcurrentLinkedQueue[Lines]()
  @volatile private var modelBroken: Option[String] = None

  def copies: Int = Copies
  def latencyClass: String = "append"

  def prepare(): Unit =
    base.toDF(spark).coalesce(1)
      .withColumn("slice", org.apache.spark.sql.functions.expr(
        s"CAST((l_orderkey - 1) * $BaseSlices DIV $BaseOrders AS INT)"))
      .write.partitionBy("slice").parquet(s"$src/base")

  def setup(k: Int): Unit = {
    copy = k
    ctx.sql(s"CREATE TABLE $table (${Data.LinesDdl}) TBLPROPERTIES (${LakeRead.MorProps})")
    (0 until BaseSlices).foreach(i => ctx.sql(s"INSERT INTO $table SELECT * FROM parquet.`$src/base/slice=$i`"))
    new java.io.File(s"${ctx.work}/landing_$k").mkdirs()
  }

  def shape(tag: String): Unit = TableChecks.shape(ctx, tableDir, tag)

  // ------------------------------------------------------------ ingest

  /** A slice of new order keys for one ingest op, generated before the
    * phase starts; a micro-batch's slice is already written as a parquet
    * file, ready to land. */
  private final class Slice(val n: Int, val lines: Lines,
      val df: org.apache.spark.sql.DataFrame, val staged: Option[java.io.File])

  private var sliceNo = 0

  /** Ingest ops alternate an append and a micro-batch. The slices are
    * generated here, and the micro-batches' slices written in one Spark
    * job, one parquet file each. */
  private def ingestInputs(ops: Int): Seq[Slice] = {
    val dir = s"${ctx.work}/stage_$sliceNo"
    val gen = (0 until ops).map { _ =>
      val n = sliceNo
      sliceNo += 1
      val from = IngestKey0 + n.toLong * SliceOrders
      val lines = Data.lines(ctx.seed ^ 0x1234567L, from, from + SliceOrders)
      (n, lines, lines.toDF(spark))
    }
    val batches = gen.indices.filter(_ % 2 == 1).map(gen)
    if (batches.nonEmpty)
      batches.map { case (n, _, df) => df.withColumn("n", org.apache.spark.sql.functions.lit(n)) }
        .reduce(_ unionByName _).coalesce(1).write.partitionBy("n").parquet(dir)
    gen.zipWithIndex.map { case ((n, lines, df), i) =>
      new Slice(n, lines, df, if (i % 2 == 0) None
        else new java.io.File(s"$dir/n=$n").listFiles().find(_.getName.endsWith(".parquet")))
    }
  }

  private def append(s: Slice): Unit = {
    val rec = ctx.op("append", commit = true)(GraftTable.append(spark, tableDir, s.df)) { r =>
      ctx.casAttempts.add(r.attempts); ingested.add(s.lines); None
    }
    ctx.outRows.addAndGet(s.lines.size)
    ctx.record(rec)
    if (ctx.probing) ctx.probe.head(GraftTable.latestMetadataPath(tableDir))
  }

  private def microBatch(s: Slice): Unit = {
    ctx.untimed(java.nio.file.Files.move(s.staged.get.toPath,
      java.nio.file.Paths.get(s"${ctx.work}/landing_$copy", f"b${s.n}%05d.parquet")))
    val rec = ctx.op("batch", commit = true) {
      val q = spark.readStream.schema(s.df.schema).parquet(s"${ctx.work}/landing_$copy")
        .writeStream.format("graft-table")
        .option("metadata", GraftTable.latestMetadataPath(tableDir))
        .option("checkpointLocation", s"${ctx.work}/ckpt/lw_$copy")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.lastProgress
    } { p =>
      if (p == null || p.numInputRows != s.lines.size) {
        modelBroken = Some(s"micro-batch ${s.n} read ${Option(p).map(_.numInputRows)} rows, expected ${s.lines.size}")
        modelBroken
      } else { ingested.add(s.lines); None }
    }
    ctx.outRows.addAndGet(s.lines.size)
    ctx.record(rec)
    if (ctx.probing) ctx.probe.head(GraftTable.latestMetadataPath(tableDir))
  }

  private def ingestClient(inputs: Seq[Slice]): Unit =
    inputs.foreach(s => if (s.staged.isEmpty) append(s) else microBatch(s))

  // ------------------------------------------------------------ dml

  private val rnd = new SplittableRandom(ctx.seed * 31 + 7)
  private var dmlNo = 0

  private def keyRange(w: Int): (Long, Long) = {
    val a = 1L + rnd.nextInt(BaseOrders - w); (a, a + w)
  }

  private def rowsIn(a: Long, b: Long): Range = base.lowerBound(a) until base.lowerBound(b + 1)

  private def dml(kind: String): Unit = kind match {
    case "merge" =>
      val (a, b) = keyRange(30)
      val n = dmlNo
      val add = qtyBump(n)
      val matchRows = rowsIn(a, b)
      val view = s"merge_src_$n"
      val fresh = ctx.untimed {
        val fresh = Data.lines(ctx.seed ^ n, MergeKey0 + n * 10L, MergeKey0 + n * 10L + 10)
        mergeSource(matchRows, add, fresh).createOrReplaceTempView(view)
        fresh
      }
      run("dml", s"MERGE INTO $table t USING $view s ON t.l_orderkey = s.l_orderkey " +
        "AND t.l_linenumber = s.l_linenumber WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity " +
        "WHEN NOT MATCHED THEN INSERT *") {
        matchRows.foreach { i => qty(i) = qty(i) + add; alive(i) = true }
        (0 until fresh.size).foreach { i =>
          merged((fresh.orderkey(i), fresh.linenumber(i))) = (fresh.quantity(i), fresh.discount(i), fresh.price(i))
        }
        ctx.outRows.addAndGet(matchRows.size + fresh.size)
      }
      ctx.untimed(spark.catalog.dropTempView(view))
    case "update" =>
      val (a, b) = keyRange(200)
      val d = (dmlNo % 10) / 100.0
      run("dml", s"UPDATE $table SET l_discount = $d WHERE l_orderkey BETWEEN $a AND $b") {
        rowsIn(a, b).foreach(i => if (alive(i)) disc(i) = d)
      }
    case "delete" =>
      val (a, b) = keyRange(20)
      run("dml", s"DELETE FROM $table WHERE l_orderkey BETWEEN $a AND $b") {
        rowsIn(a, b).foreach(i => alive(i) = false)
      }
    case proc =>
      val args = proc match {
        case "expire_snapshots" => s"table => 'db.lw_$copy', retain_last => 10"
        case _ => s"table => 'db.lw_$copy'"
      }
      val before = if (ctx.probing) Some(ctx.probe.head(GraftTable.latestMetadataPath(tableDir))) else None
      val rec = run("dml", s"CALL graft.system.$proc($args)", content = false)(())
      before.foreach { b =>
        val after = ctx.probe.head(GraftTable.latestMetadataPath(tableDir))
        ctx.maint.add((rec.ms, b.liveData.filter { case (p, _) => !after.liveData.contains(p) }.values.sum))
        manifestJson()
      }
  }

  /** The MERGE source: the matched base rows with `add` more quantity,
    * then the fresh rows. */
  private def mergeSource(matchRows: Range, add: Double, fresh: Lines): org.apache.spark.sql.DataFrame = {
    val srcRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    matchRows.foreach { i =>
      srcRows.add(org.apache.spark.sql.Row(base.orderkey(i), base.partkey(i), base.suppkey(i),
        base.linenumber(i), qty(i) + add, base.price(i), disc(i), base.tax(i),
        base.returnflag(i), base.linestatus(i), base.shipdate(i)))
    }
    spark.createDataFrame(srcRows, Data.LinesRaw)
      .withColumn("l_shipdate", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.col("l_shipdate")))
      .unionByName(fresh.toDF(spark))
  }

  /** Quantity added by the n-th MERGE (1..3). */
  private def qtyBump(n: Int): Double = 1.0 + n % 3

  /** A DML or maintenance op; when one that changes the table's content
    * fails, the model can no longer predict the table. */
  private def run(cls: String, sql: String, content: Boolean = true)(applyToModel: => Unit): OpRec = {
    val rec = ctx.op(cls, commit = true, label = sql)(ctx.sql(sql).collect())(_ => None)
    if (rec.ok) ctx.untimed(applyToModel)
    else if (content) modelBroken = Some(s"$cls failed, model no longer tracks the table: ${rec.note}")
    ctx.record(rec)
    if (ctx.probing) {
      val live = ctx.probe.head(GraftTable.latestMetadataPath(tableDir)).dataFiles
      val planned = ctx.probe.plan(ctx.sql(s"SELECT * FROM $table WHERE l_orderkey < ${BaseOrders / 4}"))
      ctx.probe.pruning.add((planned, live))
    }
    rec
  }

  /** Traced runs dump a data manifest after each maintenance procedure
    * and check the dump like lake_read's manifest2json op. */
  private def manifestJson(): Unit = {
    val rnd = new SplittableRandom(ctx.seed + dmlNo)
    val (manifest, head) = TableChecks.pickManifest(tableDir, rnd)
    TableChecks.checkDump(TableChecks.manifestJson(ctx, manifest, head), rnd, TableChecks.orderkeysOf(spark))
      .foreach(b => modelBroken = Some(s"manifest2json: $b"))
  }

  private var maintNo = 0

  /** `ops` dml ops; every [[MaintEvery]]-th of them, counted from the
    * call, is a maintenance procedure, so the warm-up (fewer ops) runs
    * none and the table has history to expire when the phase runs one. */
  private def dmlClient(ops: Int): Unit = (0 until ops).foreach { i =>
    if ((i + 1) % MaintEvery == 0) {
      dml(Maint(maintNo % Maint.size)); maintNo += 1
    } else dml(Dml(dmlNo % Dml.size))
    dmlNo += 1
  }

  /** Each client's op kinds once: an append and a micro-batch; a MERGE,
    * an UPDATE and a DELETE. */
  def warmUp(): Unit = clients(ingestInputs(2), Dml.size)

  private def quota(perS: Double, budgetS: Double) = math.max(1, math.round(perS * budgetS).toInt)

  /** The ingest inputs of the next phase, generated (and the micro-batch
    * slices written) before it starts. */
  private var pending: Seq[Slice] = Nil
  override def stage(budgetS: Double): Unit = pending = ingestInputs(quota(IngestPerS, budgetS))

  /** Both clients, each with its quota of ops for `budgetS` seconds (a
    * fixed amount of work, so every run has the same op mix and ends at
    * the same point of the maintenance cycle); returns wall seconds. */
  def phase(budgetS: Double): Double = {
    require(pending.size == quota(IngestPerS, budgetS), "phase not staged")
    clients(pending, quota(DmlPerS, budgetS))
  }

  /** Runs the ingest client over `inputs` on its own thread and `dmlOps`
    * dml ops on this one; returns wall seconds. */
  private def clients(inputs: Seq[Slice], dmlOps: Int): Double = {
    val t0 = System.nanoTime()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ingest = new Thread(() =>
      try ingestClient(inputs) catch { case e: Throwable => err.set(e) })
    ingest.start()
    try dmlClient(dmlOps) finally ingest.join()
    Option(err.get()).foreach(e => throw e)
    (System.nanoTime() - t0) / 1e9
  }

  /** The final table's rows against the model, bucketed by order key. */
  def check(): Option[String] = modelBroken.orElse {
    val sql = s"SELECT l_orderkey % 53 AS b, count(*), sum(l_quantity), sum(l_discount), " +
      s"sum(l_extendedprice) FROM parquet.`${TableChecks.liveCopy(ctx, table)}` GROUP BY 1 ORDER BY 1"
    val acc = mutable.Map.empty[Long, (Long, Double, Double, Double)].withDefaultValue((0L, 0.0, 0.0, 0.0))
    def add(k: Long, q: Double, d: Double, p: Double): Unit = {
      val (n, sq, sd, sp) = acc(k % 53); acc(k % 53) = (n + 1, sq + q, sd + d, sp + p)
    }
    (0 until base.size).foreach(i => if (alive(i)) add(base.orderkey(i), qty(i), disc(i), base.price(i)))
    merged.foreach { case ((k, _), (q, d, p)) => add(k, q, d, p) }
    ingested.forEach(s => (0 until s.size).foreach(i => add(s.orderkey(i), s.quantity(i), s.discount(i), s.price(i))))
    val expected = acc.toSeq.sortBy(_._1).map { case (b, (n, q, d, p)) => Seq(b, n, q, d, p) }
    Check.sameRows(Check.rowsOf(ctx.sql(sql).collect()), expected)
  }

  def decodeProbe(): Unit = TableChecks.decodeProbe(ctx, table, tableDir)

  def spaceAmp(): Double = TableChecks.spaceAmp(ctx, table, tableDir)
}

object LakeWrite {
  val BaseOrders = 20000
  val BaseSlices = 4
  val SliceOrders = 400
  val IngestKey0 = 10000000L
  val MergeKey0 = 20000000L
  val Copies = 2
  val MaintEvery = 4
  /** Ops per second of budget for each client: the ratio of the rates
    * each ran at on the 4-core host the benchmark was written on, so both
    * clients finish together; a phase runs about 1.1 times its budget. */
  val IngestPerS = 2.4
  val DmlPerS = 0.75
  val Dml = Seq("merge", "update", "delete")
  /** rewrite_data_files is left out: the engine's compaction fails when
    * an append commits while it runs (see perfbench/README.md). */
  val Maint = Seq("expire_snapshots", "rewrite_manifests")
}

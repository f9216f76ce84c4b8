package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.streaming.Trigger

import graft.iceberg.{GraftTable, ManifestListReader, ManifestWriter, TableMetadata}

/** `lake_read`: one client reading graft tables with a long history.
  *
  * Set-up (repeated [[Copies]] times, one table pair per copy, all read
  * afterwards): a lineitem table built through GraftCatalog SQL from
  * [[Slices]] key-clustered commits — the last [[Streamed]] of them as
  * Structured Streaming micro-batches into the graft-table sink — then
  * a merge-on-read DELETE and UPDATE; an orders table from a
  * programmatic append and a rewrite_data_files.
  *
  * Timed phase: rounds of [[Points]] point reads (half of them VERSION AS
  * OF an older snapshot), 3 scans (full-decode aggregate, join with
  * orders, window top-k), a query of each metadata table (snapshots,
  * files, manifests, entries) and manifest2json over one of the table's
  * manifests, in seeded order. Every answer is checked against the
  * benchmark's model of the table. */
final class LakeRead(ctx: Ctx) extends Workload {
  import LakeRead._
  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.seed)
  private val lines = Data.lines(ctx.seed, 1, NOrders + 1)
  private val orders = Data.orders(ctx.seed, lines, NOrders)
  /** First order key of slice i: slice(k) = (k - 1) * Slices DIV NOrders. */
  private def sliceLo(i: Int): Long = 1L + (i.toLong * NOrders + Slices - 1) / Slices
  private val sliceEnd: Array[Int] = Array.tabulate(Slices)(i => lines.lowerBound(sliceLo(i + 1)))

  /** The merge-on-read commits: SQL, row predicate, row update. */
  private final class Mor(val sql: String => String, val hit: Int => Boolean,
      val update: Option[(Model, Int) => Unit])
  private val w = NOrders / 40
  private val a1 = 1L + rnd.nextInt(NOrders - w)
  private val r2 = rnd.nextInt(97)
  private val mors = Seq(
    new Mor(t => s"DELETE FROM $t WHERE l_orderkey BETWEEN $a1 AND ${a1 + w}",
      i => lines.orderkey(i) >= a1 && lines.orderkey(i) <= a1 + w, None),
    new Mor(t => s"UPDATE $t SET l_discount = 0.1 WHERE l_orderkey % 97 = $r2",
      i => lines.orderkey(i) % 97 == r2, Some((m, i) => m.disc(i) = 0.1)))

  /** Table content after the first `m` MOR commits. */
  private final class Model(val alive: Array[Boolean], val qty: Array[Double],
      val disc: Array[Double]) {
    def next(mor: Mor): Model = {
      val n = new Model(alive.clone(), qty.clone(), disc.clone())
      (0 until lines.size).foreach { i =>
        if (n.alive(i) && mor.hit(i)) mor.update match {
          case Some(f) => f(n, i)
          case None => n.alive(i) = false
        }
      }
      n
    }
  }
  private val models: Array[Model] = mors.scanLeft(
    new Model(Array.fill(lines.size)(true), lines.quantity.clone(), lines.discount.clone())
  )((m, mor) => m.next(mor)).toArray

  /** History index j (0-based commit order) → (slices present, MOR commits applied). */
  private def stateAt(j: Int): (Int, Int) =
    if (j < Slices) (j + 1, 0) else (Slices, j - Slices + 1)
  private val Commits = Slices + mors.size

  private val src = s"${ctx.work}/src"
  private def tableDir(k: Int) = s"${ctx.work}/wh/db/li_$k"
  private def ordersDir(k: Int) = s"${ctx.work}/wh/db/ord_$k"
  /** Snapshot ids of each copy in commit order. */
  private val history = Array.fill(Copies)(Seq.empty[Long])

  def copies: Int = Copies
  def latencyClass: String = "point"

  /** Write the generated inputs: lineitem partitioned by slice (one file
    * each), a landing directory of files for the streamed slices (mtimes
    * set so the file source takes them in slice order), and orders. */
  def prepare(): Unit = {
    lines.toDF(spark).coalesce(1)
      .withColumn("slice", org.apache.spark.sql.functions.expr(s"CAST((l_orderkey - 1) * $Slices DIV $NOrders AS INT)"))
      .write.partitionBy("slice").parquet(s"$src/lines")
    val land = new java.io.File(s"$src/landing"); land.mkdirs()
    (Slices - Streamed until Slices).foreach { i =>
      val Array(f) = new java.io.File(slice(i)).listFiles().filter(_.getName.endsWith(".parquet"))
      val dst = new java.io.File(land, f"slice_$i%03d.parquet")
      java.nio.file.Files.copy(f.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 10000L)
    }
    orders.toDF(spark).write.parquet(s"$src/orders")
  }

  private def slice(i: Int) = s"$src/lines/slice=$i"

  def setup(k: Int): Unit = {
    val t = s"graft.db.li_$k"
    ctx.sql(s"CREATE TABLE $t (${Data.LinesDdl}) TBLPROPERTIES ($MorProps)")
    (0 until Slices - Streamed).foreach { i =>
      ctx.step("insert")(ctx.sql(s"INSERT INTO $t SELECT * FROM parquet.`${slice(i)}`"))
    }
    ctx.step("stream") {
      spark.readStream.schema(spark.read.parquet(slice(0)).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/landing")
        .writeStream.format("graft-table")
        .option("metadata", GraftTable.latestMetadataPath(tableDir(k)))
        .option("checkpointLocation", s"${ctx.work}/ckpt/li_$k")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    mors.foreach(m => ctx.step("mor")(ctx.sql(m.sql(t)).collect()))
    ctx.sql(s"CREATE TABLE graft.db.ord_$k (${Data.OrdersDdl})")
    val od = spark.read.parquet(s"$src/orders")
    ctx.casAttempts.add(ctx.step("append")(GraftTable.append(spark, ordersDir(k), od)).attempts)
    def live() = ctx.probe.head(GraftTable.latestMetadataPath(ordersDir(k))).liveData
    val before = if (ctx.traced) live() else Map.empty[String, Long]
    val t0 = System.nanoTime()
    ctx.step("maint")(ctx.sql(s"CALL graft.system.rewrite_data_files(table => 'db.ord_$k')").collect())
    val ms = (System.nanoTime() - t0) / 1e6
    if (ctx.traced) {
      val after = live()
      ctx.maint.add((ms, before.filter { case (p, _) => !after.contains(p) }.values.sum))
    }
    val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(tableDir(k)))
    val ids = meta.lineage().reverse
    require(ids.size == Commits,
      s"li_$k has ${ids.size} snapshots after set-up, expected $Commits: " +
        meta.snapshots.map(s => s"${s.operation.getOrElse("?")}${s.summary.filter(_._1.startsWith("added")).mkString("(", ",", ")")}").mkString("; "))
    history(k) = ids
  }

  def shape(tag: String): Unit = TableChecks.shape(ctx, tableDir(0), tag)

  // ------------------------------------------------------------ ops

  /** Time-travel targets cycle through a seeded permutation of every
    * older snapshot, so each run reads the same spread of history. */
  private val targets: Array[Int] = shuffled(Array.range(0, Commits - 1))
  private var travels = 0

  private def point(k: Int, range: Boolean, travel: Boolean): Unit = {
    val j = if (!travel) Commits - 1 else { travels += 1; targets(travels % targets.length) }
    val (slices, m) = stateAt(j)
    val maxKey = sliceLo(slices) - 1
    val a = 1L + rnd.nextInt(maxKey.toInt)
    val b = if (range) a + 200 else a
    val asOf = if (travel) s" VERSION AS OF ${history(k)(j)}" else ""
    val sql = s"SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_extendedprice) AS p " +
      s"FROM graft.db.li_$k$asOf WHERE l_orderkey BETWEEN $a AND $b"
    def expected = {
      val model = models(m)
      val end = sliceEnd(slices - 1)
      var n = 0L; var q = 0.0; var p = 0.0
      var i = lines.lowerBound(a)
      while (i < end && lines.orderkey(i) <= b) {
        if (model.alive(i)) { n += 1; q += model.qty(i); p += lines.price(i) }
        i += 1
      }
      Seq(Seq(n, if (n == 0) null else q, if (n == 0) null else p))
    }
    read("point", k, sql, expected, Some(if (travel) history(k)(j) else -1L))
  }

  // the scans' expected answers, the same on every copy
  private lazy val aggExpected = {
    val m = models.last
    val groups = (0 until lines.size).filter(m.alive).groupBy(i => (lines.returnflag(i), lines.linestatus(i)))
    groups.toSeq.sortBy(_._1).map { case ((rf, ls), is) =>
      Seq(rf, ls, is.size.toLong, is.map(m.qty).sum, is.map(lines.price).sum,
        is.map(i => lines.price(i) * (1 - m.disc(i))).sum, is.map(m.disc).sum / is.size)
    }
  }

  private lazy val joinExpected = {
    val m = models.last
    (0 until lines.size)
      .filter(i => m.alive(i) && orders.status((lines.orderkey(i) - 1).toInt) == "F")
      .groupBy(i => orders.priority((lines.orderkey(i) - 1).toInt)).toSeq.sortBy(_._1)
      .map { case (pr, is) => Seq(pr, is.size.toLong, is.map(lines.price).sum) }
  }

  private lazy val topKExpected = {
    val m = models.last
    (0 until lines.size).filter(m.alive).groupBy(lines.returnflag).toSeq.sortBy(_._1)
      .flatMap { case (rf, is) =>
        is.sortBy(i => (-lines.price(i), lines.orderkey(i), lines.linenumber(i))).take(5)
          .map(i => Seq(rf, lines.orderkey(i), lines.linenumber(i), lines.price(i)))
      }
  }

  private def scanAgg(k: Int): Unit = {
    val sql = s"SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), " +
      s"sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), avg(l_discount) " +
      s"FROM graft.db.li_$k GROUP BY 1, 2 ORDER BY 1, 2"
    read("scan", k, sql, aggExpected, None)
  }

  private def scanJoin(k: Int): Unit = {
    val sql = s"SELECT o.o_orderpriority, count(*), sum(l.l_extendedprice) " +
      s"FROM graft.db.li_$k l JOIN graft.db.ord_$k o ON l.l_orderkey = o.o_orderkey " +
      s"WHERE o.o_orderstatus = 'F' GROUP BY 1 ORDER BY 1"
    read("scan", k, sql, joinExpected, None)
  }

  private def scanTopK(k: Int): Unit = {
    val sql = s"SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (" +
      s"SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, row_number() OVER (" +
      s"PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn " +
      s"FROM graft.db.li_$k) WHERE rn <= 5 ORDER BY l_returnflag, rn"
    read("scan", k, sql, topKExpected, None)
  }

  /** A timed query whose rows must equal `expected`, which is worked out
    * in the op's untimed check. `snapshot` marks the ops whose scan the
    * traced run plans (-1 = the head). */
  private def read(cls: String, k: Int, sql: String, expected: => Seq[Seq[Any]],
      snapshot: Option[Long]): Unit = {
    val rec = ctx.op(cls, label = sql)(ctx.sql(sql).collect()) { rows =>
      ctx.outRows.addAndGet(rows.length)
      Check.sameRows(Check.rowsOf(rows), expected)
    }
    ctx.record(rec)
    if (ctx.probing) traceScan(k, sql, snapshot)
  }

  private def traceScan(k: Int, sql: String, snapshot: Option[Long]): Unit = {
    val shape = ctx.probe.head(GraftTable.latestMetadataPath(tableDir(k)))
    val planned = ctx.probe.plan(ctx.sql(sql))
    val live = snapshot match {
      case Some(id) if id >= 0 =>
        val meta = TableMetadata.parseFile(GraftTable.latestMetadataPath(tableDir(k)))
        ManifestListReader.read(meta.snapshot(id).get.manifestList.get).filter(_.content == 0)
          .flatMap(i => ManifestWriter.read(i.path)).count(e => e.status != 2 && e.content == 0)
      case _ => shape.dataFiles
    }
    if (snapshot.isDefined) ctx.probe.pruning.add((planned, live))
  }

  private val MetaKinds = Seq("snapshots", "files", "manifests", "entries")

  /** One metadata table query; its expected answer comes from the
    * benchmark's model or from the table format's own readers, in the
    * op's untimed check. */
  private def metaTable(k: Int, kind: String): Unit = {
    val t = s"graft.db.li_$k"
    val head = GraftTable.latestMetadataPath(tableDir(k))
    def infos = ManifestListReader.read(TableMetadata.parseFile(head).currentSnapshot.get.manifestList.get)
    val (sql, expected) = kind match {
      case "snapshots" => (s"SELECT count(*) FROM $t.snapshots", () => Seq(Seq(Commits.toLong)))
      case "files" =>
        (s"SELECT sum(CASE WHEN content = 0 THEN record_count ELSE -record_count END) FROM $t.files",
          () => Seq(Seq(models.last.alive.count(identity).toLong)))
      case "manifests" => (s"SELECT count(*) FROM $t.manifests", () => Seq(Seq(infos.size.toLong)))
      case "entries" =>
        (s"SELECT content, count(*) FROM $t.entries WHERE status <> 2 GROUP BY 1 ORDER BY 1", () =>
          infos.flatMap(i => ManifestWriter.read(i.path)).filter(_.status != 2)
            .groupBy(_.content).toSeq.sortBy(_._1).map { case (c, es) => Seq(c, es.size.toLong) })
    }
    val rec = ctx.op("meta", label = sql)(ctx.sql(sql).collect())(
      rows => Check.sameRows(Check.rowsOf(rows), expected()))
    ctx.record(rec)
    if (ctx.probing) ctx.probe.head(head)
  }

  /** (min, max) l_orderkey of every live data file of every copy, read
    * once before the ops run, for the manifest2json check. */
  private var fileKeys = Map.empty[String, (Long, Long)]

  private def manifestJson(k: Int): Unit = {
    val (manifest, head) = ctx.untimed(TableChecks.pickManifest(tableDir(k), rnd))
    val rec = ctx.op("meta", label = s"manifest2json $manifest")(
      TableChecks.manifestJson(ctx, manifest, head))(TableChecks.checkDump(_, rnd, fileKeys))
    ctx.record(rec)
    if (ctx.probing) ctx.probe.head(head)
  }

  /** One round: [[Points]] point reads, 3 scans, a query of each metadata
    * table and a manifest2json dump, in seeded order. */
  def round(): Unit =
    run(Seq.tabulate(Points)(i => s"p$i") ++ Seq("agg", "join", "topk", "json") ++ MetaKinds)

  /** Warm-up: a round without the join, which would add its ~6 s to every
    * run. Point reads were still getting faster through a round after a
    * shorter warm-up (about 210 ms to 145 ms), as the JIT compiler caught
    * up with Catalyst's code paths. */
  def warmUp(): Unit = {
    fileKeys = (0 until Copies).map(k => TableChecks.orderkeysOfLive(ctx, tableDir(k))).reduce(_ ++ _)
    run(Seq.tabulate(Points)(i => s"p$i") ++ Seq("agg", "topk", "json") ++ MetaKinds)
  }

  def phase(budgetS: Double): Double = ctx.loop(math.ceil(budgetS / RoundS).toInt)(round())

  def check(): Option[String] = None

  /** Seeded Fisher-Yates shuffle. */
  private def shuffled[T](a: Array[T]): Array[T] = {
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a
  }

  private def run(kinds: Seq[String]): Unit =
    shuffled(kinds.toArray).foreach { kind =>
      val k = rnd.nextInt(Copies)
      kind match {
        case "agg" => scanAgg(k)
        case "join" => scanJoin(k)
        case "topk" => scanTopK(k)
        case "json" => manifestJson(k)
        case m if MetaKinds.contains(m) => metaTable(k, m)
        case p =>
          val i = p.drop(1).toInt
          point(k, range = i % 2 == 1, travel = i >= Points / 2)
      }
    }

  def decodeProbe(): Unit = TableChecks.decodeProbe(ctx, "graft.db.li_0", tableDir(0))

  def spaceAmp(): Double = TableChecks.spaceAmp(ctx, "graft.db.li_0", tableDir(0))
}

object LakeRead {
  val NOrders = 20000
  val Slices = 5
  val Points = 40
  val Streamed = 2
  val Copies = 2
  /** Nominal seconds of one round at the commit that added the benchmark:
    * a run of S seconds does ceil(S / RoundS) rounds. */
  val RoundS = 20.0
  val MorProps: String =
    "'write.update.mode'='merge-on-read', 'write.delete.mode'='merge-on-read', " +
      "'write.merge.mode'='merge-on-read'"
}

package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The benchmark's entry point:
  *
  * {{{
  *   Main --workload lake_read|lake_write --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints diagnostics, then as its last stdout line one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`. A
  * traced run spends half its budget with listeners and layer probes on
  * and half untraced (for the tracing overhead), and writes its spans to
  * `DIR/traces/<workload>-<seed>.json`. */
object Main {

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "lake_read" => new LakeRead(ctx)
    case "lake_write" => new LakeWrite(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def loadavg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("n/a")

  /** CPU time of this process (all threads), from /proc/self/stat. */
  private def cpuNs(): Long = {
    val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
      .split(' ')
    (f(13).toLong + f(14).toLong) * (1000000000L / 100)
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. Steal is time a
    * virtual CPU was ready to run while the hypervisor ran something else:
    * a diagnostic for runs slowed by other tenants of a shared host. */
  private def stealJiffies(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").slice(1, 9).map(_.toLong)
    (f(7), f.sum)
  }

  /** Heap in use after a full GC: the least of three GC-and-read rounds,
    * so objects of work still winding down are not counted. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val root = need("work")
    val loadStart = loadavg()
    val work = s"$root/$name-$seed"
    deleteTree(work)
    val spark = Env.session(work)
    val ctx = new Ctx(spark, seed, work, traced)
    val w = workload(name, ctx)

    w.prepare()
    if (traced) ctx.setupCounters.attach(ctx)
    val setupS = (0 until w.copies).map { k =>
      val t0 = System.nanoTime()
      ctx.tracer.span("setup")(w.setup(k))
      (System.nanoTime() - t0) / 1e9
    }
    w.shape("setup")
    if (traced) ctx.setupCounters.detach(ctx)
    w.warmUp()
    // warm-up ops are checked like the rest: they count as attempted and
    // their failures as failed, but their times are not measured
    val warm = ctx.allOps
    ctx.resetOps()

    // a traced run measures its first half traced, its second untraced
    val budget = if (traced) seconds / 2 else seconds
    w.stage(budget)
    if (traced) { ctx.opCounters.attach(ctx); ctx.probing = true }
    val cpu0 = cpuNs(); val gc0 = gcMs(); val steal0 = stealJiffies()
    val phaseS = w.phase(budget)
    val steal1 = stealJiffies()
    val stealPct = 100.0 * (steal1._1 - steal0._1) / math.max(1L, steal1._2 - steal0._2)
    val cpuMs = (cpuNs() - cpu0 - ctx.harnessCpuNs.get) / 1e6
    val gcDelta = gcMs() - gc0
    if (traced) { ctx.probing = false; ctx.opCounters.detach(ctx) }
    val ops = ctx.allOps
    val opsPerS = ops.size / (phaseS - ctx.harnessNs.get / 1e9)
    val outRows = ctx.outRows.get
    val untraced =
      if (!traced) Nil
      else {
        ctx.resetOps()
        w.stage(seconds / 2)
        val u = w.phase(seconds / 2)
        val rest = ctx.allOps
        Seq(rest.size / (u - ctx.harnessNs.get / 1e9) -> rest)
      }
    val heapMb = retainedHeapMb()
    val finalBad = w.check()
    finalBad.foreach(b => System.err.println(s"[perfbench] final check failed: $b"))
    val amp = w.spaceAmp()
    if (traced) { w.decodeProbe(); w.shape("end") }

    val attempted = warm ++ ops ++ untraced.flatMap(_._2)
    val failed = Outcome.failures(attempted, finalBad)
    val n = ops.size
    val lat = ops.filter(_.cls == w.latencyClass).map(_.ms)
    val (tailP, tailMs) = Stats.tail(lat)
    val byClass = ops.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, rs) =>
      val (p, t) = Stats.tail(rs.map(_.ms))
      s""""$c": {"n": ${rs.size}, "p50_ms": ${Stats.median(rs.map(_.ms))}, "tail_pct": $p, "tail_ms": $t}"""
    }
    println(s"""{"diagnostics": {"workload": "$name", "seed": $seed, "loadavg_start": "$loadStart", """ +
      s""""loadavg_end": "${loadavg()}", "phase_steal_pct": $stealPct, "setup_s": ${setupS.mkString("[", ", ", "]")}, """ +
      s""""ops": $n, "latency_class": "${w.latencyClass}", "latency_n": ${lat.size}, "tail_pct": $tailP, "fail_ratio": ${failed.toDouble / attempted.size}, """ +
      s""""classes": {${byClass.mkString(", ")}}}}""")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("ops_per_s", opsPerS, "1/s"),
        ("p50_ms", Stats.median(lat), "ms"),
        ("tail_ms", tailMs, "ms"),
        ("retained_heap_mb", heapMb, "MB"),
        ("cpu_ms_per_op", cpuMs / n, "ms"),
        ("space_amp", amp, "ratio"))
      else Layers.metrics(ctx, n, outRows, gcDelta.toDouble, untraced.head._1, opsPerS)
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    if (traced) writeSpans(ctx, s"$root/traces/$name-$seed.json")
    spark.stop()
    deleteTree(work)
    println(s"""{"correct": ${failed == 0}, "attempted": ${attempted.size}, "failed": $failed, "metrics": {$body}}""")
  }

  /** JSON number with every digit; non-finite values (a layer a run did
    * not reach) print as 0. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** The spans, each with its self time, and per span name the count,
    * total and self milliseconds. */
  private def writeSpans(ctx: Ctx, path: String): Unit = {
    val spans = ctx.tracer.spans
    val self = Tracer.selfTimes(spans)
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ns": ${self(s.id)}}"""
    }
    val summary = Tracer.summary(spans).toSeq.sortBy(_._1).map { case (n, (c, total, own)) =>
      s""""$n": {"count": $c, "total_ms": ${num(total)}, "self_ms": ${num(own)}}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, (lines.mkString("{\"spans\": [\n", ",\n", "\n],\n") +
      summary.mkString("\"summary\": {", ",\n", "}}\n")).getBytes("UTF-8"))
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}

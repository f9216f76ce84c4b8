package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** The raw entry prefix (q01, st09, ...) — the historical key shape; kept
    * for SPARK_GRAFT_ONLY compatibility with prior rounds' harnesses. */
  def rawKey(name: String): String = name.split("_").head

  /** Keys in the JSON line are the entry prefixes with leading zeros
    * dropped (q01→q1, st09→st9): the driver keeps only the LAST 2000 chars
    * of stdout and sbt appends ~90 chars after us, so at 164+ entries every
    * character of key counts toward keeping 2-decimal timings on the line. */
  def shortKey(name: String): String = {
    val p = rawKey(name)
    val (fam, idx) = p.span(!_.isDigit)
    val trimmed = idx.dropWhile(_ == '0')
    fam + (if (idx.nonEmpty && trimmed.isEmpty) "0" else trimmed)
  }

  /** min over the passes that succeeded; None (→ JSON null) if every pass
    * failed — a failed entry must never surface as a normal-looking time. */
  def best(passes: Seq[Option[Double]]): Option[Double] =
    passes.flatten.reduceOption((a, b) => math.min(a, b))

  /** Steal defense: entries whose min-of-2 timed passes STILL sits far
    * above their own warmup measurement of the same code. min-of-2
    * records a 12× artifact when one host-contention window spans both
    * passes (BENCH_r16: d5/m9 at 19 s vs a 1.5 s band) — but the
    * entry's own WARMUP timing, taken in the same process minutes
    * earlier, is a reference that no multi-hour drift story can explain
    * away. An entry re-measures when its best
    * exceeds `factor`× its successful warmup AND the absolute excess
    * clears `minExcessSec` (a 0.02 s→0.09 s wobble is noise, not theft);
    * the set is CAPPED, worst overshoot first, so a genuinely slowed
    * suite can never loop the bench. */
  def remeasureSet(warm: Map[String, Option[Double]],
      results: Seq[(String, Option[Double])], factor: Double = 4.0,
      minExcessSec: Double = 0.5, cap: Int = 5,
      bands: Map[String, Double] = Map.empty,
      bandFactor: Double = 3.0): Seq[String] =
    results.collect {
      case (n, Some(b)) if warm.get(n).flatten.exists(w =>
        b > w * factor && b - w > minExcessSec) ||
        bands.get(n).exists(bd =>
          b > bd * bandFactor && b - bd > minExcessSec) =>
        val warmRatio = warm.get(n).flatten.map(b / _).getOrElse(0.0)
        val bandRatio = bands.get(n).map(b / _).getOrElse(0.0)
        (n, math.max(warmRatio, bandRatio))
    }.sortBy(-_._2).take(cap).map(_._1)

  /** Quiet-host reference timings (r21 verdict task 7): a committed,
    * READ-ONLY record of a quiet full pass in [[writeFullJson]] format.
    * An entry whose min-of-2 sits >3× above its band re-measures even
    * when the contention window also inflated its warmup (the case the
    * warmup-relative trigger can't see — BENCH_r21: s7 at 14 s vs a 1 s
    * band survived with rm:2 because warmup was equally contaminated).
    * Each band parses on its own — a malformed number drops only its
    * entry; a missing/unparseable file ⇒ empty map (warned on stderr) ⇒
    * exactly the old behavior; the band never LOWERS a reported time —
    * it only grants a third measurement pass, still capped at 5 entries. */
  def loadBands(path: String): Map[String, Double] = {
    val bands = scala.util.Try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      txt.indexOf("\"queries\"") match {
        case -1 => Map.empty[String, Double]
        case i => "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(txt.substring(i))
          .flatMap(m => m.group(2).toDoubleOption.map(m.group(1) -> _)).toMap
      }
    }.getOrElse(Map.empty[String, Double])
    if (bands.isEmpty)
      System.err.println(s"[bench] no quiet-band timings parsed from $path: " +
        "only the warmup trigger selects re-measurements")
    bands
  }

  /** One compact JSON line; failed entries carry null and are excluded
    * from the total (BenchSpec pins this). Every entry starts at 2
    * decimals (10 ms resolution, far below run-to-run noise; magnitude-
    * adaptive: ≥10 s at most 1 decimal, ≥100 s none — relative resolution
    * stays ≤1%; trailing zeros stripped). If the line would overflow the
    * driver's 2000-char stdout tail, entries degrade INDIVIDUALLY,
    * largest timing first — where a 0.05 s quantum is the smallest
    * RELATIVE loss — until the line fits, so sub-second entries keep
    * their 2 decimals no matter how many entries the suite grows (the
    * round-9 failure was whole-line degradation quantizing the driver's
    * entire record at once). A front-truncated line is unparseable, so
    * less precision always beats more characters. */
  /** `extras`: run-context diagnostics (host load, warmup total) rendered
    * verbatim between "unit" and "queries". BENCH_r18's 294 s driver pass
    * cost two attribution sessions because the line carried no host-load
    * stamp — a `load_start` near the core count closes a drifted pass on
    * sight (BENCH_NOTES documents the adjudication rule). They spend
    * ~45 chars of the 1918 budget; the per-entry decimal degradation
    * below absorbs it, trading precision for diagnosability. */
  def renderLine(results: Seq[(String, Option[Double])], sfDir: String,
      extras: Seq[(String, Double)] = Nil): String = {
    // only the last path segment ("sf0.1") — the full dir costs ~15 chars of
    // the budget and the driver set it itself; escape what remains, or a
    // quote/backslash yields exactly the unparseable line this format avoids
    val sf = sfDir.stripSuffix("/").split('/').last.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def fmt(v: Double, dec: Int): String = {
      val eff = if (v >= 100) 0 else if (v >= 10) math.min(dec, 1) else dec
      val s = s"%.${eff}f".format(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    val total = results.flatMap(_._2).sum
    val dec = Array.fill(results.size)(2)
    val ex = extras.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) + "," }.mkString
    def assemble(): String = {
      val qs = results.zipWithIndex.map { case ((k, v), i) =>
        "\"" + shortKey(k) + "\":" + v.map(fmt(_, dec(i))).getOrElse("null")
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec",$ex"queries":$qs,"sf":"$sf"}"""
    }
    var line = assemble()
    // Budget 1918, measured from the driver's OWN recorded tail
    // (BENCH_r12.json): the 2000-char stdout tail must hold the line
    // PLUS sbt's trailing epilogue ("[success] Total time: …", ~72
    // chars + newlines) — anything past ~1924 gets FRONT-truncated into
    // unparseable JSON.
    //
    // Degradation runs in two passes with DIFFERENT orders. 2→1
    // decimals: largest timings first (a 0.05 s quantum is the smallest
    // relative loss there). 1→0 decimals is where values can collapse
    // ("0.4" → "0" reads as instant), so that pass takes entries by
    // SMALLEST RELATIVE ROUNDING LOSS first — near-integer timings
    // (2.98, 1.04) round almost for free, and a "0.5" only ever loses
    // its decimal if every benign candidate already did.
    val byMagnitude = results.zipWithIndex
      .collect { case ((_, Some(v)), i) => (v, i) }.sortBy(-_._1).map(_._2)
    for (i <- byMagnitude; if line.length >= 1918) {
      dec(i) = 1
      line = assemble()
    }
    // ties (every sub-half-second value has maximal relative loss) break
    // toward the SMALLEST value — "0" for a 0.04 s entry is nearly
    // honest; for a 0.4 s entry it erases the measurement
    val byRoundingLoss = results.zipWithIndex
      .collect { case ((_, Some(v)), i) =>
        ((math.abs(v - math.round(v)) / math.max(v, 0.01), v), i) }
      .sortBy(_._1).map(_._2)
    for (i <- byRoundingLoss; if line.length >= 1918) {
      dec(i) = 0
      line = assemble()
    }
    line
  }

  /** Full-precision per-entry timings as a JSON file next to the compact
    * stdout line — the stdout tail is capped at 2000 chars (which already
    * forced the decimal-degradation hack above), so the FILE is the
    * mechanically-parseable record; the line stays the driver contract. */
  def writeFullJson(path: String, results: Seq[(String, Option[Double])],
      sfDir: String, totalSec: Double,
      extras: Seq[(String, Double)] = Nil): Unit = {
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(d => f"$d%.4f").getOrElse("null")
    }.mkString("{", ",", "}")
    val sf = sfDir.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val ex = extras.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" + "," }.mkString
    val json =
      s"""{"metric":"total","value":${f"$totalSec%.4f"},"unit":"sec",$ex"queries":$qs,"sf":"$sf"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The host's 1-minute loadavg at call time; None off-Linux or on any
    * read failure — a missing diagnostic must never fail the bench. */
  def load1(): Option[Double] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.UTF_8).split("\\s+")(0).toDouble)
    catch { case scala.util.control.NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    Scratch.sweepStale()
    // host-load stamps: load_start is sampled BEFORE Spark spins up its
    // local[n] threads, so it measures the OTHER tenants of the machine —
    // the adjudication signal for a drifted total (load_end includes this
    // process's own 32 threads and only bounds how hot the box ran)
    val loadStart = load1()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A failure must not abort the whole bench, but it must be VISIBLE:
    // stderr gets the stack head, and the entry's time becomes None → null.
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    // Pass 1 warms JVM/codegen/parquet-footer caches (one-shot costs that a
    // long-lived cluster session never repays per query); passes 2-3 are the
    // steady-state measurement. Report min of the successful timed runs.
    // SPARK_GRAFT_ONLY=i21,i22,... runs a subset — the isolation harness for
    // regression bisects; unset = the full suite. Both key shapes match
    // (historical "q01" and current "q1") so prior rounds' bisect commands
    // keep working across the key-shortening.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(s => s.contains(shortKey(n)) || s.contains(rawKey(n))))
    require(names.nonEmpty, "SPARK_GRAFT_ONLY matched no entries")
    // fail fast on a prefix collision BEFORE spending ~3 timed passes:
    // a colliding shortKey would silently drop a timing from the JSON line
    require(names.map(shortKey).distinct.size == names.size,
      "entry prefixes must stay unique — a colliding prefix would drop a timing")
    val warm = names.map(n => n -> time(n, SparkEntry.queries(n))).toMap
    val timed = names.map { n =>
      n -> best(Seq(time(n, SparkEntry.queries(n)), time(n, SparkEntry.queries(n))))
    }
    // third chance for stolen entries only (see remeasureSet): one more
    // pass each, min taken — a sustained contention window now has to
    // span warmup AND all three passes to fake a regression. On a host
    // that was ALREADY loaded when the bench started (load_start at a
    // quarter of the core count — other tenants, not us), the trigger
    // tightens to 3×: contamination is likelier than JIT wobble there,
    // and the cap still bounds the extra passes at 5. (r20's 328 s
    // driver record cost a full adjudication session; the `rm` stamp on
    // the metric line closes that on sight.)
    val factor = if (loadStart.exists(_ >= cpus.toDouble / 4)) 3.0 else 4.0
    // committed quiet-host band (read-only; absent ⇒ warmup trigger only).
    // Scale-keyed: the band only adjudicates runs at its own sf/cpu shape —
    // a driver run at other settings ignores it rather than misfire.
    val bands =
      if (sfDir.endsWith("sf0.1") && cpus == "32")
        loadBands(sys.env.getOrElse("SPARK_GRAFT_BAND", "bench_band.json"))
      else Map.empty[String, Double]
    val suspects = remeasureSet(warm, timed, factor = factor, bands = bands).toSet
    suspects.foreach(n =>
      System.err.println(s"[bench] $n re-measured: min-of-2 far above its warmup"))
    val results = timed.map { case (n, v) =>
      if (suspects(n)) n -> best(Seq(v, time(n, SparkEntry.queries(n))))
      else n -> v
    }
    val extras = loadStart.map("load_start" -> _).toSeq ++
      load1().map("load_end" -> _) ++
      Seq("warmup" -> warm.values.flatten.sum,
        // how many entries took the anti-steal third pass: a nonzero rm
        // on a drifted total says the bench already re-measured its
        // outliers — the adjudicator reads contamination off the line
        // instead of re-running the movers
        "rm" -> suspects.size.toDouble)
    sys.env.get("SPARK_GRAFT_BENCH_JSON").foreach(p =>
      writeFullJson(p, results, sfDir, results.flatMap(_._2).sum, extras))
    emitFinalLine(renderLine(results, sfDir, extras), () => spark.stop())
  }

  /** The line-is-the-LAST-stdout contract (BenchSpec pins the ordering):
    * the driver keeps only the tail of stdout, so ANY bytes after the
    * JSON line push its head out of the window and the round's record
    * parses as null (r15: a StateStore maintenance thread racing
    * `spark.stop()` printed a ~1.1 KB WARN stack after the line). So the
    * session stops FIRST — every shutdown-race message lands before the
    * line — then all logging goes dark (JVM shutdown hooks still run
    * after main returns), and only then does the line print. */
  def emitFinalLine(line: String, stop: () => Unit): Unit = {
    // the known shutdown racer goes silent even before stop(): its WARN
    // carries no information (SparkEnv is simply gone mid-teardown)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state",
      org.apache.logging.log4j.Level.OFF)
    // the line must survive a FAILED stop too — losing the record to a
    // teardown exception would be strictly worse than the truncation
    // this ordering exists to prevent. NonFatal failures (and an
    // interrupt, with the flag restored) are noted on STDERR — outside
    // the driver's stdout tail — and the line still prints; a fatal VM
    // error propagates: a dying VM's record is suspect anyway, and
    // swallowing OOM would report success from a corrupted process.
    try stop() catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        System.err.println(s"[bench] spark.stop() interrupted: $e")
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] spark.stop() failed: $e")
    }
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    // leading newline: if any logger left a partial line on stdout, the
    // JSON still starts at column 0 for a line-oriented parser
    println()
    println(line)
  }
}

package graft.perfbench

import scala.util.{Failure, Success}

import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  test("tail rule picks the highest percentile with 10 samples beyond it") {
    assert(Stats.tailPercentile(19) == 100.0)
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    (20 to 3000).foreach { n =>
      val xs = (1 to n).map(_.toDouble).reverse
      val (p, v) = Stats.tail(xs)
      assert(xs.count(_ > v) == Stats.TailBeyond, s"n=$n") // exactly 10 beyond
      assert(v == n - Stats.TailBeyond && p == 100.0 * v / n, s"n=$n p=$p v=$v")
    }
    // too few samples for any percentile from the median up: the maximum
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((100.0, 3.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == ((100.0, 19.0)))
  }

  test("median is a measured sample (nearest rank)") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.median(xs) == 50.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.percentile(xs, 75.0) == 75.0)
  }

  test("failure counting: throws, wrong answers and broken checks all fail") {
    val ok = Outcome.judge("point", 1.0, Success(1))(_ => None)
    val threw = Outcome.judge[Int]("point", 1.0, Failure(new RuntimeException("boom")))(_ => None)
    val wrong = Outcome.judge("scan", 1.0, Success(2))(v => if (v == 1) None else Some("2 != 1"))
    val checkThrew = Outcome.judge("meta", 1.0, Success(0))(_ => throw new IllegalStateException("x"))
    assert(ok.ok && !threw.ok && !wrong.ok && !checkThrew.ok)
    assert(threw.note.contains("boom") && wrong.note == "2 != 1" && checkThrew.note.contains("check threw"))
    val ops = Seq(ok, threw, wrong, checkThrew)
    assert(Outcome.failures(ops, None) == 3)
    assert(Outcome.failures(ops, Some("final table differs")) == 4)
    assert(Outcome.failures(Seq(ok), None) == 0)
  }

  test("span self time subtracts the union of direct children only") {
    val spans = Seq(
      Span(1, 0, 7, "op.scan", 0, 100),
      Span(2, 1, 7, "sources.plan", 10, 30),
      Span(3, 1, 7, "iceberg.manifest_read", 20, 50), // overlaps span 2
      Span(4, 3, 7, "leaf", 25, 45), // grandchild: not subtracted from 1
      Span(5, 1, 7, "cli.manifest2json", 90, 120)) // runs past its parent
    val self = Tracer.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10) // [10,50) and [90,100)
    assert(self(2) == 20)
    assert(self(3) == 30 - 20)
    assert(self(4) == 20)
    assert(self(5) == 30)
    assert(Tracer.merged(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    val sum = Tracer.summary(spans)
    assert(sum("op.scan") == ((1, 100 / 1e6, 50 / 1e6)))
  }

  test("a disabled tracer runs the body and records nothing; an enabled one nests") {
    val off = new Tracer(false)
    assert(off.span("x")(41 + 1) == 42 && off.spans.isEmpty)
    val on = new Tracer(true)
    on.withOp(3)(on.span("outer")(on.span("inner")(())))
    val Seq(inner, outer) = on.spans.sortBy(_.startNs).reverse.sortBy(_.name)
    assert(inner.parent == outer.id && outer.parent == 0 && inner.op == 3 && outer.op == 3)
  }

  test("the output check rejects a wrong answer and accepts a reassociated sum") {
    val expected = Seq(Seq("A", "F", 10L, 1234.5678), Seq("N", "O", 3L, null))
    assert(Check.sameRows(expected, expected).isEmpty)
    // the same value summed in another order differs in the last bits
    val reassoc = Seq(Seq("A", "F", 10, 1234.5678 * (1 + 1e-13)), Seq("N", "O", 3L, null))
    assert(Check.sameRows(reassoc, expected).isEmpty)
    assert(Check.sameRows(Seq(Seq("A", "F", 10L, 1234.57), expected(1)), expected).isDefined)
    assert(Check.sameRows(Seq(Seq("A", "F", 11L, 1234.5678), expected(1)), expected).isDefined)
    assert(Check.sameRows(expected.reverse, expected).isDefined)
    assert(Check.sameRows(expected.take(1), expected).isDefined)
    assert(Check.sameRows(Seq(Seq("A", "F", 10L, 1234.5678), Seq("N", "O", 3L, 0.0)), expected).isDefined)
    assert(Check.sameRows(Seq(Seq("A", "F", 10L), expected(1)), expected).isDefined)
  }

  test("the manifest2json check rejects a wrong bound and a missing record") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def rec(file: String, lo: Long, hi: Long) = m.readTree(
      s"""{"data_file": {"file_path": "$file", "lower_bounds": {"1": "value:$lo;type:long"},
         |"upper_bounds": {"1": "value:$hi;type:long"}}}""".stripMargin)
    def entry(file: String) = graft.iceberg.ManifestWriter.EntryData(1, 1L, file, 10L, 100L,
      Map.empty, Map.empty)
    val keys = Map("a.parquet" -> ((5L, 9L)))
    def check(records: Seq[com.fasterxml.jackson.databind.JsonNode]) =
      ManifestJson.check(records, Seq(entry("a.parquet")), new java.util.SplittableRandom(1), keys)
    assert(check(Seq(rec("a.parquet", 5, 9))).isEmpty)
    assert(check(Seq(rec("a.parquet", 5, 8))).exists(_.contains("file holds 5..9")))
    assert(check(Seq(rec("b.parquet", 5, 9))).exists(_.contains("no record")))
    assert(check(Nil).exists(_.contains("0 records for 1 entries")))
  }

  test("a manifest2json bound is read from its rendered value") {
    val r = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      """{"data_file": {"lower_bounds": {"1": "value:25057;type:long", "2": "value:x;type:string"}}}""")
    assert(ManifestJson.bound(r, "lower_bounds", 1).contains("25057"))
    assert(ManifestJson.bound(r, "lower_bounds", 3).isEmpty)
    assert(ManifestJson.bound(r, "upper_bounds", 1).isEmpty)
  }
}

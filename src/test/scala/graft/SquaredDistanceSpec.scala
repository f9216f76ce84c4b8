package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** The graft_sqd codegen kernel must be BIT-IDENTICAL to the interpreted
  * slice + transform-cast + zip_with + aggregate formulation it replaced in
  * the s-family (s04/s05/s06) — those entries' oracles are no-tolerance
  * hash pins, so any FP reordering would show up as a driver red. */
class SquaredDistanceSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("graft-sqd-spec", cores = "2")

  /** The pre-r21 interpreted formulation, verbatim. */
  private def oldSqd(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  test("kernel == interpreted fold, bit for bit, across offsets (float vs double literal)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(50)(Array.fill(64)(rnd.nextFloat() * 2f - 1f)).zipWithIndex
      .map { case (a, i) => (i.toLong, a.toSeq) }
    val df = rows.toDF("id", "v")
    val bLit = Array.fill(16)(rnd.nextDouble() * 2 - 1)
    val b = array(bLit.toIndexedSeq.map(lit): _*)
    for (m <- 0 until 4) {
      val oldCol = oldSqd(transform(slice($"v", m * 16 + 1, 16), x => x.cast(DoubleType)), b)
      val newCol = call_function("graft_sqd", $"v", b, lit(m * 16))
      val bad = df.select($"id", oldCol.as("o"), newCol.as("n"))
        .collect().filter(r =>
          java.lang.Double.doubleToLongBits(r.getDouble(1)) !=
            java.lang.Double.doubleToLongBits(r.getDouble(2)))
      assert(bad.isEmpty, s"offset ${m * 16}: ${bad.take(3).mkString(", ")}")
    }
  }

  test("kernel == interpreted fold on full float-float pairs (the refine metric)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(30)((Array.fill(64)(rnd.nextFloat()), Array.fill(64)(rnd.nextFloat())))
      .map { case (a, b) => (a.toSeq, b.toSeq) }
    val df = rows.toDF("a", "b")
    def full(c: org.apache.spark.sql.Column) = transform(c, x => x.cast(DoubleType))
    val bad = df.select(oldSqd(full($"a"), full($"b")).as("o"),
        call_function("graft_sqd", $"a", $"b", lit(0)).as("n"))
      .collect().filter(r =>
        java.lang.Double.doubleToLongBits(r.getDouble(0)) !=
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    assert(bad.isEmpty, bad.take(3).mkString(", "))
  }

  test("ragged input: a too short for [off, off+|b|) yields NULL, like the zip_with fold") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "v")
    val b = array((1 to 16).map(i => lit(i.toDouble)): _*)
    val r = df.select(call_function("graft_sqd", $"v", b, lit(0)).as("n")).collect().head
    assert(r.isNullAt(0))
    // and the interpreted formulation agrees
    val o = df.select(oldSqd(transform(slice($"v", 1, 16), x => x.cast(DoubleType)), b).as("o"))
      .collect().head
    assert(o.isNullAt(0))
  }

  test("mismatched dimensions throw, naming both, instead of scoring a prefix") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // the kernel: a must cover [off, off+|b|)
    val a3 = new GenericArrayData(Array[Any](1.0, 2.0, 3.0))
    val b2 = new GenericArrayData(Array[Any](1.0, 1.0))
    assert(graft.functions.VectorKernels.sqd(a3, false, b2, false, 1) == 1.0 + 4.0)
    val short = intercept[IllegalArgumentException](
      graft.functions.VectorKernels.sqd(a3, false, b2, false, 2))
    assert(short.getMessage.contains("a has 3 elements") &&
      short.getMessage.contains("b has 2"), short.getMessage)
    // the refine metric: whole vectors of equal length, else an error
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 2.0f, 3.0f), Seq(0.0f, 2.0f, 5.0f))).toDF("a", "b")
    val ok = df.filter(size($"a") === 3)
      .select(graft.operators.Similarity.sqdFull($"a", $"b")).collect().head
    assert(ok.getDouble(0) == 1.0 + 0.0 + 4.0)
    val err = intercept[Exception](
      df.select(graft.operators.Similarity.sqdFull($"a", $"b")).collect())
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" | ")
    assert(msgs.contains("a has 4 elements, b has 3"), msgs)
    // NULL in, NULL out
    val nul = Seq((Option.empty[Seq[Float]], Seq(1.0f))).toDF("a", "b")
      .select(graft.operators.Similarity.sqdFull($"a", $"b")).collect().head
    assert(nul.isNullAt(0))
  }

  test("null input yields NULL") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Seq[Float]])).toDF("id", "v")
    val r = df.select(call_function("graft_sqd", $"v",
      array(lit(1.0), lit(2.0)), lit(0)).as("n")).collect().head
    assert(r.isNullAt(0))
  }

  /** Regression for the s07 interpreter fallback: graft_dot/graft_sqd can
    * return NULL from NON-NULL inputs (ragged arrays), so their `nullable`
    * must not collapse to the children's nullability. With non-null
    * children (array literals below), BinaryExpression's default reported
    * nullable=false, Spark's nullSafeCodeGen dropped the isNull declaration
    * and the codegen template assigned an undeclared variable — Janino
    * failed ("is not an rvalue") and the whole stage (s07's Lloyd
    * assignment) silently ran interpreted. The fix declares nullable=true;
    * this spec pins BOTH halves: the expression stays nullable under
    * non-null children, and codegen-only mode (no interpreter fallback
    * allowed) produces the right values and the ragged NULL. */
  test("non-null children: nullable stays true and codegen compiles (no fallback)") {
    import spark.implicits._
    import graft.functions.{DotProduct, SquaredDistance}
    import org.apache.spark.sql.catalyst.expressions.{Literal, CreateArray}
    val arr3 = CreateArray(Seq(Literal(1.0), Literal(2.0), Literal(3.0)))
    val arr2 = CreateArray(Seq(Literal(1.0), Literal(2.0)))
    assert(!arr3.nullable && !arr2.nullable, "precondition: non-null children")
    assert(DotProduct(arr3, arr2).nullable, "graft_dot must stay nullable")
    assert(SquaredDistance(arr3, arr2, 2).nullable, "graft_sqd must stay nullable")

    // CODEGEN_ONLY forbids the interpreter fallback that masked the bug
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      graft.functions.GraftFunctions.register(spark)
      val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0, 1.0))).toDF("a", "b")
        .filter($"a".isNotNull && $"b".isNotNull) // non-null attributes
      val row = df.select(
        call_function("graft_dot", $"a", array(lit(1.0), lit(2.0), lit(3.0))).as("dot"),
        call_function("graft_sqd", $"a", $"b", lit(1)).as("sqd"),
        call_function("graft_dot", $"a", $"b").as("ragged")).collect().head
      assert(row.getDouble(0) == 14.0)
      assert(row.getDouble(1) == 1.0 + 4.0) // (2-1)^2 + (3-1)^2
      assert(row.isNullAt(2), "ragged non-null inputs must yield NULL")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}

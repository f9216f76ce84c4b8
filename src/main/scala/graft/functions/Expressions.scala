package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text/dedup kernels — preferred over
  * Scala UDFs (SURVEY.md §2.2 "UDF/UDAF surface"): `doGenCode` emits a
  * direct static call into TextAlgos, so evaluation stays inside
  * whole-stage codegen with no closure serialization, no Row boxing and no
  * null-handling overhead beyond the generated null check.
  */
abstract class TextKernelExpression extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
}

/** fingerprint64(text): rolling-hash document fingerprint. */
case class Fingerprint64(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextAlgos.fingerprint64(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgos.fingerprint64($c.toString())")
  override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(c)
}

/** simhash64(text, k): 64-bit SimHash over k-token shingles. */
case class SimHash64(child: Expression, shingleK: Int) extends TextKernelExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextAlgos.simHash64(v.asInstanceOf[UTF8String].toString, shingleK)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgos.simHash64($c.toString(), $shingleK)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** minhash_sig(text, k, n): MinHash signature (array<long> of n hashes). */
case class MinHashSig(child: Expression, shingleK: Int, numHashes: Int)
    extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextAlgos.minHashSignature(v.asInstanceOf[UTF8String].toString, shingleK, numHashes))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.minHashSignature($c.toString(), $shingleK, $numHashes))")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** pos_shingle_hashes(text, k): ALL positional k-token shingle hashes. */
case class PosShingleHashes(child: Expression, shingleK: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextAlgos.posShingleHashes(v.asInstanceOf[UTF8String].toString, shingleK))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.posShingleHashes($c.toString(), $shingleK))")
  override protected def withNewChildInternal(c: Expression): PosShingleHashes = copy(child = c)
}

/** shingle_hashes(text, k): distinct k-token shingle hashes (array<long>). */
case class ShingleHashes(child: Expression, shingleK: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextAlgos.shingleHashes(v.asInstanceOf[UTF8String].toString, shingleK))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.shingleHashes($c.toString(), $shingleK))")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** chargram_hashes(text, n): distinct character n-gram hashes. */
case class CharGramHashes(child: Expression, n: Int) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextAlgos.charGramHashes(v.asInstanceOf[UTF8String].toString, n))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.charGramHashes($c.toString(), $n))")
  override protected def withNewChildInternal(c: Expression): CharGramHashes = copy(child = c)
}

/** minhash_bands(text, k, n, b): LSH band keys (array<long> of b keys). */
case class MinHashBands(child: Expression, shingleK: Int, numHashes: Int, bands: Int)
    extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextAlgos.minHashBandKeys(
      v.asInstanceOf[UTF8String].toString, shingleK, numHashes, bands))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.minHashBandKeys($c.toString(), $shingleK, $numHashes, $bands))")
  override protected def withNewChildInternal(c: Expression): MinHashBands = copy(child = c)
}

/** chargram_bands(text, n, numHashes, b): LSH band keys over the char
  * n-gram set. */
case class CharGramBands(child: Expression, n: Int, numHashes: Int, bands: Int)
    extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(TextAlgos.charGramBandKeys(
      v.asInstanceOf[UTF8String].toString, n, numHashes, bands))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextAlgos.charGramBandKeys($c.toString(), $n, $numHashes, $bands))")
  override protected def withNewChildInternal(c: Expression): CharGramBands = copy(child = c)
}

/** normalize_text(text): one-pass case-fold + strip + space-collapse +
  * trim (see TextAlgos.normalize) — the dedup pre-hash normalizer. */
case class NormalizeText(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TextAlgos.normalize(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextAlgos.normalize($c.toString()))")
  override protected def withNewChildInternal(c: Expression): NormalizeText = copy(c)
}

/** Vector kernels shared by the interpreted and codegen'd paths of
  * DotProduct. The accumulation is the SAME left-to-right IEEE-754 double
  * fold as `aggregate(zip_with(a, b, _*_), 0.0, _+_)` and as DuckDB's list
  * comprehension sum — bit-identical results, so swapping the interpreted
  * higher-order functions for this codegen'd kernel preserves every
  * hash-pinned oracle. */
object VectorKernels {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData, aFloat: Boolean,
      b: org.apache.spark.sql.catalyst.util.ArrayData, bFloat: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** All k Lloyd assignment scores in ONE pass: score_j = −2·(x·c_j) + n_j
    * where n_j is the precomputed ‖c_j‖². Per element j this is EXACTLY
    * `Multiply(Literal(-2.0), DotProduct(x, lit(c_j))) + Literal(n_j)` —
    * the same IEEE-754 ops in the same order as the literal-array
    * formulation it replaces (LloydScoresSpec pins bit-equality), and a
    * length-mismatched x yields a NULL element exactly as the nullable
    * graft_dot did. Boxed Double elements match CreateArray's output. */
  def lloydScores(x: org.apache.spark.sql.catalyst.util.ArrayData, xFloat: Boolean,
      cents: Array[Array[Double]], norms: Array[Double])
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val k = cents.length
    val out = new Array[Any](k)
    val n = x.numElements()
    var j = 0
    while (j < k) {
      val c = cents(j)
      if (n != c.length) out(j) = null
      else {
        var s = 0.0
        var i = 0
        while (i < c.length) {
          val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
          s += xv * c(i)
          i += 1
        }
        out(j) = java.lang.Double.valueOf(-2.0 * s + norms(j))
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Squared L2 distance of a[off, off+|b|) to b — the SAME left-to-right
    * IEEE-754 fold as `aggregate(zip_with(slice(a), b, (x,y) => (x-y)*(x-y)),
    * 0.0, _+_)`: per element one subtract, one multiply, one add, in index
    * order — bit-identical to the interpreted formulation it replaces (and
    * to DuckDB's list_sum comprehension), so every hash-pinned oracle
    * survives the swap. The `off` parameter subsumes the slice: no
    * per-row subarray or cast allocation. `a` must cover [off, off+|b|):
    * a shorter `a` is a dimension mismatch and throws, naming both
    * dimensions, instead of reading past its end. */
  def sqd(a: org.apache.spark.sql.catalyst.util.ArrayData, aFloat: Boolean,
      b: org.apache.spark.sql.catalyst.util.ArrayData, bFloat: Boolean,
      off: Int): Double = {
    val n = b.numElements()
    if (off + n > a.numElements()) throw new IllegalArgumentException(
      s"graft_sqd dimension mismatch: a has ${a.numElements()} elements, " +
        s"b has $n, offset $off needs ${off + n}")
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(off + i).toDouble else a.getDouble(off + i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }
}

/** graft_sqd(a, b, off): squared L2 distance between a[off, off+|b|) and b
  * over array<float|double> — the PQ/IVF code-assignment and ADC innermost
  * loop as ONE whole-stage-codegen call instead of interpreted
  * slice + transform + zip_with + aggregate (higher-order functions never
  * codegen; measured 8× on the s-family, same anti-pattern s07's scaladoc
  * documents). NULL when a is too short to cover [off, off+|b|) — the
  * zip_with formulation null-pads ragged inputs and poisons its fold, so a
  * malformed vector surfaces as NULL on both formulations, never a silently
  * truncated distance. (A LONGER-than-expected `a` scores its prefix here
  * where zip_with would null — unreachable on fixed-dim embedding tables,
  * which SquaredDistanceSpec pins against the interpreted formulation.) */
case class SquaredDistance(left: Expression, right: Expression, offset: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  // can return NULL from NON-NULL inputs (a too short to cover the slice),
  // so nullable must not collapse to the children's nullability: with
  // non-null children BinaryExpression would report nullable=false, Spark's
  // nullSafeCodeGen then drops the isNull declaration, and the template
  // below assigns an UNDECLARED variable — the whole stage falls back to
  // interpreter mode (observed on s07's isnotnull-filtered scan).
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqd"

  private def elemFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) && offset >= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs and offset >= 0, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}, $offset")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (ad.numElements() < offset + bd.numElements()) null
    else VectorKernels.sqd(ad, elemFloat(left), bd, elemFloat(right), offset)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() < $offset + $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.sqd(
         |    $a, ${elemFloat(left)}, $b, ${elemFloat(right)}, $offset);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SquaredDistance =
    copy(left = l, right = r)
}

/** dot(a, b) over array<float|double> — embedding similarity's innermost
  * loop as ONE whole-stage-codegen call instead of interpreted zip_with +
  * aggregate (higher-order functions never codegen). */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullIntolerant: Boolean = true
  // NULL on ragged inputs even when both children are non-null — see the
  // SquaredDistance note: without this override the codegen template's
  // isNull assignment references an undeclared variable under non-null
  // children and the stage (s07's Lloyd assignment) runs interpreted.
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> inputs, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    // ragged inputs yield NULL — matching the zip_with+aggregate
    // formulation this kernel replaced (zip_with null-pads, poisoning the
    // fold), never a silently truncated score
    if (ad.numElements() != bd.numElements()) null
    else VectorKernels.dot(ad, elemFloat(left), bd, elemFloat(right))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.dot(
         |    $a, ${elemFloat(left)}, $b, ${elemFloat(right)});
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** lloyd_scores(x): the k-means assignment score array
  * [−2·(x·c_j) + ‖c_j‖²]_{j<k} with the centroid matrix carried by a
  * BROADCAST VARIABLE instead of per-centroid array literals. The literal
  * formulation (`array(lit(-2.0)*graft_dot(x, array(lit…)) + lit(n_j))`)
  * re-serialized k·dim doubles of plan into EVERY task binary — Spark
  * logged `Broadcasting large task binary (1 MB)` once per stage on s07's
  * 11 actions (guide §5: large task closures are driver+scheduler cost
  * re-paid per stage × per task at scale). Here the task binary carries a
  * Broadcast stub; executors fetch the centroids once per JVM via the
  * torrent protocol. Bit-identical scores (LloydScoresSpec): the kernel
  * replays the exact per-j fold, norms are precomputed on the driver with
  * the same left-to-right sum, and ragged inputs yield NULL elements as
  * the nullable graft_dot did.
  *
  * Constructed directly (GraftSqlShim.column), not via the function
  * registry — a Broadcast handle cannot ride a literal argument list. */
case class LloydScores(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    norms: Array[Double]) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_lloyd_scores"

  private def elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<float|double> input, got ${other.catalogString}")
    }

  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.lloydScores(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      elemFloat, bc.value, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("lloydBc", bc,
      "org.apache.spark.broadcast.Broadcast")
    val normsRef = ctx.addReferenceObj("lloydNorms", norms, "double[]")
    // hoist the broadcast deref to instance init: one block-manager lookup
    // per generated-class instance, not one per row
    val centsVar = ctx.addMutableState("double[][]", "lloydCents",
      v => s"$v = (double[][]) $bcRef.value();")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.lloydScores($c, $elemFloat, $centsVar, $normsRef)")
  }

  override protected def withNewChildInternal(c: Expression): LloydScores = copy(child = c)
}

/** lang_id(text): heuristic language identification. */
case class LangId(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(TextAlgos.langId(v.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TextAlgos.langId($c.toString()))")
  override protected def withNewChildInternal(c: Expression): LangId = copy(c)
}

/** iceberg_bucket(col, n): Iceberg-spec bucket partition transform —
  * `(murmur3_x86_32(bytes) & MaxInt) % n` with the spec's per-type byte
  * layouts (PartitionTransforms). Integral/date inputs hash as 8-byte
  * little-endian longs, strings as UTF-8 — pinned against the spec's
  * published test vectors in PartitionTransformsSpec. Codegen'd so 100 TB
  * of rows bucket inside whole-stage codegen, no UDF boxing. */
case class IcebergBucket(child: Expression, n: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType | IntegerType | DateType | StringType if n > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"iceberg_bucket needs int/long/date/string input and n > 0, " +
            s"got ${child.dataType.catalogString}, n=$n")
    }
  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case LongType => graft.iceberg.PartitionTransforms.bucketLong(v.asInstanceOf[Long], n)
    case IntegerType | DateType =>
      graft.iceberg.PartitionTransforms.bucketLong(v.asInstanceOf[Int].toLong, n)
    case StringType =>
      graft.iceberg.PartitionTransforms.bucketString(v.asInstanceOf[UTF8String].toString, n)
    case other => throw new IllegalStateException(s"unreachable: $other")
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case StringType => defineCodeGen(ctx, ev,
        c => s"graft.iceberg.PartitionTransforms.bucketString($c.toString(), $n)")
      case _ => defineCodeGen(ctx, ev,
        c => s"graft.iceberg.PartitionTransforms.bucketLong((long) $c, $n)")
    }
  override protected def withNewChildInternal(c: Expression): IcebergBucket = copy(child = c)
}

/** Session registration + Column-API wrappers (via the public function
  * registry, so both SQL text and the Column API reach the same codegen'd
  * expressions). Also injectable through SparkSessionExtensions — see
  * [[graft.GraftExtensions]]. */
object GraftFunctions {
  @volatile private var registered = Set.empty[SparkSession]

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** name → expression builder, the single source for both registration
    * routes (temp-function registry and SparkSessionExtensions). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_fingerprint64" -> (es => Fingerprint64(es.head)),
    "graft_simhash64" -> (es => SimHash64(es.head, intLit(es(1), "shingleK"))),
    "graft_minhash_sig" -> (es => MinHashSig(es.head,
      intLit(es(1), "shingleK"), intLit(es(2), "numHashes"))),
    "graft_shingle_hashes" -> (es => ShingleHashes(es.head, intLit(es(1), "shingleK"))),
    "graft_pos_shingle_hashes" -> (es => PosShingleHashes(es.head, intLit(es(1), "shingleK"))),
    "graft_chargram_hashes" -> (es => CharGramHashes(es.head, intLit(es(1), "n"))),
    "graft_chargram_bands" -> (es => CharGramBands(es.head, intLit(es(1), "n"),
      intLit(es(2), "numHashes"), intLit(es(3), "bands"))),
    "graft_minhash_bands" -> (es => MinHashBands(es.head, intLit(es(1), "shingleK"),
      intLit(es(2), "numHashes"), intLit(es(3), "bands"))),
    "graft_lang_id" -> (es => LangId(es.head)),
    "graft_normalize_text" -> (es => NormalizeText(es.head)),
    // Spark's own runtime-filter expressions, surfaced for user-level
    // bloom pre-join pruning (Catalyst registers them internal-only; the
    // classes are public and codegen'd)
    "graft_bloom_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es.head)),
    "graft_might_contain" -> (es =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es.head, es(1))),
    "graft_dot" -> (es => DotProduct(es.head, es(1))),
    "graft_sqd" -> (es => SquaredDistance(es.head, es(1),
      if (es.length > 2) intLit(es(2), "offset") else 0)),
    "graft_iceberg_bucket" -> (es => IcebergBucket(es.head, intLit(es(1), "n"))),
    "graft_zorder_key" -> (es => ZOrderKey(es)),
    "graft_st_point" -> (es => STPoint(es.head, es(1))),
    "graft_st_x" -> (es => STCoord(es.head, 0)),
    "graft_st_y" -> (es => STCoord(es.head, 1)))

  def register(spark: SparkSession): Unit = synchronized {
    if (registered.contains(spark)) return
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
    registered += spark
  }

  def fingerprint64(spark: SparkSession, c: Column): Column =
    { register(spark); call_function("graft_fingerprint64", c) }
  def simhash64(spark: SparkSession, c: Column, k: Int): Column =
    { register(spark); call_function("graft_simhash64", c, org.apache.spark.sql.functions.lit(k)) }
  def minhashSig(spark: SparkSession, c: Column, k: Int, n: Int): Column =
    { register(spark); call_function("graft_minhash_sig", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(n)) }
  def shingleHashes(spark: SparkSession, c: Column, k: Int): Column =
    { register(spark); call_function("graft_shingle_hashes", c, org.apache.spark.sql.functions.lit(k)) }
  def posShingleHashes(spark: SparkSession, c: Column, k: Int): Column =
    { register(spark); call_function("graft_pos_shingle_hashes", c, org.apache.spark.sql.functions.lit(k)) }
  def chargramHashes(spark: SparkSession, c: Column, n: Int): Column =
    { register(spark); call_function("graft_chargram_hashes", c, org.apache.spark.sql.functions.lit(n)) }
  def chargramBands(spark: SparkSession, c: Column, n: Int, nh: Int, b: Int): Column =
    { register(spark); call_function("graft_chargram_bands", c,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(nh),
      org.apache.spark.sql.functions.lit(b)) }
  def minhashBands(spark: SparkSession, c: Column, k: Int, n: Int, b: Int): Column =
    { register(spark); call_function("graft_minhash_bands", c,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(b)) }
  def langId(spark: SparkSession, c: Column): Column =
    { register(spark); call_function("graft_lang_id", c) }
  def normalizeText(spark: SparkSession, c: Column): Column =
    { register(spark); call_function("graft_normalize_text", c) }
  /** Bloom sketch over a LONG key column (use xxhash64 for other types). */
  def bloomAgg(spark: SparkSession, c: Column): Column =
    { register(spark); call_function("graft_bloom_agg", c) }
  def mightContain(spark: SparkSession, bloom: Column, key: Column): Column =
    { register(spark); call_function("graft_might_contain", bloom, key) }
  def dot(spark: SparkSession, a: Column, b: Column): Column =
    { register(spark); call_function("graft_dot", a, b) }
  /** Squared L2 of a[off, off+|b|) to b — see [[SquaredDistance]]. */
  def sqd(spark: SparkSession, a: Column, b: Column, off: Int = 0): Column =
    { register(spark); call_function("graft_sqd", a, b,
      org.apache.spark.sql.functions.lit(off)) }
  def icebergBucket(spark: SparkSession, c: Column, n: Int): Column =
    { register(spark); call_function("graft_iceberg_bucket", c,
      org.apache.spark.sql.functions.lit(n)) }
  /** Morton key over the clustering columns — see [[ZOrderKey]]. */
  def zorderKey(spark: SparkSession, cols: Seq[Column]): Column =
    { register(spark); call_function("graft_zorder_key", cols: _*) }
  /** Canonical WKB point / coordinate readers — see [[GeoAlgos]]. */
  def stPoint(spark: SparkSession, x: Column, y: Column): Column =
    { register(spark); call_function("graft_st_point", x, y) }
  def stX(spark: SparkSession, wkb: Column): Column =
    { register(spark); call_function("graft_st_x", wkb) }
  def stY(spark: SparkSession, wkb: Column): Column =
    { register(spark); call_function("graft_st_y", wkb) }
}

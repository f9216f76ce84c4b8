package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Two plans:
  *   - brute-force exact top-k (the correctness baseline): broadcast the
  *     query set against the corpus — one scan, no corpus shuffle, linear
  *     in corpus size; the right plan whenever |queries| is small;
  *   - multi-probe LSH (the scale path): sign-random-projection bucketing
  *     (Charikar, STOC'02) with query-directed multi-probe (Lv et al.,
  *     VLDB'07) — the corpus is hashed once into 2^nBits buckets and each
  *     query probes only the buckets reachable by flipping its
  *     lowest-|margin| sign bits, so the candidate set is a fixed number
  *     of buckets ≈ probes/2^nBits of the corpus. nBits scales as
  *     log2(corpus/targetBucketSize): at 100 TB the probe count stays
  *     constant while the probed fraction shrinks geometrically —
  *     sub-linear per query, the IVF nlist/nprobe plan shape.
  *
  * Cosine math is the codegen'd DotProduct kernel — a left-to-right
  * IEEE-754 double fold, bit-identical to the DuckDB oracle's list
  * comprehension folds (verified in-session) and to the zip_with +
  * aggregate formulation it replaced.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Codegen'd dot product (graft.functions.DotProduct) — the same
    * left-to-right IEEE double fold as the zip_with+aggregate formulation
    * it replaced (bit-identical, oracle-pinned) but inside whole-stage
    * codegen instead of the higher-order-function interpreter. Callers
    * must GraftFunctions.register the session before building the plan. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-5 cosine neighbors for query vectors vec_id < 5. */
  val annBruteForce: Q = (spark, dir) => {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("query_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
    emb.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", cosine($"query_emb", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"cos".as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  val annBruteForceSql: String =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id,
      |    list_sum([q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE for i in range(1, len(q.embedding) + 1)]) /
      |    (sqrt(list_sum([q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE for i in range(1, len(q.embedding) + 1)])) *
      |     sqrt(list_sum([c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE for i in range(1, len(c.embedding) + 1)]))) AS cos
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
      |  FROM sims)
      |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id, cos AS cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Deterministic sign-random-projection hyperplanes (splitmix64-seeded —
    * no RNG state, reproducible across runs/executors). */
  private[operators] def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        val h = graft.functions.TextAlgos.splitmix64(p.toLong * 1000003L + d)
        // map to (-1, 1) uniformly
        (h.toDouble / Long.MaxValue.toDouble)
      }
    }

  /** Raw hyperplane projections as one array column (nBits doubles). */
  private def projections(emb: Column, planes: Array[Array[Double]]): Column =
    array(planes.toIndexedSeq.map(p => dot(emb, array(p.toIndexedSeq.map(lit): _*))): _*)

  /** Bucket id from a projections array: the sign-bit code. */
  private def bucketOfProjs(projs: Column, nBits: Int): Column =
    aggregate(
      zip_with(projs, sequence(lit(0), lit(nBits - 1)),
        (p, i) => when(p > 0, call_function("shiftleft", lit(1), i)).otherwise(lit(0))),
      lit(0), (acc, x) => acc + x)

  /** Bucket id straight from an embedding (corpus side). */
  private[operators] def bucketOf(emb: Column, planes: Array[Array[Double]]): Column =
    bucketOfProjs(projections(emb, planes), planes.length)

  /** Query-directed probe masks: every XOR mask formed by flipping at most
    * `maxFlips` of the query's `lowBits` lowest-|projection| sign bits —
    * the buckets a true near neighbor most plausibly landed in (a neighbor
    * disagrees first on the bits where the query sits closest to the
    * hyperplane). 0-mask first, so the query's own bucket is always probed.
    */
  private def probeMasksOf(projs: Column, nBits: Int, lowBits: Int, maxFlips: Int): Column = {
    // rank bit indices by |projection| ascending (idx tiebreak → determinism)
    val ranked = array_sort(zip_with(projs, sequence(lit(0), lit(nBits - 1)),
      (p, i) => struct(abs(p).as("m"), i.as("i"))))
    val low = slice(transform(ranked, r => r.getField("i")), 1, lowBits)
    // flip-index subsets are a LITERAL array-of-arrays folded per row —
    // keeps the expression tree O(1) in the probe count instead of
    // materializing #masks × maxFlips element_at chains (analysis/codegen
    // cost, not correctness: identical masks come out)
    val subsets: Seq[Seq[Int]] =
      Seq(Seq.empty[Int]) ++ (1 to maxFlips).flatMap(sz => (0 until lowBits).combinations(sz).map(_.toSeq))
    transform(typedlit(subsets), s =>
      aggregate(s, lit(0), (acc, k) =>
        acc + call_function("shiftleft", lit(1), element_at(low, k + lit(1)))))
  }

  /** Candidate pairs (query_id, query_emb, vec_id, embedding) examined by
    * multi-probe LSH — exposed so tests can assert the probed-candidate
    * fraction. `corpus`/`queries` carry (vec_id, embedding) /
    * (query_id, query_emb). */
  private[graft] def lshCandidates(
      corpus: DataFrame, queries: DataFrame,
      nBits: Int, lowBits: Int, maxFlips: Int, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val planes = hyperplanes(nBits, dim)
    val hashed = corpus.select(col("vec_id"), col("embedding"),
      bucketOf(col("embedding"), planes).as("bucket"))
    // Stage the query side (projs → bucket+masks → explode) so each stage's
    // expressions stay small; Spark's subexpression elimination keeps the
    // nBits×dim projection fold computed once per row even after projection
    // collapse.
    val qProjs = queries.select(col("query_id"), col("query_emb"),
      projections(col("query_emb"), planes).as("projs"))
    val qProbes = qProjs.select(col("query_id"), col("query_emb"),
      explode(transform(
        probeMasksOf(col("projs"), nBits, lowBits, maxFlips),
        m => bucketOfProjs(col("projs"), nBits).bitwiseXOR(m))).as("probe"))
    // |queries| × probes rows broadcast against the hashed corpus: the
    // corpus is scanned once, never shuffled, and only bucket-matching rows
    // survive the join — the probed fraction ≈ (#masks)/2^nBits.
    hashed.join(broadcast(qProbes), col("bucket") === col("probe") &&
      col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("query_emb"), col("vec_id"), col("embedding"))
      .distinct()
  }

  /** Multi-probe LSH ANN: candidates from `lshCandidates`, exact cosine
    * re-rank, top-k per query. */
  private[graft] def annLshGeneric(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int, lowBits: Int, maxFlips: Int, dim: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    lshCandidates(corpus, queries, nBits, lowBits, maxFlips, dim)
      .select(col("query_id"), col("vec_id"),
        cosine(col("query_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cos").as("approx_cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Multi-probe LSH ANN over the embeddings table: 10 sign bits (1024
    * buckets for the 500-row corpus — nBits tracks log2(n), so a 100 TB
    * store uses ~30 bits with the SAME probe budget), probing ≤3 flips of
    * the 6 lowest-margin bits = 42 of 1024 buckets ≈ 4% of the corpus per
    * query, exact cosine re-rank. Deterministic output (splitmix64-seeded
    * hyperplanes) pinned by a golden VALUES oracle; recall ≥ 0.8 vs. brute
    * force and candidate fraction < 5% are asserted on planted clustered
    * data in SimilaritySpec — the uniform-random testdata embeddings
    * (neighbors at cosine ≈ 0.4) are LSH's adversarial case, real corpora
    * cluster far more tightly. */
  val annLsh: Q = (spark, dir) => {
    val emb = Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    annLshGeneric(emb, queries, k = 5, nBits = 10, lowBits = 6, maxFlips = 3, dim = 64)
  }

  /** K-means assignment step (the inner loop of embedding-space corpus
    * clustering): every vector is assigned to its nearest of k=8 fixed
    * centroids (the vectors with the smallest ids — a deterministic seed
    * choice, exactly k-means++ round 0 with a fixed sample). Centroids
    * broadcast; the corpus is scanned once and never shuffled until the
    * per-cluster rollup — the identical plan at a billion vectors. The
    * per-cluster similarity mass sums in DECIMAL so the result is
    * independent of aggregation order. */
  val kmeansAssign: Q = (spark, dir) => {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("c_emb"))
    val w = Window.partitionBy($"vec_id").orderBy($"sim".desc, $"centroid_id")
    emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"centroid_id", cosine($"embedding", $"c_emb").as("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" === 1)
      .groupBy($"centroid_id")
      .agg(count(lit(1)).as("n_members"),
        sum($"sim".cast(DecimalType(18, 12))).cast(DoubleType).as("sim_mass"))
      .orderBy($"centroid_id")
  }

  val kmeansAssignSql: String =
    """WITH cents AS (
      |  SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
      |sims AS (
      |  SELECT e.vec_id, c.centroid_id,
      |    list_sum([e.embedding[i]::DOUBLE * c.c_emb[i]::DOUBLE for i in range(1, len(e.embedding) + 1)]) /
      |    (sqrt(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE for i in range(1, len(e.embedding) + 1)])) *
      |     sqrt(list_sum([c.c_emb[i]::DOUBLE * c.c_emb[i]::DOUBLE for i in range(1, len(c.c_emb) + 1)]))) AS sim
      |  FROM embeddings e CROSS JOIN cents c),
      |best AS (
      |  SELECT vec_id, centroid_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rnk
      |  FROM sims)
      |SELECT centroid_id, COUNT(*) AS n_members,
      |  CAST(SUM(CAST(sim AS DECIMAL(18,12))) AS DOUBLE) AS sim_mass
      |FROM best WHERE rnk = 1
      |GROUP BY centroid_id ORDER BY centroid_id""".stripMargin

  /** s04 — PRODUCT QUANTIZATION with asymmetric distance (the ADC shape
    * of Jégou et al.): each 64-dim vector compresses to M=4 subspace
    * codes against a K=8-entry-per-subspace codebook, and queries score
    * candidates by summing per-subspace distances to the CODE's centroid
    * — the full vector is never touched at query time. The 100 TB story
    * is the compression ratio: the scan reads M small codes per vector
    * (here 4 bytes vs 256 — 64×), the codebook is KB-scale and
    * broadcast, and ADC is M table lookups per candidate instead of a
    * D-wide dot product. Codebook here = the anchor vectors' subvectors
    * (vec_id < K; Lloyd refinement omitted — training quality is
    * orthogonal to the encode/ADC mechanics and a production pipeline
    * trains offline and broadcasts the result; PqSpec measures recall on
    * planted clusters where the codebook is meaningful). Every distance
    * folds left-to-right in double, so DuckDB recomputes the exact
    * codes, ADC values and ranking — no tolerance. */
  val pqAdc: Q = (spark, dir) => {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val M = 4; val Sub = 16; val K = 8
    val emb = Tables.load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    val anchors: Array[Array[Double]] = emb.filter($"vec_id" < K).orderBy($"vec_id")
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def subLit(c: Int, m: Int): Column =
      array(anchors(c).slice(m * Sub, (m + 1) * Sub).toIndexedSeq.map(lit): _*)
    // codegen'd squared-L2 kernel with an offset instead of
    // slice+transform+zip_with+aggregate: same left-to-right IEEE fold
    // (bit-identical, SquaredDistanceSpec), no interpreter, no per-row
    // subarray allocation
    def sqd(a: Column, b: Column, off: Int): Column =
      call_function("graft_sqd", a, b, lit(off))
    def code(v: Column, m: Int): Column = {
      val d = array((0 until K).map(c => sqd(v, subLit(c, m), m * Sub)): _*)
      (array_position(d, array_min(d)) - 1).cast(IntegerType) // first min = lowest cid
    }
    val coded = emb.select($"vec_id" +:
      (0 until M).map(m => code($"embedding", m).as(s"c$m")): _*)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    def centroidFor(m: Int, codeC: Column): Column =
      element_at(array((0 until K).map(c => subLit(c, m)): _*), codeC + 1)
    val adc = (0 until M).map(m => sqd($"q_emb", centroidFor(m, col(s"c$m")), m * Sub))
      .reduceLeft(_ + _) // fixed m order: the FP fold the oracle reproduces
    val w = Window.partitionBy($"query_id").orderBy($"adc", $"vec_id")
    coded.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"query_id")
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"adc")
      .orderBy($"query_id", $"rank")
  }

  /** Squared distance of `vec`'s subspace [lo, hi) to codebook entry
    * `cbIdx` (1-based into the `cb` list-of-vectors), left-to-right
    * double fold matching the Spark side's zip_with+aggregate. */
  private def sqdSql(vec: String, cbIdx: String, lo: Int, hi: Int): String =
    s"list_sum([($vec[i]::DOUBLE - cb[$cbIdx][i]::DOUBLE) * " +
      s"($vec[i]::DOUBLE - cb[$cbIdx][i]::DOUBLE) for i in range($lo, $hi)])"

  val pqAdcSql: String = {
    val distLists = (0 until 4).map { m =>
      val (lo, hi) = (m * 16 + 1, m * 16 + 17)
      "[" + (1 to 8).map(c => sqdSql("e.embedding", c.toString, lo, hi))
        .mkString(",\n      ") + s"] AS d$m"
    }.mkString(",\n    ")
    val adcTerms = (0 until 4).map { m =>
      val (lo, hi) = (m * 16 + 1, m * 16 + 17)
      sqdSql("p.qe", s"p.c$m + 1", lo, hi)
    }.mkString("\n      + ")
    s"""WITH a AS (
       |  SELECT list(embedding ORDER BY vec_id) AS cb
       |  FROM embeddings WHERE vec_id < 8),
       |dists AS (
       |  SELECT e.vec_id,
       |    $distLists
       |  FROM embeddings e, a),
       |codes AS (
       |  SELECT vec_id,
       |    CAST(list_position(d0, list_min(d0)) - 1 AS INTEGER) AS c0,
       |    CAST(list_position(d1, list_min(d1)) - 1 AS INTEGER) AS c1,
       |    CAST(list_position(d2, list_min(d2)) - 1 AS INTEGER) AS c2,
       |    CAST(list_position(d3, list_min(d3)) - 1 AS INTEGER) AS c3
       |  FROM dists),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, v.vec_id, q.embedding AS qe,
       |    v.c0, v.c1, v.c2, v.c3
       |  FROM embeddings q JOIN codes v ON q.vec_id < 5 AND v.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    $adcTerms AS adc
       |  FROM pairs p, a),
       |ranked AS (
       |  SELECT query_id, vec_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id, adc
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Exact squared-L2 between two whole vectors — the refine metric.
    * Dimensions must match: a pair of different lengths raises an error
    * naming both, where the offset kernel alone would score a longer
    * `a`'s prefix. NULL in, NULL out. */
  private[graft] def sqdFull(a: Column, b: Column): Column =
    when(a.isNull || b.isNull || size(a) === size(b),
      call_function("graft_sqd", a, b, lit(0)))
      .otherwise(raise_error(concat(lit("sqdFull dimension mismatch: a has "),
        size(a).cast(StringType), lit(" elements, b has "), size(b).cast(StringType))))

  /** Shared IVF-PQ machinery (the s05 index scan and s06's refine): the
    * coarse quantizer and the PQ codebook both come from the anchor
    * vectors (vec_id < K), codes and cells derive in ONE corpus scan,
    * and queries probe their NPROBE nearest cells through a broadcast
    * equi-join on cell id. Every distance is a left-to-right IEEE double
    * fold the DuckDB oracles replay exactly — ONE implementation feeds
    * both entries, because a divergence between the index scan and the
    * refine stage would break the no-tolerance oracle equality. */
  private final class PqIndex(spark: SparkSession, dir: String,
      codebook: Option[Array[Array[Double]]] = None) {
    graft.functions.GraftFunctions.register(spark)
    val M = 4; val Sub = 16; val K = 8; val NPROBE = 2
    val emb: DataFrame =
      Tables.load(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    // anchor-seeded by default (the oracle-pinned entries); a TRAINED
    // codebook (lloydTrain) plugs in here — PqSpec measures the recall
    // gain on planted clusters
    private val anchors: Array[Array[Double]] = codebook.getOrElse(
      emb.filter(col("vec_id") < K)
        .orderBy("vec_id").collect().map(_.getSeq[Float](1).map(_.toDouble).toArray))
    private def subLit(c: Int, m: Int): Column =
      array(anchors(c).slice(m * Sub, (m + 1) * Sub).toIndexedSeq.map(lit): _*)
    private def fullLit(c: Int): Column = array(anchors(c).toIndexedSeq.map(lit): _*)
    // codegen'd squared-L2 kernel with an offset instead of interpreted
    // slice+transform+zip_with+aggregate folds — same left-to-right IEEE
    // fold (bit-identical, SquaredDistanceSpec pins it), so the
    // no-tolerance oracles survive; the s-family's innermost loop runs
    // inside whole-stage codegen with no per-row subarray allocation
    private def sqd(a: Column, b: Column, off: Int = 0): Column =
      call_function("graft_sqd", a, b, lit(off))
    private def firstMin(d: Column): Column =
      (array_position(d, array_min(d)) - 1).cast(IntegerType)
    private def code(v: Column, m: Int): Column =
      firstMin(array((0 until K).map(c => sqd(v, subLit(c, m), m * Sub)): _*))
    private def cellDists(v: Column): Column =
      array((0 until K).map(c => sqd(v, fullLit(c))): _*)
    private def centroidFor(m: Int, codeC: Column): Column =
      element_at(array((0 until K).map(c => subLit(c, m)): _*), codeC + 1)
    /** ADC-scored candidates of the probed cells:
      * (query_id, q_emb, vec_id, cell, adc). */
    def candidates: DataFrame = {
      // the pre-coded corpus: cell id + M codes per vector — ONE scan
      // codes and assigns; at 100 TB this is a materialized index table
      val coded = emb.select(col("vec_id") +:
        firstMin(cellDists(col("embedding"))).as("cell") +:
        (0 until M).map(m => code(col("embedding"), m).as(s"c$m")): _*)
      // probe list: the NPROBE nearest cells per query (first-min ties)
      val queries5 = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cd"), col("cell"))
      val probes = queries5
        .select(col("query_id"), col("q_emb"),
          posexplode(cellDists(col("q_emb"))).as(Seq("pos", "cd")))
        .withColumn("cell", col("pos").cast(IntegerType))
        .withColumn("pr", row_number().over(wProbe))
        .filter(col("pr") <= NPROBE)
        .select(col("query_id"), col("q_emb"), col("cell"))
      val adc = (0 until M)
        .map(m => sqd(col("q_emb"), centroidFor(m, col(s"c$m")), m * Sub))
        .reduceLeft(_ + _) // fixed m order: the FP fold the oracle reproduces
      coded.join(broadcast(probes), Seq("cell")) // only probed cells score
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("adc", adc)
        .select(col("query_id"), col("q_emb"), col("vec_id"), col("cell"), col("adc"))
    }
  }

  /** s05 — IVF-PQ (the two legs composed — the FAISS production index
    * shape): an INVERTED-FILE coarse quantizer partitions the corpus into
    * cells by full-vector squared-L2 to a broadcast centroid set, PQ
    * codes (the s04 M=4/K=8 codebook) compress every member, and a query
    * scores ONLY the members of its nprobe=2 nearest cells by asymmetric
    * distance. The two legs multiply at 100 TB: IVF cuts the CANDIDATE
    * SET to nprobe/nlist of the corpus (here 1/4; production nlist scales
    * as sqrt(n) so the probed fraction shrinks with the corpus), PQ cuts
    * the BYTES PER CANDIDATE 64× (4 codes vs 256 bytes) and the
    * per-candidate work to M table lookups — the scan side is a
    * broadcast-join on cell id over a pre-coded corpus table, never a
    * corpus shuffle and never a full-vector read at query time. Codes are
    * computed on raw vectors rather than cell residuals (residual
    * encoding improves recall but is orthogonal to the plan shape; a
    * production pipeline trains both codebooks offline — documented
    * deviation from Jégou et al. §IV). Every distance folds
    * left-to-right in IEEE double, so DuckDB recomputes cells, codes,
    * probe lists and ADC values exactly — no tolerance. */
  val ivfPq: Q = (spark, dir) => ivfPqTop(new PqIndex(spark, dir))

  private def ivfPqTop(ix: PqIndex): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    ix.candidates
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), col("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s05's retrieval under an EXPLICIT codebook — the trained-codebook
    * hook: PqSpec runs the same IVF-PQ pipeline with anchor seeds vs
    * lloydTrain output and compares planted-cluster recall. */
  private[graft] def ivfPqWith(spark: SparkSession, dir: String,
      codebook: Array[Array[Double]]): DataFrame =
    ivfPqTop(new PqIndex(spark, dir, Some(codebook)))

  /** s06 — two-stage retrieval: IVF-PQ shortlist, EXACT re-rank (the
    * production pattern FAISS calls refine): the s05 index produces a
    * top-20 candidate shortlist per query from compressed codes alone,
    * then ONLY those candidates' full vectors are fetched and re-scored
    * by exact squared-L2 for the final top-5. The scale contract is the
    * refine fraction: full 256-byte vectors are read for 20 candidates
    * per query — a vanishing slice of the corpus — while the shortlist
    * scan stays on 4-byte codes (at 100 TB the fetch is a broadcast-
    * filtered scan or a point-lookup index; here the broadcast shortlist
    * filters the one extra corpus pass). ADC error from quantization is
    * confined to SHORTLIST membership; the returned distances and order
    * are exact. Both stages fold left-to-right in IEEE double — DuckDB
    * replays codes, probes, shortlist and re-rank with no tolerance. */
  val ivfPqRerank: Q = (spark, dir) => rerankTop(new PqIndex(spark, dir))

  private def rerankTop(ix: PqIndex): DataFrame = {
    val SHORTLIST = 20
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    val shortlist = ix.candidates
      .withColumn("sr", row_number().over(wAdc))
      .filter(col("sr") <= SHORTLIST)
      .select(col("query_id"), col("q_emb"), col("vec_id"))
    // refine: full vectors fetched ONLY for shortlisted candidates
    val wExact = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))
    ix.emb.join(broadcast(shortlist), Seq("vec_id"))
      .withColumn("d2", sqdFull(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("d2"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** s06's two-stage retrieval under an EXPLICIT codebook — the trained-
    * codebook hook (PqSpec's trained-vs-stale recall measure). */
  private[graft] def ivfPqRerankWith(spark: SparkSession, dir: String,
      codebook: Array[Array[Double]]): DataFrame =
    rerankTop(new PqIndex(spark, dir, Some(codebook)))

  /** The shared WITH-prefix both IVF-PQ oracles replay — codebook, codes,
    * cells, query probes, ADC-scored candidates (query_id, vec_id, cell,
    * qe, adc) — text-identical between s05 and s06 so the two oracles
    * cannot drift apart. */
  private val ivfPqCoreCtes: String = {
    val codeDistLists = (0 until 4).map { m =>
      val (lo, hi) = (m * 16 + 1, m * 16 + 17)
      "[" + (1 to 8).map(c => sqdSql("e.embedding", c.toString, lo, hi))
        .mkString(",\n      ") + s"] AS d$m"
    }.mkString(",\n    ")
    val cellDistList = "[" +
      (1 to 8).map(c => sqdSql("e.embedding", c.toString, 1, 65)).mkString(",\n      ") +
      "] AS cd"
    val queryCellList = "[" +
      (1 to 8).map(c => sqdSql("q.embedding", c.toString, 1, 65)).mkString(",\n      ") +
      "] AS cd"
    val adcTerms = (0 until 4).map { m =>
      val (lo, hi) = (m * 16 + 1, m * 16 + 17)
      sqdSql("p.qe", s"p.c$m + 1", lo, hi)
    }.mkString("\n      + ")
    s"""WITH a AS (
       |  SELECT list(embedding ORDER BY vec_id) AS cb
       |  FROM embeddings WHERE vec_id < 8),
       |dists AS (
       |  SELECT e.vec_id,
       |    $codeDistLists,
       |    $cellDistList
       |  FROM embeddings e, a),
       |coded AS (
       |  SELECT vec_id,
       |    CAST(list_position(cd, list_min(cd)) - 1 AS INTEGER) AS cell,
       |    CAST(list_position(d0, list_min(d0)) - 1 AS INTEGER) AS c0,
       |    CAST(list_position(d1, list_min(d1)) - 1 AS INTEGER) AS c1,
       |    CAST(list_position(d2, list_min(d2)) - 1 AS INTEGER) AS c2,
       |    CAST(list_position(d3, list_min(d3)) - 1 AS INTEGER) AS c3
       |  FROM dists),
       |qcells AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS qe,
       |    $queryCellList
       |  FROM embeddings q, a WHERE q.vec_id < 5),
       |probes AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, CAST(i - 1 AS INTEGER) AS cell, cd[i] AS d,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd[i], i - 1) AS pr
       |    FROM qcells, range(1, 9) r(i))
       |  WHERE pr <= 2),
       |pairs AS (
       |  SELECT p.query_id, v.vec_id, p.qe, v.cell, v.c0, v.c1, v.c2, v.c3
       |  FROM probes p JOIN coded v ON v.cell = p.cell AND v.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, vec_id, cell, qe,
       |    $adcTerms AS adc
       |  FROM pairs p, a)""".stripMargin
  }

  val ivfPqSql: String =
    s"""$ivfPqCoreCtes,
       |ranked AS (
       |  SELECT query_id, vec_id, cell, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id, cell, adc
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  val ivfPqRerankSql: String =
    s"""$ivfPqCoreCtes,
       |shortlist AS (
       |  SELECT query_id, vec_id, qe FROM (
       |    SELECT query_id, vec_id, qe,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS sr
       |    FROM scored)
       |  WHERE sr <= 20),
       |exact AS (
       |  SELECT s.query_id, s.vec_id,
       |    list_sum([(s.qe[i]::DOUBLE - e.embedding[i]::DOUBLE) *
       |              (s.qe[i]::DOUBLE - e.embedding[i]::DOUBLE)
       |              for i in range(1, 65)]) AS d2
       |  FROM shortlist s JOIN embeddings e ON s.vec_id = e.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
       |  FROM exact)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id, d2
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Distributed LLOYD TRAINING over a (vec_id, embedding) corpus —
    * the offline half every anchor-seeded quantizer above documents as
    * out of scope, now in scope: k-means++-round-0 seeds (the k lowest
    * vec_ids, the same deterministic choice s03/s04 make), then `iters`
    * assignment+update rounds. Engine-replayable by construction:
    * assignment ties break to the lowest centroid id (first-min), and
    * the centroid update is EXACT 2^-20 fixed-point — each component
    * maps to floor(v·2^20) (every step exact in IEEE double), the
    * per-dimension sums are plain integers (order-independent, so the
    * distributed rollup is immune to partitioning), and the mean is one
    * correctly-rounded double divide by count·2^20. Integer fixed-point
    * rather than DECIMAL because the raw embedding FLOATS are
    * dyadically coarse: values like 1625/2^13 have exact decimal
    * expansions ending in …5 precisely at the rounding digit, and
    * Spark (HALF_UP) and DuckDB resolve that tie differently — found
    * the hard way; integer floors have no ties. The ~1e-6 centroid
    * quantization is a defined part of the algorithm, not error.
    *
    * Scale shape per iteration: ONE corpus scan (centroids broadcast as
    * literals), map-side partial aggregation into k×dim groups, and only
    * those k×dim integer sums ever reach the driver — the corpus never
    * shuffles by cluster. An empty cluster keeps its previous centroid
    * (`requireFull` refuses instead when the caller's oracle cannot
    * model that). */
  /** 2^20 — the lloydTrain fixed-point grid (exact double multiply). */
  private val FixedPointScale = 1048576.0

  /** Assignment scores against `cents` as ONE array column:
    * score_j = −2·x·c_j + ‖c_j‖² — argmin-equivalent to squared L2 (the
    * row's ‖x‖² is constant across j), computed by the codegen'd
    * [[graft.functions.LloydScores]] kernel with the centroid matrix in a
    * BROADCAST VARIABLE (r22): the previous per-centroid literal arrays
    * re-shipped k·dim doubles of plan in every task binary (`Broadcasting
    * large task binary (1 MB)` once per stage across s07's 11 actions —
    * guide §5); the broadcast ships once per executor. Scores are
    * bit-identical to the literal formulation (LloydScoresSpec): the
    * kernel replays −2·dot+‖c‖² per j in the same IEEE order, and ‖c_j‖²
    * folds left-to-right in Scala — the same fold DuckDB's list_sum
    * replays. Each call broadcasts one KB-scale matrix; the handles are
    * GC'd by the ContextCleaner with the plans that reference them. */
  private[graft] def lloydScores(cents: Array[Array[Double]]): Column =
    lloydScoresOf(col("embedding"), cents)

  private[graft] def lloydScoresOf(x: Column, cents: Array[Array[Double]]): Column = {
    val spark = SparkSession.active
    val norms = cents.map(c => c.map(v => v * v).sum)
    val bc = spark.sparkContext.broadcast(cents)
    org.apache.spark.sql.GraftSqlShim.column(graft.functions.LloydScores(
      org.apache.spark.sql.GraftSqlShim.expression(x), bc, norms))
  }

  /** Deterministic FARTHEST-POINT (k-center / Gonzalez) seeding: seed 1
    * is the max-norm vector, each next seed the vector maximizing its
    * squared distance to the nearest already-chosen seed — every float
    * comparison on engine-identical doubles, ties to the lowest vec_id,
    * so a SQL oracle replays the selection exactly. Unlike "the k lowest
    * vec_ids" (which collapses when the low ids all sit in one cluster —
    * the degenerate-corpus PqSpec case), k-center seeds provably spread:
    * every planted cluster farther apart than its radius gets a seed.
    * Cost: k corpus scans, each ONE pass with the chosen seeds broadcast
    * as literals through the codegen'd dot kernel, one row collected per
    * scan — at 100 TB this is the k-scan bootstrap you pay once per
    * training run (a k-means|| oversample would cut it to O(log k)
    * scans, at the price of an oracle-hostile weighted subsample). */
  private[graft] def farthestPointSeeds(corpus: DataFrame, k: Int)
      : Array[Array[Double]] = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val xx = call_function("graft_dot", col("embedding"), col("embedding"))
    def emb(r: Row): Array[Double] = r.getSeq[Float](1).map(_.toDouble).toArray
    val seeds = scala.collection.mutable.ArrayBuffer(
      emb(corpus.select(col("vec_id"), col("embedding"))
        .orderBy(xx.desc, col("vec_id")).limit(1).collect().head))
    while (seeds.length < k) {
      // min_j(‖x‖² + score_j) == ‖x‖² + min_j(score_j) exactly: IEEE
      // addition of a shared addend is weakly monotone, so the min is
      // preserved through either grouping — the oracle uses the former
      seeds += emb(corpus.select(col("vec_id"), col("embedding"),
          (xx + array_min(lloydScores(seeds.toArray))).as("d2"))
        .orderBy(col("d2").desc, col("vec_id")).limit(1).collect().head)
    }
    seeds.toArray
  }

  /** k-means|| OVERSAMPLE seeding (Bahmani et al., VLDB 2012) — the
    * O(log k)-scan bootstrap for large k, where farthest-point's k
    * sequential corpus scans dominate a training run. Deterministic end
    * to end: the per-round sampling coin is xxhash64(vec_id, round)
    * mapped to [0,1) (codegen'd, engine-stable — the same
    * hash-as-randomness discipline the d-family's splitmix64 keys use),
    * every tie breaks to the lowest vec_id, and the reduction of the
    * ≤ 1+ℓ·r collected candidates to k seeds is DRIVER-SIDE
    * farthest-point over KB-scale arrays (the paper's weighted
    * k-means++ reduction would buy nothing at seed granularity — spread
    * is what Lloyd needs from its init — and would cost one more corpus
    * pass for the weights). [[farthestPointSeeds]] stays the
    * oracle-pinned default of the s07 entry; this is the scale path.
    *
    * Cost: 1 + 2·rounds corpus passes — a φ=Σd²(x,C) aggregate and a
    * filtered sample per round, candidates broadcast as literals
    * through the codegen'd dot kernel — with default rounds =
    * ceil(log2 k)+1 and ℓ = 2k; +1 pass if the sample undershoots k
    * and tops up. At k in the thousands the per-round score array is
    * O(ℓ·r) literals and a broadcast-join scoring variant would take
    * over — noted, not built. Returns (seeds, corpus passes taken) so
    * callers can assert the scan bound. */
  private[graft] def kmeansParallelSeeds(corpus: DataFrame, k: Int,
      rounds: Int = 0, oversample: Int = 0): (Array[Array[Double]], Int) = {
    require(k >= 1, "k must be positive")
    val r = if (rounds > 0) rounds
      else 32 - Integer.numberOfLeadingZeros(math.max(k, 2) - 1) + 1
    val l = if (oversample > 0) oversample else 2 * k
    var scans = 0
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val xx = call_function("graft_dot", col("embedding"), col("embedding"))
    def emb(row: Row): Array[Double] =
      row.getSeq[Float](1).map(_.toDouble).toArray
    // round 0: the max-norm vector — farthest-point's seed 1, the shared
    // deterministic anchor
    val first = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xx.desc, col("vec_id")).limit(1).collect().head
    scans += 1
    val cand = scala.collection.mutable.LinkedHashMap[Long, Array[Double]](
      first.getLong(0) -> emb(first))
    for (round <- 1 to r) {
      // d²(x, C) = max(0, ‖x‖² + min_j score_j); the clamp guards the
      // tiny negative float residue of a candidate scoring against itself
      val d2 = greatest(lit(0.0),
        xx + array_min(lloydScores(cand.values.toArray)))
      val phiRow = corpus.select(sum(d2)).collect().head
      scans += 1
      val phi = if (phiRow.isNullAt(0)) 0.0 else phiRow.getDouble(0)
      if (phi > 0) {
        val coin = xxhash64(col("vec_id"), lit(round)).cast(DoubleType) *
          lit(math.pow(2, -64)) + lit(0.5)
        val picked = corpus
          .select(col("vec_id"), col("embedding"), d2.as("d2"))
          .filter(coin < least(lit(1.0), lit(l.toDouble) * col("d2") / lit(phi)))
          .collect()
        scans += 1
        picked.foreach(row => cand.getOrElseUpdate(row.getLong(0), emb(row)))
      }
    }
    if (cand.size < k) {
      // undersampled (tiny or near-duplicate corpus): top up with the
      // lowest unchosen vec_ids — deterministic, one pass
      val extra = corpus.filter(!col("vec_id").isin(cand.keys.toSeq: _*))
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(k - cand.size).collect()
      scans += 1
      extra.foreach(row => cand.update(row.getLong(0), emb(row)))
      require(cand.size >= k, s"corpus has fewer than $k vectors")
    }
    // driver-side farthest-point over the candidates: max-norm first,
    // then max-min-d², ties to the lowest vec_id — the distributed
    // seeder's rule, replayed over the in-memory candidate set
    def dd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val cs = cand.toArray
    val zero = new Array[Double](cs.head._2.length)
    val chosen = scala.collection.mutable.ArrayBuffer(
      cs.maxBy { case (id, e) => (dd(e, zero), -id) })
    while (chosen.length < k) {
      chosen += cs.filterNot(c => chosen.exists(_._1 == c._1))
        .maxBy { case (id, e) => (chosen.map(s => dd(e, s._2)).min, -id) }
    }
    (chosen.map(_._2).toArray, scans)
  }

  private[graft] def lloydTrain(corpus: DataFrame, k: Int, dim: Int,
      iters: Int, requireFull: Boolean = false,
      seeds: Option[Array[Array[Double]]] = None): Array[Array[Double]] =
    lloydTrainCounted(corpus, k, dim, iters, requireFull, seeds)._1

  /** Seeding-scan cutover for [[trainKMeans]]: at or below this k,
    * farthest-point's k sequential corpus scans are comparable to
    * k-means||'s 2·(log₂k + 1) and the selection stays SQL-oracle
    * replayable; above it the O(log k) oversample wins outright. */
  val SeedScanCutover = 16

  /** The production trainer — seed, then Lloyd's with the movement
    * stop. Seeding dispatches on k: [[farthestPointSeeds]] up to
    * [[SeedScanCutover]] (k scans, deterministic, SQL-replayable — the
    * s07 oracle path), [[kmeansParallelSeeds]] beyond (O(log k) scans —
    * the 100 TB path for k in the hundreds+, where k sequential
    * bootstrap scans would dominate the training run). Explicit `seeds`
    * override the dispatch. */
  def trainKMeans(corpus: DataFrame, k: Int, dim: Int, maxIters: Int,
      requireFull: Boolean = false,
      seeds: Option[Array[Array[Double]]] = None): Array[Array[Double]] =
    lloydTrain(corpus, k, dim, maxIters, requireFull, Some(seeds.getOrElse(
      if (k <= SeedScanCutover) farthestPointSeeds(corpus, k)
      else kmeansParallelSeeds(corpus, k)._1)))

  /** As lloydTrain, also returning how many update iterations actually
    * ran: the loop STOPS once an update moves no centroid — the
    * fixed-point grid makes "no movement" an exact double-array
    * equality, not an epsilon (and a fixed point of the update is a
    * fixed point forever: assignment is a pure function of the
    * centroids, the update a pure function of the assignment — so
    * stopping early is result-identical to running out `maxIters`). */
  private[graft] def lloydTrainCounted(corpus: DataFrame, k: Int, dim: Int,
      maxIters: Int, requireFull: Boolean = false,
      seeds: Option[Array[Array[Double]]] = None)
      : (Array[Array[Double]], Int) = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    var cents: Array[Array[Double]] = seeds.getOrElse(
      corpus.filter(col("vec_id") < k).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray))
    require(cents.length == k, s"need $k seed vectors, got ${cents.length}")
    var it = 0
    var moved = true
    while (it < maxIters && moved) {
      val sums = corpus
        .select(col("embedding"), lloydScores(cents).as("sc"))
        .select((array_position(col("sc"), array_min(col("sc"))) - 1)
          .cast(IntegerType).as("cid"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(floor(col("v").cast(DoubleType) * FixedPointScale)).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val byC = sums.groupBy(_.getInt(0))
      if (requireFull) require(byC.size == k,
        s"cluster went empty (${byC.size} of $k populated) — the exact " +
          "oracle models every cluster as live")
      val next = Array.tabulate(k) { c =>
        byC.get(c) match {
          case Some(rows) =>
            val a = new Array[Double](dim)
            rows.foreach(r => a(r.getInt(1)) =
              r.getLong(2).toDouble / (r.getLong(3) * FixedPointScale))
            a
          case None => cents(c)
        }
      }
      moved = !next.zip(cents).forall { case (a, b) =>
        java.util.Arrays.equals(a, b) }
      cents = next
      it += 1
    }
    (cents, it)
  }

  /** s07 — k-means TRAINING entry: deterministic FARTHEST-POINT seeding
    * (max-norm first, then k−1 max-min-distance picks — the k-center
    * init that cannot collapse into one dense region the way anchor ids
    * can), 2 Lloyd iterations over the embeddings table, then the final
    * assignment rolled up per cluster — member count, DECIMAL-exact SSE
    * mass and the trained centroid's component sum (the codebook
    * fingerprint — any drift in ANY dimension of ANY centroid moves
    * it). DuckDB replays the ENTIRE loop with no tolerance: all 8 seed
    * selections, both assignment rounds, both fixed-point mean updates,
    * the final assignment and the rollup.
    * PqSpec shows these seeds beating the anchor ids on a corpus whose
    * low vec_ids all sit in one planted cluster, and the movement-based
    * stop (lloydTrainCounted) converging before its iteration cap. */
  val kmeansTrain: Q = (spark, dir) => {
    import spark.implicits._
    val K = 8; val DIM = 64
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, dir, "embeddings").select($"vec_id", $"embedding")
    // trainKMeans dispatches seeding by k: 8 ≤ SeedScanCutover, so this
    // is the farthest-point route the SQL oracle replays seed by seed
    val cents = trainKMeans(emb, K, DIM, maxIters = 2, requireFull = true)
    val masses = cents.map(_.sum) // left-to-right fold = list_sum
    // d2 = ‖x‖² + min_j score_j — the full squared L2 to the assigned
    // centroid in the SAME −2·dot+norm decomposition the assignment
    // uses, every term through the codegen'd kernel
    emb.select($"embedding", lloydScores(cents).as("sc"))
      .select(
        (array_position($"sc", array_min($"sc")) - 1).cast(IntegerType).as("cluster_id"),
        (call_function("graft_dot", $"embedding", $"embedding") +
          array_min($"sc")).as("d2"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        sum($"d2".cast(DecimalType(28, 12))).cast(DoubleType).as("sse"))
      .withColumn("centroid_mass",
        element_at(array(masses.toIndexedSeq.map(lit): _*), $"cluster_id" + 1))
      .orderBy($"cluster_id")
  }

  val kmeansTrainSql: String = {
    // the same −2·x·c + ‖c‖² score decomposition the Spark side runs
    // through the codegen'd dot kernel; d2 adds the row's ‖x‖² back —
    // every fold left-to-right, every float step replayed exactly
    def score(cTable: String): String =
      s"-2.0 * list_sum([e.embedding[i]::DOUBLE * $cTable.c[i]::DOUBLE " +
        s"for i in range(1, 65)]) + list_sum([$cTable.c[i]::DOUBLE * " +
        s"$cTable.c[i]::DOUBLE for i in range(1, 65)])"
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
         |      for i in range(1, 65)]) + (${score("c")}) AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${score("c")}, c.cid) AS rnk
         |  FROM embeddings e CROSS JOIN $cents c)""".stripMargin
    def updateCtes(mName: String, cName: String, assign: String): String =
      s"""$mName AS (
         |  SELECT a.cid, r.i AS pos,
         |    CAST(SUM(CAST(FLOOR(CAST(a.embedding[r.i] AS DOUBLE) * 1048576.0)
         |      AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0) AS m
         |  FROM $assign a CROSS JOIN range(1, 65) r(i) WHERE a.rnk = 1
         |  GROUP BY a.cid, r.i),
         |$cName AS (SELECT cid, list(m ORDER BY pos) AS c FROM $mName GROUP BY cid)""".stripMargin
    // farthest-point seed replay: sd1 = the max-norm vector, each nxN
    // the vector maximizing min squared distance to the seeds so far —
    // MIN(‖x‖² + score) equals Spark's ‖x‖² + MIN(score) exactly
    // (shared-addend IEEE addition is weakly monotone), ties to vec_id
    val seedCtes = {
      val first =
        s"""sd1 AS (
           |  SELECT 0 AS cid, embedding AS c FROM embeddings
           |  ORDER BY list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
           |    for i in range(1, 65)]) DESC, vec_id LIMIT 1)""".stripMargin
      val rest = (2 to 8).map { n =>
        s"""nx$n AS (
           |  SELECT e.vec_id, e.embedding,
           |    MIN(list_sum([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE
           |      for i in range(1, 65)]) + (${score("s")})) AS d2
           |  FROM embeddings e CROSS JOIN sd${n - 1} s
           |  GROUP BY e.vec_id, e.embedding
           |  ORDER BY d2 DESC, e.vec_id LIMIT 1),
           |sd$n AS (SELECT * FROM sd${n - 1} UNION ALL
           |  SELECT ${n - 1} AS cid, embedding AS c FROM nx$n)""".stripMargin
      }.mkString(",\n")
      first + ",\n" + rest
    }
    s"""WITH $seedCtes,
       |c0 AS (SELECT cid, c FROM sd8),
       |${assignCte("a1", "c0")},
       |${updateCtes("m1", "c1", "a1")},
       |${assignCte("a2", "c1")},
       |${updateCtes("m2", "c2", "a2")},
       |${assignCte("af", "c2")},
       |cm AS (SELECT cid, list_sum(c) AS centroid_mass FROM c2)
       |SELECT CAST(af.cid AS INTEGER) AS cluster_id, COUNT(*) AS n_members,
       |  CAST(SUM(CAST(af.d2 AS DECIMAL(28,12))) AS DOUBLE) AS sse,
       |  ANY_VALUE(cm.centroid_mass) AS centroid_mass
       |FROM af JOIN cm ON af.cid = cm.cid
       |WHERE af.rnk = 1
       |GROUP BY af.cid ORDER BY cluster_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "s01_ann_brute_force" -> annBruteForce,
    "s02_ann_lsh" -> annLsh,
    "s03_kmeans_assign" -> kmeansAssign,
    "s04_pq_adc" -> pqAdc,
    "s05_ivf_pq" -> ivfPq,
    "s06_ivfpq_rerank" -> ivfPqRerank,
    "s07_kmeans_train" -> kmeansTrain)

  val oracles: Map[String, String] = Map(
    "s01_ann_brute_force" -> annBruteForceSql,
    "s03_kmeans_assign" -> kmeansAssignSql,
    "s04_pq_adc" -> pqAdcSql,
    "s05_ivf_pq" -> ivfPqSql,
    "s06_ivfpq_rerank" -> ivfPqRerankSql,
    "s07_kmeans_train" -> kmeansTrainSql)
}

package graft.queries

import graft.{Q, QueryModule}
import graft.functions.{CheckpointOps, CosineSimilarity, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (north-star ANN family).
  *
  * Scale notes: the brute-force form bounds the query side (top-k per
  * probe, broadcast of the probe set) — exact and oracle-able, the
  * right baseline at any scale where probes ≪ corpus. The LSH form
  * buckets by random-hyperplane sign signatures: candidate generation
  * is an equi-join on the bucket key (one shuffle), never a cross
  * join; recall vs exact is asserted in SimilaritySpec. Vector math is
  * double-promoted sequential folds — bit-reproducible vs DuckDB's
  * list_reduce (see VectorOps).
  */
object Similarity extends QueryModule {

  /** S1: exact cosine top-3 neighbors for each probe (vec_id < 10).
    * Probes are broadcast against the corpus; ranking is windowed per
    * probe. Similarity rounded to 6 digits for cross-engine rank
    * stability (values are identical fold results; rounding guards the
    * final formatting only).
    */
  def s1BruteForceTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  val s1Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor,
      |    round(
      |      list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])), (a, b) -> a + b)
      |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, q.v), p -> p[1] * p[2])), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip(c.v, c.v), p -> p[1] * p[2])), (a, b) -> a + b))), 6) AS sim
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
      |SELECT q_id, rn, neighbor, sim FROM (
      |  SELECT q_id, neighbor, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC NULLS LAST, neighbor ASC NULLS FIRST) AS INT) AS rn
      |  FROM scored)
      |WHERE rn <= 3
      |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin

  /** S11: exact kNN-graph construction — top-5 cosine neighbors for
    * EVERY corpus vector (not a probe set): the k-nearest-neighbor
    * graph that SemDeDup-style semantic dedup, diversity sampling, and
    * graph-based ANN indexes (HNSW/NSG ground truth) all start from.
    * Corpus-side broadcast + per-node ranking window; exact, so
    * oracle-gated.
    *
    * Scale: the all-pairs form is exact ground truth, right up to the
    * point the broadcast side stops fitting — past that the candidate
    * generator swaps for the LSH band join (d3/s2) or IVF lists (s4)
    * and the same window ranks the pruned candidate set; the
    * per-cluster variant is exactly what d11 runs. The ranking shuffle
    * is keyed by vec_id (max cardinality, no skew).
    */
  def s11KnnGraph(spark: SparkSession, dir: String, k: Int = 5): DataFrame =
    knnGraphExact(spark, Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v")), k)

  /** The exact kNN-graph core over any `(vec_id, v)` frame — shared by
    * the s11 query and the [[graft.operators.NswIndex]] build.
    */
  private[graft] def knnGraphExact(spark: SparkSession, emb: DataFrame,
      k: Int): DataFrame = {
    val nbrs = emb.select(col("vec_id").as("neighbor"), col("v").as("n_v"))
    // cosine is symmetric: evaluate each unordered pair ONCE (half the
    // floating-point work) and mirror the scored row; drop both vector
    // arrays BEFORE the ranking shuffle — the window needs only
    // (id, neighbor, sim), and carrying 64-dim payloads through the
    // sort multiplies shuffle bytes ~16×
    //
    // Parallelism is explicit: the probe side is bytes-light (one
    // small parquet split ⇒ 1-2 input tasks) but the nested-loop join
    // is O(n²) COMPUTE, so split-derived parallelism starves it — at
    // 20k vectors that is ~200M cosines on 2 cores. One round-robin
    // shuffle of n narrow rows is noise next to the quadratic work it
    // spreads across every core.
    val spread = emb.repartition(spark.sparkContext.defaultParallelism)
    val half = spread.join(broadcast(nbrs), col("vec_id") < col("neighbor"))
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("v"), col("n_v")), 6))
      .select(col("vec_id"), col("neighbor"), col("sim"))
    val scored = half.unionByName(half.select(
      col("neighbor").as("vec_id"), col("vec_id").as("neighbor"), col("sim")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("neighbor").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("neighbor"), col("sim"))
      .orderBy(col("vec_id").asc, col("rn").asc)
  }

  /** S11 scale path: IVF-list candidate generation for the kNN graph —
    * the "swap the candidate generator past broadcast scale" promised
    * in [[s11KnnGraph]]'s doc, as code. The seed codebook (≤ `lists`
    * vectors, unit-normalized on the driver) is baked into the plan as
    * a LITERAL — assignment is a pure map (no crossJoin, no broadcast,
    * no extra exchange): each vector ranks the seed array in-row and
    * explodes its `nprobe` nearest list ids. Candidates are vectors
    * sharing a list (narrow (id, list) equi-join, key cardinality
    * `lists` ≈ √n at scale), deduped narrow, then exactly re-scored by
    * attaching vectors through two vec_id-keyed joins (max-cardinality
    * key, no skew) — the d3/s2 "dedup narrow, attach late" shape.
    * Approximate (recall vs exact asserted in LlmOpsSpec ≥ 0.9), so
    * not oracle-gated; the auto switch keeps the exact path at oracle
    * scale.
    */
  private[graft] def s11KnnGraphBucketed(spark: SparkSession, dir: String,
      k: Int = 5, lists: Int = 16, nprobe: Int = 2): DataFrame =
    knnGraphBucketed(spark, Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v")),
      k, lists, nprobe)

  /** The IVF-candidate kNN-graph core over any `(vec_id, v)` frame. */
  private[graft] def knnGraphBucketed(spark: SparkSession, emb: DataFrame,
      k: Int, lists: Int, nprobe: Int): DataFrame = {
    // bounded collect: ≤ `lists` codebook rows (the typedLit-codebook
    // pattern of ivfPqQuery); seeds unit-normalized so ranking by dot
    // ≡ ranking by cosine for a fixed query vector. Ranking runs
    // through the native ivfNearestLists kernel — the per-row HOF form
    // (array_sort over a transform of a seed literal) evaluates
    // interpreted: measured 38s vs ~2s on a 20k×141-seed corpus.
    val seeds = collectSeeds(ivfSeedsOf(emb, lists)).map { case (lid, raw) =>
      val n = math.sqrt(raw.map(x => x * x).sum)
      (lid, if (n == 0.0) raw else raw.map(_ / n))
    }
    val assigned = ivfNearestLists(emb, seeds, nprobe, keepV = false)
    val pairs = assigned.select(col("vec_id").as("id_a"), col("list_id"))
      .join(assigned.select(col("vec_id").as("id_b"), col("list_id")),
        Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val half = pairs
      .join(emb.select(col("vec_id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("v_a"), col("v_b")), 6))
      .select(col("id_a").as("vec_id"), col("id_b").as("neighbor"), col("sim"))
    val scored = half.unionByName(half.select(
      col("neighbor").as("vec_id"), col("vec_id").as("neighbor"), col("sim")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("neighbor").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("neighbor"), col("sim"))
      .orderBy(col("vec_id").asc, col("rn").asc)
  }

  /** S11 entry: corpus-size switch between the exact broadcast form
    * (ground truth, right while the corpus side fits a broadcast) and
    * the IVF-list candidate form (≈√n lists, no broadcast of the
    * corpus). The count is a parquet-metadata read, O(files).
    *
    * The ceiling is COMPUTE-bound, not broadcast-bytes-bound — the
    * lesson of the sf1 validation run: 20k vectors are only 10 MB of
    * broadcast but already n²/2 = 200M cosine evaluations (~30 s
    * across 32 cores), and the cost grows quadratically while the
    * IVF path grows ~n·√n. 10k rows ⇒ ≤50M pairs ≈ a couple of
    * seconds on one node — past that the exact graph is a deliberate
    * ground-truth request (pass `exactMaxRows` explicitly), not a
    * default. At oracle scales (sf0.01/sf0.1, ≤2k vectors) the exact
    * path runs, so the oracle stays exact.
    */
  def s11KnnGraphAuto(spark: SparkSession, dir: String, k: Int = 5,
      exactMaxRows: Long = 10000L): DataFrame = {
    val n = Q.t(spark, dir, "embeddings").count()
    if (n <= exactMaxRows) s11KnnGraph(spark, dir, k)
    else s11KnnGraphBucketed(spark, dir, k,
      lists = math.max(16, math.sqrt(n.toDouble).toInt))
  }

  /** S1 entry: the same corpus-size switch for probe top-k — exact
    * brute force while the corpus scan per probe is affordable, the
    * LSH-bucketed candidate form (s2, identical output schema) past
    * it. Brute force IS the right answer far longer on s1 than s11
    * (probes ≪ corpus bounds the work to one corpus scan), hence the
    * higher default ceiling.
    */
  def s1TopKAuto(spark: SparkSession, dir: String,
      exactMaxRows: Long = 10000000L): DataFrame = {
    val n = Q.t(spark, dir, "embeddings").count()
    if (n <= exactMaxRows) s1BruteForceTopK(spark, dir) else s2LshAnn(spark, dir)
  }

  val s11Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id, c.vec_id AS neighbor,
      |    round(
      |      list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])), (a, b) -> a + b)
      |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip(q.v, q.v), p -> p[1] * p[2])), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip(c.v, c.v), p -> p[1] * p[2])), (a, b) -> a + b))), 6) AS sim
      |  FROM e q JOIN e c ON c.vec_id != q.vec_id)
      |SELECT vec_id, rn, neighbor, sim FROM (
      |  SELECT vec_id, neighbor, sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY sim DESC NULLS LAST, neighbor ASC NULLS FIRST) AS INT) AS rn
      |  FROM scored)
      |WHERE rn <= 5
      |ORDER BY vec_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin

  /** Greedy maximal-marginal-relevance selection (Carbonell & Goldstein
    * SIGIR'98) over one probe's BOUNDED candidate shortlist: pick
    * argmax λ·sim(q,c) − (1−λ)·max_{s∈picked} cos(c,s), k times.
    * Pure Scala on ≤shortlist elements — the per-group kernel of
    * [[s12Mmr]], split out so the spec can drive it directly.
    * Tie-break: higher score, then lower id. Returns picks in
    * selection order with their MMR score at pick time.
    */
  private[graft] def mmrGreedy(cands: Seq[(Long, Double, Array[Double])],
      k: Int, lambda: Double): Seq[(Long, Double)] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Double])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (out.length < k && remaining.nonEmpty) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity; var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.length) {
        val (id, sim, v) = remaining(i)
        val penalty =
          if (picked.isEmpty) 0.0
          else picked.iterator.map(p => cos(v, p._3)).max
        val score = lambda * sim - (1 - lambda) * penalty
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestIdx = i; bestScore = score; bestId = id
        }
        i += 1
      }
      val b = remaining.remove(bestIdx)
      picked += b
      out += ((b._1, bestScore))
    }
    out.toSeq
  }

  /** S12: MMR-diversified retrieval — the re-rank step between ANN
    * shortlist and serving: top-20 exact-cosine shortlist per probe
    * (the s1 shape), then greedy MMR (λ = 0.7) picks 5 results that
    * trade relevance against redundancy with what's already picked.
    * The shortlist is BOUNDED (20 rows/probe), so the greedy kernel
    * runs per-group in a typed mapGroups — the declared imperative
    * boundary, same contract as the PQ encoder: everything upstream
    * (scan, broadcast probe join, windowed shortlist) is declarative
    * and scales; the sequential part touches ≤ shortlist·k pairs.
    * Iterative float scoring → rows-only gate; LlmOpsSpec pins the
    * λ=1 ≡ plain-top-k equivalence, the redundancy-avoidance property,
    * and determinism.
    */
  def s12Mmr(spark: SparkSession, dir: String,
      shortlist: Int = 20, k: Int = 5, lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val short = emb.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim", CosineSimilarity.cosine(spark, col("q_v"), col("v")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= shortlist)
      .select(col("q_id"), col("vec_id"), col("sim"), col("v"))
    short.as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qId, it) =>
        val cands = it.toSeq.sortBy(c => (-c._3, c._2))
          .map(c => (c._2, c._3, c._4.toArray))
        mmrGreedy(cands, k, lambda).zipWithIndex.map { case ((id, s), i) =>
          (qId, i + 1, id, math.rint(s * 1e6) / 1e6)
        }
      }
      .toDF("q_id", "rk", "neighbor", "mmr_score")
      .orderBy(col("q_id").asc, col("rk").asc)
  }

  /** S10: hybrid retrieval with reciprocal-rank fusion — the
    * production search stack's merge step: a KEYWORD leg (distinct-
    * token overlap against the probe doc) and a VECTOR leg (exact
    * cosine) each produce a top-20 ranked list per probe, fused by
    * RRF(60): score = Σ 1/(60 + rank) over the legs that returned the
    * candidate (Cormack et al. SIGIR'09). Rank fusion needs no score
    * calibration between legs — which is why hybrid search ships RRF
    * rather than weighted score sums. Oracle-exact: ranks are
    * integers, the fused score is a two-term sum of identical IEEE
    * divisions in both engines.
    *
    * Scale shape: each leg is the engine's existing top-k machinery
    * (broadcast probes, windowed rank); the fusion is a full-outer
    * equi-join of two K-row-per-probe lists — O(probes × K), corpus
    * size long gone by then. Swap the legs for their ANN/inverted-
    * index forms (s9, tx_tfidf) at 100 TB; the fusion step is
    * unchanged.
    */
  def s10HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val legK = 20
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val probesV = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val wV = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val vLeg = emb.join(broadcast(probesV), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
      .withColumn("rv", row_number().over(wV))
      .filter(col("rv") <= legK)
      .select(col("q_id"), col("vec_id").as("id"), col("rv"))

    val docs = Q.t(spark, dir, "documents")
      .select(col("doc_id"),
        array_distinct(graft.functions.TextFunctions.tokens(col("text"))).as("tk"))
    val probesK = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("tk").as("q_tk"))
    val wK = Window.partitionBy(col("q_id"))
      .orderBy(col("ov").desc, col("doc_id").asc)
    val kLeg = docs.join(broadcast(probesK), col("doc_id") =!= col("q_id"))
      .withColumn("ov", size(array_intersect(col("tk"), col("q_tk"))))
      .filter(col("ov") > 0)
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= legK)
      .select(col("q_id"), col("doc_id").as("id"), col("rk"))

    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_score").desc, col("id").asc)
    vLeg.join(kLeg, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)))
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("rn"), col("id").as("neighbor"), col("rrf_score"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  val s10Oracle: String = {
    val dot = (x: String, y: String) =>
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($x, $y), p -> p[1] * p[2])), (a, b) -> a + b)"
    val cos = s"round(${dot("q.v", "c.v")} / (sqrt(${dot("q.v", "q.v")}) * sqrt(${dot("c.v", "c.v")})), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |v_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS id, $cos AS sim
       |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id),
       |v_leg AS (
       |  SELECT q_id, id, rv FROM (
       |    SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC NULLS LAST, id ASC NULLS FIRST) AS rv
       |    FROM v_scored) WHERE rv <= 20),
       |d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
       |      FROM documents),
       |k_scored AS (
       |  SELECT q.doc_id AS q_id, c.doc_id AS id,
       |    len(list_intersect(c.tk, q.tk)) AS ov
       |  FROM d q JOIN d c ON q.doc_id < 5 AND c.doc_id != q.doc_id
       |  WHERE len(list_intersect(c.tk, q.tk)) > 0),
       |k_leg AS (
       |  SELECT q_id, id, rk FROM (
       |    SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY ov DESC NULLS LAST, id ASC NULLS FIRST) AS rk
       |    FROM k_scored) WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(v.q_id, k.q_id) AS q_id, COALESCE(v.id, k.id) AS id,
       |    COALESCE(CAST(1 AS DOUBLE) / (60 + rv), 0.0)
       |      + COALESCE(CAST(1 AS DOUBLE) / (60 + rk), 0.0) AS rrf_score
       |  FROM v_leg v FULL OUTER JOIN k_leg k
       |    ON v.q_id = k.q_id AND v.id = k.id)
       |SELECT q_id, rn, id AS neighbor, rrf_score FROM (
       |  SELECT q_id, id, rrf_score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC NULLS LAST, id ASC NULLS FIRST) AS INT) AS rn
       |  FROM fused)
       |WHERE rn <= 10
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  /** S10b: hybrid retrieval with a REAL BM25 keyword leg (k1=1.2,
    * b=0.75 — tf saturation + idf + length normalization) fused with
    * the unchanged cosine vector leg by reciprocal-rank fusion. The
    * whole score is FIXED-POINT so the oracle is hash-exact with no
    * float-accumulation caveat:
    *
    *  - `idf_ppm = lnppm(2N+2) − lnppm(2df+1)` where
    *    `lnppm(x) = floor(ln(x)·10⁶)` is evaluated ONLY on integer
    *    arguments — `(N−df+0.5)/(df+0.5)+1` reduces exactly to the
    *    integer ratio `(2N+2)/(2df+1)`. floor(ln(int)·10⁶) was
    *    verified floor-identical between the JVM and DuckDB over the
    *    ENTIRE reachable domain (x ≤ 4.2M, every integer — 0
    *    mismatches), so the quantized idf is cross-engine exact by
    *    finite enumeration, not by hoping two libm's agree (they
    *    don't: 54/2M raw-bit mismatches).
    *  - tf saturation is exact int64 rational arithmetic: with
    *    avgdl = L/N the BM25 denominator tf + k1(1−b+b·dl/avgdl)
    *    scales by 10⁶ into `10·tf·10⁶ + 3·10⁶ + 9·dlr_ppm`,
    *    `dlr_ppm = (dl·N·10⁶) div L`; tf is capped at 20 000 (where
    *    saturation is already ≈(k1+1)) to bound the numerator under
    *    2⁶³.
    *  - per-(query, doc) scores are INTEGER sums of integer terms —
    *    order-independent, exact at any parallelism.
    *
    * Scale shape: one tf agg, one df agg, one doc-length agg (all
    * map-side combined); query terms enriched with df vocab-side then
    * broadcast onto the corpus tf table (the inverted-index equi-join
    * — candidates only, never all pairs); one keyed integer agg; the
    * per-query top-k rides InferWindowGroupLimit. Same shuffle classes
    * as s10.
    */
  def s10bBm25Rrf(spark: SparkSession, dir: String): DataFrame = {
    val legK = 20
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val probesV = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val wV = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val vLeg = emb.join(broadcast(probesV), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
      .withColumn("rv", row_number().over(wV))
      .filter(col("rv") <= legK)
      .select(col("q_id"), col("vec_id").as("id"), col("rv"))

    def lnppm(c: Column): Column =
      floor(log(c.cast("double")) * lit(1000000.0)).cast("long")
    val docsTk = Q.t(spark, dir, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("tks"))
    val toks = docsTk.select(col("doc_id"), explode(col("tks")).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("l"))
    val dfT = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // enrich the (tiny) query-term set with df BEFORE touching the
    // corpus-scale tf table — one vocab-keyed join, then one broadcast
    // equi-join does candidate generation
    val qTerms = docsTk.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), explode(array_distinct(col("tks"))).as("t"))
      .join(dfT, Seq("t"))
    val kLeg = tf.join(broadcast(qTerms), Seq("t"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_ppm",
        lnppm(lit(2L) * col("n") + lit(2L)) - lnppm(lit(2L) * col("df") + lit(1L)))
      .withColumn("dlr_ppm", expr("(dl * n * 1000000L) div l"))
      .withColumn("tfc", least(col("tf"), lit(20000L)))
      .withColumn("term_ppm", expr(
        "(idf_ppm * 22L * tfc * 1000000L) div (10L * tfc * 1000000L + 3000000L + 9L * dlr_ppm)"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term_ppm")).as("bm25_ppm"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("bm25_ppm").desc, col("doc_id").asc)))
      .filter(col("rk") <= legK)
      .select(col("q_id"), col("doc_id").as("id"), col("rk"), col("bm25_ppm"))

    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_score").desc, col("id").asc)
    vLeg.join(kLeg, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)))
      .withColumn("rn", row_number().over(wF))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("rn"), col("id").as("neighbor"),
        col("rrf_score"), col("bm25_ppm"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  val s10bOracle: String = {
    val dot = (x: String, y: String) =>
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($x, $y), p -> p[1] * p[2])), (a, b) -> a + b)"
    val cos = s"round(${dot("q.v", "c.v")} / (sqrt(${dot("q.v", "q.v")}) * sqrt(${dot("c.v", "c.v")})), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |v_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS id, $cos AS sim
       |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id),
       |v_leg AS (
       |  SELECT q_id, id, rv FROM (
       |    SELECT q_id, id, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC NULLS LAST, id ASC NULLS FIRST) AS rv
       |    FROM v_scored) WHERE rv <= 20),
       |tk AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents),
       |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY doc_id, t),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY doc_id),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l FROM dlt),
       |dfv AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
       |qt AS (SELECT DISTINCT doc_id AS q_id, t FROM tk WHERE doc_id < 5),
       |term AS (
       |  SELECT qt.q_id, tf.doc_id,
       |    ((CAST(floor(ln(CAST(2 * n + 2 AS DOUBLE)) * 1e6) AS BIGINT)
       |       - CAST(floor(ln(CAST(2 * df + 1 AS DOUBLE)) * 1e6) AS BIGINT))
       |      * 22 * LEAST(tf.tf, 20000) * 1000000)
       |    // (10 * LEAST(tf.tf, 20000) * 1000000 + 3000000
       |        + 9 * ((dl * n * 1000000) // l)) AS term_ppm
       |  FROM tf JOIN qt USING (t) JOIN dfv USING (t)
       |    JOIN dlt ON dlt.doc_id = tf.doc_id CROSS JOIN st
       |  WHERE tf.doc_id != qt.q_id),
       |kscore AS (
       |  SELECT q_id, doc_id, CAST(SUM(term_ppm) AS BIGINT) AS bm25_ppm
       |  FROM term GROUP BY q_id, doc_id),
       |k_leg AS (
       |  SELECT q_id, id, rk, bm25_ppm FROM (
       |    SELECT q_id, doc_id AS id, bm25_ppm, ROW_NUMBER() OVER (
       |      PARTITION BY q_id
       |      ORDER BY bm25_ppm DESC NULLS LAST, doc_id ASC NULLS FIRST) AS rk
       |    FROM kscore) WHERE rk <= 20),
       |fused AS (
       |  SELECT COALESCE(v.q_id, k.q_id) AS q_id, COALESCE(v.id, k.id) AS id,
       |    COALESCE(CAST(1 AS DOUBLE) / (60 + rv), 0.0)
       |      + COALESCE(CAST(1 AS DOUBLE) / (60 + rk), 0.0) AS rrf_score,
       |    k.bm25_ppm AS bm25_ppm
       |  FROM v_leg v FULL OUTER JOIN k_leg k
       |    ON v.q_id = k.q_id AND v.id = k.id)
       |SELECT q_id, rn, id AS neighbor, rrf_score, bm25_ppm FROM (
       |  SELECT q_id, id, rrf_score, bm25_ppm,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY rrf_score DESC NULLS LAST, id ASC NULLS FIRST) AS INT) AS rn
       |  FROM fused)
       |WHERE rn <= 10
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  /** S2: LSH-bucketed ANN — multi-table random-hyperplane LSH
    * (8 tables × 4 sign bits, hyperplanes derived deterministically
    * from xxhash64, data-independent). A vector lands in one bucket
    * per table; probes compare only against same-(table,bucket)
    * vectors, candidates deduped across tables. ORACLE-EXACT (round
    * 14): the planes are data-independent driver-side constants, so
    * the oracle embeds them as round-trip double literals and
    * re-derives signatures → buckets → candidates → re-rank
    * independently; recall additionally asserted in LlmOpsSpec.
    */
  def s2LshAnn(spark: SparkSession, dir: String): DataFrame = {
    // explicit well-formed-vector precondition, mirrored verbatim in
    // the oracle: a NULL element nulls the sign-bit fold and a NaN
    // poisons it, and the two engines disagree on what those become
    // downstream (struct-key joins vs CASE WHEN NaN > 0). Wrong-DIM
    // vectors still throw via the LshBuckets guard — this filter
    // must not silently swallow them
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .filter(!exists(col("v"), x => x.isNull || isnan(x)))
    // candidate generation and dedup run on NARROW (id, bucket) rows —
    // the cross-table distinct must not shuffle 64-dim vectors; they
    // re-attach after dedup (corpus side by equi-join, probe side by
    // 10-row broadcast)
    val bucketed = emb
      .select(col("vec_id"),
        explode(graft.functions.LshBuckets.buckets(spark, col("v"))).as("tb"))
    val probeBuckets = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("tb"))
    val cands = bucketed.join(probeBuckets, Seq("tb"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val probeVecs = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val scored = cands
      .join(emb, Seq("vec_id"))
      .join(broadcast(probeVecs), Seq("q_id"))
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** S4: IVF ANN — inverted-file index with a deterministic coarse
    * quantizer: K seed vectors (every stride-th vec_id) act as list
    * centroids; every vector joins its nearest seed's list (one
    * broadcast pass, N×K fused-cosine evals — linear build cost);
    * probes search only their `nprobe` nearest lists. ORACLE-EXACT
    * (round 14): the seed pick, fold-cosine assignment argmax, and
    * rounded re-rank are all deterministic double math, so DuckDB
    * re-derives lists, probes and the final ranking independently;
    * recall vs brute force additionally asserted in LlmOpsSpec.
    */
  def s4IvfAnn(spark: SparkSession, dir: String,
      k: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    // orderBy before limit: a bare LIMIT over a distributed scan picks
    // whichever k rows arrive first — nondeterministic the moment the
    // corpus spans more than one input split
    val seeds = emb.filter(col("vec_id") % 31 === 0)
      .orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("list_id"), col("v").as("seed_v"))

    def nearestLists(vecs: DataFrame, n: Int, idCol: String): DataFrame = {
      val scored = vecs.crossJoin(broadcast(seeds))
        .withColumn("seed_sim",
          CosineSimilarity.cosine(spark, col("v"), col("seed_v")))
      if (n == 1) {
        // Corpus-wide assignment: argmax via max_by, a declarative
        // aggregate that partial-aggregates map-side — the K scored
        // rows per vector collapse to one BEFORE any exchange, so the
        // embedding column never rides an N×K sort-shuffle (the window
        // form ranked all N×K wide rows through a full sort exchange).
        // Tie-break matches the window's (seed_sim desc, list_id asc):
        // max of (seed_sim, -list_id).
        scored.groupBy(col(idCol))
          .agg(max_by(struct(col("v").as("v"), col("list_id").as("list_id")),
            struct(col("seed_sim"), (-col("list_id")).as("nl"))).as("best"))
          .select(col(idCol), col("best.v").as("v"),
            col("best.list_id").as("list_id"))
      } else {
        // Probe side: nprobe > 1 lists per vector, bounded probe set —
        // the window rank is fine here.
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("seed_sim").desc, col("list_id").asc)
        scored.withColumn("seed_rn", row_number().over(w))
          .filter(col("seed_rn") <= n)
          .drop("seed_v", "seed_sim", "seed_rn")
      }
    }

    val assigned = nearestLists(emb, 1, "vec_id") // inverted lists
    val probes = nearestLists(emb.filter(col("vec_id") < 10), nprobe, "vec_id")
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("list_id"))

    val scored = assigned.join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(
        CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** S14: FILTERED ANN — s4's IVF search under a metadata predicate
    * (top-3 among vectors sharing the probe's `label`): the shape
    * every production vector store serves, where a tenant/language/
    * source filter rides the index probe. The filter applies at the
    * list-serving join (post-assignment, pre-re-rank) so only
    * same-label candidates are ever scored; at 100 TB the label is a
    * partition or zone-map column and the lists prune BEFORE the scan
    * (`read(where = …)` composes with the persisted-index variants) —
    * here the candidate-side filter is the semantics, the pruning is
    * the deployment knob. Deterministic end to end (s4's seed pick,
    * fold-cosine argmax, rounded re-rank), so the DuckDB oracle
    * re-derives everything including the filter — hash-exact.
    */
  def s14FilteredIvf(spark: SparkSession, dir: String,
      k: Int = 16, nprobe: Int = 4): DataFrame = {
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
    val seeds = emb.filter(col("vec_id") % 31 === 0)
      .orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("list_id"), col("v").as("seed_v"))

    // s4's assignment kernels, with the label riding the payload
    // struct (the tie-break struct is untouched)
    def nearestLists(vecs: DataFrame, n: Int): DataFrame = {
      val scored = vecs.crossJoin(broadcast(seeds))
        .withColumn("seed_sim",
          CosineSimilarity.cosine(spark, col("v"), col("seed_v")))
      if (n == 1) {
        scored.groupBy(col("vec_id"))
          .agg(max_by(
            struct(col("v").as("v"), col("label").as("label"),
              col("list_id").as("list_id")),
            struct(col("seed_sim"), (-col("list_id")).as("nl"))).as("best"))
          .select(col("vec_id"), col("best.v").as("v"),
            col("best.label").as("label"), col("best.list_id").as("list_id"))
      } else {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("seed_sim").desc, col("list_id").asc)
        scored.withColumn("seed_rn", row_number().over(w))
          .filter(col("seed_rn") <= n)
          .drop("seed_v", "seed_sim", "seed_rn")
      }
    }

    val assigned = nearestLists(emb, 1)
    val probes = nearestLists(emb.filter(col("vec_id") < 10), nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("label").as("q_label"), col("list_id"))
    val scored = assigned.join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id") &&
        col("label") === col("q_label"))
      .withColumn("sim", round(
        CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("q_label"), col("rn"),
        col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** S14B: filtered ANN over a PERSISTED index — s14's semantics
    * (top-3 among vectors sharing the probe's label) served from an
    * IVF index table written to a [[graft.lake.ManifestTable]]
    * zone-mapped on `list_id` (and `label`): the probe reads ONLY the
    * files whose zone map intersects a probed list
    * ([[graft.lake.ManifestTable.readRangesBy]]) — at scale, the
    * nprobe/lists fraction of the index, with the label zone map as
    * the second pruning knob — and the label predicate applies at the
    * list-serving join, before any scoring (the pre-filter; excluded
    * vectors never reach the ranking). Same deterministic kernels as
    * s14, so the persisted detour must change NOTHING: the oracle is
    * s14's, hash-exact — which is precisely what this row proves
    * (write → zone-prune → filtered read loses and duplicates no
    * rows). The PQ-coded persisted path's filtered probe (ADC +
    * shortlist under the same allow-list pre-filter) is approximate by
    * construction and spec-gated in PqIndexSpec.
    */
  def s14bFilteredIndex(spark: SparkSession, dir: String,
      k: Int = 16, nprobe: Int = 4): DataFrame = {
    val scratch =
      s"${sys.props("java.io.tmpdir")}/graft_sim_s14b_${ProcessHandle.current().pid()}"
    val fsPath = new org.apache.hadoop.fs.Path(scratch)
    fsPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(fsPath, true)
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
    val seeds = emb.filter(col("vec_id") % 31 === 0)
      .orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("list_id"), col("v").as("seed_v"))

    def nearestLists(vecs: DataFrame, n: Int): DataFrame = {
      val scored = vecs.crossJoin(broadcast(seeds))
        .withColumn("seed_sim",
          CosineSimilarity.cosine(spark, col("v"), col("seed_v")))
      if (n == 1) {
        scored.groupBy(col("vec_id"))
          .agg(max_by(
            struct(col("v").as("v"), col("label").as("label"),
              col("list_id").as("list_id")),
            struct(col("seed_sim"), (-col("list_id")).as("nl"))).as("best"))
          .select(col("vec_id"), col("best.v").as("v"),
            col("best.label").as("label"), col("best.list_id").as("list_id"))
      } else {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("seed_sim").desc, col("list_id").asc)
        scored.withColumn("seed_rn", row_number().over(w))
          .filter(col("seed_rn") <= n)
          .drop("seed_v", "seed_sim", "seed_rn")
      }
    }

    // build: persist the inverted lists range-partitioned by list_id —
    // each file covers a contiguous list range, so its zone map prunes
    // tightly on probe
    val mt = new graft.lake.ManifestTable(spark, s"$scratch/ivf",
      statsCol = Some("list_id"), statsCols = Seq("label"))
    mt.write(nearestLists(emb, 1)
      .repartitionByRange(8, col("list_id")), "overwrite")

    // probe: nprobe lists per query vector; the index scan reads only
    // those lists' files (bounded collect — nprobe × |probe batch|)
    val probes = nearestLists(emb.filter(col("vec_id") < 10), nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("label").as("q_label"), col("list_id"))
    val probedLists = probes.select(col("list_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val index = mt.readRangesBy("list_id",
      probedLists.map(l => (l.toString, l.toString)).toSeq)
    val scored = index.join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id") &&
        col("label") === col("q_label"))
      .withColumn("sim", round(
        CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("q_label"), col("rn"),
        col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** S3: per-label centroids via the typed Aggregator UDAF (A8/X2).
    * Float accumulation order varies by partitioning → no oracle;
    * tolerance-checked in SimilaritySpec. Output is the centroid's
    * L2 norm + first component, rounded, per label.
    */
  def s3Centroids(spark: SparkSession, dir: String): DataFrame = {
    val cent = VectorOps.centroid(64)
    Q.t(spark, dir, "embeddings")
      .groupBy(col("label"))
      .agg(cent(col("embedding")).as("centroid"),
        count(lit(1)).as("n"))
      .select(col("label"), col("n"),
        round(element_at(col("centroid"), 1), 4).as("c0"),
        round(VectorOps.l2Norm(col("centroid")), 4).as("c_norm"))
      .orderBy(col("label").asc)
  }

  /** S5: int8-quantized top-k — the corpus side carries only
    * (scale, ARRAY<TINYINT>) = 8× smaller than double vectors (the
    * memory/IO knob a 100 TB vector store turns first); probes stay
    * full-precision, corpus vectors are dequantized on the fly inside
    * the scan (codegen HOFs, no shuffle of the wide column).
    * ORACLE-EXACT (round 14): every step is order-independent or a
    * sequential left-fold in doubles — max-abs scale, half-away
    * rounding to int8, dequantize multiply, the d5-proven fold
    * cosine — so DuckDB reproduces scores and ranks bit-for-bit;
    * recall vs exact additionally asserted in LlmOpsSpec.
    */
  def s5QuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    // fanOut (guide §2.5): the broadcast probe join below explodes
    // each corpus row ×|probes| and runs dequantize+cosine per pair in
    // the SCAN stage — a one-split embeddings file pins all of it to
    // one core; per-pair scores are row-local, partition-invariant
    val emb = Q.fanOut(Q.t(spark, dir, "embeddings"))
    val corpus = emb
      .withColumn("scale", VectorOps.quantScale(col("embedding")))
      .withColumn("codes", VectorOps.quantize(col("embedding"), col("scale")))
      .select(col("vec_id"), col("scale"), col("codes"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        VectorOps.toDouble(col("embedding")).as("q_v"))
    val scored = corpus.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(VectorOps.cosine(col("q_v"),
        VectorOps.dequantize(col("codes"), col("scale"))), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** S7: product-quantization ANN (the PQ half of IVF-PQ, Jégou et
    * al.'s "Product Quantization for Nearest Neighbor Search"): each
    * UNIT-NORMALIZED 64-dim corpus vector splits into `m`=16
    * subvectors of 4 dims, each encoded as the index of its nearest
    * of `k`=32 per-subspace centroids — 16 byte-sized codes per
    * vector, a 32× byte reduction over doubles (vs 8× for S5's int8),
    * the compression that decides whether a 100 TB vector store fits
    * in cluster memory. The codebook is trained deterministically: a
    * hash-ordered seed sample, then Lloyd iteration(s) computed
    * distributively (assign sampled subvectors, average per cell —
    * one scalar shuffle each; no RNG anywhere). Encoding runs as a
    * tight primitive loop over the broadcast codebook in one narrow
    * mapPartitions pass (see inline note on why not HOFs). Scoring is
    * ADC (asymmetric distance computation): each probe precomputes an
    * m×k lookup table of subspace dot products ONCE, then every
    * corpus row scores with m table lookups — no vector arithmetic
    * against corpus data at all, and the corpus scan carries only the
    * codes column. Approximate by construction → rows-only; recall
    * vs brute force (~0.5@10 at this compression) asserted in
    * LlmOpsSpec.
    */
  def s7PqAnn(spark: SparkSession, dir: String,
      m: Int = 16, k: Int = 32, topK: Int = 3, lloydIters: Int = 1): DataFrame = {
    val sub = PqDim / m
    val emb = unitVectors(spark, dir)
    val cents = trainPqCodebook(spark, emb, m, sub, k, lloydIters)
    val centNorm2: Seq[Seq[Double]] = cents.map(_.map(c => c.map(x => x * x).sum))
    val normLit = typedLit(centNorm2)
    import spark.implicits._
    // the codebook is m·k·sub doubles (~16 KB at the default shape):
    // it rides the task closure — a managed broadcast plus the eager
    // checkpoint needed to destroy it safely costs two extra jobs per
    // run for nothing, and closure state is GC'd with the job (no
    // heap accretion across invocations, unlike leaked broadcasts —
    // measured ≥5× bench regressions from those before). Lazy: the
    // encode fuses into the ADC-scoring stage that consumes it.
    val cb = pqToArr(cents)
    val codes = emb
      .select(col("vec_id").cast("long").as("vec_id"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) => (id, pqArgminCodes(v.toArray, cb, sub).toSeq) }
      }
      .toDF("vec_id", "codes") // the ONLY corpus-side columns
    // probe LUTs computed ON THE DRIVER (see ivfPqQuery's note: the
    // serving batch is bounded and the nested-HOF plan cost dwarfed
    // its own execution); fold order matches the HOF form bit-exactly
    val probeRows = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      .collect()
    val qIdType = emb.schema("vec_id").dataType
    val centsArr = pqToArr(cents)
    val probeData = probeRows.map { r =>
      val qv = r.getSeq[Double](1).toArray
      val lut: Seq[Seq[Double]] = (0 until m).map { mi =>
        centsArr(mi).toSeq.map { c =>
          var s = 0.0; var j = 0
          while (j < sub) { s += qv(mi * sub + j) * c(j); j += 1 }
          s
        }
      }
      var n2 = 0.0
      var i = 0
      while (i < qv.length) { n2 += qv(i) * qv(i); i += 1 }
      org.apache.spark.sql.Row(r.get(0), lut, math.sqrt(n2))
    }
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id", qIdType, nullable = false),
      org.apache.spark.sql.types.StructField("lut",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, false), false),
        nullable = false),
      org.apache.spark.sql.types.StructField("q_norm",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeData: _*), probeSchema)
    val scored = codes.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("approx_dot",
        graft.functions.AdcScore.score(spark, col("codes"), col("lut")))
      .withColumn("approx_norm",
        sqrt(graft.functions.AdcScore.score(spark, col("codes"), normLit)))
      .withColumn("sim_pq",
        round(col("approx_dot") / (col("q_norm") * col("approx_norm")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_pq").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("sim_pq"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** Embedding dimensionality the PQ family is built over. */
  private[graft] val PqDim = 64

  /** cosine-PQ input: UNIT vectors, so subspace dot products compose
    * into the cosine directly and quantization error spends itself on
    * direction, not magnitude.
    */
  private[graft] def unitVectors(spark: SparkSession, dir: String): DataFrame =
    unitize(Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("raw_v")))

  /** Promote-and-normalize `(vec_id, raw_v)` (float or double arrays)
    * to the `(vec_id, v)` unit-vector shape every PQ stage consumes.
    * The ONE copy of this pipeline — the index's build/refresh
    * determinism depends on new vectors normalizing bit-identically to
    * the build-time corpus, so [[graft.operators.PqIndex]] delegates
    * here rather than re-implementing it.
    */
  private[graft] def unitize(df: DataFrame): DataFrame = {
    def dotC(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    df.select(col("vec_id"), VectorOps.toDouble(col("raw_v")).as("v0"))
      .withColumn("n0", sqrt(dotC(col("v0"), col("v0"))))
      // a zero-norm vector stays all-zero instead of dividing by zero
      // (an ANSI error; NaN components under lenient mode — either way
      // one degenerate row must not poison the corpus): zeros dot 0.0
      // against everything, so ranking ties break by id, exactly the
      // deterministic behavior every consumer already guards
      .withColumn("v", when(col("n0") === 0.0, col("v0"))
        .otherwise(transform(col("v0"), x => x / col("n0"))))
      .drop("v0", "n0")
  }

  private[graft] def pqToArr(cb: Seq[Seq[Seq[Double]]]): Array[Array[Array[Double]]] =
    cb.map(_.map(_.toArray).toArray).toArray

  /** The m×k-way argmin encoder — a tight primitive loop over a
    * BROADCAST codebook inside a narrow mapPartitions pass, the
    * genuine per-partition-imperative case: the equivalent HOF
    * expression (m subspaces × k nested fold-aggregates per row)
    * blows past whole-stage-codegen limits and evaluates interpreted,
    * ~an order of magnitude slower on the corpus-wide pass. First
    * minimum wins (matches `array_position(array_min)` semantics).
    */
  private[graft] def pqArgminCodes(arr: Array[Double],
      cb: Array[Array[Array[Double]]], sub: Int): Array[Int] = {
    val out = new Array[Int](cb.length)
    var mi = 0
    while (mi < cb.length) {
      val cs = cb(mi)
      var best = 0; var bestD = Double.MaxValue; var ki = 0
      while (ki < cs.length) {
        var d = 0.0; var j = 0
        while (j < sub) {
          val t = arr(mi * sub + j) - cs(ki)(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      out(mi) = best; mi += 1
    }
    out
  }

  /** Deterministic PQ codebook: hash-ordered seed sample (bounded
    * collect of k rows), then `lloydIters` Lloyd iterations on a
    * 1-in-5 hash sample materialized once — assign sampled
    * subvectors, average per cell; one scalar shuffle per pass,
    * bounded collect of m·k·sub cell means. No RNG anywhere.
    */
  private[graft] def trainPqCodebook(spark: SparkSession, emb: DataFrame,
      m: Int, sub: Int, k: Int, lloydIters: Int): Seq[Seq[Seq[Double]]] = {
    import spark.implicits._
    val seeds = emb
      .orderBy(pmod(col("vec_id") * 2654435761L, lit(1000003L)).asc,
        col("vec_id").asc)
      .limit(k)
      .collect().map(_.getSeq[Double](1).toIndexedSeq)
    val kEff = seeds.length // < k only for a corpus smaller than k
    var cents: Seq[Seq[Seq[Double]]] = (0 until m).map(mi =>
      seeds.toSeq.map(s => s.slice(mi * sub, (mi + 1) * sub)))
    val train0 = emb.filter(pmod(xxhash64(col("vec_id")), lit(5)) === 0)
      .select(col("vec_id").cast("long"), col("v")).as[(Long, Seq[Double])]
    // the sample re-materializes once per Lloyd pass — checkpoint it
    // only when >1 pass will re-read it (a one-pass train would pay
    // the materialization job just to read the result once)
    val train = if (lloydIters > 1) train0.localCheckpoint(true) else train0
    for (_ <- 1 to lloydIters) {
      // per-iteration codebook rides the task closure (~16 KB): GC'd
      // with the job, no broadcast lifecycle to manage
      val cb = pqToArr(cents)
      val cells =
        train.mapPartitions { it =>
          it.flatMap { case (_, v) =>
            val arr = v.toArray
            val codes = pqArgminCodes(arr, cb, sub)
            for (mi <- (0 until cb.length).iterator; j <- (0 until sub).iterator)
              yield (mi, codes(mi), j, arr(mi * sub + j))
          }
        }.toDF("mi", "code", "j", "x")
          .groupBy(col("mi"), col("code"), col("j"))
          .agg(avg(col("x")).as("mu"))
          .collect() // bounded: ≤ m·k·sub rows
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
          .toMap
      val prev = cents
      cents = (0 until m).map(mi =>
        (0 until kEff).map(ki => (0 until sub).map(j =>
          // empty cells keep their previous centroid
          cells.getOrElse((mi, ki, j), prev(mi)(ki)(j)))))
    }
    if (lloydIters > 1) CheckpointOps.release(train) // RDD-level: unpersist() no-ops on checkpoints
    cents
  }

  /** S8: IVF-PQ with exact re-rank — the COMPOSED production index
    * (the full Jégou et al. deployment): IVF coarse lists bound the
    * search to `nprobe` of `lists` inverted lists; within them, PQ
    * codes score by ADC table lookup; the per-probe shortlist then
    * re-ranks EXACTLY on fetched full vectors. The persisted corpus
    * index is (vec_id, list_id, codes) ≈ 20 bytes/vector; a query
    * touches nprobe/lists of the corpus, does no vector arithmetic
    * against corpus rows until the final `shortlist` fetches, and the
    * re-rank makes the returned order exact within the candidate set.
    * Every stage is deterministic (shared hash-seeded IVF seeds +
    * Lloyd PQ codebook); approximate only in WHICH candidates the
    * lists surface → rows-only, recall spec in LlmOpsSpec.
    */
  def s8IvfPqAnn(spark: SparkSession, dir: String,
      lists: Int = 16, nprobe: Int = 4, m: Int = 16, k: Int = 32,
      shortlist: Int = 30, topK: Int = 3): DataFrame = {
    val emb = unitVectors(spark, dir)
    // IVF coarse quantizer: hash-seeded list centroids, corpus
    // assignment via map-side max_by (no vector-carrying sort-shuffle)
    val ivfSeeds = ivfSeedsOf(emb, lists)
    val assigned = ivfAssign(emb, ivfSeeds)
    // PQ codebook + per-vector codes (the persisted index columns)
    val cents = trainPqCodebook(spark, emb, m, PqDim / m, k, lloydIters = 1)
    val index = pqEncode(spark, assigned, cents)
    val probes0 = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    ivfPqQuery(spark, _ => index, ivfSeeds, cents, emb, probes0,
      nprobe, shortlist, topK)
  }

  /** Deterministic hash-seeded IVF list centroids (shared by the
    * in-memory s8 path and the persisted [[graft.operators.PqIndex]]).
    */
  private[graft] def ivfSeedsOf(emb: DataFrame, lists: Int): DataFrame =
    emb
      .orderBy(pmod(col("vec_id") * 40503L, lit(999983L)).asc,
        col("vec_id").asc)
      .limit(lists)
      // list ids normalize to LONG at the source: assignment already
      // coerces vec_id to long (ivfNearestLists), and the persisted
      // index metas hold Seq[Long] — an IntegerType/short/numeric-
      // string corpus id must build the same index a long one does
      // instead of dying in a getLong downstream
      .select(col("vec_id").cast("long").as("list_id"),
        col("v").as("seed_v"))

  /** The one IVF list-ranking kernel: per row, rank the
    * closure-captured seed codebook by (dot desc, list_id asc) and
    * emit the `nprobe` nearest list ids — a NARROW map, no crossJoin
    * row blowup, no aggregate, no exchange, primitive loops inside
    * the partition iterator (the equivalent per-row HOF expression —
    * array_sort over a transform of a seed literal — evaluates
    * interpreted: measured 38s vs ~2s on a 20k×141-seed corpus).
    * Seeds are bounded (≈√n lists at scale: 100k lists × 64 dims ≈
    * 50 MB rides the task closure like any broadcast). Dot ranking ≡
    * cosine ranking per fixed row when seeds are unit vectors —
    * callers normalize (or not) to preserve their exact scoring.
    * Fold order matches the HOF `aggregate(zip_with(...))` form.
    */
  private[graft] def ivfNearestLists(emb: DataFrame,
      seeds: Array[(Long, Array[Double])], nprobe: Int,
      keepV: Boolean): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ds = emb.select(col("vec_id").cast("long"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, vSeq) =>
          val v = vSeq.toArray
          // top-nprobe by (dot desc, list_id asc): insertion into a
          // bounded array — seeds.length × nprobe compares worst case
          val topL = new Array[Long](nprobe)
          val topS = new Array[Double](nprobe)
          var filled = 0
          var si = 0
          while (si < seeds.length) {
            val (lid, sv) = seeds(si)
            var s = 0.0; var j = 0
            while (j < sv.length) { s += v(j) * sv(j); j += 1 }
            // find insert position among the current top
            var pos = filled
            while (pos > 0 && (topS(pos - 1) < s ||
                (topS(pos - 1) == s && topL(pos - 1) > lid))) pos -= 1
            if (pos < nprobe) {
              val last = math.min(filled, nprobe - 1)
              var q = last
              while (q > pos) { topL(q) = topL(q - 1); topS(q) = topS(q - 1); q -= 1 }
              topL(pos) = lid; topS(pos) = s
              if (filled < nprobe) filled += 1
            }
            si += 1
          }
          (0 until filled).iterator.map(i => (id, vSeq, topL(i)))
        }
      }
      .toDF("vec_id", "v", "list_id")
    if (keepV) ds else ds.drop("v")
  }

  /** Collect a seed frame `(list_id, seed_v)` to the bounded
    * driver-side shape [[ivfNearestLists]] captures.
    */
  private[graft] def collectSeeds(ivfSeeds: DataFrame): Array[(Long, Array[Double])] = {
    val lidIdx = ivfSeeds.schema.fieldIndex("list_id")
    val vIdx = ivfSeeds.schema.fieldIndex("seed_v")
    ivfSeeds.collect().map { r =>
      // type-generic id handling (the ivfPqQuery r.get/listIdType
      // shape): seeds derive list_id from the corpus vec_id, which the
      // SQL pq_build surface lets be any integral — or a numeric string
      val lid = r.get(lidIdx) match {
        case n: Number => n.longValue()
        case s: String =>
          try s.toLong
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"IVF list_id must be numeric or a numeric string, got '$s'")
          }
        case other => throw new IllegalArgumentException(
          s"IVF list_id must be numeric, got ${if (other == null) "null" else other.getClass.getSimpleName}")
      }
      (lid, r.getSeq[Double](vIdx).toArray)
    }
  }

  /** Corpus→list assignment — [[ivfNearestLists]] with nprobe=1: the
    * embedding column rides a narrow map, never an N×K blowup or a
    * struct sort-aggregate (at sf1 that aggregate sorted ~2 GB of
    * vector-carrying structs per run).
    */
  private[graft] def ivfAssign(emb: DataFrame, ivfSeeds: DataFrame): DataFrame =
    ivfNearestLists(emb, collectSeeds(ivfSeeds), nprobe = 1, keepV = true)

  /** Encode `(vec_id, v, list_id)` rows to `(vec_id, list_id, codes)`.
    * The ~16 KB codebook rides the task closure (see s7's note — no
    * broadcast, no eager checkpoint), and the result stays LAZY so it
    * fuses into its consumer: the persisted index writes it straight
    * to parquet, the in-memory s8 path pipelines it into the ADC join.
    */
  private[graft] def pqEncode(spark: SparkSession, assigned: DataFrame,
      cents: Seq[Seq[Seq[Double]]]): DataFrame = {
    val sub = PqDim / cents.size
    import spark.implicits._
    val cb = pqToArr(cents)
    assigned
      .select(col("vec_id").cast("long"), col("v"), col("list_id").cast("long"))
      .as[(Long, Seq[Double], Long)]
      .mapPartitions { it =>
        it.map { case (id, v, list) =>
          (id, list, pqArgminCodes(v.toArray, cb, sub).toSeq)
        }
      }.toDF("vec_id", "list_id", "codes")
  }

  /** The IVF-PQ probe path shared verbatim by s8 (in-memory index) and
    * [[graft.operators.PqIndex]] (persisted index): nprobe nearest
    * lists per probe, ADC lookup scoring over the probed lists only,
    * bounded shortlist, exact re-rank on fetched full vectors.
    * `indexFor` receives the distinct probed list ids (bounded by
    * `lists`) and returns the `(vec_id, list_id, codes)` scan — the
    * persisted path prunes index files to those lists, the in-memory
    * path ignores it.
    */
  /** `candidates`: optional `(vec_id)` allow-list — the PRE-filter of
    * filtered ANN (S14 over the persisted index): the metadata
    * predicate's id set semi-joins into the pruned index scan BEFORE
    * ADC scoring, so filtered-out vectors never consume shortlist
    * slots (a post-filter would silently lose recall exactly when the
    * filter is selective). The list is a DataFrame, not a collected
    * set: at scale it is itself a zone-mapped scan of the metadata
    * column, and the semi-join broadcasts or shuffles as its size
    * dictates.
    */
  private[graft] def ivfPqQuery(spark: SparkSession,
      indexFor: Seq[Long] => DataFrame, ivfSeeds: DataFrame,
      cents: Seq[Seq[Seq[Double]]], emb: DataFrame, probes0: DataFrame,
      nprobe: Int, shortlist: Int, topK: Int,
      candidates: Option[DataFrame] = None): DataFrame = {
    val m = cents.size
    val sub = PqDim / m
    def dotC(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val normLit = typedLit(cents.map(_.map(c => c.map(x => x * x).sum)))
    // Probe-side prep — seed ranking, nprobe selection, and the m×k
    // ADC lookup table per probe — computes ON THE DRIVER: both inputs
    // are bounded (≤`lists` seeds, a serving batch of probes) and were
    // ALREADY driver-collected in the previous shape; doing the tiny
    // arithmetic here too (probes × lists × dim flops) skips planning
    // and running a crossJoin+window+nested-HOF query per invocation —
    // the analysis/codegen of that plan dwarfed its execution. Fold
    // order matches the Catalyst HOF form exactly (sequential
    // left-to-right sums), so results are bit-identical.
    val seedRows = ivfSeeds.collect() // bounded: ≤ `lists` rows
    val probeRows0 = probes0.collect() // bounded: the serving batch
    val qIdType = probes0.schema("q_id").dataType
    val listIdType = ivfSeeds.schema("list_id").dataType
    val sLid = ivfSeeds.schema.fieldIndex("list_id")
    val sVec = ivfSeeds.schema.fieldIndex("seed_v")
    val pQid = probes0.schema.fieldIndex("q_id")
    val pQv = probes0.schema.fieldIndex("q_v")
    val seeds = seedRows.map(r =>
      (r.get(sLid), r.getSeq[Double](sVec).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val centsArr = pqToArr(cents)
    val probeData = probeRows0.flatMap { r =>
      val qId = r.get(pQid)
      val qv = r.getSeq[Double](pQv).toArray
      // (sim desc, list_id asc) — Double.compare, not negation: Spark's
      // desc sorts NaN as GREATEST (a zero-norm probe must rank lists
      // identically here), while Scala's ordering on -sim put NaN last;
      // ids compare numerically when integral, lexically otherwise (no
      // toString.toLong — a string list_id must not throw here)
      val ranked = seeds
        .map { case (lid, sv) => (lid, dot(qv, sv)) }
        .sortWith { case ((lidA, sA), (lidB, sB)) =>
          val c = java.lang.Double.compare(sB, sA)
          if (c != 0) c < 0
          else ((lidA, lidB) match {
            case (a: Number, b: Number) =>
              java.lang.Long.compare(a.longValue(), b.longValue())
            case (a, b) => a.toString.compareTo(b.toString)
          }) < 0
        }
        .take(nprobe)
      val lut: Seq[Seq[Double]] = (0 until m).map { mi =>
        centsArr(mi).toSeq.map { c =>
          var s = 0.0; var j = 0
          while (j < sub) { s += qv(mi * sub + j) * c(j); j += 1 }
          s
        }
      }
      ranked.map { case (lid, _) =>
        org.apache.spark.sql.Row(qId, qv.toSeq, lid, lut)
      }
    }
    val probeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id", qIdType, nullable = false),
      org.apache.spark.sql.types.StructField("q_v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, false), nullable = false),
      org.apache.spark.sql.types.StructField("list_id", listIdType, nullable = false),
      org.apache.spark.sql.types.StructField("lut",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, false), false),
        nullable = false)))
    val probeLists = spark.createDataFrame(
      java.util.Arrays.asList(probeData: _*), probeSchema)
    // bounded: ≤ `lists` values — lets the persisted path prune files
    val probed = probeData.map(r => java.lang.Long.valueOf(
        r.get(2).toString).longValue()).distinct.toSeq.sorted
    val index0 = indexFor(probed)
    val index = candidates.fold(index0)(c =>
      index0.join(c.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    // ADC within the probed lists only — native fused lookup (the HOF
    // zip_with/element_at/aggregate form pays interpreted dispatch per
    // subspace on the hottest per-candidate expression)
    val adc = index.join(probeLists, Seq("list_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx_dot",
        graft.functions.AdcScore.score(spark, col("codes"), col("lut")))
      .withColumn("approx_norm",
        sqrt(graft.functions.AdcScore.score(spark, col("codes"), normLit)))
      .withColumn("sim_pq", col("approx_dot") / col("approx_norm")) // ‖q‖=1
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("sim_pq").desc, col("vec_id").asc)
    val cands = adc.withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= shortlist)
      .select(col("q_id"), col("q_v"), col("vec_id"))
    // exact re-rank of the fetched shortlist vectors
    val fine = cands
      .join(emb.select(col("vec_id"), col("v")), Seq("vec_id"))
      .withColumn("sim", round(dotC(col("q_v"), col("v")), 6)) // unit: dot = cosine
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    fine.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("sim"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  /** S6: matryoshka (truncated-dimension) two-stage retrieval — the
    * production coarse-to-fine pattern: score ALL candidates on the
    * first 16 of 64 dims (4× cheaper per comparison, and with
    * MRL-trained embeddings nearly rank-preserving), keep top-10 per
    * probe, then re-rank only those on full dims for the final top-3.
    * At 100 TB the coarse pass is the only corpus-wide scan and it
    * reads a quarter of the vector bytes; the fine pass touches
    * 10 rows per probe. Both stages are deterministic fold math →
    * fully oracle-able (unlike LSH/IVF, which trade exactness).
    */
  def s6MatryoshkaTopK(spark: SparkSession, dir: String): DataFrame = {
    val dims = 16
    val emb = Q.t(spark, dir, "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("v16", slice(col("v"), 1, dims))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("v16").as("q_v16"))
    val coarse = emb.join(broadcast(probes), col("vec_id") =!= col("q_id"))
      .withColumn("sim16",
        round(CosineSimilarity.cosine(spark, col("q_v16"), col("v16")), 6))
    val w16 = Window.partitionBy(col("q_id"))
      .orderBy(col("sim16").desc, col("vec_id").asc)
    val cands = coarse.withColumn("rn16", row_number().over(w16))
      .filter(col("rn16") <= 10)
    val fine = cands
      .withColumn("sim", round(CosineSimilarity.cosine(spark, col("q_v"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    fine.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"),
        col("sim"), col("sim16"))
      .orderBy(col("q_id").asc, col("rn").asc)
  }

  val s6Oracle: String = {
    def dot(x: String, y: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($x, $y), p -> p[1] * p[2])), (a, b) -> a + b)"
    def cos(x: String, y: String) =
      s"round(${dot(x, y)} / (sqrt(${dot(x, x)}) * sqrt(${dot(y, y)})), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |            (embedding::DOUBLE[])[1:16] AS v16 FROM embeddings),
       |coarse AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor,
       |    q.v AS q_v, c.v AS c_v,
       |    ${cos("q.v16", "c.v16")} AS sim16
       |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
       |cands AS (
       |  SELECT * FROM (
       |    SELECT q_id, neighbor, q_v, c_v, sim16,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY sim16 DESC NULLS LAST, neighbor ASC NULLS FIRST) AS rn16
       |    FROM coarse)
       |  WHERE rn16 <= 10),
       |fine AS (
       |  SELECT q_id, neighbor, sim16, ${cos("q_v", "c_v")} AS sim
       |  FROM cands)
       |SELECT q_id, rn, neighbor, sim, sim16 FROM (
       |  SELECT q_id, neighbor, sim, sim16,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC NULLS LAST, neighbor ASC NULLS FIRST) AS INT) AS rn
       |  FROM fine)
       |WHERE rn <= 3
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s6_matryoshka_topk" -> s6MatryoshkaTopK,
    "s1_cosine_topk" -> ((s, d) => s1TopKAuto(s, d)),
    "s2_lsh_ann" -> s2LshAnn,
    "s3_centroids" -> s3Centroids,
    "s4_ivf_ann" -> ((s, d) => s4IvfAnn(s, d)),
    "s14_filtered_ivf" -> ((s, d) => s14FilteredIvf(s, d)),
    "s14b_filtered_index" -> ((s, d) => s14bFilteredIndex(s, d)),
    "s5_quantized_topk" -> s5QuantizedTopK,
    "s7_pq_ann" -> ((s, d) => s7PqAnn(s, d)),
    "s8_ivfpq_ann" -> ((s, d) => s8IvfPqAnn(s, d)),
    "s9_pq_persisted" -> ((s, d) => s9PqPersisted(s, d)),
    "s10_hybrid_rrf" -> s10HybridRrf,
    "s10b_bm25_rrf" -> s10bBm25Rrf,
    "s11_knn_graph" -> ((s, d) => s11KnnGraphAuto(s, d)),
    "s12_mmr" -> ((s, d) => s12Mmr(s, d)),
    "s13_nsw_ann" -> s13NswAnn)

  /** S9: the persisted-index serving path — build the IVF-PQ index
    * ONCE per corpus (first invocation; a lakehouse table + codebook
    * sidecar under java.io.tmpdir keyed by the corpus dir), then serve
    * every query from it: read the probed lists' files, ADC, exact
    * re-rank. Same parameters and shared code path as `s8_ivfpq_ann`,
    * so results are identical (PqIndexSpec asserts it) — the
    * difference is that s8 pays the build per invocation and s9 pays
    * it once, which at 100 TB is the difference between a query and an
    * hours-long index job.
    */
  def s9PqPersisted(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.PqIndex
    val emb = unitVectors(spark, dir)
    val key = java.lang.Integer.toHexString(dir.hashCode)
    val root = s"${sys.props("java.io.tmpdir")}/graft_pq_idx_v1_$key"
    val idx = PqIndex.load(spark, root)
      .getOrElse(PqIndex.build(spark, emb, root,
        lists = 16, m = 16, k = 32, lloydIters = 1))
    val probes0 = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    idx.query(emb, probes0, nprobe = 4, shortlist = 30, topK = 3)
  }

  /** S13: graph-ANN serving — the persisted NSW index
    * ([[graft.operators.NswIndex]]): build once per corpus (kNN graph
    * + undirected cap + entry points), then every query is a greedy
    * beam search over O(ef·m) nodes. The graph-navigable counterpart
    * to s9's IVF-PQ serving path; engine-specific traversal → rows-only
    * gate, recall vs exact asserted in NswIndexSpec.
    */
  def s13NswAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.NswIndex
    val emb = unitVectors(spark, dir)
    val key = java.lang.Integer.toHexString(dir.hashCode)
    val root = s"${sys.props("java.io.tmpdir")}/graft_nsw_idx_v4_$key"
    val idx = NswIndex.load(spark, root)
      .getOrElse(NswIndex.build(spark, emb, root))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    idx.query(probes, topK = 3, ef = 64)
  }

  private def s5DotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($x, $y), " +
      "p -> p[1] * p[2])), (a, b) -> a + b)"

  val s5Oracle: String = {
    val cos = s"round(${s5DotSql("q.q_v", "d.dv")} / " +
      s"(sqrt(${s5DotSql("q.q_v", "q.q_v")}) * " +
      s"sqrt(${s5DotSql("d.dv", "d.dv")})), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id < 10),
       |c AS (SELECT vec_id,
       |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v
       |  FROM e),
       |d AS (SELECT vec_id,
       |  CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
       |       ELSE list_transform(v, x -> round(x / scale) * scale) END
       |    AS dv
       |  FROM c),
       |scored AS (
       |  SELECT q.q_id, d.vec_id, $cos AS sim
       |  FROM d CROSS JOIN q WHERE d.vec_id <> q.q_id),
       |rk AS (
       |  SELECT q_id, vec_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id ASC) AS INT) AS rn
       |  FROM scored)
       |SELECT q_id, rn, vec_id AS neighbor, sim FROM rk WHERE rn <= 3
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  /** s2's oracle: the 32 hyperplanes are data-independent constants
    * (driver-side [[LshPlanes.planeComponentValue]]), so they embed as
    * double literals (shortest round-trip form — parses back to the
    * identical bits) and DuckDB re-derives signatures, buckets,
    * candidates and the re-rank independently: the same left-fold dot
    * the plan uses, so every sign bit matches exactly.
    */
  val s2Oracle: String = {
    // string-cast form: a BARE decimal literal parses as DECIMAL first
    // in DuckDB and the DECIMAL→DOUBLE conversion can land 1 ulp off
    // strtod (measured on 108 of the 1001 possible plane values);
    // CAST('…' AS DOUBLE) parses the shortest-round-trip string
    // directly to the identical bits
    def lits(i: Int): String = (0 until LshPlanes.dims)
      .map(j => "CAST('" +
        java.lang.Double.toString(LshPlanes.planeComponentValue(i, j)) +
        "' AS DOUBLE)")
      .mkString("[", ", ", "]")
    def dotP(p: Int): String =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip(v, ${lits(p)}), " +
        "q -> q[1] * q[2])), (a, b) -> a + b)"
    val tables = (0 until LshPlanes.nTables).map { t =>
      val bucket = (0 until LshPlanes.planesPerTable).map { p =>
        s"(CASE WHEN ${dotP(t * LshPlanes.planesPerTable + p)} > 0 " +
          s"THEN 1 ELSE 0 END) * ${1 << p}"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucket AS bucket FROM e"
    }.mkString("\nUNION ALL\n")
    val cos = s"round(${s5DotSql("q.v", "x.v")} / " +
      s"(sqrt(${s5DotSql("q.v", "q.v")}) * sqrt(${s5DotSql("x.v", "x.v")})), 6)"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE len(list_filter(embedding::DOUBLE[],
       |                     x -> x IS NULL OR isnan(x))) = 0),
       |bucketed AS ($tables),
       |pb AS (SELECT vec_id AS q_id, tbl, bucket FROM bucketed
       |       WHERE vec_id < 10),
       |cands AS (
       |  SELECT DISTINCT p.q_id, b.vec_id
       |  FROM bucketed b JOIN pb p ON b.tbl = p.tbl AND b.bucket = p.bucket
       |  WHERE b.vec_id <> p.q_id),
       |scored AS (
       |  SELECT c.q_id, c.vec_id, $cos AS sim
       |  FROM cands c
       |  JOIN e x ON x.vec_id = c.vec_id
       |  JOIN e q ON q.vec_id = c.q_id),
       |rk AS (
       |  SELECT q_id, vec_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id ASC) AS INT) AS rn
       |  FROM scored)
       |SELECT q_id, rn, vec_id AS neighbor, sim FROM rk WHERE rn <= 3
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  val s4Oracle: String = {
    def cosOf(a: String, b: String): String =
      s"${s5DotSql(a, b)} / (sqrt(${s5DotSql(a, a)}) * sqrt(${s5DotSql(b, b)}))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS list_id, v AS seed_v FROM e
       |  WHERE vec_id % 31 = 0 ORDER BY vec_id ASC LIMIT 16),
       |seed_scored AS (
       |  SELECT e.vec_id, e.v, s.list_id,
       |    ${cosOf("e.v", "s.seed_v")} AS seed_sim,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosOf("e.v", "s.seed_v")} DESC, s.list_id ASC)
       |      AS seed_rn
       |  FROM e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, v, list_id FROM seed_scored WHERE seed_rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, v AS q_v, list_id
       |  FROM seed_scored WHERE vec_id < 10 AND seed_rn <= 4),
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    round(${cosOf("p.q_v", "a.v")}, 6) AS sim
       |  FROM assigned a JOIN probes p ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.q_id),
       |rk AS (
       |  SELECT q_id, vec_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id ASC) AS INT) AS rn
       |  FROM scored)
       |SELECT q_id, rn, vec_id AS neighbor, sim FROM rk WHERE rn <= 3
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  val s14Oracle: String = {
    def cosOf(a: String, b: String): String =
      s"${s5DotSql(a, b)} / (sqrt(${s5DotSql(a, a)}) * sqrt(${s5DotSql(b, b)}))"
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS list_id, v AS seed_v FROM e
       |  WHERE vec_id % 31 = 0 ORDER BY vec_id ASC LIMIT 16),
       |seed_scored AS (
       |  SELECT e.vec_id, e.label, e.v, s.list_id,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosOf("e.v", "s.seed_v")} DESC, s.list_id ASC)
       |      AS seed_rn
       |  FROM e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, label, v, list_id FROM seed_scored WHERE seed_rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, label AS q_label, v AS q_v, list_id
       |  FROM seed_scored WHERE vec_id < 10 AND seed_rn <= 4),
       |scored AS (
       |  SELECT p.q_id, p.q_label, a.vec_id,
       |    round(${cosOf("p.q_v", "a.v")}, 6) AS sim
       |  FROM assigned a JOIN probes p ON a.list_id = p.list_id
       |  WHERE a.vec_id <> p.q_id AND a.label = p.q_label),
       |rk AS (
       |  SELECT q_id, q_label, vec_id, sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id ASC) AS INT) AS rn
       |  FROM scored)
       |SELECT q_id, q_label, rn, vec_id AS neighbor, sim FROM rk WHERE rn <= 3
       |ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "s14_filtered_ivf" -> s14Oracle,
    // the persisted detour must be invisible: same oracle as s14
    "s14b_filtered_index" -> s14Oracle,
    "s1_cosine_topk" -> s1Oracle,
    "s10_hybrid_rrf" -> s10Oracle,
    "s10b_bm25_rrf" -> s10bOracle,
    "s11_knn_graph" -> s11Oracle,
    "s2_lsh_ann" -> s2Oracle,
    "s4_ivf_ann" -> s4Oracle,
    "s5_quantized_topk" -> s5Oracle,
    "s6_matryoshka_topk" -> s6Oracle)
}

/** Deterministic pseudo-random hyperplanes for multi-table sign-LSH:
  * plane i, component j has value (xxhash64(i, j) mod 1001)/500 - 1 ∈
  * [-1, 1]. Data-independent and identical on every executor — and
  * therefore computed ONCE on the driver and baked into the plan as
  * array literals: the naive in-plan form re-evaluated xxhash64 for
  * every (row × 32 planes × 64 dims) ≈ 2,048 hash calls per row on
  * the corpus-wide signature pass — pure waste at scale. The literal
  * arrays are bit-identical to the old formula (asserted in
  * SimilaritySpec), so buckets are unchanged. Multiple small tables
  * (union of candidates) trade candidate volume for recall — one
  * table of many planes has near-zero recall on near-orthogonal
  * vectors.
  */
object LshPlanes {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.XXH64

  val nTables = 8
  val planesPerTable = 4

  /** Embedding dimensionality the plane literals are built for (the
    * `embeddings` table's vectors). A vector of any OTHER length
    * throws at evaluation time ([[tableBuckets]] guards on size):
    * zip_with would pad the shorter side with NULLs, the dot product
    * would go NULL, and the sign coercion would drop every such
    * vector into bucket 0 of every table — an all-pairs bucket, the
    * silently-wrong case the guard exists to prevent. NULL vectors
    * pass through to NULL buckets (an equi-join drops them — no
    * candidates, not wrong candidates).
    */
  val dims = 64

  /** Driver-side replica of the in-plan formula
    * `(pmod(xxhash64(lit(i), j), 1001) / 500.0) - 1.0` with both
    * arguments IntegerType: Spark's xxhash64 chains
    * XXH64.hashInt(arg, seed) left-to-right from seed 42.
    */
  private[graft] def planeComponentValue(i: Int, j: Int): Double = {
    val h = XXH64.hashInt(j, XXH64.hashInt(i, 42L))
    (((h % 1001L) + 1001L) % 1001L).toDouble / 500.0 - 1.0
  }

  private lazy val planeLits: IndexedSeq[Column] =
    (0 until nTables * planesPerTable).map { i =>
      array((0 until dims).map(j => lit(planeComponentValue(i, j))): _*)
    }

  private def signBit(v: Column, plane: Int): Column = {
    val dot = aggregate(
      zip_with(v, planeLits(plane), (x, w) => x * w),
      lit(0.0), (acc, x) => acc + x)
    // two-sided when: a NULL dot (NULL vector) stays NULL instead of
    // being coerced to sign 0
    when(dot > 0, 1).when(dot <= 0, 0)
  }

  /** HOF reference form of the signature — one (table, bucket) struct
    * per table. The hot path uses [[graft.functions.LshBuckets]] (one
    * fused native loop); this composition exists as the independently-
    * derived parity oracle for it (LlmOpsSpec asserts bucket-identical
    * output on the corpus).
    *
    * The guard wraps the FINAL bucket array, not the input vector:
    * substituting a `when/raise_error` expression into each of the 32
    * sign-bit folds defeats common-subexpression elimination
    * (`raise_error` is side-effecting, so Catalyst must re-evaluate the
    * whole guard CASE per plane — measured 12.5× slower). Here the
    * size check runs once per row; valid rows evaluate the folds on the
    * plain vector, NULL vectors yield a NULL array (explode drops them —
    * no candidates, not wrong candidates), and wrong-dim vectors still
    * throw loudly.
    */
  def tableBucketsHof(v: Column): Column = {
    val buckets = array((0 until nTables).map { t =>
      val bucket = (0 until planesPerTable)
        .map(p => signBit(v, t * planesPerTable + p) * (1 << p))
        .reduce(_ + _)
      struct(lit(t).as("table"), bucket.as("bucket"))
    }: _*)
    when(size(v) === dims, buckets)
      .when(v.isNull, lit(null))
      .otherwise(raise_error(concat(
        lit(s"LshPlanes requires $dims-dim vectors, got length "),
        size(v).cast("string"))))
  }
}

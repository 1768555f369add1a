package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (`Array[Float]`, 64 dims).
  *
  * Three tiers, per the pipeline brief:
  *  - `ss_topk_bruteforce`: exact cosine top-k — the correctness baseline,
  *    oracle-checked against DuckDB's list_cosine_similarity;
  *  - `ss_ann_lsh`: random-hyperplane LSH buckets -> candidate join ->
  *    exact rerank (bucket join replaces the O(n*q) cross join);
  *  - `ss_ann_ivf`: IVF-lite coarse-centroid cells with probe-2 search.
  * All three share one rerank epilogue so their ranking contracts cannot
  * drift apart.
  */
object Similarity {

  // NOTE (r21, measured): a [[Spread]] scan-parallelism floor on the
  // embeddings loads was tried and REVERTED — the ANN paths' per-vector
  // CPU (quantize, bucket) is light enough at any one scan that the
  // added exchange + extra codegen stage cost more on a cold first
  // iteration than the parallelism bought (interleaved A/B:
  // ss_topk_bruteforce 1.07->1.37 cold, ss_ann_ivf 1.8->2.35 cold).
  private val TopK = 8
  private val NumQueries = 5
  // adaptive IVF probe: cells with angular distance within ProbeRatio of
  // the query's best cell are scanned, up to MaxProbes (cost ceiling)
  private val MaxProbes = 6
  private val ProbeRatio = 1.8
  // adaptive IVF assignment: a vector whose SECOND centroid sits within
  // AssignRatio of its best angular distance is a boundary vector and is
  // indexed in both cells — exactly the vectors fixed probe-1 assignment
  // loses when the query probes from the other side of the boundary. The
  // index grows only for boundary vectors (bounded <1.5x by spec).
  // Ratio sweep on the fixture (probe side fixed at 1.8/6):
  //   1.05 -> growth 1.05x recall 0.725   1.20 -> growth 1.41x recall 0.825
  //   1.30 -> growth 1.66x recall 0.850   1.40 -> growth 1.83x recall 0.875
  // 1.2 is the knee: the last point under the 1.5x index-growth budget.
  private val AssignProbes = 2
  private val AssignRatio = 1.2

  // range-search LSH banding (ss_range_search_lsh_det): 24 tables x 6
  // planes from the fixture sweep — P drives candidate selectivity
  // (64 buckets/table), T buys back the recall each extra plane costs
  // (T=16,P=6 -> 0.905; T=24,P=6 -> 0.957 at 0.42x-of-cross candidates)
  private[graft] val RangeTables = 24
  private[graft] val RangePlanes = 6
  private[graft] val RangeQueries = 40
  // query ids of the det ANN twins (ss_ann_lsh_det / ss_ann_ivf_det)
  private val DetQueries = 40

  /** Quantized 16-prefix as one BIGINT-array column — native codegen'd
    * kernel (the HOF `transform(slice(...))` form is CodegenFallback
    * with boxed per-element lambdas; arithmetic identical either way).
    */
  private def qvArr: org.apache.spark.sql.Column =
    graft.functions.NativeExpressions.quantizePrefix(col("embedding"), 16)

  /** BIGINT fold of an array column (sum of elements). */
  private def foldSum(arr: String): org.apache.spark.sql.Column =
    expr(s"aggregate($arr, 0L, (acc, v) -> acc + v)")

  /** Banded-LSH candidate pairs for the radius path: every (query,
    * neighbor) sharing at least one of the [[RangeTables]] buckets —
    * ids-only through the bucket equi-join and the dedup; the query side
    * stays broadcast.
    */
  private[graft] def rangeLshCandidates(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val qv8 =
      graft.functions.NativeExpressions.quantizePrefix(col("embedding"), 8)
    queryBucketCandidates(e.select(col("vec_id"),
      posexplode(DetLsh.bucketArray(qv8, RangeTables, RangePlanes))
        .as(Seq("t", "bucket"))), RangeQueries)
  }

  /** Query-side LSH candidate join shared by the det top-k and radius
    * paths: every (query, neighbor) pair of `long(vec_id, t, bucket)`
    * sharing a bucket, with ids below `queries` as the broadcast query
    * side — ids-only through the bucket equi-join and the dedup.
    */
  private def queryBucketCandidates(long: DataFrame,
                                    queries: Int): DataFrame = {
    val q = long.filter(col("vec_id") < queries)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
    long.select(col("vec_id").as("n_id"), col("t"), col("bucket"))
      .join(broadcast(q), Seq("t", "bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id")).distinct()
  }

  /** Det ANN tail shared by the LSH and IVF det twins: scores each
    * (q_id, n_id) candidate by the BIGINT dot product of the quantized
    * 16-prefixes in `base(vec_id, qv)` (query side broadcast) and keeps
    * each query's top 3 in (score DESC, n_id) order.
    */
  private def detTop3(cand: DataFrame, base: DataFrame): DataFrame = {
    val qSide = base.filter(col("vec_id") < DetQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val nSide = base.select(col("vec_id").as("n_id"),
      col("qv").as("n_qv"))
    val scored = cand.join(broadcast(qSide), "q_id")
      .join(nSide, "n_id")
      .withColumn("score", graft.functions.NativeExpressions
        .intDot(col("q_qv"), col("n_qv")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("n_id"), col("score"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Candidates with the BIGINT dot product and squared norms of the
    * quantized 16-prefixes attached — the exact-verify input shared by
    * the det radius query and its recall spec. Norms are PER-VECTOR
    * (computed once on the 2-column base frame, not per candidate pair),
    * and the pair-level dot runs through the native codegen'd
    * [[graft.functions.NativeExpressions.intDot]] kernel — the HOF form
    * is CodegenFallback and gets duplicated into the join condition by
    * predicate inlining (arithmetic identical either way: sequential
    * long multiply-add).
    */
  private[graft] def rangeLshScored(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NativeExpressions.intDot
    val e = Tables.embeddings(s, d)
    val base = e.select(col("vec_id"), qvArr.as("qv"))
      .withColumn("nrm", intDot(col("qv"), col("qv")))
    val qSide = base.filter(col("vec_id") < RangeQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("na"))
    val nSide = base.select(col("vec_id").as("n_id"),
      col("qv").as("n_qv"), col("nrm").as("nb"))
    rangeLshCandidates(s, d)
      .join(broadcast(qSide), "q_id")
      .join(nSide, "n_id")
      .withColumn("dot", intDot(col("q_qv"), col("n_qv")))
  }

  /** The brute-force integer-radius twin (bounded broadcast cross) the
    * recall spec measures [[rangeLshScored]] against — same quantized
    * space, same cross-multiplied radius check, no prefilter.
    */
  private[graft] def rangeBruteInt(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NativeExpressions.intDot
    val e = Tables.embeddings(s, d)
    val base = e.select(col("vec_id"), qvArr.as("qv"))
      .withColumn("nrm", intDot(col("qv"), col("qv")))
    val q = base.filter(col("vec_id") < RangeQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("na"))
    base.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
        col("nrm").as("nb"))
      .crossJoin(broadcast(q))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("dot", intDot(col("q_qv"), col("n_qv")))
      .filter(col("dot") >= 0 &&
        col("dot") * col("dot") * 25 >= col("na") * col("nb") * 9)
      .select(col("q_id"), col("n_id"))
  }

  /** Spherical k-means (Lloyd's) fit on a bounded deterministic sample —
    * the IVF coarse-quantizer "fit job". Model fitting is the one place a
    * bounded driver-side loop is the right call: the sample is capped at
    * `sampleN` vectors regardless of table size (at cluster scale the
    * sample would come from `df.sample`; a keyed `limit` keeps this
    * deterministic for the oracle/bench loop).
    */
  def fitCentroids(e: DataFrame, k: Int = 16, sampleN: Int = 512,
                   iters: Int = 8): Seq[(Int, Array[Float])] = {
    val sample: Array[Array[Float]] = e
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(sampleN)
      .collect().map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "fitCentroids: empty input")
    val dim = sample.head.length
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    // init: spread seeds across the sample deterministically
    var cents: Array[Array[Float]] =
      (0 until k).map(i => sample((i * sample.length / k) % sample.length).clone()).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.MinValue
        var c = 0
        while (c < k) {
          val s = cos(v, cents(c)); if (s > bestSim) { bestSim = s; best = c }; c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old // empty cell keeps its centroid
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
  }

  /** Multi-cell nearest-centroid expansion shared by IVF assignment and
    * probing: always the best cell, plus every cell whose angular
    * distance (1 - cos) is within `ratio` of the best cell's, capped at
    * `maxProbes`. One broadcast of the centroid frame; the input never
    * shuffles.
    */
  private def nearestCells(cents: DataFrame, vecs: DataFrame,
                           idC: String, vC: String,
                           maxProbes: Int, ratio: Double): DataFrame = {
    val byId = Window.partitionBy(col(idC))
    val w = byId.orderBy(col("c_sim").desc, col("c_id"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("c_sim", cosine(col(vC), col("c_v")))
      .withColumn("c_rank", row_number().over(w))
      .withColumn("c_best", max(col("c_sim")).over(byId))
      .filter(col("c_rank") === 1 ||
        (col("c_rank") <= maxProbes &&
          lit(1.0) - col("c_sim") <=
            lit(ratio) * (lit(1.0) - col("c_best"))))
      .drop("c_v", "c_sim", "c_rank", "c_best")
  }

  /** The IVF index frame: every embedding assigned to its nearest cell,
    * boundary embeddings (second centroid within [[AssignRatio]] of the
    * best angular distance) additionally to their second cell. Exposed so
    * the recall spec can bound the index growth the boundary duplication
    * buys.
    */
  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val cents = fitCentroids(e).toDF("c_id", "c_v")
    nearestCells(cents,
      e.select(col("vec_id").as("n_id"), col("embedding").as("n_v")),
      "n_id", "n_v", maxProbes = AssignProbes, ratio = AssignRatio)
  }

  /** Shared exact-rerank epilogue: expects (q_id, n_id, q_v, n_v) candidate
    * rows; scores by cosine, ranks per query with vec-id tie-break, keeps
    * the top k.
    */
  private def rerank(cands: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id"))
    cands.filter(col("n_id") =!= col("q_id"))
      .withColumn("score", cosine(col("q_v"), col("n_v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"))
      .orderBy(col("q_id"), col("rank"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------- ANN, det twin
    // The whole ANN pipeline SHAPE — bucket -> candidate equi-join ->
    // per-query top-k rerank — under the FULL hash oracle (ss_ann_lsh /
    // ss_ann_ivf stay rows-only: their plane matrices, float cosines
    // and centroid fits are engine-specific). Same determinism recipe
    // as dd_embed_lsh_det ([[DetLsh]]): md5-derived integer planes,
    // integer-quantized vectors — and the RERANK scores by the integer
    // dot product of the quantized prefixes with (score DESC, id) tie
    // order, so ranks are bit-reproducible in DuckDB. Plan shape
    // matches the engine form: broadcast query side, ids-only candidate
    // dedup, WindowGroupLimit top-k.
    QueryDef("ss_ann_lsh_det",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        // banding through the native DetLshBuckets kernel (constant-size
        // generated code) — the unrolled bucketCols Column tree made this
        // query's COLD-JVM cost ~9-10 s (the r16 driver-bench anomaly's
        // magnitude; receipt in BASELINE.md round-17 adjudication)
        val base = e.select(col("vec_id"), qvArr.as("qv"),
          DetLsh.bucketArray(graft.functions.NativeExpressions
              .quantizePrefix(col("embedding"), DetLsh.Dims),
            DetLsh.Tables, DetLsh.Planes).as("bks"))
        detTop3(queryBucketCandidates(base.select(col("vec_id"),
            posexplode(col("bks")).as(Seq("t", "bucket"))), DetQueries),
          base)
      },
      Some(s"""WITH v AS (
              |  SELECT vec_id, list_transform(range(1, 17), j ->
              |    CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000)
              |      AS BIGINT)) AS qv
              |  FROM embeddings
              |), ${DetLsh.planesSql},
              |cand AS (
              |  SELECT DISTINCT qb.vec_id AS q_id, nb.vec_id AS n_id
              |  FROM buckets qb JOIN buckets nb
              |    ON qb.t = nb.t AND qb.bucket = nb.bucket
              |  WHERE qb.vec_id < 40 AND nb.vec_id <> qb.vec_id
              |), scored AS (
              |  SELECT c.q_id, c.n_id,
              |    CAST(list_sum(list_transform(range(1, 17), j ->
              |      a.qv[j] * b.qv[j])) AS BIGINT) AS score
              |  FROM cand c
              |  JOIN v a ON a.vec_id = c.q_id
              |  JOIN v b ON b.vec_id = c.n_id
              |)
              |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, score FROM (
              |  SELECT q_id, n_id, score,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY score DESC, n_id) AS rnk
              |  FROM scored) r
              |WHERE rnk <= 3
              |ORDER BY q_id, rnk""".stripMargin)),

    // ------------------------------------------------- IVF ANN, det twin
    // The IVF pipeline SHAPE — coarse-cell assignment -> multi-cell
    // probe -> cell equi-join -> exact top-k rerank — under the FULL
    // hash oracle (ss_ann_ivf stays rows-only: its k-means fit and float
    // cosines are engine-specific). Determinism recipe: the coarse
    // quantizer is a fixed 3x3 grid over the first two INTEGER-quantized
    // dims (the dd_semdedup_det trick), probe-2 picks the two nearest
    // cell centers by INTEGER squared distance (ties by c_id), and the
    // rerank scores by the integer dot product of the quantized
    // 16-prefixes — every comparison is BIGINT arithmetic, so DuckDB
    // reproduces cells, probes, candidates and ranks bit-exactly. Plan
    // shape matches the engine form: 9-row broadcast cell frame, probe
    // side broadcast into the candidate equi-join, WindowGroupLimit
    // top-k.
    QueryDef("ss_ann_ivf_det",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        def bin(i: Int) = {
          val v = element_at(col("qv"), i)
          when(v < -100L, 0).when(v < 100L, 1).otherwise(2)
        }
        val base = e.select(col("vec_id"), qvArr.as("qv"))
        val assigned = base.withColumn("c_id",
          (bin(1) * 3 + bin(2)).cast("long"))
        val cells = (for (x <- 0 to 2; y <- 0 to 2)
          yield ((x * 3 + y).toLong, (x - 1) * 300L, (y - 1) * 300L))
          .toDF("c_id", "cx", "cy")
        val q1 = element_at(col("qv"), 1)
        val q2 = element_at(col("qv"), 2)
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("dist"), col("c_id"))
        val probes = assigned.filter(col("vec_id") < DetQueries)
          .select(col("vec_id").as("q_id"), col("qv"))
          .crossJoin(broadcast(cells))
          .withColumn("dist", (q1 - col("cx")) * (q1 - col("cx")) +
            (q2 - col("cy")) * (q2 - col("cy")))
          .withColumn("pr", row_number().over(w))
          .filter(col("pr") <= 2)
          .select(col("q_id"), col("c_id"))
        // a vector sits in exactly ONE cell and a query's probe cells are
        // distinct, so (q_id, n_id) occurs at most once — no dedup needed
        detTop3(assigned
            .select(col("vec_id").as("n_id"), col("c_id"))
            .join(broadcast(probes), Seq("c_id"))
            .filter(col("n_id") =!= col("q_id"))
            .select(col("q_id"), col("n_id")),
          base)
      },
      Some("""WITH v AS (
             |  SELECT vec_id, list_transform(range(1, 17), j ->
             |    CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000)
             |      AS BIGINT)) AS qv
             |  FROM embeddings
             |), assigned AS (
             |  SELECT vec_id, qv,
             |    CAST((CASE WHEN qv[1] < -100 THEN 0
             |               WHEN qv[1] < 100 THEN 1 ELSE 2 END) * 3 +
             |         (CASE WHEN qv[2] < -100 THEN 0
             |               WHEN qv[2] < 100 THEN 1 ELSE 2 END)
             |      AS BIGINT) AS c_id
             |  FROM v
             |), cells AS (
             |  SELECT CAST(x * 3 + y AS BIGINT) AS c_id,
             |    CAST((x - 1) * 300 AS BIGINT) AS cx,
             |    CAST((y - 1) * 300 AS BIGINT) AS cy
             |  FROM (SELECT unnest([0, 1, 2]) AS x),
             |       (SELECT unnest([0, 1, 2]) AS y)
             |), probes AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT a.vec_id AS q_id, c.c_id,
             |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
             |        (a.qv[1] - c.cx) * (a.qv[1] - c.cx) +
             |        (a.qv[2] - c.cy) * (a.qv[2] - c.cy), c.c_id) AS pr
             |    FROM assigned a CROSS JOIN cells c
             |    WHERE a.vec_id < 40) p
             |  WHERE pr <= 2
             |), cand AS (
             |  SELECT p.q_id, n.vec_id AS n_id
             |  FROM probes p JOIN assigned n ON n.c_id = p.c_id
             |  WHERE n.vec_id <> p.q_id
             |), scored AS (
             |  SELECT c.q_id, c.n_id,
             |    CAST(list_sum(list_transform(range(1, 17), j ->
             |      a.qv[j] * b.qv[j])) AS BIGINT) AS score
             |  FROM cand c
             |  JOIN v a ON a.vec_id = c.q_id
             |  JOIN v b ON b.vec_id = c.n_id
             |)
             |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, score FROM (
             |  SELECT q_id, n_id, score,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY score DESC, n_id) AS rnk
             |  FROM scored) r
             |WHERE rnk <= 3
             |ORDER BY q_id, rnk""".stripMargin)),

    // ------------------------------------------------------------ brute
    // Exact top-k: tiny query side is broadcast; the big side streams once.
    // row_number ties broken by vec_id so the ranking is total.
    // Oracle stability: adjacent-score gaps in the top-9 are >=2e-4 and the
    // rank-8 boundary gaps >=2.3e-3 on the verify dataset — two orders of
    // magnitude above the float-vs-double engine discrepancy (~1e-6), so
    // ranks cannot flip between Spark and DuckDB.
    QueryDef("ss_topk_bruteforce",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        rerank(e.select(col("vec_id").as("n_id"), col("embedding").as("n_v"))
          .crossJoin(broadcast(q)))
      },
      Some(s"""SELECT q_id, CAST(rn AS BIGINT) AS rank, n_id FROM (
              |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
              |    row_number() OVER (PARTITION BY q.vec_id
              |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
              |               e.vec_id) AS rn
              |  FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q,
              |       embeddings e
              |  WHERE e.vec_id <> q.vec_id) t
              |WHERE rn <= $TopK ORDER BY q_id, rank""".stripMargin)),

    // ------------------------------------------------------- range search
    // The OTHER similarity-search contract beside top-k: ALL neighbors
    // within a similarity radius (cosine >= 0.45) of each query — what a
    // retrieval filter uses when the neighbor count is data-dependent
    // (dedup candidates, safety blocklist matches) rather than fixed-k.
    // Query side broadcast (bounded set), one stream over the corpus,
    // membership-only output (scores are float and engine-specific; the
    // threshold sits far from any pair's score on this fixture, so
    // membership cannot flip — the dd_embed_cosine convention).
    QueryDef("ss_range_search",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        e.select(col("vec_id").as("n_id"), col("embedding").as("n_v"))
          .crossJoin(broadcast(q))
          .filter(col("n_id") =!= col("q_id") &&
            cosine(col("q_v"), col("n_v")) >= 0.45)
          .select(col("q_id"), col("n_id"))
          .orderBy(col("q_id"), col("n_id"))
      },
      Some(s"""SELECT q.vec_id AS q_id, e.vec_id AS n_id
              |FROM (SELECT * FROM embeddings WHERE vec_id < $NumQueries) q,
              |     embeddings e
              |WHERE e.vec_id <> q.vec_id
              |  AND list_cosine_similarity(q.embedding, e.embedding)
              |      >= 0.45
              |ORDER BY q_id, n_id""".stripMargin)),

    // ------------------------------------------- range search, LSH det twin
    // The SCALE path for radius search (ss_range_search is the bounded
    // exact baseline it verifies against): banded-LSH prefilter -> exact
    // radius verify, so an UNBOUNDED query side never pays a corpus x
    // query cross — candidates come from a bucket equi-join exactly like
    // the top-k LSH path. Fully deterministic ([[DetLsh]] recipe):
    // md5-derived integer planes over the quantized 8-prefix generate the
    // buckets, and the radius check is BIGINT-exact in the quantized
    // 16-prefix space — cosine(q, n) >= 3/5 rewritten cross-multiplied as
    //   dot >= 0  AND  25*dot^2 >= 9*|q|^2*|n|^2
    // (no sqrt, no floats; |qv| <= 16e6 keeps 25*dot^2 < 2^63), so DuckDB
    // reproduces candidates, verification and scores bit-exactly.
    // Banding (24 tables x 6 planes) picked by fixture sweep — the
    // selectivity/recall dial documented in BASELINE.md: measured recall
    // vs the brute twin 0.93-0.96 with candidates 0.40-0.42x of the cross
    // at sf0.001/0.01/0.1; the spec pins recall >= 0.85 and the
    // candidate-reduction bound.
    QueryDef("ss_range_search_lsh_det",
      (s, d) => {
        val scored = rangeLshScored(s, d)
        scored.filter(col("dot") >= 0 &&
            col("dot") * col("dot") * 25 >= col("na") * col("nb") * 9)
          .select(col("q_id"), col("n_id"), col("dot").as("score"))
          .orderBy(col("q_id"), col("n_id"))
      },
      Some(s"""WITH v AS (
              |  SELECT vec_id, list_transform(range(1, 17), j ->
              |    CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000)
              |      AS BIGINT)) AS qv
              |  FROM embeddings
              |), ${DetLsh.planesSqlN(RangeTables, RangePlanes)},
              |cand AS (
              |  SELECT DISTINCT qb.vec_id AS q_id, nb.vec_id AS n_id
              |  FROM buckets qb JOIN buckets nb
              |    ON qb.t = nb.t AND qb.bucket = nb.bucket
              |  WHERE qb.vec_id < $RangeQueries AND nb.vec_id <> qb.vec_id
              |), scored AS (
              |  SELECT c.q_id, c.n_id,
              |    CAST(list_sum(list_transform(range(1, 17), j ->
              |      a.qv[j] * b.qv[j])) AS BIGINT) AS dot,
              |    CAST(list_sum(list_transform(range(1, 17), j ->
              |      a.qv[j] * a.qv[j])) AS BIGINT) AS na,
              |    CAST(list_sum(list_transform(range(1, 17), j ->
              |      b.qv[j] * b.qv[j])) AS BIGINT) AS nb
              |  FROM cand c
              |  JOIN v a ON a.vec_id = c.q_id
              |  JOIN v b ON b.vec_id = c.n_id
              |)
              |SELECT q_id, n_id, dot AS score FROM scored
              |WHERE dot >= 0 AND 25 * dot * dot >= 9 * na * nb
              |ORDER BY q_id, n_id""".stripMargin)),

    // ------------------------------------------------------------ IVF ANN
    // IVF: 16 coarse centroids from a sampled spherical k-means fit.
    // BOTH sides of the cell equi-join are adaptive by distance ratio:
    //  - queries probe their best cell plus every cell within ProbeRatio
    //    of the best angular distance (<= MaxProbes of 16) — a query deep
    //    inside one cell scans almost nothing extra, a boundary query
    //    fans out to every plausible cell (probe-3 fixed 0.55 recall ->
    //    adaptive 0.725);
    //  - vectors are INDEXED in their best cell plus, for boundary
    //    vectors only, their second cell (AssignRatio) — the remaining
    //    misses were true neighbors assigned just across a boundary the
    //    probe never crossed (0.725 -> 0.825 on the fixture, floor 0.8;
    //    index growth 1.41x, bounded <1.5x by spec).
    // The cell equi-join replaces the O(n*q) cross join; a (q, n) pair
    // colliding in two shared cells is deduped before the rerank pays its
    // cosine. Engine-specific cells => rows-only check; recall vs brute
    // force is pinned in DedupSimilaritySpec.
    QueryDef("ss_ann_ivf",
      (s, d) => {
        import s.implicits._
        val e = Tables.embeddings(s, d)
        val cents = fitCentroids(e).toDF("c_id", "c_v")
        val assigned = ivfAssigned(s, d)
        val q = nearestCells(cents,
          e.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_v")),
          "q_id", "q_v", maxProbes = MaxProbes, ratio = ProbeRatio)
        rerank(assigned.join(broadcast(q), Seq("c_id"))
          .dropDuplicates("q_id", "n_id"))
      },
      None),

    // ------------------------------------------------------------ LSH ANN
    // Multi-table random-hyperplane LSH: 8 independent tables of 4 sign
    // bits (16 buckets each); a candidate collides in ANY table, then gets
    // exact rerank. Collision prob for a neighbor at angle θ is
    // 1-(1-(1-θ/π)^4)^8 ≈ 0.8 at the ~60° of this dataset's true top-k —
    // a single-probe 8-bit table was ~0.04 and had ~zero measured recall.
    // Candidate generation is an equi-join on (table,bucket) against the
    // broadcast query side; only id-deduped candidates pay the rerank.
    // Engine-specific bucketing => rows-only driver check; recall >= 0.45
    // vs brute force is asserted in DedupSimilaritySpec.
    QueryDef("ss_ann_lsh",
      (s, d) => {
        val tables = 8
        val planes = 4
        val e = Tables.embeddings(s, d)
        // ids-only through bucketing and candidate dedup (16-byte rows);
        // vectors attach only to the deduped candidate set; all tables'
        // buckets from one native pass (see HyperplaneBuckets)
        val bucketed = e.select(col("vec_id"),
          posexplode(hyperplaneBuckets(col("embedding"), tables, planes, 64))
            .as(Seq("table", "bucket")))
        val qB = bucketed.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("table"), col("bucket"))
        val cand = bucketed.select(col("vec_id").as("n_id"),
            col("table"), col("bucket"))
          .join(broadcast(qB), Seq("table", "bucket"))
          .select(col("q_id"), col("n_id")).distinct()
        val qV = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_v"))
        val nV = e.select(col("vec_id").as("n_id"), col("embedding").as("n_v"))
        rerank(cand.join(broadcast(qV), "q_id")
          .join(Joins.sizeGatedBroadcast(nV), "n_id"))
      },
      None)
  )
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions
import graft.functions.TextHashFunctions._

/** Deduplication operators over `documents` / `embeddings` — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash aggregation on a fingerprint;
  *  - MinHash/SimHash candidate generation never cross-joins: candidates
  *    come from equi-joins on band/chunk keys (shuffle on the key, skew
  *    bounded by band-bucket size), and only candidates pay the exact
  *    verification cost;
  *  - embedding near-dup exposes both the O(n^2) exact form (small n /
  *    oracle-checkable) and the LSH-bucketed form in Similarity.
  */
/** Deterministic LSH banding shared by the oracle twins
  * (`dd_embed_lsh_det`, `ss_ann_lsh_det`): md5-derived integer plane
  * components (DuckDB recomputes them in SQL with the md5Key60 trick)
  * against integer-quantized vectors (floor(dim * 1000)), so every
  * projection is pure BIGINT arithmetic — no float summation order for
  * the engines to disagree on, and the sign threshold is exact.
  */
private[graft] object DetLsh {
  val Tables = 2
  val Planes = 10
  val Dims = 8

  def md5Long(str: String): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString.take(15), 16)

  /** Plane component (t, p, j), j 1-based — matches the SQL derivation
    * `md5(t || ':' || p || ':' || j)` in [[planesSql]].
    */
  def comp(t: Int, p: Int, j: Int): Long =
    md5Long(s"$t:$p:$j") % 2001L - 1000L

  /** Quantized first-`Dims` components of `embedding` as Columns. */
  def quantized(vec: Column): Seq[Column] =
    (1 to Dims).map(j =>
      org.apache.spark.sql.functions.floor(
        vec.getItem(j - 1).cast("double") * 1000).cast("long"))

  /** Bucket Columns over pre-quantized components for an arbitrary
    * (tables, planes) banding — the selectivity/recall dial: more planes
    * per table shrinks buckets (more selective candidates), more tables
    * recovers the recall each extra plane costs. The md5 key namespace
    * `t:p:j` is shared across banding sizes, so a (2, 10) caller and a
    * (24, 6) caller derive overlapping-but-independent constants.
    */
  def bucketColsN(qv: Seq[Column], tables: Int, planes: Int): Seq[Column] =
    (0 until tables).map { t =>
      (0 until planes).map { p =>
        val proj = (1 to Dims).map(j =>
          org.apache.spark.sql.functions.lit(comp(t, p, j)) * qv(j - 1))
          .reduce(_ + _)
        org.apache.spark.sql.functions.when(proj >= 0,
            org.apache.spark.sql.functions.lit(1L << p))
          .otherwise(org.apache.spark.sql.functions.lit(0L))
      }.reduce(_ + _)
    }

  /** The `Tables` bucket Columns over pre-quantized components. */
  def bucketCols(qv: Seq[Column]): Seq[Column] =
    bucketColsN(qv, Tables, Planes)

  /** The DuckDB CTE text deriving the same (tables x planes) matrix +
    * buckets from a CTE `v(vec_id, qv)` whose qv[1..8] match
    * [[quantized]] — the SQL mirror of [[bucketColsN]].
    */
  def planesSqlN(tables: Int, planes: Int): String =
    s"""planes AS (
       |  SELECT t, p, list_transform(range(1, 9), j ->
       |    CAST('0x' || substr(md5(t || ':' || p || ':' || j),
       |      1, 15) AS BIGINT) % 2001 - 1000) AS comp
       |  FROM (SELECT unnest(range(0, $tables)) AS t),
       |       (SELECT unnest(range(0, $planes)) AS p)
       |), buckets AS (
       |  SELECT v.vec_id, pl.t,
       |    sum(CASE WHEN comp[1]*qv[1] + comp[2]*qv[2] +
       |      comp[3]*qv[3] + comp[4]*qv[4] + comp[5]*qv[5] +
       |      comp[6]*qv[6] + comp[7]*qv[7] + comp[8]*qv[8] >= 0
       |      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
       |  FROM v CROSS JOIN planes pl
       |  GROUP BY v.vec_id, pl.t
       |)""".stripMargin

  /** The (2, 10) banding CTE used by the near-dup det twins. */
  val planesSql: String = planesSqlN(Tables, Planes)

  /** All `tables` buckets as ONE array<bigint> column over the
    * quantized-8-prefix array `qv8`, with the plane matrix folded into a
    * single constant array literal and the projection loops expressed as
    * higher-order functions. Semantically identical to [[bucketColsN]]
    * but with CONSTANT-SIZE generated code: the unrolled per-column form
    * emits tables*planes*Dims literal nodes (1,152 at 24x6), whose
    * generated megamethod Janino recompiles on every invocation (fresh
    * expression ids defeat the codegen cache) — measured 12 s/run for
    * the radius-search banding vs 1.3 s in this form.
    */
  def bucketArray(qv8: Column, tables: Int, planes: Int): Column = {
    val flat: Seq[Long] = for {
      t <- 0 until tables; p <- 0 until planes; j <- 1 to Dims
    } yield comp(t, p, j)
    graft.functions.NativeExpressions.detLshBuckets(
      qv8, tables, planes, flat)
  }
}

object Dedup {

  // 8 bands x 4 rows: band-collision probability 1-(1-s^4)^8 is ~19% at
  // shingle-jaccard 0.4 and ~98% at 0.8 — selective enough that candidate
  // counts stay near-linear in corpus size. (16x2 banding collided on ~94%
  // of moderately-similar pairs and went quadratic at 50k docs: 168s vs
  // 11s after this change in the 10x scale stress.)
  private val NumPerms = 32 // MinHash permutations
  private val Bands = 8
  private val RowsPerBand = NumPerms / Bands

  private def gated(df: DataFrame): DataFrame = Joins.sizeGatedBroadcast(df)

  /** Blocked self-join, the candidate step of every near-dup path: each
    * pair of `df` rows that agree on all `keys`, as `a_id < b_id` over the
    * `id` column — an equi-join on the blocking keys, never a cross join;
    * a pair sharing several keys appears once per key. Each `carry`
    * (column, suffix) rides along as `a_<suffix>` / `b_<suffix>`.
    */
  private def blockedPairs(df: DataFrame, keys: Seq[String], id: String,
                           carry: (String, String)*): DataFrame = {
    def side(p: String) = df.select(keys.map(col) ++
      (col(id).as(s"${p}_id") +:
        carry.map { case (c, sfx) => col(c).as(s"${p}_$sfx") }): _*)
    side("a").join(side("b"), keys).filter(col("a_id") < col("b_id"))
  }

  /** Distinct (a_id, b_id) pairs sharing a band key of
    * `banded(doc_id, band, key)`.
    */
  private def bandCandidates(banded: DataFrame): DataFrame =
    blockedPairs(banded, Seq("band", "key"), "doc_id")
      .select(col("a_id"), col("b_id")).distinct()

  /** Banded LSH candidate pairs (a_id < b_id), deduplicated. */
  def lshCandidates(sigs: DataFrame): DataFrame =
    bandCandidates(lshBands(sigs, "doc_id", Bands, RowsPerBand))

  /** Exact word-set Jaccard attached to candidate pairs. The token-set
    * lookup sides broadcast while they fit (candidates never shuffle with
    * arrays attached); past the threshold this degrades to equi-joins on
    * ids — the arrays then ship once per doc, not per candidate.
    */
  def withJaccard(pairs: DataFrame, docsets: DataFrame): DataFrame = {
    val a = gated(docsets.select(col("doc_id").as("a_id"), col("tokset").as("a_toks")))
    val b = gated(docsets.select(col("doc_id").as("b_id"), col("tokset").as("b_toks")))
    pairs.join(a, "a_id").join(b, "b_id")
      .withColumn("jac",
        size(array_intersect(col("a_toks"), col("b_toks"))).cast("double") /
          size(array_union(col("a_toks"), col("b_toks"))))
      .select(col("a_id"), col("b_id"), col("jac"))
  }

  /** Distinct token sets hashed to 8-byte keys: set algebra (intersect /
    * union sizes, so Jaccard) is preserved while the equi-join fallback in
    * [[withJaccard]] ships long arrays, never token strings (~10x fewer
    * bytes through broadcast or shuffle at corpus scale). Default key is
    * the engine-internal xxhash64 (the scale path); oracle-checked demos
    * pass [[TextHashFunctions.md5Key60]] so DuckDB derives identical sets.
    */
  def docsets(docs: DataFrame,
              tokenKey: Column => Column = xxhash64(_)): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(transform(words(col("text")), tokenKey)).as("tokset"))

  /** MinHash+LSH near-duplicate pairs verified by exact Jaccard >= minJac. */
  // (r21, measured: a Spread floor here LOST on cold first iterations —
  // the native xxhash signatures are cheap enough per scan task that the
  // added exchange outweighed the parallelism; the md5 det twin's
  // banding keeps its floor inside detBandKeys, where it wins.)
  def minhashNearDups(docs: DataFrame, minJac: Double): DataFrame = {
    val sigs = minhashSignatures(docs, "doc_id", "text", NumPerms)
    withJaccard(lshCandidates(sigs), docsets(docs))
      .filter(col("jac") >= minJac)
  }

  /** The deterministic (md5-permuted) minhash BAND KEYS of each
    * document: one `(doc_id, band, key)` row per band, where `key` is
    * the md5Key60 of the band's signature slice — exactly the banding
    * [[minhashNearDupsDet]] candidates on, and bit-reproducible in
    * DuckDB (the dd_minhash_lsh_det / rl_stream_neardup_ingest
    * oracles). Exposed so the STREAMING near-dup ingester shares one
    * banding definition with the batch twin.
    */
  def detBandKeys(docs: DataFrame): DataFrame =
    // 32 md5 minhashes per shingle: the heaviest per-row kernel in the
    // tree — floor the scan parallelism (no-op past it, Spread scaladoc)
    Spread.spread(docs, col("doc_id")).select(col("doc_id"),
      posexplode(graft.functions.NativeExpressions
        .detMinhashBands(col("text"), NumPerms, Bands, 3))
        .as(Seq("band", "key")))

  /** The Column-tree/HOF formulation kept as the parity reference for
    * [[detBandKeys]]'s native kernel (NativeExpressionsSpec) and as the
    * documentation of the banding's derivation.
    */
  def detBandKeysHof(docs: DataFrame): DataFrame = {
    val rpb = RowsPerBand
    val permHash = (p: Column, shingle: Column) =>
      md5Key60(concat(p.cast("string"), lit("\u0001"), shingle))
    val sh = docs
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .distinct()
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(NumPerms - 1)),
          p => permHash(p, col("shingle")))).as(Seq("perm", "h")))
    val sigs = sh.groupBy(col("doc_id"), col("perm"))
      .agg(min(col("h")).as("mh"))
      .groupBy(col("doc_id"))
      .agg(transform(array_sort(collect_list(struct(col("perm"), col("mh")))),
        s => s.getField("mh")).as("sig"))
    sigs.select(col("doc_id"),
      posexplode(array((0 until Bands).map { b =>
        md5Key60(concat_ws(",", (0 until rpb).map(r =>
          element_at(col("sig"), b * rpb + r + 1).cast("string")): _*))
      }: _*)).as(Seq("band", "key")))
  }

  /** The DETERMINISTIC twin of [[minhashNearDups]]: identical pipeline
    * (3-word shingles -> per-permutation min-hash signature -> banded
    * key join -> exact-Jaccard verification), but every hash is
    * [[TextHashFunctions.md5Key60]] over an explicit string encoding —
    * permutation p of shingle s hashes `"$p$s"`, a band's key
    * hashes its comma-joined signature slice — so DuckDB reproduces the
    * band assignment BIT-EXACTLY and the full DuckDB hash oracle
    * covers the whole LSH path, not just its algebra. The engine path
    * ([[minhashNearDups]], xxhash64 native expression) stays the one
    * benched; this twin trades one md5 per (perm, shingle) for
    * cross-engine reproducibility.
    */
  def minhashNearDupsDet(docs: DataFrame, minJac: Double): DataFrame =
    withJaccard(bandCandidates(detBandKeys(docs)), docsets(docs, md5Key60))
      .filter(col("jac") >= minJac)
      .select(col("a_id"), col("b_id"))

  /** SimHash tail shared by both twins: pairs of
    * `chunked(doc_id, <fp>, chunk, ckey)` sharing a fingerprint chunk,
    * with the hamming distance of their `fp` fingerprints, kept within
    * `maxHamming`.
    */
  private def chunkHammingPairs(chunked: DataFrame, fp: String,
                                maxHamming: Int): DataFrame =
    blockedPairs(chunked, Seq("chunk", "ckey"), "doc_id", fp -> "fp")
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)

  /** SimHash near-duplicate pairs within the given Hamming distance,
    * blocked by 16-bit fingerprint chunks (no cross join).
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sim = docs.select(col("doc_id"), simhash64(col("text")).as("simhash"))
    chunkHammingPairs(sim.select(col("doc_id"), col("simhash"),
        posexplode(hammingChunks(col("simhash"), 4)).as(Seq("chunk", "ckey"))),
      "simhash", maxHamming)
  }

  /** The DETERMINISTIC twin of [[simhashNearDups]]: a 60-bit SimHash
    * whose per-token bits come from [[TextHashFunctions.md5Key60]]
    * (DuckDB-reproducible) instead of xxhash64 — every occurrence of a
    * token votes ±1 per bit, the sign of each bit-sum forms the
    * fingerprint (ties → 0), and candidates block on 4 chunks of 15
    * bits exactly like the engine path. Oracle-path only; the native
    * single-pass expression stays the benched form.
    */
  def simhashNearDupsDet(docs: DataFrame, maxHamming: Int): DataFrame = {
    val fp = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .select(col("doc_id"), md5Key60(col("w")).as("h"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, 59), b -> named_struct('b', b, 'v', " +
          "CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END))"))
        .as("bv"))
      .select(col("doc_id"), col("bv.b").as("b"), col("bv.v").as("v"))
      .groupBy(col("doc_id"), col("b")).agg(sum(col("v")).as("s"))
      .groupBy(col("doc_id")).agg(sum(expr(
        "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), b) " +
          "ELSE CAST(0 AS BIGINT) END")).as("fp"))
    chunkHammingPairs(fp.selectExpr("doc_id", "fp",
        "posexplode(transform(sequence(0, 3), " +
          "c -> shiftright(fp, c * 15) & 32767)) AS (chunk, ckey)"),
      "fp", maxHamming)
  }

  /** Multi-table hyperplane-LSH embedding near-dup — the scale path
    * replacing the O(n^2) cross join: `tables` independent hash tables of
    * `planesPerTable` sign bits each; same (table, bucket) => candidate,
    * candidates verified by exact cosine. Recall for a pair at angle θ is
    * 1-(1-(1-θ/π)^k)^L — with 8x6 defaults ~98% at cos 0.9, ~46% at the
    * demo threshold 0.45 (LSH targets true near-duplicates; raise L or
    * lower k to chase lower-similarity pairs).
    */
  def embedLshNearDups(e0: DataFrame, minCos: Double,
                       tables: Int = 8, planesPerTable: Int = 6): DataFrame = {
    val e = Spread.spread(e0, col("vec_id"))
    // ids-only through the candidate shuffle (16 bytes/row, not 256-byte
    // arrays); vectors join back only for the deduped candidates. All
    // tables' buckets come from ONE native pass over the vector
    // (HyperplaneBuckets) — the per-table dot-product tree was ~40x
    // slower at 20k vectors (bucketing dominated the whole query).
    val bucketed = e.select(col("vec_id"),
      posexplode(VectorFunctions.hyperplaneBuckets(col("embedding"),
        tables, planesPerTable, 64)).as(Seq("table", "bucket")))
    val cand = blockedPairs(bucketed, Seq("table", "bucket"), "vec_id")
      .select(col("a_id"), col("b_id")).distinct()
    // vector lookup sides are one row per vector — broadcast (so the much
    // larger candidate set never sorts/shuffles) ONLY while the vector
    // table fits the session broadcast threshold; past that it becomes a
    // plain equi-join on ids — still never a shuffle of a candidate x
    // vector cross product, and never arrays through the candidate shuffle
    val aV = gated(e.select(col("vec_id").as("a_id"), col("embedding").as("a_v")))
    val bV = gated(e.select(col("vec_id").as("b_id"), col("embedding").as("b_v")))
    cand.join(aV, "a_id").join(bV, "b_id")
      .filter(VectorFunctions.cosine(col("a_v"), col("b_v")) >= minCos)
      .select(col("a_id"), col("b_id"))
  }

  /** Deterministic synthetic corpus expansion for crossover benchmarking:
    * `copies` near-duplicate variants per input vector (small per-copy,
    * per-dimension sinusoidal perturbation => each copy group is a true
    * near-dup cluster at cosine ~0.99, distinct groups stay unrelated).
    * Pure narrow map — no shuffle, no randomness (reproducible across
    * runs/partitions), so bench numbers at N x scale are comparable.
    */
  def expandVectors(e: DataFrame, copies: Int): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(copies - 1))).as("c"))
      .select((col("vec_id") * copies + col("c")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + lit(0.02) * sin(col("c") * lit(2.3) + i * lit(0.91)))
            .cast("float")).as("embedding"))

  /** Connected components over a near-dup pair graph — the
    * cluster-assignment step a dedup pipeline runs after pair generation
    * (keep one representative per cluster).
    *
    * Each round combines neighbor-min propagation (one hop along edges)
    * with POINTER JUMPING (label := label of my label), so convergence is
    * O(log diameter) rounds, not O(diameter) — a 100-long chain closes in
    * ~7 rounds instead of 100 (measured 32s -> 4s at 20k chained nodes).
    * The loop is driver-COORDINATED but never driver-SIZED: only the
    * converged flag crosses to the driver, labels stay distributed (the
    * GraphX-Pregel contract). `localCheckpoint` truncates lineage per
    * round (a reliable checkpoint dir replaces it on a real cluster).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIters: Int = 30): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    var labels = nodes.select(col("doc_id"),
      col("doc_id").as("label")).localCheckpoint(true)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // one hop along edges
      val prop = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(col("src").as("doc_id"), col("label"))
      // pointer jump: my label's current label (halves chain distance)
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.label").as("label"))
      val next = labels.union(prop).union(jump)
        .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      converged = next.as("n")
        .join(labels.as("o"), "doc_id")
        .filter(col("n.label") =!= col("o.label"))
        .isEmpty
      labels = next
      iters += 1
    }
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  // oracle-side twin of docsets(_, md5Key60): hashed distinct token sets
  private val oTokset =
    s"list_distinct(list_transform(string_split(text, ' '), t -> ${md5Key60Sql("t")}))"

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------ exact
    // Exact dedup: group by full content, keep the smallest doc_id.
    // At scale: group by md5 fingerprint instead of raw text so the
    // shuffle carries 16 bytes, not documents (ta_fingerprint is the
    // companion operator).
    QueryDef("dd_exact",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(md5(col("text").cast("binary")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .select(col("keep_id"), col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some("""SELECT keep_id, n_copies FROM (
             |  SELECT md5(text) AS fp, min(doc_id) AS keep_id,
             |    count(*) AS n_copies
             |  FROM documents GROUP BY 1) t
             |ORDER BY keep_id""".stripMargin)),

    // -------------------------------------------------- incremental dedup
    // The daily-crawl shape: dedup the NEW batch against the HISTORICAL
    // corpus without re-deduping history (history is already clean; at
    // 100 TB re-clustering it per crawl is the classic accidental
    // quadratic). The crawl anti-joins the history's content
    // fingerprints — an 8-byte-key anti join whose cost is
    // O(crawl + history), with the history side pre-aggregated to
    // distinct fingerprints (model-sized relative to raw bytes) and AQE
    // free to broadcast it when it fits. Halves of `documents` stand in
    // for history/crawl; md5Key60 keeps the fingerprints
    // DuckDB-reproducible (full hash oracle).
    QueryDef("dd_incremental",
      (s, d) => {
        import graft.functions.TextHashFunctions.md5Key60
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), md5Key60(col("text")).as("fp"))
        val history = docs.filter(col("doc_id") % 2 === 0)
          .select(col("fp")).distinct()
        docs.filter(col("doc_id") % 2 === 1)
          .join(history, Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH fps AS (
              |  SELECT doc_id, ${graft.functions.TextHashFunctions
                   .md5Key60Sql("text")} AS fp
              |  FROM documents)
              |SELECT doc_id, fp FROM fps c
              |WHERE doc_id % 2 = 1 AND NOT EXISTS (
              |  SELECT 1 FROM fps h
              |  WHERE h.doc_id % 2 = 0 AND h.fp = c.fp)
              |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------ keep-best dedup
    // Exact dedup with a QUALITY-AWARE representative: instead of
    // keeping the lowest id (dd_exact), each duplicate group keeps its
    // best member — longest document, ties by id — the C4/CCNet
    // posture (the longest copy usually carries the least truncation).
    // One fingerprint groupBy + a per-group argmax via WindowGroupLimit:
    // 8-byte keys through the shuffle, group state is one row.
    QueryDef("dd_keep_best",
      (s, d) => {
        import graft.functions.TextHashFunctions.md5Key60
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            md5Key60(col("text")).as("fp"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_copies", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
          .filter(col("rn") === 1)
          .select(col("doc_id").as("keep_id"), col("n_chars"),
            col("n_copies"))
          .orderBy(col("keep_id"))
      },
      Some(s"""SELECT keep_id, n_chars, n_copies FROM (
              |  SELECT doc_id AS keep_id, n_chars,
              |    row_number() OVER (PARTITION BY fp
              |      ORDER BY n_chars DESC, doc_id) AS rn,
              |    count(*) OVER (PARTITION BY fp) AS n_copies
              |  FROM (SELECT doc_id, n_chars,
              |          ${graft.functions.TextHashFunctions
                     .md5Key60Sql("text")} AS fp
              |        FROM documents) t) r
              |WHERE rn = 1
              |ORDER BY keep_id""".stripMargin)),

    // ------------------------------------------------------------ jaccard
    // Exact n-gram (word-set) Jaccard pairs over a bounded id range —
    // the oracle-checkable exact form. Token sets are hashed to 8-byte
    // keys on BOTH sides (md5Key60, which DuckDB reproduces bit-exactly),
    // so even this demo's join ships long arrays, not strings; set algebra
    // and the int/int division are unchanged => identical doubles.
    QueryDef("dd_jaccard_pairs",
      (s, d) => {
        val ds = docsets(Tables.documents(s, d).filter(col("doc_id") < 120),
          md5Key60)
        val pairs = ds.select(col("doc_id").as("a_id"))
          .crossJoin(ds.select(col("doc_id").as("b_id")))
          .filter(col("a_id") < col("b_id"))
        withJaccard(pairs, ds)
          .filter(col("jac") >= 0.5)
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""SELECT a_id, b_id, jac FROM (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |    CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.tokset, b.tokset))) AS jac
              |  FROM (SELECT doc_id, $oTokset AS tokset
              |        FROM documents WHERE doc_id < 120) a,
              |       (SELECT doc_id, $oTokset AS tokset
              |        FROM documents WHERE doc_id < 120) b
              |  WHERE a.doc_id < b.doc_id) t
              |WHERE jac >= 0.5 ORDER BY a_id, b_id""".stripMargin)),

    // ------------------------------------------------------------ minhash
    // MinHash+LSH near-dup: shingle -> 32-perm signature -> 8x4 band
    // join -> exact-Jaccard verification of candidates only. xxhash64 is
    // engine-specific => rows-only driver check; the algebra is unit-tested
    // against dd_jaccard_pairs (LSH candidates must be a superset of
    // high-jaccard pairs with overwhelming probability).
    QueryDef("dd_minhash_lsh",
      (s, d) => minhashNearDups(Tables.documents(s, d), 0.4)
        .orderBy(col("a_id"), col("b_id")),
      None),

    // ----------------------------------------------- minhash (det twin)
    // The SAME LSH pipeline with md5-derived permutation and band keys
    // (minhashNearDupsDet), which DuckDB reproduces bit-exactly — the
    // full hash oracle covers shingling, the 32-permutation signature,
    // the 8x4 band assignment, the candidate join, and the Jaccard
    // verification end-to-end. dd_minhash_lsh above stays the benched
    // engine path (native xxhash64 expression, no per-perm explode).
    QueryDef("dd_minhash_lsh_det",
      (s, d) => minhashNearDupsDet(Tables.documents(s, d), 0.4)
        .orderBy(col("a_id"), col("b_id")),
      Some(s"""WITH d AS (
              |  SELECT doc_id, string_split(text, ' ') AS toks
              |  FROM documents),
              |sh AS (
              |  SELECT doc_id, unnest(list_distinct(
              |    CASE WHEN len(toks) >= 3
              |      THEN list_transform(range(1, len(toks) - 1),
              |             i -> array_to_string(toks[i:i+2], ' '))
              |      ELSE [array_to_string(toks, ' ')] END)) AS shingle
              |  FROM d),
              |ph AS (
              |  SELECT doc_id, p, min(${md5Key60Sql(
                   "CAST(p AS VARCHAR) || chr(1) || shingle")}) AS mh
              |  FROM sh, range(0, 32) t(p)
              |  GROUP BY doc_id, p),
              |sig AS (
              |  SELECT doc_id, list(mh ORDER BY p) AS sig
              |  FROM ph GROUP BY doc_id),
              |bands AS (
              |  SELECT doc_id, b, ${md5Key60Sql(
                   "array_to_string(list_transform(range(1, 5), " +
                     "r -> CAST(sig[CAST(b * 4 + r AS INT)] AS VARCHAR))" +
                     ", ',')")} AS key
              |  FROM sig, range(0, 8) t(b)),
              |cand AS (
              |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
              |  FROM bands l JOIN bands r
              |    ON l.b = r.b AND l.key = r.key AND l.doc_id < r.doc_id),
              |ts AS (SELECT doc_id, $oTokset AS tokset FROM documents)
              |SELECT a_id, b_id FROM cand
              |JOIN ts ta ON ta.doc_id = a_id
              |JOIN ts tb ON tb.doc_id = b_id
              |WHERE CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
              |    / len(list_distinct(list_concat(ta.tokset, tb.tokset)))
              |    >= 0.4
              |ORDER BY a_id, b_id""".stripMargin)),

    // ------------------------------------------------------------ simhash
    // 64-bit SimHash with 4x16-bit chunk blocking (hamming <= 8; pigeonhole
    // guarantees full recall only to hd <= 3 - standard approximate blocking).
    QueryDef("dd_simhash",
      (s, d) => simhashNearDups(Tables.documents(s, d), 8)
        .orderBy(col("a_id"), col("b_id")),
      None),

    // ----------------------------------------------- simhash (det twin)
    // The SAME chunk-blocked SimHash dedup with md5-derived 60-bit
    // fingerprints DuckDB reproduces bit-exactly: voting, fingerprint
    // assembly, 4x15-bit blocking, and the hamming filter all under the
    // full hash oracle (hamming emitted — integer, engine-independent).
    QueryDef("dd_simhash_det",
      (s, d) => simhashNearDupsDet(Tables.documents(s, d), 8)
        .orderBy(col("a_id"), col("b_id")),
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |h AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
             |  FROM w),
             |sums AS (
             |  SELECT doc_id, b,
             |    sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
             |        THEN 1 ELSE -1 END) AS s
             |  FROM h, range(0, 60) t(b) GROUP BY doc_id, b),
             |fp AS (
             |  SELECT doc_id,
             |    sum(CASE WHEN s > 0
             |        THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
             |        ELSE CAST(0 AS BIGINT) END) AS fp
             |  FROM sums GROUP BY doc_id),
             |ch AS (
             |  SELECT doc_id, c,
             |    (fp >> CAST(c * 15 AS INT)) & 32767 AS ckey
             |  FROM fp, range(0, 4) t(c)),
             |cand AS (
             |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
             |  FROM ch l JOIN ch r
             |    ON l.c = r.c AND l.ckey = r.ckey
             |    AND l.doc_id < r.doc_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
             |FROM cand
             |JOIN fp fa ON fa.doc_id = a_id
             |JOIN fp fb ON fb.doc_id = b_id
             |WHERE bit_count(xor(fa.fp, fb.fp)) <= 8
             |ORDER BY a_id, b_id""".stripMargin)),

    // ------------------------------------------------------------ embedding
    // Embedding-cosine near-dup (exact form): all pairs >= 0.45 cosine
    // over a HARD-BOUNDED id range (vec_id < 1000, like the Jaccard
    // demos' doc_id < 120) — the exact-oracle correctness twin of
    // dd_embed_lsh, which is the unbounded scale path and the one
    // benched. Oracle-checked: threshold sits >1e-3 from any pair's
    // score, so the float-vs-double engine difference (~1e-6) cannot
    // flip membership; scores themselves stay out of the output.
    QueryDef("dd_embed_cosine",
      (s, d) => {
        // spread the LEFT (streamed) side so the n^2/2 cosine work runs
        // on every core, not the input's one small-file task
        val e = Spread.spread(Tables.embeddings(s, d), col("vec_id"))
          .filter(col("vec_id") < 1000)
        val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
        val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
        a.crossJoin(b).filter(col("a_id") < col("b_id"))
          .filter(VectorFunctions.cosine(col("a_v"), col("b_v")) >= 0.45)
          .select(col("a_id"), col("b_id"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""SELECT a.vec_id AS a_id, b.vec_id AS b_id
             |FROM embeddings a, embeddings b
             |WHERE a.vec_id < 1000 AND b.vec_id < 1000
             |  AND a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
             |ORDER BY a_id, b_id""".stripMargin)),

    // ------------------------------------------------------------ clusters
    // Cluster assignment: connected components over the exact >=0.7-Jaccard
    // pair graph (the post-pair-generation dedup step: one representative
    // id per cluster). Oracle: DuckDB recursive CTE computes the same
    // min-reachable-label fixpoint.
    QueryDef("dd_clusters",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 120)
        val ds = docsets(docs, md5Key60)
        val pairs = withJaccard(
          ds.select(col("doc_id").as("a_id"))
            .crossJoin(ds.select(col("doc_id").as("b_id")))
            .filter(col("a_id") < col("b_id")), ds)
          .filter(col("jac") >= 0.7)
          .select(col("a_id"), col("b_id"))
        connectedComponents(docs.select(col("doc_id")), pairs)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE pairs AS (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
              |  FROM (SELECT doc_id, $oTokset AS tokset
              |        FROM documents WHERE doc_id < 120) a,
              |       (SELECT doc_id, $oTokset AS tokset
              |        FROM documents WHERE doc_id < 120) b
              |  WHERE a.doc_id < b.doc_id
             |    AND CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
             |      / len(list_distinct(list_concat(a.tokset, b.tokset))) >= 0.7
             |),
             |edges AS (SELECT a_id AS a, b_id AS b FROM pairs
             |          UNION ALL SELECT b_id AS a, a_id AS b FROM pairs),
             |nodes AS (SELECT doc_id FROM documents WHERE doc_id < 120),
             |reach AS (
             |  SELECT doc_id, doc_id AS label FROM nodes
             |  UNION
             |  SELECT e.a AS doc_id, r.label FROM reach r JOIN edges e ON e.b = r.doc_id
             |)
             |SELECT doc_id, min(label) AS cluster_id FROM reach
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------ embed LSH
    // The bucketed scale path for embedding near-dup (see embedLshNearDups
    // scaladoc). Engine-specific bucketing => rows-only; recall vs the
    // exact form is pinned in ScalaTest.
    QueryDef("dd_embed_lsh",
      (s, d) => embedLshNearDups(Tables.embeddings(s, d), 0.45)
        .orderBy(col("a_id"), col("b_id")),
      None),

    // --------------------------------------------- embed LSH, det twin
    // Deterministic twin putting the HYPERPLANE BANDING itself under the
    // DuckDB hash oracle (dd_embed_lsh stays rows-only: its splitmix
    // plane matrix and float dot products are engine-specific). Both
    // engines rebuild the same banding from first principles:
    //  - plane components are md5-derived integers in [-1000, 1000]
    //    (DuckDB computes them in SQL with the md5Key60 trick; the Spark
    //    side inlines the identical values via the same md5 derivation),
    //  - vectors are quantized to integers (floor(dim * 1000)) so every
    //    projection is pure BIGINT arithmetic — no float summation order
    //    to disagree on; the sign threshold is exact on both engines,
    //  - output is the banded candidate structure: every colliding pair
    //    with its shared-bucket count. A single bucket-bit divergence
    //    anywhere would change the pair set and fail the hash.
    // Same plan shape as the engine form: one narrow pass computes all
    // table buckets, ids-only through the bucket equi-join.
    QueryDef("dd_embed_lsh_det",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        // native DetLshBuckets kernel, not the unrolled bucketCols tree —
        // constant-size generated code bounds the cold-JVM cost (the
        // round-17 first-position receipts; same swap as ss_ann_lsh_det)
        val banded = e.select(col("vec_id"),
          DetLsh.bucketArray(graft.functions.NativeExpressions
              .quantizePrefix(col("embedding"), DetLsh.Dims),
            DetLsh.Tables, DetLsh.Planes).as("bks"))
        val long = banded.select(col("vec_id"),
          posexplode(col("bks")).as(Seq("t", "bucket")))
        blockedPairs(long, Seq("t", "bucket"), "vec_id")
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id, list_transform(range(1, 9), j ->
             |    CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000)
             |         AS BIGINT)) AS qv
             |  FROM embeddings
             |), planes AS (
             |  SELECT t, p, list_transform(range(1, 9), j ->
             |    CAST('0x' || substr(md5(t || ':' || p || ':' || j),
             |      1, 15) AS BIGINT) % 2001 - 1000) AS comp
             |  FROM (SELECT unnest([0, 1]) AS t),
             |       (SELECT unnest(range(0, 10)) AS p)
             |), buckets AS (
             |  SELECT q.vec_id, pl.t,
             |    sum(CASE WHEN comp[1]*qv[1] + comp[2]*qv[2] +
             |      comp[3]*qv[3] + comp[4]*qv[4] + comp[5]*qv[5] +
             |      comp[6]*qv[6] + comp[7]*qv[7] + comp[8]*qv[8] >= 0
             |      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
             |  FROM q CROSS JOIN planes pl
             |  GROUP BY q.vec_id, pl.t
             |)
             |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |  CAST(count(*) AS BIGINT) AS n_shared
             |FROM buckets a JOIN buckets b
             |  ON a.t = b.t AND a.bucket = b.bucket
             | AND a.vec_id < b.vec_id
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------ semdedup
    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the cluster-bounded
    // semantic dedup used for web-scale pretraining corpora: k-means the
    // embeddings, detect near-dups ONLY within a cluster (pairwise cosine
    // >= threshold), keep the lowest id of each duplicate relation. At
    // 100 TB the pairwise work is Σ n_c² over cluster sizes, never global
    // n² — the cluster-id equi-join replaces the cross join, and the
    // centroid assignment is one broadcast pass over a constant-size (16
    // row) model. Engine-specific clustering => rows-only; the
    // kept+dropped partition and every-drop-has-a-near-dup contracts are
    // pinned in DedupSimilaritySpec.
    QueryDef("dd_semdedup",
      (s, d) => semDedupSummary(Tables.embeddings(s, d), 0.45),
      None),

    // Deterministic-assignment SemDeDup: a fixed 3x3 grid over the first
    // two embedding dims stands in for the k-means fit, so the
    // kept/dropped accounting — the part of SemDeDup that matters for a
    // training corpus — runs under the FULL hash oracle (dd_semdedup
    // itself stays rows-only because k-means centroids are
    // engine-specific). Same cluster-bounded pairwise plan: the grid id
    // is the equi-join key, work is still sum n_c^2, never global n^2.
    QueryDef("dd_semdedup_det",
      (s, d) => semDedupDetSummary(Tables.embeddings(s, d), 0.45),
      Some("""WITH assigned AS (
             |  SELECT vec_id, embedding,
             |    (CASE WHEN embedding[1] < -0.1 THEN 0
             |          WHEN embedding[1] < 0.1 THEN 1 ELSE 2 END) * 3 +
             |    (CASE WHEN embedding[2] < -0.1 THEN 0
             |          WHEN embedding[2] < 0.1 THEN 1 ELSE 2 END) AS c_id
             |  FROM embeddings
             |), dropped AS (
             |  SELECT DISTINCT b.vec_id AS d_id
             |  FROM assigned a JOIN assigned b
             |    ON a.c_id = b.c_id AND a.vec_id < b.vec_id
             |   AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
             |)
             |SELECT c_id, count(*) AS n_vectors, count(d_id) AS n_dropped
             |FROM assigned LEFT JOIN dropped ON vec_id = d_id
             |GROUP BY c_id
             |ORDER BY c_id""".stripMargin)),

    // ------------------------------------------------- duplicated n-grams
    // Substring-level duplication scoring (the Lee et al. 2021
    // "Deduplicating Training Data" ExactSubstr signal, at window
    // granularity): every 8-token window hashes to a 60-bit key; a window
    // occurring more than once ANYWHERE in the corpus is duplicated, and
    // each document reports the fraction of its windows that are. The
    // pipeline drops or trims high-dup_frac documents.
    //
    // 100 TB shape: the per-(doc, window) pre-aggregation combines
    // map-side before anything shuffles on the window key (a doc's
    // windows are colocated in its input partition — the same
    // skew-bounding as the bigram LM); global counts are model-sized;
    // the join back carries one row per distinct (doc, window). md5-60
    // keys keep the shuffle at 16 bytes/row and the DuckDB oracle
    // hash-exact.
    QueryDef("dd_dup_ngram_fraction",
      (s, d) => {
        val toks = Spread.spread(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 8)
        val wins = toks.select(col("doc_id"),
          explode(expr("transform(sequence(1, size(toks) - 7), " +
            "i -> concat_ws(' ', slice(toks, i, 8)))")).as("w"))
          .select(col("doc_id"), md5Key60(col("w")).as("h"))
        val occ = wins.groupBy(col("doc_id"), col("h"))
          .agg(count(lit(1)).as("o"))
        val global = occ.groupBy(col("h")).agg(sum(col("o")).as("tot"))
        occ.join(global, Seq("h"))
          .groupBy(col("doc_id"))
          .agg(sum(col("o")).as("n_windows"),
            sum(when(col("tot") >= 2, col("o")).otherwise(lit(0L)))
              .as("n_dup"))
          .select(col("doc_id"), col("n_windows"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_windows"))
              .as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH w AS (
              |  SELECT doc_id, unnest(list_transform(
              |      range(1, len(toks) - 6),
              |      i -> ${md5Key60Sql("array_to_string(toks[i:i+7], ' ')")}))
              |    AS h
              |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
              |        FROM documents) t
              |  WHERE len(toks) >= 8),
              |occ AS (SELECT doc_id, h, count(*) AS o FROM w GROUP BY 1, 2),
              |g AS (SELECT h, sum(o) AS tot FROM occ GROUP BY 1)
              |SELECT occ.doc_id, CAST(sum(occ.o) AS BIGINT) AS n_windows,
              |  CAST(sum(CASE WHEN g.tot >= 2 THEN occ.o ELSE 0 END)
              |    AS BIGINT) AS n_dup,
              |  CAST(sum(CASE WHEN g.tot >= 2 THEN occ.o ELSE 0 END)
              |      AS DOUBLE)
              |    / sum(occ.o) AS dup_frac
              |FROM occ JOIN g ON occ.h = g.h
              |GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Per-cluster SemDeDup summary: (cluster, n_vectors, n_dropped).
    * `k` must SCALE with the corpus (clusters bound the pairwise work at
    * sum n_c^2 — a fixed k makes per-cluster pairs quadratic again, the
    * same lesson as LSH bucket counts).
    */
  def semDedupSummary(e: DataFrame, threshold: Double,
                      k: Int = 16): DataFrame = {
    // centroid assignment = per-vector dot products against the
    // broadcast model, pre-shuffle — floor the scan parallelism
    clusterDropSummary(
      semDedupAssign(Spread.spread(e, col("vec_id")), k), threshold)
  }

  /** Deterministic SemDeDup summary (dd_semdedup_det): grid-cell
    * assignment over the first two dims replaces the k-means fit; the
    * within-cluster pairwise drop logic is [[semDedupDropped]] verbatim.
    * Every comparison is a float-vs-constant or the oracle-shared cosine,
    * so DuckDB reproduces the result bit-for-bit (full hash oracle).
    */
  def semDedupDetSummary(e: DataFrame, threshold: Double): DataFrame = {
    def bin(i: Int) = {
      val v = element_at(col("embedding"), i).cast("double")
      when(v < -0.1, 0).when(v < 0.1, 1).otherwise(2)
    }
    clusterDropSummary(Spread.spread(e, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        (bin(1) * 3 + bin(2)).as("c_id")), threshold)
  }

  /** SemDeDup tail shared by both twins: per cluster of
    * `assigned(vec_id, c_id, embedding)`, its vector count and how many of
    * them [[semDedupDropped]] drops.
    */
  private def clusterDropSummary(assigned: DataFrame,
                                 threshold: Double): DataFrame = {
    val dropped = semDedupDropped(assigned, threshold)
    assigned.join(dropped, assigned("vec_id") === dropped("d_id"), "left")
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_vectors"),
        count(col("d_id")).as("n_dropped"))
      .orderBy(col("c_id"))
  }

  /** Probe-1 centroid assignment over the sampled k-means fit.
    *
    * The argmax is a `max_by` AGGREGATE, not a row_number window (r22):
    * the k candidate rows of one vector come out of the same crossJoin
    * input row, so they are colocated in the scan task — a hash
    * aggregate folds them map-side and the exchange carries ONE row per
    * vector, where the window shuffled the k-times-amplified frame on
    * vec_id first. Identical result: max of (c_sim, -c_id) is exactly
    * row_number()=1 under ORDER BY c_sim DESC, c_id ASC.
    */
  def semDedupAssign(e: DataFrame, k: Int = 16): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val cents = Similarity.fitCentroids(e, k = k,
      sampleN = math.max(512, k * 8)).toDF("c_id", "c_v")
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("c_sim", VectorFunctions.cosine(col("embedding"), col("c_v")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id"), col("embedding")),
        struct(col("c_sim"), negate(col("c_id")))).as("w"))
      .select(col("vec_id"), col("w.c_id"), col("w.embedding"))
  }

  /** Ids dropped by SemDeDup: vectors with a LOWER-id near-dup (cosine >=
    * threshold) in the SAME cluster — each drop keeps its lowest-id
    * witness, so one representative per duplicate relation survives.
    */
  def semDedupDropped(assigned: DataFrame, threshold: Double): DataFrame =
    blockedPairs(assigned, Seq("c_id"), "vec_id", "embedding" -> "v")
      .filter(VectorFunctions.cosine(col("a_v"), col("b_v")) >= threshold)
      .select(col("b_id").as("d_id")).distinct()
}

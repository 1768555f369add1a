package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

import graft.Tables

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (beyond the reference; BASELINE.json north
  * star). Everything is built from codegen'd `org.apache.spark.sql.functions`
  * (no UDFs): at 100 TB these run inside whole-stage codegen with nothing but
  * a scan underneath — embarrassingly parallel, zero shuffle except final
  * ordering (which the driver harness needs for determinism).
  */
object TextAnalysis {

  /** Heavy-hitter budget for the bigram/perplexity score joins: the K
    * highest-count bigram keys join map-side via broadcast (a few KB of
    * 16-byte keys) instead of shuffling; everything else shuffle-joins.
    * Covers the residual exposure the per-doc pre-agg cannot: one bigram
    * carried by ~every document, whose join key would otherwise put the
    * whole corpus's rows on a single hash partition.
    */
  private[graft] val HotKeyK = 1024

  /** One-slot cache for the persisted model frame. A new invocation over
    * the SAME input reuses the previous run's cached frame (plan-level
    * `sameResult`, the same matching Spark's CacheManager does — repeated
    * scoring of one corpus pays the model build once); a different input
    * unpersists the predecessor before persisting its own, so repeated
    * runs hold at most ONE cached model per function instead of leaking
    * one per call (the r10 ADVICE leak). Unpersist only drops cached
    * blocks — a stale handle still recomputes lazily and correctly.
    * Same staleness semantics as any Spark cache: external changes to
    * the underlying files are not observed until the slot rotates.
    */
  private final class ModelSlot {
    // all access under the monitor — the sameResult check and the
    // rotation must be one atomic step
    private var cached: org.apache.spark.sql.DataFrame = null
    def persistRotating(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = synchronized {
      if (cached != null &&
          cached.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
        return cached
      if (cached != null) cached.unpersist(blocking = false)
      cached = df.persist()
      cached
    }
  }
  private val bigramModelSlot = new ModelSlot
  private val perplexityModelSlot = new ModelSlot

  /** [[ModelSlot]]'s lifecycle with an EAGER LOCAL CHECKPOINT instead of
    * a persist: same one-slot rotation (at most one live frame per
    * function; a new input drops the predecessor's RDD blocks), but the
    * stored frame is materialized rows with TRUNCATED lineage — every
    * downstream branch reads the blocks instead of re-deriving the
    * subtree, where a persist only helps branches whose fresh parse
    * hits the cache lookup (and pays the row→columnar conversion; the
    * r21 cb-persist A/B lost on exactly that). Keyed on the ORIGINAL
    * plan for the sameResult reuse check — a checkpoint's LogicalRDD
    * can't be compared structurally.
    */
  private final class CheckpointSlot {
    private var key: org.apache.spark.sql.DataFrame = null
    private var ckpt: org.apache.spark.sql.DataFrame = null
    def checkpointRotating(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = synchronized {
      if (key != null &&
          key.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
        return ckpt
      if (ckpt != null)
        graft.streaming.BatchFrames.dropLocalCheckpoint(ckpt)
      key = df
      ckpt = df.localCheckpoint(true)
      ckpt
    }
  }
  private val perplexityDetOccSlot = new CheckpointSlot

  /** Skew-gate probe shared by [[bigramLm]] and [[perplexity]]: engage
    * the heavy-hitter hot/cold split only when the (persisted,
    * model-sized) frame's heaviest join key carries at least
    * 1/(2 * shuffle partitions) of the total joined rows — i.e. a key
    * that would at least double one reducer's fair share. One tiny
    * aggregate job over the cached model; the corpus is not re-scanned.
    */
  private def skewGate(model: org.apache.spark.sql.DataFrame,
                       keyRowsCol: String): Boolean = {
    val prof = model.agg(max(col(keyRowsCol)), sum(col(keyRowsCol))).head()
    if (prof.isNullAt(0)) return false // empty corpus: nothing to split
    val p = model.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    prof.getLong(0) * 2L * p >= prof.getLong(1)
  }

  /** Non-whitespace token count — identical regex semantics on both engines.
    * Shared with Pipeline's quality gate so token semantics cannot drift.
    */
  private[operators] def nTokens(c: Column): Column =
    size(regexp_extract_all(c, lit("\\S+"), lit(0))).cast("long")

  // Language-profile keyword sets for the language-ID heuristic. The Spark
  // side scores them with one native tokenization pass; the DuckDB oracle
  // evaluates the equivalent \b(w1|w2|...)\b regexes, so the prediction
  // logic (argmax with fixed tie-break order) is engine-checked.
  private val langWordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "des", "est"))

  private val langProfiles: Seq[(String, String)] =
    langWordProfiles.map { case (l, ws) =>
      l -> ("\\b(" + ws.mkString("|") + ")\\b")
    } :+
      // literal CJK range chars: DuckDB's RE2 rejects \uXXXX escapes
      ("zh" -> "[一-鿿]")

  /** Shared body of ta_bigram_lm (TextHashParitySpec drives it directly
    * on flat and allhot corpora, so the tested arithmetic cannot drift
    * from the oracle-checked query): score `docs(doc_id, text, ...)` by
    * average corpus-wide bigram frequency. Bigrams travel as 60-bit md5
    * fingerprints; the score is a single division of identical integers,
    * bit-equal across engines.
    */
  def bigramLm(docs0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TextHashFunctions.md5Key60
    // the bigram explode + per-bigram md5 is the scan stage's CPU —
    // floor its parallelism when the input is a few small files
    // (Spread scaladoc; no-op at scale)
    val docs = Spread.spread(docs0, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = docs.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("bigram"))
      .select(col("doc_id"), md5Key60(col("bigram")).as("bg"))
    // collapse per-document repetitions BEFORE anything shuffles on bg:
    // the (doc_id, bg) aggregate combines map-side (a document's bigrams
    // are colocated in its input partition), so the corpus-count shuffle
    // and the count join-back carry one row per (doc, bigram) — a Zipf
    // corpus that repeats a hot bigram inside documents no longer
    // amplifies that join key.
    // n_bigrams = sum(o) and freq_sum = sum(o*c) reproduce the
    // per-occurrence totals exactly.
    val occ = bi.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("o"))
    // counts is the MODEL frame (sum of occurrences + join-key row count
    // per bigram); persisted so the skew probe below and the main job
    // share one corpus pass
    val counts = bigramModelSlot.persistRotating(occ.groupBy(col("bg"))
      .agg(sum(col("o")).as("c"), count(lit(1)).as("kr")))
    // Heavy-hitter hot/cold split for the count join-back — GATED on a
    // measured skew profile. The per-doc pre-agg above bounds INTRA-doc
    // amplification, but a bigram carried once by ~every doc still lands
    // n rows on one hash partition — and AQE's skew split provably does
    // not fire for an agg-inside-join stage (BASELINE.md). When the
    // model-sized probe shows a join key holding >= 1/(2*shuffle
    // partitions) of the occ rows (a key that would double its reducer's
    // fair share), the top-K heaviest bigrams join map-side via
    // broadcast and only the de-skewed remainder shuffles on bg. A flat
    // corpus (this fixture: max key share ~0.2%) skips the split's
    // TakeOrdered barrier + anti-join + union and plans the plain join —
    // the round-8/9 watch on the split's flat-corpus cost, closed with
    // the gate the verdict prescribed. Zipf/allhot adversaries engage it
    // (TextHashParitySpec "bigram skew gate"). Both branches fold the
    // same LONG sums, so the gate cannot perturb the oracle-checked
    // results.
    val model = counts.select(col("bg"), col("c"))
    val joined = if (skewGate(counts, "kr")) {
      val hot = model.orderBy(col("c").desc, col("bg")).limit(HotKeyK)
      occ.join(broadcast(hot), Seq("bg"))
        .unionByName(
          occ.join(broadcast(hot.select(col("bg"))), Seq("bg"), "left_anti")
            .join(model, Seq("bg")))
    } else occ.join(model, Seq("bg"))
    joined
      .groupBy(col("doc_id"))
      .agg(sum(col("o")).as("n_bigrams"),
        sum(col("o") * col("c")).as("freq_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("freq_sum"),
        (col("freq_sum").cast("double") / col("n_bigrams"))
          .as("avg_bigram_freq"))
      .orderBy(col("doc_id"))
  }

  /** The perplexity twins' corpus frame: `docs` tokenized on spaces
    * (documents of >= 2 tokens), each adjacent token pair (u, w) as
    * md5Key60 keys, and `o` = its occurrences per document — one row per
    * (doc, bigram), so map-side combine collapses in-document repetition
    * before anything shuffles on the bigram key.
    */
  private def bigramOcc(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TextHashFunctions.md5Key60
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
    toks.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(toks) - 1), " +
        "i -> struct(element_at(toks, i) AS u, element_at(toks, i + 1) AS w))"))
        .as("bg"))
      .select(col("doc_id"), md5Key60(col("bg.u")).as("u"),
        md5Key60(col("bg.w")).as("w"))
      .groupBy(col("doc_id"), col("u"), col("w"))
      .agg(count(lit(1)).as("o"))
  }

  /** Bigram-LM perplexity per document — the quality-filtering staple
    * (CCNet/Gopher-style): train an add-k smoothed bigram model on the
    * corpus ITSELF, score each document by
    * `ppl = exp(-mean_i log P(w_i | w_{i-1}))` with
    * `P(w|u) = (c(u,w) + k) / (c(u) + k*V)`. Unusual/garbled text scores
    * HIGH perplexity; formulaic text scores low.
    *
    * 100 TB shape: two map-side-combined aggregations build the model
    * (bigram counts; context counts derived from them — never a second
    * corpus pass); the score join carries one row per DISTINCT
    * (doc, bigram) — the same per-doc pre-aggregation that skew-hardens
    * [[bigramLm]] — and V is one scalar aggregate. Tokens hash to 60-bit
    * keys so nothing wider than 16 bytes crosses a shuffle. Engine-
    * specific hashing + floating log accumulation => rows-only for the
    * driver; the arithmetic contract is pinned against a JVM-reference
    * implementation in TextHashParitySpec.
    */
  def perplexity(docs0: org.apache.spark.sql.DataFrame,
                 k: Double = 0.5): org.apache.spark.sql.DataFrame = {
    // NOT checkpointed (r22 interleaved A/B, 4 cold runs each: with an
    // occ checkpoint ~8.7 s, without ~8.1 s — the persisted cb model
    // below already decouples the expensive branches here, so the extra
    // materialization only added cost; the DET twin, which has no
    // persisted model, is where the occ checkpoint wins)
    val occ = bigramOcc(Spread.spread(docs0, col("doc_id")))
    // persisted model frame: the skew probe and the main job share one
    // corpus pass (kr = occ rows per join key, the skew dimension)
    val cb = perplexityModelSlot.persistRotating(occ.groupBy(col("u"), col("w"))
      .agg(sum(col("o")).as("cb"), count(lit(1)).as("kr")))
    // context counts derive from the bigram model — no second corpus pass
    val cu = cb.groupBy(col("u")).agg(sum(col("cb")).as("cu"))
    // vocabulary size from the MODEL, not a corpus re-scan: every token
    // of a >=2-token doc occurs as a context (u) or a final (w), so
    // distinct(u) ∪ distinct(w) IS the vocabulary — model-sized work.
    // V stays a 1-row frame broadcast into the plan (never a driver-side
    // head()): construction is lazy, and the occ→cb exchange is reused
    // across the V / cu / score branches instead of recomputed. The
    // 1-row broadcast cross is the same bounded scalar-aggregate shape as
    // q15/q62 (PlanSpec bnljOk): O(n * 1), linear at any corpus size.
    val v = cb.select(col("u").as("t")).union(cb.select(col("w").as("t")))
      .agg(countDistinct(col("t")).cast("double").as("v"))
    // Fold the model to one per-bigram logp frame BEFORE touching the
    // corpus-sized occ: cb⋈cu is model-sized (skew on u bounded by
    // bigrams-per-context, i.e. vocabulary, never corpus rows), so the
    // only corpus-scale join left is occ⋈model on (u, w) — which gets
    // the same GATED heavy-hitter hot/cold split as [[bigramLm]]: when
    // the model probe shows a genuinely skewed join key, the top-K
    // bigrams by count broadcast and join map-side and the de-skewed
    // rest shuffles (one bigram spanning ~every doc stays off any single
    // reducer — TextHashParitySpec "bigram skew gate"); a flat corpus
    // plans the plain join and skips the split's overhead.
    val model = cb.join(cu, Seq("u"))
      .crossJoin(broadcast(v))
      .select(col("u"), col("w"), col("cb"),
        log((col("cb") + lit(k)) / (col("cu") + lit(k) * col("v")))
          .as("logp"))
    val joined = if (skewGate(cb, "kr")) {
      val hot = model.orderBy(col("cb").desc, col("u"), col("w"))
        .limit(HotKeyK).select(col("u"), col("w"), col("logp"))
      occ.join(broadcast(hot), Seq("u", "w"))
        .unionByName(
          occ.join(broadcast(hot.select(col("u"), col("w"))),
              Seq("u", "w"), "left_anti")
            .join(model.select(col("u"), col("w"), col("logp")),
              Seq("u", "w")))
    } else occ.join(model.select(col("u"), col("w"), col("logp")),
      Seq("u", "w"))
    joined
      .groupBy(col("doc_id"))
      .agg(sum(col("o")).as("n_bigrams"),
        (-sum(col("o") * col("logp")) / sum(col("o"))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        exp(col("nll")).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** The DETERMINISTIC twin of [[perplexity]]: the identical pipeline
    * (bigram model from the corpus itself -> context counts -> per-doc
    * negative-log-likelihood), with every float replaced by exact
    * INTEGER arithmetic so DuckDB reproduces the result bit-for-bit:
    *
    *  - tokens hash with md5Key60 (the oracle-shared 60-bit key);
    *  - `ln` is replaced by a fixed-point piecewise-linear log2,
    *    `qlog2(x) = e*1024 + ((x*1024) >> e) - 1024` with
    *    `e = floor(log2(x)) = length(bin(x)) - 1` — integer shifts and
    *    divisions only (max error 0.086 bits, irrelevant for a quality
    *    SCORE whose job is ranking documents);
    *  - add-k smoothing at k = 1/2 clears denominators exactly:
    *    `P(w|u) = (2*cb + 1) / (2*cu + V)`, so
    *    `qlogp = qlog2(2cb+1) - qlog2(2cu+V)` is a BIGINT;
    *  - per-doc `qnll = -sum(o * qlogp)` and
    *    `qppl_milli = (qnll*1000) div (n_bigrams*1024)` ≈
    *    1000*log2(ppl) are exact integer folds.
    *
    * The float form ([[perplexity]]) keeps its JVM-reference pin and its
    * skew-gated join; this twin runs the plain model join (the gate is a
    * perf device, exercised there) — same 100 TB shape otherwise: two
    * map-side-combined model aggregations, a model-sized cb⋈cu join, one
    * corpus-scale (u,w) equi-join, V as a 1-row broadcast.
    */
  def perplexityDet(docs0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // eagerly checkpointed (rotating slot): occ feeds the model build
    // (cb -> cu/v/model) AND the corpus-scale score join — without the
    // checkpoint the executed plan re-derived the tokenize+explode+md5
    // subtree 11 times (8 ReusedExchange did not cover the rest;
    // r22 measured). The materialized frame is one row per DISTINCT
    // (doc, bigram) — corpus-bounded, the same frame the r21 cb-persist
    // A/B showed was too far downstream to matter.
    val occ = perplexityDetOccSlot.checkpointRotating(
      bigramOcc(Spread.spread(docs0, col("doc_id"))))
    val cb = occ.groupBy(col("u"), col("w")).agg(sum(col("o")).as("cb"))
    val cu = cb.groupBy(col("u")).agg(sum(col("cb")).as("cu"))
    val v = cb.select(col("u").as("t")).union(cb.select(col("w").as("t")))
      .agg(countDistinct(col("t")).as("v"))
    def qlog2(x: String): String =
      s"((length(bin($x)) - 1) * 1024 + " +
        s"shiftright(($x) * 1024, length(bin($x)) - 1) - 1024)"
    val model = cb.join(cu, Seq("u")).crossJoin(broadcast(v))
      .select(col("u"), col("w"),
        (expr(qlog2("2 * cb + 1")) - expr(qlog2("2 * cu + v")))
          .as("qlogp"))
    occ.join(model, Seq("u", "w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("o")).as("n_bigrams"),
        (-sum(col("o") * col("qlogp"))).as("qnll"))
      .select(col("doc_id"), col("n_bigrams"), col("qnll"),
        expr("(qnll * 1000) div (n_bigrams * 1024)").as("qppl_milli"))
      .orderBy(col("doc_id"))
  }

  val defs: Seq[QueryDef] = Seq(

    // -------------------------------------------------------- perplexity
    // Bigram-LM perplexity scoring (see perplexity scaladoc). Rows-only:
    // engine-specific 60-bit token hashing and floating log sums have no
    // DuckDB twin; the arithmetic is pinned by the JVM-reference test.
    QueryDef("ta_perplexity",
      (s, d) => perplexity(Tables.documents(s, d)),
      None),

    // ------------------------------------------- perplexity, det twin
    // The same model->score pipeline under the FULL hash oracle via
    // exact integer arithmetic (see perplexityDet scaladoc): md5 token
    // keys, fixed-point qlog2, half-integer smoothing. qppl_milli is
    // ~1000*log2(ppl) — the ranking signal a quality filter thresholds.
    QueryDef("ta_perplexity_det",
      (s, d) => perplexityDet(Tables.documents(s, d)),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS tk
              |  FROM documents
              |  WHERE len(string_split(text, ' ')) >= 2),
              |bi AS (
              |  SELECT doc_id,
              |    unnest(list_transform(range(1, len(tk)), i ->
              |      [${graft.functions.TextHashFunctions
                       .md5Key60Sql("tk[i]")},
              |       ${graft.functions.TextHashFunctions
                       .md5Key60Sql("tk[i+1]")}])) AS uw
              |  FROM toks),
              |occ AS (SELECT doc_id, uw[1] AS u, uw[2] AS w,
              |  count(*) AS o FROM bi GROUP BY 1, 2, 3),
              |cb AS (SELECT u, w, sum(o) AS cb FROM occ GROUP BY 1, 2),
              |cu AS (SELECT u, sum(cb) AS cu FROM cb GROUP BY 1),
              |vv AS (SELECT count(DISTINCT t) AS v FROM (
              |  SELECT u AS t FROM cb UNION ALL SELECT w FROM cb)),
              |model AS (
              |  SELECT cb.u, cb.w,
              |    ((length(bin(2*cb.cb+1))-1)*1024 +
              |      ((2*cb.cb+1)*1024 >> (length(bin(2*cb.cb+1))-1))
              |      - 1024)
              |    - ((length(bin(2*cu.cu+vv.v))-1)*1024 +
              |      ((2*cu.cu+vv.v)*1024 >> (length(bin(2*cu.cu+vv.v))-1))
              |      - 1024) AS qlogp
              |  FROM cb JOIN cu ON cb.u = cu.u CROSS JOIN vv)
              |SELECT occ.doc_id,
              |  CAST(sum(occ.o) AS BIGINT) AS n_bigrams,
              |  CAST(-sum(occ.o * m.qlogp) AS BIGINT) AS qnll,
              |  CAST((-sum(occ.o * m.qlogp) * 1000)
              |    // (sum(occ.o) * 1024) AS BIGINT) AS qppl_milli
              |FROM occ JOIN model m ON occ.u = m.u AND occ.w = m.w
              |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin)),

    // ---------------------------------------------------- normalization
    // Unicode NFC canonicalization + control-char stripping — the ingest
    // step every multilingual corpus runs BEFORE hashing/dedup: the same
    // logical text arrives as composed é or as e+COMBINING-ACUTE
    // depending on the crawler, and every downstream fingerprint
    // diverges unless canonicalized first. The kernel is a codegen'd
    // Catalyst expression (graft_nfc, java.text.Normalizer with an
    // isNormalized fast path — all-ASCII rows pay one scan, zero
    // allocations); NFC is defined by the Unicode standard, so DuckDB's
    // nfc_normalize reproduces the bytes and the md5 fingerprints
    // hash-match under the FULL oracle. The driver's documents are
    // all-ASCII, so deterministic non-NFC suffixes and control chars
    // are INJECTED (the pp_pii_redact trick) to keep the check
    // non-vacuous. Scale shape: a pure narrow map, no shuffle.
    QueryDef("ta_normalize",
      (s, d) => {
        import graft.functions.NativeExpressions.nfcNormalize
        val raw = Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 10 === 0,
              // DECOMPOSED e + U+0301 (explicit escape: an editor that
              // NFC-normalizes source would otherwise silently compose it
              // and vacate the check)
              concat(col("text"), lit(" cafe" + "\u0301")))
            .when(col("doc_id") % 17 === 0,
              // a BEL control char the strip removes
              concat(col("text"), lit("\u0007" + "end")))
            .otherwise(col("text")).as("raw"))
        val stripped = regexp_replace(col("raw"),
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
        raw.select(col("doc_id"),
            nfcNormalize(stripped).as("norm"), col("raw"))
          .select(col("doc_id"),
            (col("norm") =!= col("raw")).as("changed"),
            length(col("raw")).cast("long").as("n_before"),
            length(col("norm")).cast("long").as("n_after"),
            md5(col("norm").cast("binary")).as("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0
             |           THEN text || ' caf' || chr(101) || chr(769)
             |         WHEN doc_id % 17 = 0 THEN text || chr(7) || 'end'
             |         ELSE text END AS raw
             |  FROM documents),
             |norm AS (
             |  SELECT doc_id, raw, nfc_normalize(regexp_replace(raw,
             |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS norm
             |  FROM raw)
             |SELECT doc_id, norm <> raw AS changed,
             |  CAST(length(raw) AS BIGINT) AS n_before,
             |  CAST(length(norm) AS BIGINT) AS n_after,
             |  md5(norm) AS fp
             |FROM norm
             |ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------ tokens
    // Token counting: whitespace tokenization + a BPE-ish subword estimate
    // (ceil(bytes/4) is a common fast proxy for byte-pair-encoded tokens).
    QueryDef("ta_token_stats",
      (s, d) => {
        Tables.documents(s, d).select(
            col("doc_id"),
            nTokens(col("text")).as("n_tokens"),
            length(col("text")).cast("long").as("n_chars"),
            octet_length(col("text")).cast("long").as("n_bytes"),
            ceil(octet_length(col("text")) / lit(4.0)).cast("long")
              .as("n_bpe_est"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS n_bpe_est
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------ quality
    // Quality scoring: length/stopword/digit/uppercase signals combined
    // into one deterministic double (single divisions of exact ints — IEEE
    // identical on both engines).
    QueryDef("ta_quality_score",
      (s, d) => {
        val t = col("text")
        val toks = nTokens(t)
        val stops = size(regexp_extract_all(t,
          lit("\\b(the|a|and|of|to|in|is|it)\\b"), lit(0))).cast("long")
        val digits = size(regexp_extract_all(t, lit("[0-9]"), lit(0)))
          .cast("long")
        // divide by nullif(toks,0): Spark's div-by-zero NULL vs DuckDB's
        // IEEE inf would diverge on a zero-token document — nullif makes
        // both engines yield NULL
        Tables.documents(s, d).select(
            col("doc_id"), toks.as("n_tokens"), stops.as("n_stopwords"),
            digits.as("n_digits"),
            (stops.cast("double") / nullif(toks, lit(0))).as("stopword_ratio"),
            (length(t).cast("double") / nullif(toks, lit(0))).as("avg_token_len"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             |  CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS BIGINT) AS n_stopwords,
             |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
             |  CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE)
             |    / nullif(len(regexp_extract_all(text, '\S+')), 0) AS stopword_ratio,
             |  CAST(length(text) AS DOUBLE)
             |    / nullif(len(regexp_extract_all(text, '\S+')), 0) AS avg_token_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------ lang id
    // Keyword-profile language ID: score = profile hit count per language,
    // prediction = argmax with fixed precedence. Scoring runs as ONE
    // native tokenization pass (TokenSetCounts + CjkCharCount) instead of
    // five regex scans (~7x); the DuckDB oracle keeps the regex
    // formulation, so the equivalence of the two scorings is itself
    // hash-checked on every verify run.
    QueryDef("ta_lang_id",
      (s, d) => {
        val wordProfiles = langWordProfiles // en/es/de/fr word sets
        val scored = Tables.documents(s, d).select(
          col("doc_id"), col("lang").as("label_lang"),
          graft.functions.NativeExpressions.tokenSetCounts(col("text"),
            wordProfiles.map(_._2)).as("wsc"),
          graft.functions.NativeExpressions.cjkCharCount(col("text"))
            .as("zhsc"))
        val scores = wordProfiles.zipWithIndex.map { case ((lang, _), i) =>
          lang -> element_at(col("wsc"), i + 1)
        } :+ ("zh" -> col("zhsc"))
        val best = scores.tail.foldLeft(
          struct(scores.head._2.as("sc"), lit(scores.head._1).as("lg"))) {
          case (acc, (lang, sc)) =>
            when(sc > acc.getField("sc"),
              struct(sc.as("sc"), lit(lang).as("lg"))).otherwise(acc)
        }
        scored.select(col("doc_id"), col("label_lang"),
            best.getField("lg").as("pred_lang"),
            best.getField("sc").as("score"))
          .orderBy(col("doc_id"))
      },
      Some {
        val scoreSql = langProfiles.map { case (lang, re) =>
            s"CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS sc_$lang" // same RE2/Java syntax
        }.mkString(",\n  ")
        // argmax with the same precedence order as the Scala fold:
        // later profile wins only on strictly greater score.
        val (h :: t) = langProfiles.map(_._1).toList: @unchecked
        def fold(acc: (String, String), rest: List[String]): (String, String) =
          rest match {
            case Nil => acc
            case l :: ls =>
              val (se, le) = acc
              fold((s"CASE WHEN sc_$l > ($se) THEN sc_$l ELSE ($se) END",
                s"CASE WHEN sc_$l > ($se) THEN '$l' ELSE ($le) END"), ls)
          }
        val (scExpr, lgExpr) = fold((s"sc_$h", s"'$h'"), t)
        s"""SELECT doc_id, label_lang, $lgExpr AS pred_lang, $scExpr AS score
           |FROM (SELECT doc_id, lang AS label_lang,
           |  $scoreSql
           |  FROM documents) t
           |ORDER BY doc_id""".stripMargin
      }),

    // ------------------------------------------------------------ fingerprint
    // Content fingerprinting: md5 of the raw text + a 16-bucket shard key
    // (first hex nibble) — the pattern used to shard dedup at scale.
    QueryDef("ta_fingerprint",
      (s, d) => {
        Tables.documents(s, d).select(
            col("doc_id"), md5(col("text").cast("binary")).as("fp"),
            substring(md5(col("text").cast("binary")), 1, 1).as("shard"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, md5(text) AS fp, substr(md5(text),1,1) AS shard
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ------------------------------------------------------------ vocab
    // Corpus vocabulary: explode words -> count -> top-50. The generator
    // (explode) plus partial-aggregated count is the canonical vocab-build
    // shape; top-k plans as TakeOrderedAndProject (no global sort).
    QueryDef("ta_vocab_topk",
      (s, d) => {
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("word"))
          .limit(50)
      },
      Some("""SELECT word, count(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY 1 ORDER BY n DESC, word LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------ quantiles
    // Exact length quantiles (linear interpolation — both engines compute
    // (1-f)*a + f*b over the sorted values, so doubles match bit-for-bit).
    QueryDef("ta_length_quantiles",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            percentile(col("n_chars"), lit(0.25)).as("q25"),
            percentile(col("n_chars"), lit(0.5)).as("q50"),
            percentile(col("n_chars"), lit(0.75)).as("q75"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n,
             |  quantile_cont(n_chars, 0.25) AS q25,
             |  quantile_cont(n_chars, 0.5) AS q50,
             |  quantile_cont(n_chars, 0.75) AS q75
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------ repetition
    // Gopher/C4-style repetition scoring: per-document duplicate-token and
    // duplicate-3-gram fractions (1 - distinct/total) — the standard
    // "repetitive document" quality signals a pretraining pipeline
    // thresholds on. Pure narrow map (set algebra inside the row, no
    // shuffle); each fraction is ONE int/int division => bit-identical
    // cross-engine.
    QueryDef("ta_repetition",
      (s, d) => {
        // one native pass (RepetitionStats) instead of materializing token
        // and shingle arrays for interpreted array_distinct — 3.1s -> sub-
        // second warm at sf0.1; native == HOF parity pinned in
        // NativeExpressionsSpec
        val st = graft.functions.NativeExpressions
          .repetitionStats(col("text"), 3)
        Tables.documents(s, d)
          .select(col("doc_id"), st.as("st"))
          .select(col("doc_id"),
            element_at(col("st"), 1).as("n_tokens"),
            ((element_at(col("st"), 1) - element_at(col("st"), 2))
              .cast("double") / element_at(col("st"), 1))
              .as("dup_word_frac"),
            ((element_at(col("st"), 3) - element_at(col("st"), 4))
              .cast("double") / element_at(col("st"), 3))
              .as("dup_3gram_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
             |    / len(toks) AS dup_word_frac,
             |  CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
             |    / len(sh) AS dup_3gram_frac
             |FROM (
             |  SELECT doc_id, toks,
             |    CASE WHEN len(toks) >= 3
             |      THEN list_transform(range(1, len(toks)-1),
             |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             |      ELSE [array_to_string(toks, ' ')] END AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |        FROM documents) a) b
             |ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------- bigram LM
    // Corpus-trained bigram language-model scoring (the statistical
    // quality filter: documents whose word transitions are rare across
    // the corpus are boilerplate/garbled candidates). Two-pass shape:
    // (1) explode per-doc bigrams and count them corpus-wide, (2) join
    // each doc's bigrams back to the counts and average per doc. Bigrams
    // ship as md5-derived 60-bit BIGINT fingerprints, never strings
    // (round-4 fingerprint-join discipline — ~10x fewer shuffled bytes);
    // the score is a single division of identical integers, so both
    // engines produce bit-equal doubles. At 100 TB: two hash shuffles on
    // 8-byte keys + map-side-combinable counts — the canonical
    // map-reduce pair, no driver state, no broadcast of the (huge)
    // bigram table.
    QueryDef("ta_bigram_lm",
      (s, d) => bigramLm(Tables.documents(s, d)),
      Some(s"""WITH docs AS (
              |  SELECT doc_id, string_split(text, ' ') AS toks
              |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
              |bi AS (
              |  SELECT doc_id,
              |    ${graft.functions.TextHashFunctions.md5Key60Sql("bg")} AS bg
              |  FROM (SELECT doc_id, unnest(list_transform(
              |          range(1, len(toks)),
              |          i -> toks[i] || ' ' || toks[i+1])) AS bg
              |        FROM docs) t),
              |counts AS (SELECT bg, count(*) AS c FROM bi GROUP BY bg)
              |SELECT b.doc_id, count(*) AS n_bigrams,
              |  CAST(sum(c.c) AS BIGINT) AS freq_sum,
              |  CAST(CAST(sum(c.c) AS BIGINT) AS DOUBLE) / count(*)
              |    AS avg_bigram_freq
              |FROM bi b JOIN counts c ON b.bg = c.bg
              |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin)),

    // ----------------------------------------------------------- chunking
    // Fixed-window token chunking with overlap (the context-window prep
    // stage: chunk = 64 tokens, stride = 48, so consecutive chunks share
    // 16 tokens). One tokenize, then a generator fan-out — chunk i of a
    // doc covers tokens [i*48+1, i*48+64], emitted while the window start
    // is in range — and a slice+join per chunk. Narrow except the final
    // sort: the explode multiplies rows ~n_tokens/48 x but never shuffles,
    // so at 100 TB this is scan-bound with output proportional to the
    // corpus (the property chunking must keep — no join, no agg).
    QueryDef("ta_chunking",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"),
            split(col("text"), " ").as("toks"))
          .withColumn("n_toks", size(col("toks")).cast("long"))
        docs.select(col("doc_id"), col("toks"), col("n_toks"),
            explode(sequence(lit(0L), expr("(n_toks - 1) div 48")))
              .as("chunk_id"))
          .select(col("doc_id"), col("chunk_id"),
            least(lit(64L), col("n_toks") - col("chunk_id") * 48)
              .as("n_chunk_tokens"),
            array_join(slice(col("toks"),
              (col("chunk_id") * 48 + 1).cast("int"), lit(64)), " ")
              .as("chunk_text"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some("""WITH docs AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, toks, n_toks,
             |    unnest(range(0, (n_toks - 1) // 48 + 1)) AS chunk_id
             |  FROM docs)
             |SELECT doc_id, chunk_id,
             |  least(64, n_toks - chunk_id * 48) AS n_chunk_tokens,
             |  array_to_string(toks[chunk_id*48 + 1 : chunk_id*48 + 64], ' ')
             |    AS chunk_text
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // ------------------------------------------------------------ rolling
    // Custom codegen'd Catalyst expression (graft.functions.NativeExpressions
    // .RollingHash): 64-bit FNV-1a rolling hash over UTF-8 bytes — the
    // cheap fingerprint for shard-and-dedup at scale. Engine-specific
    // (no DuckDB analogue) => rows-only driver check; unit-tested against
    // a JVM-side reference implementation.
    QueryDef("ta_rolling_hash",
      (s, d) => {
        val rh = graft.functions.NativeExpressions.rollingHash(col("text"))
        Tables.documents(s, d).select(
            col("doc_id"), rh.as("rhash"),
            pmod(rh, lit(1024L)).as("bucket"))
          .orderBy(col("doc_id"))
      },
      None),

    // ------------------------------------------------------------ rolling (det)
    // Deterministic cross-engine variant of the fingerprint-and-shard
    // shape: same (key, bucket) assignment as ta_rolling_hash but keyed
    // on the md5-derived 60-bit key BOTH engines compute byte-identically
    // (TextHashFunctions.md5Key60 / md5Key60Sql) — putting shard
    // assignment under the FULL hash oracle the way dd_semdedup_det does
    // for SemDeDup accounting. The FNV-1a rolling hash itself stays
    // pinned by its JVM-reference unit test (NativeExpressionsSpec).
    QueryDef("ta_rolling_hash_det",
      (s, d) => {
        val key = graft.functions.TextHashFunctions.md5Key60(col("text"))
        Tables.documents(s, d).select(
            col("doc_id"), key.as("rkey"),
            pmod(key, lit(1024L)).as("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
              |  ${graft.functions.TextHashFunctions.md5Key60Sql("text")} AS rkey,
              |  ${graft.functions.TextHashFunctions.md5Key60Sql("text")} % 1024
              |    AS bucket
              |FROM documents ORDER BY doc_id""".stripMargin))
  )
}

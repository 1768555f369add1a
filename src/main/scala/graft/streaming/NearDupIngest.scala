package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming NEAR-duplicate ingestion: tail a graft-orc crawl table and
  * maintain a near-dup-free CLEAN catalog table plus the SIGNATURE
  * table that makes each batch's decisions corpus-aware — the minhash
  * companion to [[IngestDedup]]'s exact-fingerprint stream, and the
  * streaming form of `dd_minhash_lsh`'s batch dedup.
  *
  * Semantics: FIRST-WINS banding dedup. A document is DROPPED iff it
  * shares at least one LSH band key with ANY earlier-delivered document
  * — kept or dropped (a dropped near-dup's keys still poison its own
  * later near-dups, so chains collapse to the first survivor). "Earlier"
  * is `doc_id` order: the crawl contract is ascending-id delivery
  * (crawlers assign monotone ids), RUNTIME-ENFORCED via a high-water
  * `doc_id` persisted in the clean table's properties ([[HwmProp]]) —
  * a batch straddling the mark is refused loudly, or warned past with
  * `failOnOutOfOrder=false`. In-order delivery makes the final clean
  * table a pure function of the delivered SET — reproducible by the DuckDB
  * oracle as "keep every doc with no smaller-id band collider"
  * (`rl_stream_neardup_ingest`), and exactly-once-equivalent under
  * replay: decisions compare STRICTLY-smaller ids, so a replayed
  * batch's own keys (already MERGEd into the signature table by the
  * failed attempt) can never drop the docs that wrote them, and both
  * MERGEs are insert-only keyed no-ops on re-delivery.
  *
  * Banding-only precision note: candidates are NOT re-verified by
  * exact Jaccard (that would require shipping token sets into the
  * signature table); with the (8 bands x 4 rows) md5 banding this is
  * the recall-leaning dedup large crawl pipelines run when a false
  * drop is cheaper than a kept near-dup. The `bandKeys` hook swaps in
  * any banding (the native minhash kernel for engine-internal speed, a
  * stricter banding for precision).
  *
  * 100 TB shape: per-batch work is batch-bounded — band keys are
  * 8-byte md5Key60 values, 8 per doc; the history side of the
  * candidate join is the signature table RESTRICTED to the batch's
  * key-bucket set (`kb = pmod(hash(key), n)` identity-partition column;
  * the static `kb IN (...)` filter is an ordinary pushed predicate, so
  * the scan prunes to the batch's buckets, as [[IngestDedup]]'s bucketed
  * MERGE does — GraftOrcMergePruneSpec) and streams PAST the broadcast
  * batch side — history is scanned once per batch and never shuffled. Both
  * MERGEs carry the static bucket predicate in their ON clause (MoR
  * MERGEs get no runtime group filtering — GraftOrcMergePruneSpec)
  * PLUS a static `t.doc_id >= min(batch doc_id)` lower bound: it is
  * implied by the match condition, so results are identical, but under
  * the ascending-id crawl contract min/max file statistics prune the
  * ENTIRE history from both MERGE target scans — the MERGEs are
  * O(batch), not O(history), and only the one decision-join scan pays
  * for corpus awareness (GraftOrcMergePruneSpec pins exactly this
  * split). Driver collects are bounded by the bucket count, never by
  * data. Signature history grows with the corpus; key-sorted
  * compaction keeps per-bucket file counts flat — and with
  * `TBLPROPERTIES('graft.compact_after'='N',
  * 'graft.compact_zorder'='key')` on the signature table the ingest
  * MERGE commits run that maintenance THEMSELVES
  * ([[graft.sources.v2.GraftOrcCompact.maybeAutoCompact]]): the
  * steady state needs no scheduler. Give both tables
  * `'graft.distribution_mode'='hash'` as well: each MERGE then writes
  * ~one file per partition dir instead of tasks x dirs (512/batch
  * measured at 32 tasks x 16 buckets) — 32x less small-file creation
  * for the maintenance to absorb.
  */
object NearDupIngest {

  /** Clean-table property holding the highest `doc_id` ever merged —
    * the runtime teeth of the ascending-id crawl contract: a batch that
    * STRADDLES it (new ids below the mark) is out-of-order delivery and
    * is refused loudly by default (`failOnOutOfOrder=false` downgrades
    * to a warning: correctness invariants hold either way — the MERGE
    * bounds are implied by their match conditions — but first-wins
    * decisions drift toward delivery order and the O(batch) pruning
    * claim voids for that batch). A batch entirely AT-OR-BELOW the mark
    * is allowed only if every one of its ids was already processed (in
    * the clean table, or — dropped docs — in the signature table): true
    * replays and upstream re-deliveries pass as the no-ops they are,
    * while a batch of genuinely new ids hiding below the mark is
    * refused as full reordering. That membership probe costs two
    * id-range-pruned lookups and runs ONLY on at-or-below batches — a
    * healthy ascending stream never pays it.
    *
    * GRANULARITY — the contract is per MICRO-BATCH: with
    * `maxFilesPerTrigger`, one legitimately-in-order delivered wave
    * whose FILES interleave doc_id ranges (e.g. written via
    * `repartition`) splits into micro-batches that straddle each
    * other's marks and hard-fails. That is deliberate: at micro-batch
    * granularity the ids really do arrive out of order, and first-wins
    * decisions inside the wave would drift exactly the way the guard
    * exists to catch. Either deliver id-sorted files (sortWithinPartitions
    * on doc_id before the crawl append), drop
    * `maxFilesPerTrigger` so the wave lands as one batch, or accept
    * delivery-order semantics explicitly with `failOnOutOfOrder=false`.
    *
    * Cost: advancing the mark is ONE property-only metadata commit per
    * batch (it does not bump schemaV, so compaction grouping and the
    * read fast paths are untouched), plus one SHOW TBLPROPERTIES read
    * up front. Under count-based snapshot retention these stamps share
    * the retained window with the data commits; fold the prop into the
    * MERGE's own commit if that ever matters more than the isolation
    * of keeping DML commits pure.
    */
  private[graft] val HwmProp = "graft.neardup.hwm"

  /** Membership-probe accounting (the [[GraftOrcCompact.autoCompactStats]]
    * pattern): `fired` = an at-or-below-mark batch ran the two-lookup
    * membership probe; `refused` = the probe found genuinely-new ids
    * below the mark (full reordering — thrown or warned per
    * `failOnOutOfOrder`). The healthy-path zero-cost claim is exactly
    * "`fired` stays 0 on an ascending stream" — the per-round bench
    * stamps these into its detail context and GraftOrcStreamIngestSpec
    * asserts them, so a refactor that accidentally puts the probe on
    * the hot path (e.g. evaluating `seen` eagerly or widening the
    * at-or-below test) fails a test, not just a latency drift.
    * JVM-lifetime counters; [[resetHwmProbeStats]] zeroes them for a
    * measurement window.
    */
  private val probeFired = new java.util.concurrent.atomic.AtomicLong()
  private val probeRefused = new java.util.concurrent.atomic.AtomicLong()

  def hwmProbeStats: Map[String, Long] = Map(
    "fired" -> probeFired.get(), "refused" -> probeRefused.get())

  def resetHwmProbeStats(): Unit = { probeFired.set(0L); probeRefused.set(0L) }

  /** Key-bucket column over `key`. */
  def keyBucket(n: Int) = pmod(hash(col("key")), lit(n)).cast("int")

  /** Doc-bucket column over `doc_id`. */
  def docBucket(n: Int) = pmod(hash(col("doc_id")), lit(n)).cast("int")

  /** Run one ingestion pass: stream every unconsumed crawl commit, then
    * stop. Crawl schema: `doc_id` BIGINT, `text` STRING, payload
    * columns. Required table schemas (both MoR-recommended):
    *  - `cleanTable(doc_id BIGINT, <payload...>, db INT)`
    *    PARTITIONED BY (db)
    *  - `sigTable(band INT, key BIGINT, doc_id BIGINT, kb INT)`
    *    PARTITIONED BY (kb)
    *
    * @param bandKeys banding function: docs `(doc_id, text)` to
    *   `(doc_id, band, key)` rows; defaults to the oracle-reproducible
    *   md5 minhash banding shared with `dd_minhash_lsh_det`.
    */
  def ingest(spark: SparkSession, crawlDir: String, cleanTable: String,
             sigTable: String, checkpoint: String, buckets: Int = 16,
             bandKeys: DataFrame => DataFrame =
               graft.operators.Dedup.detBandKeys,
             maxFilesPerTrigger: Option[Int] = None,
             onMerge: (String, DataFrame) => Unit = (_, _) => (),
             failOnOutOfOrder: Boolean = true): Unit = {
    val reader = spark.readStream.format("graft-orc")
      .option("graft.snapshot_offsets", "true")
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val crawl = reader.load(crawlDir)
    val payloadCols = crawl.columns.filterNot(c =>
      c.equalsIgnoreCase("doc_id") || c.equalsIgnoreCase("text")).toSeq
    val q = crawl.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, cleanTable, sigTable, payloadCols, buckets,
          bandKeys, onMerge, failOnOutOfOrder)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(throw _)
  }

  /** One micro-batch: band, decide (drop iff a strictly-smaller-id
    * collider exists in history or in this batch), MERGE survivors into
    * the clean table and ALL the batch's band keys into the signature
    * table. Both MERGEs are insert-only and keyed, hence replay no-ops.
    * Exposed for the decision-semantics specs (injectable banding).
    */
  /** @param onMerge observation hook invoked with each executed MERGE's
    *   result frame (its executedPlan carries the target scan's metrics,
    *   e.g. `graftFilesRead`). Must not re-execute the frame.
    */
  def mergeBatch(batch: DataFrame, cleanTable: String, sigTable: String,
                 payloadCols: Seq[String], buckets: Int,
                 bandKeys: DataFrame => DataFrame,
                 onMerge: (String, DataFrame) => Unit = (_, _) => (),
                 failOnOutOfOrder: Boolean = true)
      : Unit = {
    // no up-front batch.isEmpty: that was a FULL extra job over the
    // batch's files on every (overwhelmingly non-empty) batch; the
    // bounds aggregate below subsumes the scan and an empty batch exits
    // through its null min/max before anything commits
    val s = batch.sparkSession
    // crawl may re-deliver a doc_id inside one batch (at-least-once
    // upstream); collapse to one deterministic row per id
    val docs = batch
      .select(col("doc_id") +: col("text") +: payloadCols.map(col): _*)
      .filter(col("doc_id").isNotNull)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("text") +: payloadCols.map(col): _*)).as("w"))
      .select(col("doc_id") +: col("w.text") +: payloadCols.map(c =>
        col(s"w.$c")): _*)
    // pinned: docs feeds BOTH the banding and the kept-side anti join
    docs.persist()
    // eager local checkpoint, not persist: the MERGE resolves its source
    // view on a FRESH parse where the cache lookup can miss — a cached
    // plan would then silently re-run the banding (and, for `kept`
    // below, the whole decision join incl. the history scan) INSIDE the
    // MERGE. A checkpoint truncates the lineage to the materialized
    // rows, so the bucket-set collect, the history join and the MERGE
    // source are the same rows by construction, at batch-bounded cost.
    // Recovery trade-off: checkpointed blocks are NOT fault-tolerant —
    // an executor loss mid-batch fails the foreachBatch attempt instead
    // of recomputing lineage; the stream then replays the batch, which
    // is a no-op by the keyed insert-only MERGE contract. Both frames
    // are explicitly unpersisted below so a long-running stream's
    // executors don't accumulate orphaned checkpoint blocks.
    // explicit banding-parallelism floor: the batch frame sits behind the
    // dedup aggregate, so [[Spread]]'s narrow-plan floor inside the
    // default banding no longer applies (r22: probing a post-aggregate
    // plan's partitioning executed the aggregation as an extra job per
    // batch). The repartition is batch-bounded (ids + text once per
    // batch) and distributes the 32-minhashes-per-shingle banding CPU
    // over every core regardless of how AQE coalesced the aggregate.
    val keys = bandKeys(docs.select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .withColumn("kb", keyBucket(buckets))
      .localCheckpoint(true)
    var kept: DataFrame = null
    try {
      // ONE bounded job over the PERSISTED batch + the checkpointed keys
      // (r22: was two sequential driver actions — the union lets Spark
      // run both dim-sized aggregates inside a single job, saving a
      // driver round trip per batch): the batch's id range and its
      // key-bucket set. The id MINIMUM is the static lower bound both
      // MERGEs prune history with — from `docs`, not `keys`: the clean
      // MERGE's source is derived from `docs`, which can hold KEYLESS
      // docs (null/empty text, injectable bandings) with ids below every
      // keyed doc, and a keys-derived bound would un-imply the match
      // condition for them, breaking replay no-ops. The MAXIMUM advances
      // the high-water mark.
      val stat = docs.agg(min(col("doc_id")).as("mn"),
          max(col("doc_id")).as("mx"))
        .select(lit(0).as("t"), col("mn"), col("mx"),
          lit(null).cast("array<int>").as("kbs"))
        .unionByName(keys.groupBy()
          .agg(collect_set(col("kb")).as("kbs"))
          .select(lit(1).as("t"), lit(null).cast("bigint").as("mn"),
            lit(null).cast("bigint").as("mx"), col("kbs")))
        .collect()
      val bounds = stat.find(_.getInt(0) == 0).get
      // a non-empty batch can still collapse to ZERO docs (every row's
      // doc_id null): nothing to decide or merge — and the min/max are
      // null, so the bound arithmetic must not run
      if (bounds.isNullAt(1)) return
      val minId = bounds.getLong(1)
      val maxId = bounds.getLong(2)
      // ascending-id contract, enforced: a batch straddling the stored
      // high-water mark delivers NEW ids below already-merged ones
      val hwm = BatchFrames.tableProp(s, cleanTable, HwmProp)
        .map(_.toLong)
      hwm.foreach { h =>
        if (minId <= h && maxId > h) {
          val msg = s"graft near-dup ingest: batch id range " +
            s"[$minId, $maxId] straddles $cleanTable's high-water mark " +
            s"$h — out-of-order delivery violates the ascending-id " +
            "crawl contract (first-wins decisions would drift toward " +
            "delivery order and MERGE history pruning voids). Deliver " +
            "in id order, or pass failOnOutOfOrder=false to accept " +
            "delivery-order semantics for this stream."
          if (failOnOutOfOrder) throw new IllegalStateException(msg)
          graft.sources.v2.GraftOrcLog.log.warn(msg)
        } else if (maxId <= h) {
          // fully at-or-below the mark: a true replay or an upstream
          // re-delivery is a no-op and must pass — but a batch of
          // genuinely NEW ids hiding entirely below the mark is full
          // reordering, which the range test alone cannot see. The two
          // ARE distinguishable exactly, at a cost paid only on this
          // never-in-a-healthy-stream path: every processed doc is in
          // the clean table (kept) or has its band keys in the
          // signature table (dropped — keyless docs are always kept),
          // so an id in neither was never processed. The mark advances
          // only AFTER both MERGEs commit, so a crash-replay cannot
          // false-trip this (its batch still has maxId > the stale-low
          // mark and never reaches here). No kb pruning on the sig
          // lookup: a re-delivered doc's TEXT may have changed (other
          // key buckets) — the id-range pushdown bounds the scan.
          val seen = s.table(cleanTable)
            .where(col("doc_id") >= minId && col("doc_id") <= maxId)
            .select(col("doc_id"))
            .unionByName(s.table(sigTable)
              .where(col("doc_id") >= minId && col("doc_id") <= maxId)
              .select(col("doc_id")))
          probeFired.incrementAndGet()
          val novel = docs.select(col("doc_id"))
            .join(seen, Seq("doc_id"), "left_anti").limit(1).count()
          if (novel > 0L) {
            probeRefused.incrementAndGet()
            val msg = s"graft near-dup ingest: batch id range " +
              s"[$minId, $maxId] sits entirely at or below $cleanTable's " +
              s"high-water mark $h but carries ids never processed — " +
              "this is reordered delivery (new ids below already-merged " +
              "ones), not a replay. Deliver in id order, or pass " +
              "failOnOutOfOrder=false to accept delivery-order semantics."
            if (failOnOutOfOrder) throw new IllegalStateException(msg)
            graft.sources.v2.GraftOrcLog.log.warn(msg)
          }
        }
      }
      // the batch's key-bucket set (from the fused stat job above);
      // EMPTY for an all-keyless batch (banding yields nothing, e.g.
      // empty texts): such docs share no key with anything, so they are
      // ALL kept — the batch still lands in the clean table, only the
      // collider machinery is skipped
      val kbs = stat.find(_.getInt(0) == 1).get
        .getSeq[Int](3).sorted // bounded by `buckets`
      // colliders: every batch doc with a strictly-smaller-id band-key
      // sharer, in history (signature table pruned to the batch's
      // buckets — static pushed predicate) or in this batch (a dropped
      // doc's keys poison its own later near-dups). One join: the
      // checkpointed batch side broadcasts, history streams past it and
      // is never shuffled. `dropped` may carry duplicate ids —
      // left_anti doesn't care, so no distinct shuffle.
      val hist = s.table(sigTable)
        .where(col("kb").isin(kbs.map(Integer.valueOf): _*))
        .select(col("band"), col("key"), col("doc_id").as("e_id"))
      val earlier = hist.unionByName(keys
        .select(col("band"), col("key"), col("doc_id").as("e_id")))
      val dropped = keys.join(earlier, Seq("band", "key"))
        .where(col("e_id") < col("doc_id"))
        .select(col("doc_id"))
      // project text away BEFORE the checkpoint (guide §2.3): the clean
      // MERGE inserts only (doc_id, payload, db) — materializing the
      // full text column into the kept blocks was pure waste
      kept = docs.select(col("doc_id") +: payloadCols.map(col): _*)
        .join(dropped, Seq("doc_id"), "left_anti")
        .withColumn("db", docBucket(buckets))
        .localCheckpoint(true)
      locally {
        val dbs = kept.groupBy().agg(collect_set(col("db"))).head()
          .getSeq[Int](0).sorted
        // both MERGEs carry `t.doc_id >= minId` — implied by the match
        // condition (t.doc_id = b.doc_id), so results are IDENTICAL; as
        // a STATIC predicate it reaches the target scan and, under the
        // ascending-id crawl contract, min/max file stats prune the
        // ENTIRE history: the target scans are O(batch), not O(history)
        // (a replayed batch still sees its own prior rows — their ids
        // are >= minId — so replays stay no-ops).
        //
        // The two MERGEs target DIFFERENT tables and read only the
        // checkpointed batch frames, so they run CONCURRENTLY from two
        // driver threads (guide §2.6 overlap-independent-jobs): one
        // MERGE's commit/fsync tail backfills the other's compute.
        // Order never mattered for correctness — a crash between them
        // was already tolerated (replay MERGEs are keyed insert-only
        // no-ops), and a one-failed/one-landed overlap replays the same
        // way; the high-water mark still advances only after BOTH.
        // onMerge hooks fire from THIS thread after both complete (hook
        // implementations stay single-threaded).
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        // fresh thread per merge, created from THIS batch thread — not
        // the global pool: a new Thread inherits the batch's Spark local
        // properties (job group, SQL execution id) via
        // InheritableThreadLocal, so q.stop()'s job-group cancel reaches
        // in-flight merges, and two concurrent streams can never starve
        // each other through a shared pool (r22, from r21 advice)
        implicit val mergeEc: ExecutionContext =
          ExecutionContext.fromExecutor((r: Runnable) => {
            val t = new Thread(r, "graft-neardup-merge")
            t.setDaemon(true)
            t.start()
          })
        val cleanF = Future {
          if (dbs.isEmpty) None
          else {
            val view = tempView(s, kept)
            val insCols = ("doc_id" +: payloadCols) :+ "db"
            try Some(s.sql(
              s"""MERGE INTO $cleanTable t USING $view b
                 |ON t.doc_id = b.doc_id AND t.db IN (${dbs.mkString(", ")})
                 |  AND t.doc_id >= $minId
                 |WHEN NOT MATCHED THEN
                 |  INSERT (${insCols.mkString(", ")})
                 |  VALUES (${insCols.map("b." + _).mkString(", ")})
                 |""".stripMargin))
            finally s.catalog.dropTempView(view)
          }
        }
        val sigF = Future {
          if (kbs.isEmpty) None
          else {
            val kview = tempView(s, keys)
            try Some(s.sql(
              s"""MERGE INTO $sigTable t USING $kview b
                 |ON t.band = b.band AND t.key = b.key
                 |  AND t.doc_id = b.doc_id AND t.kb IN (${kbs.mkString(", ")})
                 |  AND t.doc_id >= $minId
                 |WHEN NOT MATCHED THEN
                 |  INSERT (band, key, doc_id, kb)
                 |  VALUES (b.band, b.key, b.doc_id, b.kb)
                 |""".stripMargin))
            finally s.catalog.dropTempView(kview)
          }
        }
        // await BOTH before propagating either failure: a dangling
        // mid-commit future must not outlive this batch
        val cleanR = scala.util.Try(Await.result(cleanF, Duration.Inf))
        val sigR = scala.util.Try(Await.result(sigF, Duration.Inf))
        cleanR.foreach(_.foreach(onMerge("clean", _)))
        sigR.foreach(_.foreach(onMerge("sig", _)))
        cleanR.get; sigR.get
      }
      // advance the high-water mark AFTER both MERGEs committed: a
      // crash in between leaves it stale-LOW, which the next in-order
      // batch (min > stale mark) and a replay (max = stale-advanced
      // max, min > mark or pure-replay range) both tolerate. A pure
      // replay (max <= mark) advances nothing.
      if (hwm.forall(maxId > _))
        s.sql(s"ALTER TABLE $cleanTable SET TBLPROPERTIES(" +
          s"'$HwmProp'='$maxId')")
    } finally {
      docs.unpersist()
      BatchFrames.dropLocalCheckpoint(keys)
      BatchFrames.dropLocalCheckpoint(kept)
    }
  }

  private def tempView(s: SparkSession, df: DataFrame): String = {
    val v = "graft_neardup_" + java.util.UUID.randomUUID()
      .toString.replace("-", "").take(12)
    df.createOrReplaceTempView(v)
    v
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHashFunctions.md5Key60

/** Streaming crawl-dedup ingestion: tail a graft-orc CRAWL table and
  * maintain a deduplicated CLEAN catalog table, exactly-once-equivalent
  * under restart and replay.
  *
  * The operator a continuous 100 TB crawl actually runs (the streaming
  * form of `dd_incremental`'s daily batch): documents arrive as append
  * commits on the crawl table; each micro-batch is fingerprinted,
  * collapsed to one candidate per fingerprint, and MERGEd into the clean
  * table with KEEP-MIN semantics — the smallest `doc_id` ever seen for a
  * fingerprint wins, and its payload columns travel with it.
  *
  * Why keep-min and not keep-first: keep-min is ORDER-FREE and
  * IDEMPOTENT. The clean table's final state is a pure function of the
  * SET of documents ever delivered — independent of micro-batch
  * boundaries, commit arrival order, checkpoint restarts, and
  * `foreachBatch`'s at-least-once replays (a replayed batch MERGEs to a
  * no-op; a reordered batch converges to the same winners). That is what
  * makes the end-to-end pipeline exactly-once-equivalent without any
  * sink-side transaction coordination beyond the MERGE commit itself.
  *
  * 100 TB shape: each batch's work is BATCH-bounded, never
  * corpus-bounded — the fingerprints ride 8-byte keys, the MERGE's join
  * touches only the clean-table files whose key ranges the batch hits
  * (MoR delta path recommended via
  * `TBLPROPERTIES('graft.merge_mode'='mor')`), and history is never
  * re-clustered. Reference analogue: the reference engine has no
  * streaming surface at all (SURVEY §2.B); this composes the graft-orc
  * micro-batch source, the catalog MERGE path, and the dedup fingerprint
  * kernel.
  */
object IngestDedup {

  /** Fingerprint-bucket column: the deterministic function of `fp` that
    * makes the clean table's layout PRUNABLE. Spark `hash` = murmur3
    * seed 42, the same function the hidden `bucket(n, col)` transform
    * uses — but materialized as an identity-partitioned column so the
    * MERGE's ON clause can name it.
    */
  def fpBucket(n: Int): Column =
    pmod(hash(col("fp")), lit(n)).cast("int")

  /** Run one ingestion pass: stream every unconsumed crawl commit into
    * `cleanTable`, then stop. Re-invoking with the same `checkpoint`
    * resumes past consumed commits (restart safety); re-invoking with a
    * FRESH checkpoint replays everything and must leave the table
    * unchanged (idempotence).
    *
    * The crawl schema contract: a `doc_id` BIGINT, a `text` STRING, and
    * any further PAYLOAD columns. The clean table must exist with schema
    * `(fp BIGINT, doc_id BIGINT, <payload...>)`.
    *
    * @param fingerprint fingerprint expression over the crawl columns;
    *   defaults to the oracle-reproducible md5-60 of `text` (swap in
    *   `xxhash64` for engine-internal speed, or a normalized form for
    *   near-exact policies).
    * @param buckets when set, the clean table is expected to carry an
    *   `fpb INT` identity-partition column (`PARTITIONED BY (fpb)`,
    *   value `fpBucket(n)`). Each batch then computes its winners'
    *   bucket set (a driver collect BOUNDED BY `n`, never by data) and
    *   restricts the MERGE's ON clause with `t.fpb IN (...)` — a static
    *   partition filter the target scan prunes files with. This is what
    *   keeps the history side of the MERGE SUBLINEAR at 100 TB: Spark's
    *   runtime group filtering prunes only copy-on-write MERGEs, so a
    *   merge-on-read clean table without the explicit bucket column
    *   re-scans its whole history every batch (both facts pinned in
    *   GraftOrcMergePruneSpec). Pair with
    *   `TBLPROPERTIES('graft.compact_after'='N',
    *   'graft.compact_zorder'='fp')` and the MERGE commits keep the
    *   clean table fp-sorted and file-count-bounded themselves, without
    *   a scheduler (GraftOrcStreamIngestSpec pins it).
    *   Add `'graft.distribution_mode'='hash'` so each MERGE writes ~one
    *   file per bucket dir instead of tasks x dirs — far less
    *   small-file creation for that maintenance to absorb.
    */
  def ingest(spark: SparkSession, crawlDir: String, cleanTable: String,
             checkpoint: String,
             fingerprint: Column = md5Key60(col("text")),
             maxFilesPerTrigger: Option[Int] = None,
             buckets: Option[Int] = None): Unit = {
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
        mergeBatch(batch, cleanTable, fingerprint, payloadCols, buckets)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // surface a batch failure as the caller's error, not a silent stop
    q.exception.foreach(throw _)
  }

  /** One micro-batch: fingerprint, collapse to the per-fingerprint
    * winner (min over (doc_id, payload...) — a total order, so ties on
    * doc_id cannot make the outcome nondeterministic), MERGE keep-min.
    * Documents with a NULL fingerprint (null text) are dropped — a null
    * key can never match and would re-insert on every delivery.
    * Exposed for the batch twin in specs.
    *
    * @param onMerge observation hook invoked with each executed MERGE
    *   statement's result frame (its executedPlan carries the target
    *   scan's metrics — GraftOrcMergePruneSpec reads `graftFilesRead`
    *   off it). Must not re-execute the frame.
    */
  def mergeBatch(batch: DataFrame, cleanTable: String,
                 fingerprint: Column, payloadCols: Seq[String],
                 buckets: Option[Int] = None,
                 onMerge: DataFrame => Unit = _ => ()): Unit = {
    // no up-front batch.isEmpty: that was a FULL extra job over the
    // batch's files on every (overwhelmingly non-empty) batch. The
    // winner aggregation below subsumes the scan, and emptiness is
    // decided from its materialized checkpoint (near-free probe) before
    // anything commits.
    val s = batch.sparkSession
    val winner0 = batch
      .select(fingerprint.as("fp"),
        struct((col("doc_id") +: payloadCols.map(col)): _*).as("w"))
      .filter(col("fp").isNotNull)
      .groupBy(col("fp")).agg(min(col("w")).as("w"))
      .select(col("fp") +: col("w.doc_id") +: payloadCols.map(c =>
        col(s"w.$c")): _*)
    // eager local checkpoint, not persist: the MERGE resolves its
    // source view on a FRESH parse where the cache lookup can miss — a
    // cached plan would then silently re-run the batch's fingerprint
    // aggregation INSIDE the MERGE (and the bucket-set collect could
    // diverge from the rows the MERGE sees). A checkpoint truncates the
    // lineage to the materialized rows at batch-bounded cost.
    val winner = (buckets match {
      case None => winner0
      case Some(n) => winner0.withColumn("fpb", fpBucket(n))
    }).localCheckpoint(true)
    try {
      val bucketPred = buckets.map { _ =>
        val bs = winner.select(col("fpb")).distinct()
          .collect().map(_.getInt(0)).sorted // bounded by `buckets`
        if (bs.isEmpty) return
        s" AND t.fpb IN (${bs.mkString(", ")})"
      }.getOrElse {
        // unbucketed: the empty-batch exit (all-null fingerprints, or an
        // empty replay batch) must still happen before the MERGE
        if (winner.isEmpty) return
        ""
      }
      val view = "graft_ingest_batch_" + java.util.UUID.randomUUID()
        .toString.replace("-", "").take(12)
      winner.createOrReplaceTempView(view)
      val payload = payloadCols ++ (if (buckets.isDefined) Seq("fpb")
        else Nil)
      // fpb never changes on UPDATE (same deterministic function of the
      // matched fp), so only doc_id + true payload move
      val setAll = (("doc_id" +: payloadCols)
        .map(c => s"t.$c = b.$c")).mkString(", ")
      val insCols = ("fp" +: "doc_id" +: payload).mkString(", ")
      val insVals = ("fp" +: "doc_id" +: payload)
        .map(c => s"b.$c").mkString(", ")
      try onMerge(s.sql(
        s"""MERGE INTO $cleanTable t USING $view b
           |ON t.fp = b.fp$bucketPred
           |WHEN MATCHED AND b.doc_id < t.doc_id THEN UPDATE SET $setAll
           |WHEN NOT MATCHED THEN INSERT ($insCols) VALUES ($insVals)
           |""".stripMargin))
      finally s.catalog.dropTempView(view)
    } finally BatchFrames.dropLocalCheckpoint(winner)
  }
}

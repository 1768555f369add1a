package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact GLOBAL ranking without a single-partition window.
  *
  * `ntile(4) OVER (ORDER BY ...)` plans a one-partition sort of every
  * row — fine while the input is a dimension-sized aggregate (the q74
  * posture), a driver-shaped bottleneck the moment the ranked frame
  * grows fact-like. This operator computes the SAME result with three
  * scalable pieces:
  *
  *  1. `repartitionByRange` + `sortWithinPartitions` on the order
  *     columns — a parallel total sort (the Spark-native TeraSort
  *     shape);
  *  2. one driver-bounded collect of PER-PARTITION (count, min id)
  *     pairs — P rows, never data;
  *  3. a broadcast join of per-partition rank OFFSETS back onto the
  *     sorted rows: global rank = offset + local index, all narrow.
  *
  * SIZE GATE: the offsets machinery costs a constant ~1 s of extra jobs
  * (eager checkpoint, stats collect, broadcast) — pure overhead on a
  * dimension-sized frame, where one single-partition sort is the
  * cheapest exact plan there is. The gate pins FIRST and counts the
  * checkpoint: both paths need the input materialized exactly once
  * anyway (the small path to window over it, the distributed path to
  * range-sort it), so `df.localCheckpoint(true)` up front makes the
  * gate's count a metadata-cheap job over already-materialized blocks
  * and the input lineage — often a blocking aggregate — executes ONCE
  * no matter which path wins. (An earlier LIMIT-probe design bounded
  * the rows materialized but not the upstream compute: a blocking
  * aggregate runs to completion before LocalLimit emits anything, and
  * the fact path then re-ran the whole lineage for its own pin —
  * strictly dominated by pin-first.) A caller that KNOWS the frame is
  * fact-sized passes `windowBelowRows = 0` to skip the count job.
  *
  * Bucket assignment follows SQL NTILE exactly on both paths: with N
  * rows and n buckets, the first N mod n buckets carry N/n + 1 rows.
  * Ties across the order columns get arbitrary distinct ranks
  * (row_number semantics) — pass a TOTAL order for cross-engine
  * determinism.
  *
  * Lifetime: the checkpoints' executor blocks live until the returned
  * frame is garbage-collected (ContextCleaner); they register as
  * persistent RDDs, so a loop that cannot wait for GC can sweep them
  * via `sparkContext.getPersistentRDDs` (the bench does exactly that
  * after its timing loop).
  */
object GlobalRank {

  /** Frames at or below this row count take the plain window path.
    *
    * Measured, not asserted (a frame-size sweep, 3 warm
    * iterations/point at local[32]): the single-partition window beats
    * the distributed offsets path at EVERY measured size — 0.30 s vs
    * 0.73 s at 64k, 0.37 vs 0.97 at 1M, 0.93 vs 3.18 at 16M rows — so
    * there is no single-node latency crossover in range; the
    * distributed path's ~0.5–2 s is fixed-job insurance premium. The
    * threshold is therefore a MEMORY/SCALE bound, not a latency one:
    * the window path ships the whole frame to ONE task, and 256k rows
    * keeps that task ≤ ~25 MB for typical ranked frames and ≤ ~256 MB
    * even at a pathological ~1 KB/row — comfortable on any executor.
    * Above it, the cheap constant buys the plan that survives a frame
    * growing fact-like (the property GlobalRankSpec pins).
    */
  val DefaultWindowBelowRows: Long = 1L << 18

  /** Append an exact global NTILE bucket column. `order` should be a
    * total order (append a key column to break ties deterministically).
    * The returned frame is backed by an eager local checkpoint of the
    * input; rank/bucket derivation on top is narrow (distributed path)
    * or a single small-frame window (gated path).
    *
    * `windowBelowRows` is a MEMORY bound the caller owns: every frame at
    * or under it is sorted by ONE task (the gated window path), so a
    * caller raising it past the default accepts that a frame of that
    * many rows fits a single executor task's memory. There is no
    * Int.MaxValue ceiling anymore (the gate no longer materializes a
    * LIMIT probe), so an oversized threshold fails as a slow/OOM single
    * task, not loudly at the boundary.
    */
  def ntile(df: DataFrame, n: Int, order: Seq[Column],
            out: String = "ntile",
            windowBelowRows: Long = DefaultWindowBelowRows): DataFrame = {
    require(n > 0, s"ntile bucket count must be positive, got $n")
    val s = df.sparkSession
    // Pin the input ONCE, before the gate: the gate's count, the range
    // sampler, the shuffle and the stats job all read the same
    // materialized blocks instead of re-running the (often aggregate)
    // input lineage per consumer — whichever path wins, the lineage
    // executes exactly once.
    val pinned = df.localCheckpoint(true)
    if (windowBelowRows > 0 && pinned.count() <= windowBelowRows)
      // dimension-sized: one single-partition window over the
      // checkpointed blocks is the cheapest exact plan there is
      return pinned.withColumn(out,
        org.apache.spark.sql.functions.ntile(n)
          .over(Window.orderBy(order: _*)))
    val parts = math.max(1, s.sparkContext.defaultParallelism)
    val ranged = pinned.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__grk_pid", spark_partition_id())
      .withColumn("__grk_mid", monotonically_increasing_id())
      .localCheckpoint(true)
    // ranged's checkpoint truncates lineage, so pinned's full unsorted
    // copy is dead weight from here on — drop it rather than holding
    // TWO fact-sized copies in executor storage until GC
    graft.streaming.BatchFrames.dropLocalCheckpoint(pinned)
    // P (partition count) rows to the driver — counts and the partition-
    // local id base (min of the monotonic id, so no bit-layout
    // assumption about monotonically_increasing_id's encoding)
    val stats = ranged.groupBy(col("__grk_pid"))
      .agg(count(lit(1)).as("c"), min(col("__grk_mid")).as("m"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = stats.map(_._2).sum
    val offsets = stats.map(_._2).scanLeft(0L)(_ + _).init
    val offRows = stats.zip(offsets).map { case ((pid, _, m), off) =>
      (pid, m, off)
    }
    import s.implicits._
    val offDf = offRows.toSeq.toDF("__grk_pid", "__grk_base", "__grk_off")
    // global 1-based rank in `order`: partition offset + local index
    val rank = col("__grk_off") +
      (col("__grk_mid") - col("__grk_base")) + lit(1L)
    // SQL NTILE: q = N/n rows per bucket, the first r = N%n buckets
    // carry one extra; q == 0 (fewer rows than buckets) degenerates to
    // bucket = rank, which the same formula yields through the cut
    val q = total / n
    val r = total % n
    val cut = (q + 1L) * r
    val bucket =
      if (q == 0L) rank
      else when(rank <= cut, (rank - 1L) / (q + 1L) + 1L)
        .otherwise(lit(r) + (rank - cut - 1L) / q + 1L)
    ranged.join(broadcast(offDf), Seq("__grk_pid"))
      .withColumn(out, bucket.cast("int"))
      .drop("__grk_pid", "__grk_mid", "__grk_base", "__grk_off")
  }
}

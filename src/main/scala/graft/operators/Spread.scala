package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode,
  LogicalPlan, Project, SubqueryAlias}

/** Scan-parallelism floor for CPU-heavy pre-shuffle stages (guide §2.5
  * "input skew: one huge unsplittable file → repartition immediately
  * after the read", §6 scan-parallelism floor).
  *
  * The text/vector operators do their expensive work BEFORE the first
  * exchange — tokenize, n-gram explode, per-permutation md5 minhashes,
  * cosine verifies — inside the scan stage. Spark sizes scan tasks by
  * BYTES, and a small single-row-group parquet file plans as ONE task no
  * matter how many cores the session has (`minPartitionNum` cannot help:
  * row-group granularity means the extra splits come up empty). Measured
  * at sf0.1 on local[32]: the whole bigram-LM model pass ran as one 2.1 s
  * single-task stage while 31 cores idled.
  *
  * [[Spread.spread]] redistributes by a deterministic key to
  * `defaultParallelism` partitions, but ONLY when the planned scan
  * parallelism is below the session's cores — the gate makes it
  * scale-ADAPTIVE, not a local-mode constant: at 100 TB the input's own
  * file count exceeds any executor count and the call is a no-op (zero
  * added shuffle). Hash-repartition on the unique id column (not
  * round-robin) so no `sortBeforeRepartition` local sort is paid and the
  * layout is deterministic under retries.
  *
  * SCOPE (r22): the floor applies only to NARROW plans — projections /
  * filters over source leaves. Probing `df.rdd.getNumPartitions` on such
  * a plan is pure planning (no exchanges, so under AQE there is no query
  * stage to materialize and NO job runs); on a plan that already
  * contains an aggregation/join/repartition the same probe would
  * eagerly EXECUTE the upstream shuffle stages as real jobs just to
  * count partitions (measured as one extra full-batch job per streaming
  * micro-batch in r21's NearDupIngest banding). Post-exchange frames
  * already run at `spark.sql.shuffle.partitions`; a caller that needs a
  * floor on one (the streaming banding) adds its own explicit
  * batch-bounded repartition instead.
  *
  * Results are unaffected by construction: every caller either aggregates
  * or ends in a total ORDER BY, and the redistribution key is a function
  * of the row.
  */
object Spread {

  /** Narrow = projections/filters/aliases over leaves: plans whose
    * physical form has no exchange, so the `.rdd` partition probe can
    * never launch a job.
    */
  private def isNarrow(plan: LogicalPlan): Boolean = plan match {
    case _: LeafNode => true
    case _: Project | _: Filter | _: SubqueryAlias =>
      plan.children.forall(isNarrow)
    case _ => false
  }

  /** `df` redistributed on `key` to the session's default parallelism,
    * when (and only when) it is a narrow scan plan whose planned
    * parallelism is below it.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    if (!isNarrow(df.queryExecution.analyzed)) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, key) else df
  }
}

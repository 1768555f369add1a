package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers one entry in `queries`; when the
  * semantics are ANSI-SQL-expressible the matching DuckDB oracle lives in
  * `oracleSql` (same column names, same total ORDER BY — the driver hash
  * compares after sorting columns by name).
  */
object SparkEntry {

  private[graft] val modules: Seq[QueryDef] =
    Relational.defs ++ TpcdsShapes.defs ++ TpcdsShapes2.defs ++
      TpcdsShapes3.defs ++
      TextAnalysis.defs ++ Dedup.defs ++
      Similarity.defs ++ Multimodal.defs ++ TypedOps.defs ++
      Pipeline.defs ++ RowLevelOps.defs ++ CatalogOps.defs

  // `queries` is a Map: a second definition under one name would
  // silently replace the first
  require(modules.map(_.name).distinct.size == modules.size,
    "duplicated query names: " + modules.groupBy(_.name)
      .collect { case (n, qs) if qs.size > 1 => n }.toSeq.sorted
      .mkString(", "))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Star join + aggregate + ordering over the ORC round-trip scan path —
    * exercises the Tier-A scan and a representative slice of Tier B.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_star_join_revenue")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}

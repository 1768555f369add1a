package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Structural invariants of the operator queries at sf0.001 — complements
  * the DuckDB-oracle hash checks the driver runs at sf0.01.
  */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf0001
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every query has a runnable plan and deterministic output") {
    // all queries run at sf0.001 and return a schema
    SparkEntry.queries.keys.foreach { name =>
      assert(q(name).schema.fields.nonEmpty, s"$name has empty schema")
    }
  }

  test("every QueryDef registers under its own name") {
    assert(SparkEntry.queries.size == SparkEntry.modules.size)
  }

  test("the change-feed queries leave no graft-feed checkpoint behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    // the two queries' checkpoint prefixes, plus the random suffix
    def feedDirs: Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(_.matches("graft-feed(-branch)?[0-9]+")).toSet
    val before = feedDirs
    Seq("rl_cdc_feed", "rl_cdc_feed_branch").foreach { name =>
      assert(q(name).collect().nonEmpty, s"$name returned no rows")
    }
    val left = feedDirs -- before
    assert(left.isEmpty, s"checkpoint directories left in $tmp: $left")
  }

  test("every oracle key matches a query key") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }

  test("q01 aggregates partition-independently") {
    // same result with different shuffle partitioning — order-independent sums
    val a = q("q01_pricing_summary").collect().toSeq
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val b = q("q01_pricing_summary").collect().toSeq
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert(a === b)
  }

  test("q04 top-k is ordered descending by price") {
    val rows = q("q04_topk_orders").select($"o_totalprice").as[Double].collect()
    assert(rows.length === 10)
    assert(rows.toSeq === rows.sorted(Ordering[Double].reverse).toSeq)
  }

  test("q05 semi + q06 anti partition the customer set consistently") {
    val semi = q("q05_semi_join").count()
    val total = Tables.customer(spark, sf).count()
    assert(semi <= total)
  }

  test("q07 window emits at most 2 rows per customer with ranks 1..2") {
    val bad = q("q07_window_topn").groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), max($"rn").as("mx"))
      .filter($"n" > 2 || $"mx" > 2).count()
    assert(bad === 0)
  }

  test("q08 rollup contains the grand total row") {
    val grand = q("q08_rollup")
      .filter($"l_returnflag".isNull && $"l_linestatus".isNull)
    assert(grand.count() === 1)
    val total = Tables.lineitem(spark, sf).count()
    assert(grand.select($"n").as[Long].collect().head === total)
  }

  test("q14 outer join count covers every customer") {
    assert(q("q14_outer_join_count").count() ===
      Tables.customer(spark, sf).count())
  }

  test("q30 bucketed join plans with zero exchanges below the join") {
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = SparkEntry.queries("q30_bucketed_join")(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(400))
      val belowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange"),
        "bucketed join must not shuffle: " + belowJoin.take(400))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("q19 ORC roundtrip agg equals parquet-direct agg") {
    val orc = q("q19_orc_roundtrip").collect().toSeq
    val pq = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(orc === pq)
  }
}

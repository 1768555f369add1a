package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.sources.OrcData

/** Tier-B relational surface (SURVEY.md §2.B): projections/filters, joins of
  * every shape, aggregations, windows, sorts/limits, set ops, expressions,
  * subqueries — each as a driver-checkable query with a DuckDB oracle, plus
  * ORC round-trip queries exercising the Tier-A scan/write layer.
  *
  * Scale notes are inline per query: broadcasts are explicit for dimension
  * tables, aggregations are partial-aggregate friendly (all built-in
  * functions), and no query collects to the driver.
  */
object Relational {

  /** Exact, order-independent sum: accumulate in DECIMAL, surface DOUBLE. */
  private def dsum(c: Column, alias: String): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double").as(alias)
  private val oDsum = (x: String, a: String) =>
    s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE) AS $a"

  /** Filterless global COUNT/MIN/MAX over `orders`, pushed down to the
    * graft-orc footer/sidecar statistics of the table at `path`.
    */
  private def ordersFooterAgg(name: String,
                              path: (SparkSession, String) => String)
      : QueryDef =
    QueryDef(name,
      (s, d) => s.read.format("graft-orc")
        .option("orc.aggregate_pushdown", "true").load(path(s, d))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust")),
      Some("""SELECT count(*) AS n,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
             |FROM orders""".stripMargin))

  /** Star join of the l_returnflag-partitioned lineitem (loaded by
    * `fact` from its ORC path) with the file-backed flag dim, filtered
    * on a dim attribute so the fact's pruning can only happen at run time.
    */
  private def returnedStarJoin(name: String,
                               fact: (SparkSession, String) => DataFrame)
      : QueryDef =
    QueryDef(name,
      (s, d) => {
        val f = fact(s,
          OrcData.partitionedOrcPath(s, d, "lineitem", "l_returnflag"))
        val dim = s.read.parquet(OrcData.flagDimPath(s, d))
          .filter(col("status_name") === "returned")
        f.join(broadcast(dim), col("l_returnflag") === col("flag"))
          .groupBy(col("status_name"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"))
          .orderBy(col("status_name"))
      },
      Some(s"""SELECT status_name, count(*) AS n,
              |  ${oDsum("l_quantity", "sum_qty")}
              |FROM lineitem
              |JOIN (VALUES ('R', 'returned'), ('A', 'acknowledged'),
              |      ('N', 'in_flight')) d(flag, status_name)
              |  ON l_returnflag = flag
              |WHERE status_name = 'returned'
              |GROUP BY 1 ORDER BY 1""".stripMargin))

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q01
    // TPC-H Q1-style pricing summary: scan -> partial/final hash agg.
    // At 100 TB: group cardinality is tiny (6) so map-side combine reduces
    // the shuffle to ~6 rows per task — scales linearly with input.
    QueryDef("q01_pricing_summary",
      (s, d) => {
        // the decimal partial aggregation is the scan stage's CPU and a
        // small parquet plans ~3 tasks on 32 cores — floor the
        // parallelism (Spread scaladoc; exact decimal/count aggregates,
        // so row order cannot perturb the result; no-op at scale)
        val li = Spread.spread(Tables.lineitem(s, d), col("l_orderkey"))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity"), "sum_qty"),
            dsum(col("l_extendedprice"), "sum_base_price"),
            // decimal-FIRST product: price and discount are 2-decimal
            // values, so casting each operand (never the double product)
            // makes every per-row term and the sum EXACT on both engines
            // — a double product cast at scale 8 accumulated a visible
            // quantum bias at sf0.1 (round-12 receipt)
            sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
                (lit(1).cast(DecimalType(3, 2)) -
                  col("l_discount").cast(DecimalType(4, 2))))
              .cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
             |    AS DOUBLE) AS sum_disc_price,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ---------------------------------------------------------------- q02
    // Filter + projection: both reach the parquet scan (PushedFilters /
    // ReadSchema) — the reference's A6/A8 pushdown contract.
    QueryDef("q02_filter_project",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R" &&
            col("l_quantity") >= 10 && col("l_quantity") <= 20 &&
            col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE l_returnflag='R' AND l_quantity BETWEEN 10 AND 20
             |  AND l_shipdate < TIMESTAMP '1999-01-01'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---------------------------------------------------------------- q03
    // Star join: fact (orders) joined to three dims, all broadcast —
    // zero shuffle for the joins; only the final tiny agg shuffles.
    QueryDef("q03_star_join_revenue",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice"), "revenue"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""SELECT r_name, n_name, count(*) AS n_orders,
              |  ${oDsum("o_totalprice", "revenue")}
              |FROM orders
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ---------------------------------------------------------------- q04
    // Top-k: orderBy+limit plans as TakeOrderedAndProject — per-partition
    // top-k then driver merge of k*partitions rows, no global sort.
    QueryDef("q04_topk_orders",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---------------------------------------------------------------- q05
    // Left-semi join (EXISTS). Dim side is the filter output — broadcast.
    QueryDef("q05_semi_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey"))
        c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // ---------------------------------------------------------------- q06
    // Left-anti join (NOT EXISTS).
    QueryDef("q06_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val p = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey"))
        c.join(p, c("c_custkey") === p("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
             |ORDER BY c_custkey""".stripMargin)),

    // ---------------------------------------------------------------- q07
    // Window: per-customer top-2 orders via row_number. Single shuffle on
    // the partition key; deterministic tie-break on o_orderkey.
    QueryDef("q07_window_topn",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin)),

    // ---------------------------------------------------------------- q08
    // ROLLUP (grouping sets). NULLS FIRST pinned on both engines.
    QueryDef("q08_rollup",
      (s, d) => {
        Tables.lineitem(s, d)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(dsum(col("l_quantity"), "sum_qty"), count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------- q09
    // COUNT(DISTINCT x) twice — Catalyst expands to two-phase distinct
    // aggregation; exact integers so engine-independent.
    QueryDef("q09_count_distinct",
      (s, d) => {
        // no Spread floor here (r22 interleaved A/B, 2x3 iterations:
        // the floor's full-row exchange lost consistently — cold
        // 1.65/1.86 s with vs 1.26/1.48 s without; the per-task partial
        // dedup is cheap enough that added exchange > parallelism win)
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("nd_part"),
            countDistinct(col("l_suppkey")).as("nd_supp"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
             |  count(DISTINCT l_suppkey) AS nd_supp, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q10
    // Set ops: INTERSECT then EXCEPT (both distinct semantics).
    QueryDef("q10_setops",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val rKeys = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("okey"))
        val fKeys = o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("okey"))
        val aKeys = li.filter(col("l_returnflag") === "A")
          .select(col("l_orderkey").as("okey"))
        rKeys.intersect(fKeys).except(aKeys).orderBy(col("okey"))
      },
      Some("""SELECT okey FROM (
             |  SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag='R'
             |  INTERSECT
             |  SELECT o_orderkey AS okey FROM orders WHERE o_orderstatus='F'
             |  EXCEPT
             |  SELECT l_orderkey AS okey FROM lineitem WHERE l_returnflag='A') t
             |ORDER BY okey""".stripMargin)),

    // ---------------------------------------------------------------- q11
    // Scalar expressions: CASE WHEN buckets, substr, year(). All outputs
    // BIGINT/DOUBLE-normalized for cross-engine schema stability.
    QueryDef("q11_expr_buckets",
      (s, d) => {
        Tables.orders(s, d)
          .select(
            year(col("o_orderdate")).cast("long").as("oyear"),
            substring(col("o_orderpriority"), 1, 1).as("prio"),
            when(col("o_totalprice") < 100000, "low")
              .when(col("o_totalprice") < 300000, "mid")
              .otherwise("high").as("bucket"),
            col("o_totalprice"))
          .groupBy(col("oyear"), col("prio"), col("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "total"))
          .orderBy(col("oyear"), col("prio"), col("bucket"))
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS oyear,
              |  substr(o_orderpriority,1,1) AS prio,
              |  CASE WHEN o_totalprice < 100000 THEN 'low'
              |       WHEN o_totalprice < 300000 THEN 'mid'
              |       ELSE 'high' END AS bucket,
              |  count(*) AS n, ${oDsum("o_totalprice", "total")}
              |FROM orders GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin)),

    // ---------------------------------------------------------------- q12
    // HAVING over a high-cardinality group key (l_partkey): the shuffle is
    // on the natural key; AQE coalesces post-shuffle partitions.
    QueryDef("q12_having",
      (s, d) => {
        Tables.lineitem(s, d)
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "qty"))
          .filter(col("n") >= 40)
          .orderBy(col("l_partkey"))
      },
      Some("""SELECT l_partkey, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem GROUP BY 1 HAVING count(*) >= 40
             |ORDER BY l_partkey""".stripMargin)),

    // ---------------------------------------------------------------- q13
    // Variance/stddev computed from exact decimal power sums so both
    // engines derive bit-identical doubles (engine-native stddev_samp
    // differs in accumulation order; it is covered by ScalaTest instead).
    QueryDef("q13_variance",
      (s, d) => {
        // scan-parallelism floor (exact decimal sums — order-free)
        val g = Spread.spread(Tables.lineitem(s, d), col("l_orderkey"))
          .groupBy(col("l_returnflag")).agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast(DecimalType(28, 6))).cast("double").as("s1"),
          sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 6)))
            .cast("double").as("s2"))
        g.select(col("l_returnflag"),
            ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
              .as("var_qty"),
            (col("s1") / col("n")).as("mean_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  (s2 - s1*s1/n)/(n-1) AS var_qty, s1/n AS mean_qty
             |FROM (
             |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             |    CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s2
             |  FROM lineitem GROUP BY 1) t
             |ORDER BY l_returnflag""".stripMargin)),

    // ---------------------------------------------------------------- q14
    // Left outer join + COUNT(col) null semantics (zero-order customers).
    QueryDef("q14_outer_join_count",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q15
    // Uncorrelated scalar subquery in a filter.
    QueryDef("q15_subquery_above_avg",
      (s, d) => {
        val o = Tables.orders(s, d)
        val avgPrice = o.agg(avg(col("o_totalprice")).as("a"))
        o.join(broadcast(avgPrice))
          .filter(col("o_totalprice") > col("a"))
          .agg(count(lit(1)).as("n_above"),
            dsum(col("o_totalprice"), "sum_above"))
      },
      Some(s"""SELECT count(*) AS n_above, ${oDsum("o_totalprice", "sum_above")}
              |FROM orders
              |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)""".stripMargin)),

    // ---------------------------------------------------------------- q16
    // Event-time tumbling window (hourly) rendered as a string key so no
    // timestamp types cross the engine boundary.
    QueryDef("q16_events_hourly",
      (s, d) => {
        Tables.events(s, d)
          .select(date_format(col("ts").cast("timestamp"), "yyyy-MM-dd HH")
              .as("hour_key"),
            col("event_type"), col("value"))
          .groupBy(col("hour_key"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), "sum_value"))
          .orderBy(col("hour_key"), col("event_type"))
      },
      Some(s"""SELECT printf('%04d-%02d-%02d %02d',
              |    year(ts), month(ts), day(ts), hour(ts)) AS hour_key,
              |  event_type, count(*) AS n, ${oDsum("value", "sum_value")}
              |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // ---------------------------------------------------------------- q17
    // Sessionization primitives: lag() over (user, time) -> inter-event
    // gaps in exact microseconds (BIGINT on both engines).
    QueryDef("q17_events_gaps",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        e.withColumn("prev_us", lag(col("ts_us"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("ts_us") - col("prev_us")).as("total_gap_us"),
            max(col("ts_us") - col("prev_us")).as("max_gap_us"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(gap) AS BIGINT) AS total_gap_us, max(gap) AS max_gap_us
             |FROM (
             |  SELECT user_id, epoch_us(ts) -
             |    lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS gap
             |  FROM events) t
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q18
    // UNION ALL of two filtered branches then aggregate.
    QueryDef("q18_union_all",
      (s, d) => {
        val e = Tables.events(s, d)
        val a = e.filter(col("value") > 50).select(col("event_type"))
        val b = e.filter(col("event_type") === "error").select(col("event_type"))
        a.union(b).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n")).orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n FROM (
             |  SELECT event_type FROM events WHERE value > 50
             |  UNION ALL
             |  SELECT event_type FROM events WHERE event_type = 'error') t
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q19
    // ORC round-trip (Tier A): parquet -> write.orc -> read.orc -> agg.
    // The DuckDB oracle reads the original parquet, so a hash match proves
    // the ORC write+read path is lossless for every column it touches.
    QueryDef("q19_orc_roundtrip",
      (s, d) => {
        OrcData.orc(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"),
            dsum(col("l_extendedprice"), "sum_price"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, count(*) AS n,
              |  ${oDsum("l_quantity", "sum_qty")},
              |  ${oDsum("l_extendedprice", "sum_price")}
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q71
    // DSv2 sink round trip: supplier written through the graft-orc WRITE
    // path (staging + driver-rename commit, GraftOrcWrite) and read back
    // through the graft-orc scan, then aggregated. The oracle aggregates
    // the parquet original directly — any row lost or mangled by the
    // writer protocol flips the hash. Write is a per-sfDir overwrite under
    // the shared conversion cache root, so repeat runs stay idempotent.
    QueryDef("q71_orc_sink_roundtrip",
      (s, d) => {
        val out = OrcData.sinkDir(d, "supplier_sink")
        s.read.parquet(s"$d/supplier.parquet")
          .write.format("graft-orc").mode("overwrite").save(out)
        s.read.format("graft-orc").load(out)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), dsum(col("s_acctbal"), "sum_bal"))
          .orderBy(col("s_nationkey"))
      },
      Some(s"""SELECT s_nationkey, count(*) AS n,
              |  ${oDsum("s_acctbal", "sum_bal")}
              |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q75
    // Partitioned DSv2 sink round trip: orders written through the
    // graft-orc writer PARTITIONED BY o_orderpriority (k=v layout, hive
    // escaping, partition column re-materialized from the path on read),
    // then read back with a partition filter — the scan plans only the
    // matching directory's files — and aggregated. Oracle aggregates the
    // parquet original with the same predicate.
    QueryDef("q75_orc_partitioned_sink",
      (s, d) => {
        val out = OrcData.sinkDir(d, "orders_part_sink")
        s.read.parquet(s"$d/orders.parquet")
          .write.format("graft-orc").partitionBy("o_orderpriority")
          .mode("overwrite").save(out)
        s.read.format("graft-orc").load(out)
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "total"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, count(*) AS n,
              |  ${oDsum("o_totalprice", "total")}
              |FROM orders WHERE o_orderpriority = '1-URGENT'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q72
    // Footer-statistics aggregate pushdown: a filterless global
    // COUNT/MIN/MAX through the graft-orc connector is answered on the
    // driver from file footers (GraftOrcAggScan — one partial row per
    // file, merged into the final row; no task, zero stripe I/O;
    // plan-asserted in GraftOrcAggPushdownSpec). At 100 TB this is a
    // metadata sweep instead of a full read.
    ordersFooterAgg("q72_orc_agg_pushdown", OrcData.orcPath(_, _, "orders")),

    // --------------------------------------------------------------- q103
    // Aggregate pushdown WITH GROUP BY partition columns: each file
    // contributes one partial row (its partition value + footer stats) —
    // "per-partition row counts / key ranges" over a 100 TB table is a
    // metadata sweep, no data I/O (zero footer opens on manifest tables;
    // GraftOrcAggPushdownSpec). The scan merges the per-file partials on
    // the driver, exactly, because every file belongs to exactly one
    // group.
    QueryDef("q103_agg_pushdown_grouped",
      (s, d) => {
        val p = OrcData.partitionedOrcPath(s, d, "lineitem", "l_returnflag")
        s.read.format("graft-orc")
          .option("orc.aggregate_pushdown", "true").load(p)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            min(col("l_orderkey")).as("min_key"),
            max(col("l_orderkey")).as("max_key"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --------------------------------------------------------------- q100
    // Metadata-only aggregates on a MANIFEST table: the pushed
    // MIN/MAX/COUNT answers on the driver from the snapshot's stat
    // sidecars — at 100 TB this query touches NO data file at all (not
    // even footers; zero-open asserted in GraftOrcAggPushdownSpec) and
    // runs no Spark job. The oracle runs the same aggregates over the
    // source parquet.
    ordersFooterAgg("q100_manifest_metadata_count",
      OrcData.manifestOrcPath(_, _, "orders", "o_orderkey")),

    // --------------------------------------------------------------- q101
    // File-level statistics pruning on a manifest table: the pushed
    // range predicate eliminates 7 of the 8 disjoint-range files from
    // the sidecar ranges BEFORE planning (GraftOrcColumnStatsSpec pins
    // the partition count); only the surviving file pays stripes.
    QueryDef("q101_manifest_file_prune",
      (s, d) => {
        val path = OrcData.manifestOrcPath(s, d, "orders", "o_orderkey")
        s.read.format("graft-orc").load(path)
          .filter(col("o_orderkey") <= 1000L)
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("min_p"),
            max(col("o_totalprice")).as("max_p"))
      },
      Some("""SELECT count(*) AS n, min(o_totalprice) AS min_p,
             |  max(o_totalprice) AS max_p
             |FROM orders WHERE o_orderkey <= 1000""".stripMargin)),

    // ---------------------------------------------------------------- q20
    // ORC scan with pushed filter + pruned projection (the reference's
    // A6+A8+A9 contract): predicate prunes stripes, residual re-filters.
    QueryDef("q20_orc_predicate_scan",
      (s, d) => {
        OrcData.orc(s, d, "orders",
            Map("orc.pushdown_predicate" -> "true"))
          .filter(col("o_totalprice") > 400000 &&
            col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_totalprice > 400000 AND o_orderstatus = 'O'
             |ORDER BY o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------- q21
    // Batch sessionization: gap > 30 min opens a new session (lag +
    // running sum). One shuffle on user_id serves both windows and the
    // final aggregation — partitioning is reused across stages.
    QueryDef("q21_sessionize",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("new_sess",
            when(col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L, 1L)
              .otherwise(when(lag(col("ts_us"), 1).over(w).isNull, 1L)
                .otherwise(0L)))
          .withColumn("sess_id", sum(col("new_sess")).over(wRun))
          .groupBy(col("user_id"))
          .agg(max(col("sess_id")).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM (
             |  SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id
             |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND CURRENT ROW) AS sess_id
             |  FROM (
             |    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |      CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
             |        (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
             |        > 1800000000 THEN 1
             |        WHEN lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
             |          ORDER BY epoch_us(ts), event_id) IS NULL THEN 1
             |        ELSE 0 END AS new_sess
             |    FROM events) t1) t2
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q22
    // CUBE grouping sets (all four combinations).
    QueryDef("q22_cube",
      (s, d) => {
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------- q23
    // The spark.sql(...) entry point (SURVEY §3.1 lifecycle): TPC-H
    // Q3-shaped top-10 revenue over three joined tables, written as SQL
    // against registered temp views.
    QueryDef("q23_sql_api",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""
          |SELECT o_orderkey,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
          |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
          |    AS DOUBLE) AS revenue,
          |  count(*) AS n_lines
          |FROM v_lineitem
          |JOIN v_orders ON l_orderkey = o_orderkey
          |JOIN v_customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING' AND l_returnflag = 'R'
          |GROUP BY o_orderkey
          |ORDER BY revenue DESC, o_orderkey
          |LIMIT 10""".stripMargin)
      },
      Some("""SELECT o_orderkey,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
             |    AS DOUBLE) AS revenue,
             |  count(*) AS n_lines
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING' AND l_returnflag = 'R'
             |GROUP BY o_orderkey
             |ORDER BY revenue DESC, o_orderkey
             |LIMIT 10""".stripMargin)),

    // ---------------------------------------------------------------- q24
    // The custom graft-orc DSv2 connector end-to-end: pruned projection +
    // pushed (inexact) filter + aggregation through
    // graft.sources.v2.GraftOrcDataSource. Oracle reads the original
    // parquet, so a hash match proves the whole connector path.
    QueryDef("q24_graft_orc_source",
      (s, d) => {
        val p = OrcData.orcPath(s, d, "lineitem")
        s.read.format("graft-orc").load(p)
          .filter(col("l_quantity") >= 30)
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), "sum_price"))
          .orderBy(col("l_linestatus"))
      },
      Some(s"""SELECT l_linestatus, count(*) AS n,
              |  ${oDsum("l_extendedprice", "sum_price")}
              |FROM lineitem WHERE l_quantity >= 30
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q25
    // Scalar-expression sweep: IN list, LIKE, COALESCE, NULLIF, BETWEEN —
    // the TPC-DS expression surface (SURVEY §2.B scalar functions).
    QueryDef("q25_expr_sweep",
      (s, d) => {
        Tables.orders(s, d)
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
            col("o_orderstatus").like("%O%") &&
            col("o_totalprice").between(50000, 450000))
          .select(col("o_orderkey"),
            coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN"))
              .as("status_label"),
            (col("o_totalprice") / 1000.0).as("price_k"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
             |  o_totalprice / 1000.0 AS price_k
             |FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |  AND o_orderstatus LIKE '%O%'
             |  AND o_totalprice BETWEEN 50000 AND 450000
             |ORDER BY o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------- q26
    // Non-equi (theta) join: price-band lookup joined on range conditions
    // -> BroadcastNestedLoopJoin with a 3-row build side (the only sane
    // physical shape for inequality joins; the band table is tiny by
    // construction at any scale).
    QueryDef("q26_band_join",
      (s, d) => {
        val bands = s.createDataFrame(Seq(
          (0.0, 100000.0, "low"),
          (100000.0, 300000.0, "mid"),
          (300000.0, Double.MaxValue, "high")))
          .toDF("lo", "hi", "band")
        Tables.orders(s, d)
          .join(broadcast(bands),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), "total"))
          .orderBy(col("band"))
      },
      Some(s"""SELECT band, count(*) AS n, ${oDsum("o_totalprice", "total")}
              |FROM orders
              |JOIN (VALUES (0.0, 100000.0, 'low'),
              |             (100000.0, 300000.0, 'mid'),
              |             (300000.0, 1e308, 'high')) AS bands(lo, hi, band)
              |  ON o_totalprice >= lo AND o_totalprice < hi
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q27
    // FULL OUTER join over aggregated sides with null accounting.
    QueryDef("q27_full_outer",
      (s, d) => {
        val perCust = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        val highVal = Tables.customer(s, d)
          .filter(col("c_acctbal") > 5000)
          .select(col("c_custkey"), col("c_acctbal"))
        highVal.join(perCust, highVal("c_custkey") === perCust("o_custkey"),
            "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            col("c_custkey").isNull.as("missing_customer"),
            col("o_custkey").isNull.as("missing_orders"))
          .orderBy(col("custkey"))
      },
      Some("""SELECT coalesce(c_custkey, o_custkey) AS custkey,
             |  coalesce(n_orders, 0) AS n_orders,
             |  c_custkey IS NULL AS missing_customer,
             |  o_custkey IS NULL AS missing_orders
             |FROM (SELECT c_custkey, c_acctbal FROM customer
             |      WHERE c_acctbal > 5000) hv
             |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
             |                 FROM orders GROUP BY 1) pc
             |  ON hv.c_custkey = pc.o_custkey
             |ORDER BY custkey""".stripMargin)),

    // ---------------------------------------------------------------- q29
    // Hive-style partitioned ORC table + partition pruning: the filter on
    // the partition column eliminates whole directories before any I/O
    // (PartitionFilters in the scan, vs PushedFilters' stripe pruning).
    // At 100 TB, partition-by-date/category is the first-line data layout.
    QueryDef("q29_partition_pruning",
      (s, d) => {
        val p = OrcData.partitionedOrcPath(s, d, "lineitem", "l_returnflag")
        s.read.orc(p)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"))
          .orderBy(col("l_linestatus"))
      },
      Some(s"""SELECT l_linestatus, count(*) AS n,
              |  ${oDsum("l_quantity", "sum_qty")}
              |FROM lineitem WHERE l_returnflag = 'R'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q30
    // Co-located bucketed join: lineitem and orders bucketed+sorted on the
    // join key into the same bucket count — the SortMergeJoin runs with
    // ZERO shuffle exchanges (bucket pruning of the Exchange is asserted
    // by probe). At 100 TB this is the fact-to-fact join answer: pay the
    // shuffle once at layout time, never per query.
    QueryDef("q30_bucketed_join",
      (s, d) => {
        val li = s.table(OrcData.bucketedTable(s, d, "lineitem", "l_orderkey"))
        val o = s.table(OrcData.bucketedTable(s, d, "orders", "o_orderkey"))
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .filter(col("o_orderstatus") === "F")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, count(*) AS n,
              |  ${oDsum("l_quantity", "sum_qty")}
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |WHERE o_orderstatus = 'F'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q31
    // Semi-structured JSON column: extract a field from the events.props
    // JSON payload and aggregate — get_json_object is codegen'd and stays
    // a narrow map before the grouped aggregation.
    QueryDef("q31_json_extract",
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS sum_k,
             |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q32
    // Correlated scalar subquery — Catalyst decorrelates
    // (RewriteCorrelatedScalarSubquery) into an aggregate + join; written
    // via spark.sql because correlation is a SQL-surface feature.
    QueryDef("q32_correlated_subquery",
      (s, d) => {
        Tables.part(s, d).createOrReplaceTempView("v_part")
        s.sql("""
          |SELECT p_brand, p_partkey, p_retailprice
          |FROM v_part p
          |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
          |                       FROM v_part p2
          |                       WHERE p2.p_brand = p.p_brand)
          |ORDER BY p_brand, p_partkey""".stripMargin)
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice
             |FROM part p
             |WHERE p_retailprice = (SELECT min(p2.p_retailprice)
             |                       FROM part p2
             |                       WHERE p2.p_brand = p.p_brand)
             |ORDER BY p_brand, p_partkey""".stripMargin)),

    // ---------------------------------------------------------------- q33
    // q29's twin THROUGH the graft-orc connector: hive-partitioned layout,
    // partition values materialized as columns, partition filter prunes
    // files before planning (GraftOrcScan.selectedFiles — asserted in
    // GraftOrcSourceSpec). Proves the custom connector handles the layout
    // the built-in source handles in q29.
    QueryDef("q33_graft_orc_partitioned",
      (s, d) => {
        val p = OrcData.partitionedOrcPath(s, d, "lineitem", "l_returnflag")
        s.read.format("graft-orc").load(p)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), "sum_qty"))
          .orderBy(col("l_linestatus"))
      },
      Some(s"""SELECT l_linestatus, count(*) AS n,
              |  ${oDsum("l_quantity", "sum_qty")}
              |FROM lineitem WHERE l_returnflag = 'R'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --------------------------------------------------------------- q102
    // Storage-partitioned join: customer and supplier hive-partitioned on
    // their nation keys report KeyGroupedPartitioning from the connector
    // scan, and with spark.sql.sources.v2.bucketing.enabled the join (and
    // the group-by above it) plans with ZERO shuffle exchanges — the
    // co-located-join scale path the survey's partitioning strategy calls
    // for, as a first-class connector feature (GraftOrcSpjSpec pins the
    // exchange-free plan; this entry pins the results under the oracle).
    QueryDef("q102_spj_nation_trade",
      (s, d) => {
        val cp = OrcData.partitionedOrcPath(s, d, "customer", "c_nationkey")
        val sp = OrcData.partitionedOrcPath(s, d, "supplier", "s_nationkey")
        s.read.format("graft-orc")
          .option("graft.preserve_partitioning", "true").load(cp)
          .join(s.read.format("graft-orc")
              .option("graft.preserve_partitioning", "true").load(sp),
            col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("pairs"),
            dsum(col("s_acctbal"), "sum_s_bal"))
          .orderBy(col("c_nationkey"))
      },
      Some(s"""SELECT c_nationkey, count(*) AS pairs,
              |  ${oDsum("s_acctbal", "sum_s_bal")}
              |FROM customer JOIN supplier ON c_nationkey = s_nationkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // --------------------------------------------------------------- q105
    // Hidden partitioning (Iceberg transform model, GraftOrcPartitionSpec):
    // events laid out by days(ts) + bucket(8, user_id) — the DIRECTORIES
    // are derived, the source columns stay in the files, and the query
    // filters on plain ts/user_id with no knowledge of the layout. The
    // scan prunes to 7 of ~30 day dirs x the users' buckets
    // (GraftOrcHiddenPartitionSpec pins exact pruned file counts; this
    // entry pins the results under the oracle). At 100 TB this is the
    // pruning that cannot be forgotten: nobody has to remember to also
    // filter a dt string column that mirrors ts.
    QueryDef("q105_hidden_partitioning",
      (s, d) => {
        val p = OrcData.hiddenEventsPath(s, d)
        s.read.format("graft-orc").load(p)
          .filter(col("ts") >= lit("2024-01-10") &&
            col("ts") < lit("2024-01-17") &&
            col("user_id").isin(1L, 2L, 3L, 5L, 8L, 13L))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), "sum_v"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS n,
              |  ${oDsum("value", "sum_v")}
              |FROM events
              |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
              |  AND ts < TIMESTAMP '2024-01-17 00:00:00'
              |  AND user_id IN (1, 2, 3, 5, 8, 13)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q34
    // TPC-DS q87-shaped multi-CTE + EXCEPT: customers active in one order
    // status but not the other, aggregated by segment. EXCEPT plans as a
    // left-anti hash join on the distinct keys — ids-only shuffles, no
    // row explosion (reference census shape: src/bin/tpcds_bench.rs:68-69).
    QueryDef("q34_cte_except",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("v_orders")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql("""
          |WITH o_cust AS (SELECT DISTINCT o_custkey FROM v_orders
          |                WHERE o_orderstatus = 'O'),
          |     f_cust AS (SELECT DISTINCT o_custkey FROM v_orders
          |                WHERE o_orderstatus = 'F'),
          |     only_o AS (SELECT o_custkey FROM o_cust
          |                EXCEPT
          |                SELECT o_custkey FROM f_cust)
          |SELECT c_mktsegment, count(*) AS n_cust
          |FROM only_o JOIN v_customer ON c_custkey = o_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""WITH o_cust AS (SELECT DISTINCT o_custkey FROM orders
             |                WHERE o_orderstatus = 'O'),
             |     f_cust AS (SELECT DISTINCT o_custkey FROM orders
             |                WHERE o_orderstatus = 'F'),
             |     only_o AS (SELECT o_custkey FROM o_cust
             |                EXCEPT
             |                SELECT o_custkey FROM f_cust)
             |SELECT c_mktsegment, count(*) AS n_cust
             |FROM only_o JOIN customer ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---------------------------------------------------------------- q35
    // TPC-DS q67-shaped GROUPING SETS over a join: part dimension is
    // broadcast into the fact scan, then one shuffle feeds all three
    // grouping sets (Catalyst expands them in a single Expand+Aggregate,
    // not three scans).
    QueryDef("q35_grouping_sets_join",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
        Tables.part(s, d).createOrReplaceTempView("v_part")
        s.sql(s"""
          |SELECT /*+ BROADCAST(v_part) */ p_brand, l_returnflag,
          |  count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM v_lineitem JOIN v_part ON l_partkey = p_partkey
          |GROUP BY GROUPING SETS ((p_brand, l_returnflag), (p_brand), ())
          |ORDER BY p_brand NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin)
      },
      Some(s"""SELECT p_brand, l_returnflag, count(*) AS n,
              |  ${oDsum("l_quantity", "sum_qty")}
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |GROUP BY GROUPING SETS ((p_brand, l_returnflag), (p_brand), ())
              |ORDER BY p_brand NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------- q36
    // TPC-DS q44-shaped window-over-join: per-nation supplier revenue
    // ranking. Revenue aggregates BEFORE the joins (fact shuffled once on
    // l_suppkey, then dimension joins broadcast), the window repartitions
    // only the small aggregated set. Revenue accumulates in DECIMAL so the
    // rank ordering is engine-exact; the raw revenue stays out of the
    // output (rank is the contract, not the float rendering).
    QueryDef("q36_window_rank_join",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey"))
          .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(30, 8))).as("rev"))
        val j = rev
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
        val w = Window.partitionBy(col("n_name"))
          .orderBy(col("rev").desc, col("s_name"))
        j.select(col("n_name"), col("s_name"),
            rank().over(w).cast("long").as("rnk"))
          .filter(col("rnk") <= 3)
          .orderBy(col("n_name"), col("rnk"), col("s_name"))
      },
      Some("""SELECT n_name, s_name, rnk FROM (
             |  SELECT n_name, s_name,
             |    CAST(rank() OVER (PARTITION BY n_name
             |      ORDER BY rev DESC, s_name) AS BIGINT) AS rnk
             |  FROM (SELECT l_suppkey,
             |          sum(CAST(l_extendedprice*(1.0-l_discount)
             |            AS DECIMAL(30,8))) AS rev
             |        FROM lineitem GROUP BY 1) r
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON n_nationkey = s_nationkey) t
             |WHERE rnk <= 3 ORDER BY n_name, rnk, s_name""".stripMargin)),

    // ---------------------------------------------------------------- q37
    // Window-function sweep beyond row_number/lag/rank: ntile, lead,
    // first_value, percent_rank, cume_dist — one shuffle on o_custkey
    // serves every one (same window spec). percent_rank/cume_dist are
    // single divisions of identical ints => bit-equal cross-engine.
    QueryDef("q37_window_suite",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, d).select(
            col("o_custkey"), col("o_orderkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            lead(col("o_orderkey"), 1).over(w).as("next_order"),
            first_value(col("o_orderkey")).over(w).as("cheapest_order"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |  lead(o_orderkey, 1) OVER w AS next_order,
             |  first_value(o_orderkey) OVER w AS cheapest_order,
             |  percent_rank() OVER w AS pct_rank,
             |  cume_dist() OVER w AS cume
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey
             |             ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------- q38
    // Date/time scalar sweep: year/month/day/quarter, normalized
    // day-of-week (Spark is 1=Sunday, DuckDB 0=Sunday — the oracle pins
    // the normalization), month bucket string, day diff from an epoch
    // date, end-of-month. All narrow codegen'd projections.
    QueryDef("q38_datetime_sweep",
      (s, d) => {
        val od = col("o_orderdate")
        Tables.orders(s, d).select(
            col("o_orderkey"),
            year(od).cast("long").as("yr"),
            month(od).cast("long").as("mth"),
            dayofmonth(od).cast("long").as("dy"),
            quarter(od).cast("long").as("qtr"),
            (dayofweek(od) - 1).cast("long").as("dow"),
            date_format(od, "yyyy-MM").as("ym"),
            datediff(to_date(od), to_date(lit("1995-01-01")))
              .cast("long").as("days_since"),
            last_day(od).cast("string").as("eom"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  year(o_orderdate) AS yr, month(o_orderdate) AS mth,
             |  day(o_orderdate) AS dy, quarter(o_orderdate) AS qtr,
             |  dayofweek(o_orderdate) AS dow,
             |  strftime(o_orderdate, '%Y-%m') AS ym,
             |  date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since,
             |  CAST(last_day(o_orderdate) AS VARCHAR) AS eom
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---------------------------------------------------------------- q39
    // String scalar sweep: case, pad, replace, reverse, find, substring,
    // concat, length — all codegen'd narrow projections with exact
    // cross-engine semantics (1-based find, 0 when absent).
    QueryDef("q39_string_sweep",
      (s, d) => {
        val n = col("p_name")
        Tables.part(s, d).select(
            col("p_partkey"),
            upper(n).as("up"),
            lpad(n, 12, "_").as("padded"),
            regexp_replace(n, "a", "@").as("replaced"),
            reverse(n).as("rev"),
            instr(n, "e").cast("long").as("e_pos"),
            substring(n, 2, 3).as("mid"),
            concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
            length(n).cast("long").as("len"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, upper(p_name) AS up,
             |  lpad(p_name, 12, '_') AS padded,
             |  replace(p_name, 'a', '@') AS replaced,
             |  reverse(p_name) AS rev,
             |  instr(p_name, 'e') AS e_pos,
             |  substr(p_name, 2, 3) AS mid,
             |  concat(p_brand, '-', p_type) AS brand_type,
             |  len(p_name) AS len
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---------------------------------------------------------------- q40
    // Sketch aggregates: HyperLogLog distinct count + approximate
    // percentiles. Sketches are engine-specific (Spark HLL++ vs DuckDB's)
    // so there is no value oracle — the error contract is pinned in
    // ScalaTest instead (approx within 5% of exact / between true
    // quantile neighbors). At 100 TB this is THE distinct-count shape:
    // mergeable partial sketches, no exact-distinct shuffle.
    QueryDef("q40_approx_aggs",
      (s, d) => {
        Tables.lineitem(s, d).agg(
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000))
            .as("median_qty"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000))
            .as("p95_price"))
      },
      None),

    // The EXACT anchor beside the sketch row, under the full oracle:
    // exact distinct counts (the shuffle the sketches exist to avoid)
    // and exact interpolated percentiles (Spark's `percentile` builds a
    // value histogram per partition and merges — exact, distributed).
    // The sketch-vs-exact 5% contract is asserted HERE, in the
    // driver-checked surface, not only in ScalaTest: the query fails
    // loudly if the sketches drift outside their advertised error.
    // Percentiles round to 4 decimals on both engines (linear
    // interpolation is the one place double ops could differ in the
    // last ulp; 2-decimal source values make 1e-4 a safe grid).
    QueryDef("q40_exact_aggs",
      (s, d) => {
        // TWO aggregation passes, each fully distributed:
        //  1. the exact distinct pair (its multi-distinct Expand must
        //     NOT share a plan with the percentile accumulators — the
        //     fused single-agg form expanded the percentile input 3x
        //     and ran 89 s at sf0.1; split, the pair costs ~2 s);
        //  2. the exact percentiles fused WITH the whole sketch row
        //     (all non-distinct accumulators — one shared scan).
        // The contract check reads both collected rows; the returned
        // 1-row frame is assembled from the computed values so neither
        // pass re-executes for the result write.
        // scan-parallelism floor: the distinct partial-dedup and the
        // percentile/sketch accumulators are the scan stage's CPU (3
        // tasks on 32 cores unspread). Exact outputs are order-free;
        // the approx sketches feed only the 5% contract (HLL merges are
        // partition-structure-independent; percentile_approx stays
        // within its 1e-4 accuracy either way).
        val li = Spread.spread(Tables.lineitem(s, d), col("l_orderkey"))
        // The two passes are INDEPENDENT jobs — overlap them from two
        // driver threads (guide §2.6) so the percentile pass's long
        // single-reducer merge backfills the distinct pass's idle tail:
        // serial they cost pass1 + pass2, overlapped ~max(pass1, pass2)
        // (measured: 5.4 s -> ~4 s at sf0.1). FIFO scheduling keeps the
        // first-submitted pass priority; results are deterministic
        // either way.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val exF = Future(li.agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts")).collect()(0))
        val rF = Future(li.agg(
          round(expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)"), 4)
            .as("median_qty"),
          round(expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.95)"),
            4).as("p95_price"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("a_orders"),
          approx_count_distinct(col("l_partkey"), 0.01).as("a_parts"),
          percentile_approx(col("l_quantity").cast("double"), lit(0.5),
            lit(10000)).as("a_median"),
          percentile_approx(col("l_extendedprice").cast("double"),
            lit(0.95), lit(10000)).as("a_p95")).collect()(0))
        // await BOTH before propagating either failure (the NearDupIngest
        // pattern): if the distinct pass throws, the percentile pass must
        // not keep running as a detached job past this query's scope
        val exT = scala.util.Try(Await.result(exF, Duration.Inf))
        val rT = scala.util.Try(Await.result(rF, Duration.Inf))
        val ex = exT.get
        val r = rT.get
        def pct(approx: Double, exact: Double): Double =
          math.abs(approx - exact) / math.abs(exact)
        Seq(
          ("orders", r.getLong(2).toDouble, ex.getLong(0).toDouble),
          ("parts", r.getLong(3).toDouble, ex.getLong(1).toDouble),
          ("median_qty", r.getDouble(4), r.getDouble(0)),
          ("p95_price", r.getDouble(5), r.getDouble(1))
        ).foreach { case (name, approx, exact) =>
          require(pct(approx, exact) <= 0.05,
            s"sketch drifted past 5% on $name: approx=$approx " +
              s"exact=$exact")
        }
        import org.apache.spark.sql.types.{DoubleType, LongType,
          StructField, StructType}
        s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(
            ex.getLong(0), ex.getLong(1), r.getDouble(0),
            r.getDouble(1))),
          StructType(Seq(
            StructField("n_orders", LongType, nullable = false),
            StructField("n_parts", LongType, nullable = false),
            StructField("median_qty", DoubleType, nullable = false),
            StructField("p95_price", DoubleType, nullable = false))))
      },
      Some("""SELECT
             |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
             |  round(CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)
             |    AS DOUBLE), 4) AS median_qty,
             |  round(CAST(quantile_cont(CAST(l_extendedprice AS DOUBLE),
             |    0.95) AS DOUBLE), 4) AS p95_price
             |FROM lineitem""".stripMargin)),

    // ---------------------------------------------------------------- q41
    // Bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicity (plan: aggregate-with-counts + generate, not the
    // distinct-based set ops of q10).
    QueryDef("q41_setops_all",
      (s, d) => {
        val e = Tables.events(s, d)
        val a = e.filter(col("value") > 30).select(col("event_type"))
        val b = e.filter(col("value") < 70).select(col("event_type"))
        val inter = a.intersectAll(b).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val except = a.exceptAll(b).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        inter.union(except).select(col("op"), col("event_type"), col("n"))
          .orderBy(col("op"), col("event_type"))
      },
      Some("""SELECT op, event_type, n FROM (
             |  SELECT 'intersect_all' AS op, event_type, count(*) AS n FROM (
             |    SELECT event_type FROM events WHERE value > 30
             |    INTERSECT ALL
             |    SELECT event_type FROM events WHERE value < 70) t1
             |  GROUP BY 2
             |  UNION ALL
             |  SELECT 'except_all' AS op, event_type, count(*) AS n FROM (
             |    SELECT event_type FROM events WHERE value > 30
             |    EXCEPT ALL
             |    SELECT event_type FROM events WHERE value < 70) t2
             |  GROUP BY 2) u
             |ORDER BY op, event_type""".stripMargin)),

    // ---------------------------------------------------------------- q42
    // Array higher-order functions over the token arrays: size, lambda
    // filter, sort+slice+transform, membership — the array algebra the
    // embedding/multimodal columns lean on, all codegen'd (no UDFs).
    QueryDef("q42_array_hof",
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.documents(s, d).select(
            col("doc_id"),
            size(toks).cast("long").as("n"),
            size(filter(toks, t => length(t) > 4)).cast("long").as("n_long"),
            element_at(sort_array(array_distinct(toks)), 1).as("first_tok"),
            array_contains(toks, "data").as("has_data"),
            array_join(transform(slice(sort_array(array_distinct(toks)), 1, 3),
              t => upper(t)), ",").as("top3"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, len(toks) AS n,
             |  len(list_filter(toks, t -> len(t) > 4)) AS n_long,
             |  list_sort(list_distinct(toks))[1] AS first_tok,
             |  list_contains(toks, 'data') AS has_data,
             |  array_to_string(list_transform(list_sort(list_distinct(toks))[1:3],
             |    t -> upper(t)), ',') AS top3
             |FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |      FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // ---------------------------------------------------------------- q43
    // AS-OF join (the operator Spark lacks natively, composed per the
    // preference order): each purchase matched to the user's latest click
    // at-or-before it. One shuffle+sort, no range cross-product
    // (Joins.asOfJoin scaladoc). Clicks are pre-deduped per (user, ts) so
    // the representative is deterministic; DuckDB's native ASOF JOIN is
    // the oracle.
    QueryDef("q43_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("p_ts_us"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("c_ts_us"),
            col("event_id"))
          .groupBy(col("user_id"), col("c_ts_us"))
          .agg(max(col("event_id")).as("click_id"))
        Joins.asOfJoin(purchases, clicks, "user_id", "p_ts_us", "c_ts_us")
          .withColumn("gap_us", col("p_ts_us") - col("c_ts_us"))
          .select(col("p_id"), col("user_id"), col("p_ts_us"),
            col("click_id"), col("gap_us"))
          .orderBy(col("p_id"))
      },
      Some("""WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts
             |           FROM events WHERE event_type = 'purchase'),
             |     c AS (SELECT user_id, epoch_us(ts) AS c_ts,
             |             max(event_id) AS click_id
             |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
             |SELECT p.p_id, p.user_id, p.p_ts AS p_ts_us, c.click_id,
             |  p.p_ts - c.c_ts AS gap_us
             |FROM p ASOF LEFT JOIN c
             |  ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
             |ORDER BY p_id""".stripMargin)),

    // ---------------------------------------------------------------- q44
    // Interval join: error events within 6 hours AFTER a click by the
    // same user. The scale shape is a BANDED equi-join — each click lands in
    // its 60s bucket and its successor (every interval of width W is
    // covered by two W-buckets), so the plan is an equi-join on
    // (user, bucket) + exact residual filter, never a per-user range
    // cross-product. The oracle states the same semantics as a plain
    // range join (DuckDB's optimizer handles small scale fine). Each
    // click covers [c_ts, c_ts+W]: emitted into its bucket + successor.
    QueryDef("q44_interval_join",
      (s, d) => {
        val W = 21600000000L // 6h in micros
        val e = Tables.events(s, d)
        val clicks = e.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("c_ts"))
        val errors = e.filter(col("event_type") === "error")
          .select(col("event_id").as("e_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("e_ts"))
        // click covers [c_ts, c_ts+W]: emit its bucket and the next one;
        // errors land in exactly one bucket
        val cB = clicks.withColumn("bucket",
          explode(array((col("c_ts") / W).cast("long"),
            (col("c_ts") / W).cast("long") + 1)))
        val eB = errors.withColumn("bucket", (col("e_ts") / W).cast("long"))
        cB.join(eB, Seq("user_id", "bucket"))
          .filter(col("e_ts") >= col("c_ts") &&
            col("e_ts") <= col("c_ts") + W)
          // no dedupe needed: each error sits in exactly ONE bucket, so a
          // (click, error) pair joins at most once
          .select(col("c_id"), col("e_id"), col("user_id"),
            (col("e_ts") - col("c_ts")).as("delay_us"))
          .orderBy(col("c_id"), col("e_id"))
      },
      Some("""SELECT c.event_id AS c_id, e.event_id AS e_id, c.user_id,
             |  epoch_us(e.ts) - epoch_us(c.ts) AS delay_us
             |FROM events c JOIN events e
             |  ON c.user_id = e.user_id
             |  AND c.event_type = 'click' AND e.event_type = 'error'
             |  AND epoch_us(e.ts) >= epoch_us(c.ts)
             |  AND epoch_us(e.ts) <= epoch_us(c.ts) + CAST(21600000000 AS BIGINT)
             |ORDER BY c_id, e_id""".stripMargin)),

    // ---------------------------------------------------------------- q66
    // DYNAMIC partition pruning: the filter lives on the DIM side (its
    // attribute, not the join key), so static pruning is impossible — the
    // fact's partition filter is a runtime subquery fed by the broadcast
    // dim ("dynamicpruning" in the scan's PartitionFilters, asserted in
    // PlanSpec). At 100 TB this is the star-join feature that turns "scan
    // every partition" into "scan the partitions the dim selects". The
    // file-backed dim (written once under the ORC cache root) is what
    // makes Spark's DPP benefit estimate fire.
    returnedStarJoin("q66_dynamic_partition_pruning", _.read.orc(_)),

    // ---------------------------------------------------------------- q73
    // q66's dynamic star-join pruning through the GRAFT-ORC connector:
    // GraftOrcScan implements SupportsRuntimeFiltering on its partition
    // attributes, so the dim-side filter reaches the scan as a runtime
    // In(l_returnflag, ...) and re-prunes the FILE list before input
    // partitions are planned ("RuntimeFilters: [dynamicpruning..." on the
    // BatchScan, asserted in PlanSpec).
    returnedStarJoin("q73_graft_orc_runtime_pruning",
      _.read.format("graft-orc").load(_))
  )
}

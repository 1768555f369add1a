package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Ported TPC-DS / TPC-H query *shapes* (q45-q70) adapted to the star
  * schema — the runnable analogue of the reference's q1-99 harness
  * (`/root/reference/src/bin/tpcds_bench.rs:68-96`; the sandbox lacks the
  * 24-table TPC-DS corpus, so each query keeps the original's
  * plan-defining structure against the TPC-H-ish tables). Families
  * covered: rollup-over-union (TPC-DS q5), INTERSECT (q14), cumulative
  * window (q51), date-arith fact-fact join (q72), multi-EXISTS (q95),
  * fused conditional counts (q88), year-over-year self-join (q4/q11),
  * union-agg-reagg (q33/q56/q60), net-of-returns (q93), class-share
  * window (q98), min-per-group (q65), rollup-rank (q67), frequent-items
  * semi probe (q23), tolerance band (q58/q83), delay buckets (q62/q99);
  * TPC-H scalar-max join-back (q15), correlated-avg (q17), double-
  * correlated EXISTS (q21), nested agg threshold (q20), market share
  * (q8), idle-rich anti join (q22), histogram-of-counts (q13); plus
  * PIVOT/UNPIVOT and correlated LATERAL-with-LIMIT surfaces.
  *
  * Oracle-parity conventions (see QueryDef): DECIMAL accumulation
  * surfaced as DOUBLE via round-then-cast, BIGINT counts, total ORDER BY
  * with NULLS FIRST spelled on both sides, threshold algebra rearranged
  * to exact DECIMAL(18,2) products (never raw (38,8) multiplies — see
  * q65's comment).
  */
object TpcdsShapes {

  // revenue term: computed double -> DECIMAL(30,8) (scale-2 rounds ties
  // differently across engines; at scale 8 ties are ~1e-8 probable)
  private[operators] def revDec = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    .cast(DecimalType(30, 8))
  private[operators] val oRev =
    "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))"

  /** q53 body: net revenue per supplier after returns. */
  private def netOfReturns(li: DataFrame): DataFrame = {
    val ret = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("r_orderkey"),
        col("l_linenumber").as("r_linenumber"),
        col("l_quantity").as("r_qty"))
    li.join(ret,
        col("l_orderkey") === col("r_orderkey") &&
          col("l_linenumber") === col("r_linenumber"), "left")
      .withColumn("net_qty",
        col("l_quantity") - coalesce(col("r_qty"), lit(0.0)))
      .groupBy(col("l_suppkey"))
      .agg(decToDouble(
        sum((col("net_qty") * col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))).cast(DecimalType(30, 8))),
        "net_revenue"))
      .orderBy(col("l_suppkey"))
  }

  /** Wide yearly revenue per return flag — the pivot body shared by q68
    * and q69's unpivot (one definition, so the pair cannot drift), plus
    * its oracle CTE twin.
    */
  private def pivotWide(li: DataFrame): DataFrame =
    li.select(year(col("l_shipdate")).cast("long").as("yr"),
        col("l_returnflag"), revDec.as("amt"))
      .groupBy(col("yr"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("amt")))
      .select(col("yr"),
        decToDouble(col("A"), "rev_a"),
        decToDouble(col("N"), "rev_n"),
        decToDouble(col("R"), "rev_r"))

  private val oPivotWide =
    s"""SELECT yr,
       |  CAST(round(sum(CASE WHEN l_returnflag = 'A' THEN amt END), 2)
       |    AS DOUBLE) AS rev_a,
       |  CAST(round(sum(CASE WHEN l_returnflag = 'N' THEN amt END), 2)
       |    AS DOUBLE) AS rev_n,
       |  CAST(round(sum(CASE WHEN l_returnflag = 'R' THEN amt END), 2)
       |    AS DOUBLE) AS rev_r
       |FROM (SELECT year(l_shipdate) AS yr, l_returnflag, $oRev AS amt
       |      FROM lineitem) src
       |GROUP BY yr""".stripMargin

  /** q57 body: count and revenue of lines under 20% of their part's
    * mean quantity.
    */
  private def smallQtyRevenue(li: DataFrame): DataFrame = {
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sum_qty"),
        count(lit(1)).as("cnt"))
    li.join(Joins.sizeGatedBroadcast(perPart), col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast(DecimalType(18, 2)) * 5 * col("cnt")
        < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        decToDouble(sum(revDec), "small_rev"))
  }

  // Decimal-accumulated total surfaced as DOUBLE. The scale-8 sum itself
  // is bit-identical across engines, but its double CONVERSION is not
  // once |total|*1e8 exceeds 2^53 (~9e15, i.e. totals over ~9e7): the
  // engines then differ by 1 ulp (measured: 3024008727.8907 vs
  // ...8907003 on the q45 grand total). Rounding the exact decimal to
  // scale 2 first (HALF_UP in both engines for positive values) keeps
  // the scaled integer within 2^53, making the double conversion exact.
  private[operators] def decToDouble(c: Column, alias: String): Column =
    round(c, 2).cast("double").as(alias)

  val defs: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q45
    // TPC-DS q5 shape: per-channel sales/returns summaries UNION ALL'd,
    // then ROLLUP over (channel, year) for channel subtotals + grand
    // total. At 100 TB: the Expand(x3) feeds partial hash aggregation
    // BEFORE the shuffle, so the exchange carries ~(channels x years x 3)
    // rows per task regardless of input size.
    QueryDef("q45_channel_rollup",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def channel(name: String, flagFilter: org.apache.spark.sql.Column) =
          li.filter(flagFilter).select(lit(name).as("channel"),
            year(col("l_shipdate")).cast("long").as("yr"), revDec.as("amt"))
        channel("sales", col("l_returnflag") =!= "R")
          .union(channel("returns", col("l_returnflag") === "R"))
          .rollup(col("channel"), col("yr"))
          .agg(count(lit(1)).as("n"),
            decToDouble(sum(col("amt")), "amount"))
          .orderBy(col("channel").asc_nulls_first, col("yr").asc_nulls_first)
      },
      Some(s"""SELECT channel, yr, count(*) AS n,
              |  CAST(round(sum(amt), 2) AS DOUBLE) AS amount
              |FROM (
              |  SELECT 'sales' AS channel, year(l_shipdate) AS yr,
              |    $oRev AS amt
              |  FROM lineitem WHERE l_returnflag <> 'R'
              |  UNION ALL
              |  SELECT 'returns' AS channel, year(l_shipdate) AS yr,
              |    $oRev AS amt
              |  FROM lineitem WHERE l_returnflag = 'R') t
              |GROUP BY ROLLUP (channel, yr)
              |ORDER BY channel NULLS FIRST, yr NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------- q46
    // TPC-DS q14 shape: the part keys two "channels" (customer segments)
    // BOTH sold, then total sales of the common parts by brand. The
    // literal SQL is an INTERSECT of two identical-source branches (the
    // oracle keeps that text); the engine-smart form computes both
    // segment memberships in ONE li⋈orders⋈customer pass — a conditional
    // aggregation per part key — instead of scanning the fact once per
    // branch (2 fact scans total instead of 3; the sets are provably
    // equal). The common-part probe stays a semi join; part broadcasts.
    // INTERSECT-the-operator is exercised by q10_setops / q41_setops_all.
    QueryDef("q46_intersect_parts",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val common = li
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)
            .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_partkey"))
          .agg(
            max(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0))
              .as("in_b"),
            max(when(col("c_mktsegment") === "MACHINERY", 1).otherwise(0))
              .as("in_m"))
          .filter(col("in_b") === 1 && col("in_m") === 1)
          .select(col("l_partkey"))
        // deliberate broadcast: `common` is bounded by the part dimension
        // (distinct l_partkey), the same size class as the broadcast(part)
        // below — without the hint AQE converts the semi join to BHJ only
        // AFTER materializing a full lineitem exchange on l_partkey (the
        // probe side's shuffle was already paid; guide §2.4/§3.1)
        li.join(broadcast(common), Seq("l_partkey"), "left_semi")
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            decToDouble(sum(revDec), "revenue"))
          .orderBy(col("p_brand"))
      },
      Some(s"""WITH common AS (
              |  SELECT l_partkey FROM lineitem
              |    JOIN orders ON l_orderkey = o_orderkey
              |    JOIN customer ON o_custkey = c_custkey
              |  WHERE c_mktsegment = 'BUILDING'
              |  INTERSECT
              |  SELECT l_partkey FROM lineitem
              |    JOIN orders ON l_orderkey = o_orderkey
              |    JOIN customer ON o_custkey = c_custkey
              |  WHERE c_mktsegment = 'MACHINERY')
              |SELECT p_brand, count(*) AS n,
              |  CAST(round(sum($oRev), 2) AS DOUBLE) AS revenue
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_partkey IN (SELECT l_partkey FROM common)
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ---------------------------------------------------------------- q47
    // TPC-DS q51 shape: two monthly revenue series (orders placed vs
    // lineitems shipped), each cumulated by a running window, FULL OUTER
    // joined on month, keeping months where cumulative order revenue has
    // pulled ahead. The windows run over PRE-AGGREGATED month rows
    // (dozens), so the single-partition window is trivially safe at any
    // input scale; cumulation is decimal => both engines bit-equal.
    QueryDef("q47_cumulative_union",
      (s, d) => {
        val om = Tables.orders(s, d)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("amt"))
        val lm = Tables.lineitem(s, d)
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("mon"))
          .agg(sum(revDec).as("amt"))
        val w = Window.orderBy(col("mon"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val oc = om.select(col("mon"),
          decToDouble(sum(col("amt")).over(w), "cum_orders"))
        val lc = lm.select(col("mon"),
          decToDouble(sum(col("amt")).over(w), "cum_shipped"))
        oc.join(lc, Seq("mon"), "full_outer")
          .filter(col("cum_orders") > col("cum_shipped"))
          .orderBy(col("mon"))
      },
      Some(s"""WITH om AS (
              |  SELECT printf('%04d-%02d', year(o_orderdate),
              |      month(o_orderdate)) AS mon,
              |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS amt
              |  FROM orders GROUP BY 1),
              |lm AS (
              |  SELECT printf('%04d-%02d', year(l_shipdate),
              |      month(l_shipdate)) AS mon,
              |    sum($oRev) AS amt
              |  FROM lineitem GROUP BY 1),
              |oc AS (SELECT mon, CAST(round(sum(amt) OVER (ORDER BY mon
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
              |  AS DOUBLE) AS cum_orders FROM om),
              |lc AS (SELECT mon, CAST(round(sum(amt) OVER (ORDER BY mon
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
              |  AS DOUBLE) AS cum_shipped FROM lm)
              |SELECT COALESCE(oc.mon, lc.mon) AS mon, cum_orders, cum_shipped
              |FROM oc FULL OUTER JOIN lc ON oc.mon = lc.mon
              |WHERE cum_orders > cum_shipped
              |ORDER BY mon""".stripMargin)),

    // ---------------------------------------------------------------- q48
    // TPC-DS q72 shape: date-arithmetic join condition between two facts
    // (shipment later than 60 days after order placement) under broadcast
    // dimension joins. The fact-fact join is an equi-join on the order
    // key with the date arithmetic as residual — co-partitioned shuffle,
    // never a range cross-product; customer/nation broadcast.
    QueryDef("q48_late_shipments",
      (s, d) => {
        val late = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") +
            expr("INTERVAL 60 DAYS"))
        late
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_late"),
            avg(datediff(col("l_shipdate"), col("o_orderdate")))
              .as("avg_delay_days"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, count(*) AS n_late,
             |  avg(date_diff('day', o_orderdate, l_shipdate))
             |    AS avg_delay_days
             |FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---------------------------------------------------------------- q49
    // TPC-DS q95 shape: orders passing two EXISTS and one NOT EXISTS
    // correlated conditions (a big-quantity line; lines from >= 2
    // distinct suppliers; no returned line), summarized by priority.
    // Each EXISTS is a LeftSemi and the NOT EXISTS a LeftAnti on the
    // order key — all co-partitioned equi-joins, no correlated re-scans.
    QueryDef("q49_multi_exists",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val bigQty = li.filter(col("l_quantity") > 45)
          .select(col("l_orderkey"))
        val multiSupp = li.groupBy(col("l_orderkey"))
          .agg(countDistinct(col("l_suppkey")).as("ns"))
          .filter(col("ns") >= 2).select(col("l_orderkey"))
        val returned = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"))
        Tables.orders(s, d)
          .join(bigQty, col("o_orderkey") === bigQty("l_orderkey"), "left_semi")
          .join(multiSupp, col("o_orderkey") === multiSupp("l_orderkey"), "left_semi")
          .join(returned, col("o_orderkey") === returned("l_orderkey"), "left_anti")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem l1
             |        WHERE l1.l_orderkey = o_orderkey AND l1.l_quantity > 45)
             |  AND EXISTS (SELECT 1 FROM lineitem l2, lineitem l3
             |        WHERE l2.l_orderkey = o_orderkey
             |          AND l3.l_orderkey = o_orderkey
             |          AND l2.l_suppkey <> l3.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l4
             |        WHERE l4.l_orderkey = o_orderkey
             |          AND l4.l_returnflag = 'R')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------- q50
    // TPC-DS q88 shape: eight independent conditional counts that the
    // original writes as eight self-joined scalar subqueries — fused here
    // (and by any good optimizer) into ONE scan with conditional
    // aggregation. At 100 TB this is the difference between 1 and 8 full
    // table reads; the plan is a single partial+final agg, no join at all.
    QueryDef("q50_conditional_counts",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        def cnt(cond: Column, name: String) =
          count(when(cond, 1)).as(name)
        li.agg(
          cnt(col("l_quantity") <= 10, "q_00_10"),
          cnt(col("l_quantity") > 10 && col("l_quantity") <= 20, "q_10_20"),
          cnt(col("l_quantity") > 20 && col("l_quantity") <= 30, "q_20_30"),
          cnt(col("l_quantity") > 30, "q_30_up"),
          cnt(col("l_returnflag") === "R", "returned"),
          cnt(col("l_discount") >= 0.05, "high_disc"),
          cnt(col("l_tax") < 0.03, "low_tax"),
          cnt(col("l_linestatus") === "F", "finished"))
      },
      Some("""SELECT
             |  count(*) FILTER (WHERE l_quantity <= 10) AS q_00_10,
             |  count(*) FILTER (WHERE l_quantity > 10 AND l_quantity <= 20) AS q_10_20,
             |  count(*) FILTER (WHERE l_quantity > 20 AND l_quantity <= 30) AS q_20_30,
             |  count(*) FILTER (WHERE l_quantity > 30) AS q_30_up,
             |  count(*) FILTER (WHERE l_returnflag = 'R') AS returned,
             |  count(*) FILTER (WHERE l_discount >= 0.05) AS high_disc,
             |  count(*) FILTER (WHERE l_tax < 0.03) AS low_tax,
             |  count(*) FILTER (WHERE l_linestatus = 'F') AS finished
             |FROM lineitem""".stripMargin)),

    // ---------------------------------------------------------------- q51
    // TPC-DS q4/q11 shape: per-customer yearly totals, then a self-join of
    // consecutive years keeping customers whose spend grew. The yearly agg
    // shrinks the fact table BEFORE the self-join (customers x years
    // rows), and the join is co-partitioned on o_custkey — never a re-scan
    // of the fact per year as the literal SQL suggests.
    QueryDef("q51_yoy_growth",
      (s, d) => {
        val yearly = Tables.orders(s, d)
          .groupBy(col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("yr"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("amt"))
        val prev = yearly.select(col("o_custkey"), (col("yr") + 1).as("yr"),
          col("amt").as("prev_amt"))
        yearly.join(prev, Seq("o_custkey", "yr"))
          .filter(col("amt") > col("prev_amt"))
          .groupBy(col("yr"))
          .agg(count(lit(1)).as("n_grew"),
            decToDouble(sum(col("amt") - col("prev_amt")), "total_growth"))
          .orderBy(col("yr"))
      },
      Some("""WITH yearly AS (
             |  SELECT o_custkey, year(o_orderdate) AS yr,
             |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS amt
             |  FROM orders GROUP BY 1, 2)
             |SELECT c.yr, count(*) AS n_grew,
             |  CAST(round(sum(c.amt - p.amt), 2) AS DOUBLE) AS total_growth
             |FROM yearly c JOIN yearly p
             |  ON c.o_custkey = p.o_custkey AND c.yr = p.yr + 1
             |WHERE c.amt > p.amt
             |GROUP BY c.yr ORDER BY c.yr""".stripMargin)),

    // ---------------------------------------------------------------- q52
    // TPC-DS q33/q56/q60 shape: three differently-filtered aggregates over
    // the same fact UNION ALL'd, then re-aggregated by brand. Each branch
    // partial-aggregates before its shuffle and part broadcasts under all
    // three — the union costs three scans but zero extra shuffle volume
    // (branch outputs are already brand-level).
    QueryDef("q52_union_agg_reagg",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val pt = broadcast(Tables.part(s, d))
        def branch(cond: Column) =
          li.filter(cond)
            .join(pt, col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"))
            .agg(sum(revDec).as("amt"))
        branch(col("l_shipdate") < "1994-01-01")
          .union(branch(col("l_returnflag") === "R"))
          .union(branch(col("l_discount") >= 0.05))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).cast("long").as("n_channels"),
            decToDouble(sum(col("amt")), "revenue"))
          .orderBy(col("p_brand"))
      },
      Some(s"""WITH u AS (
              |  SELECT p_brand, sum($oRev) AS amt FROM lineitem
              |    JOIN part ON l_partkey = p_partkey
              |  WHERE l_shipdate < DATE '1994-01-01' GROUP BY 1
              |  UNION ALL
              |  SELECT p_brand, sum($oRev) AS amt FROM lineitem
              |    JOIN part ON l_partkey = p_partkey
              |  WHERE l_returnflag = 'R' GROUP BY 1
              |  UNION ALL
              |  SELECT p_brand, sum($oRev) AS amt FROM lineitem
              |    JOIN part ON l_partkey = p_partkey
              |  WHERE l_discount >= 0.05 GROUP BY 1)
              |SELECT p_brand, count(*) AS n_channels,
              |  CAST(round(sum(amt), 2) AS DOUBLE) AS revenue
              |FROM u GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ---------------------------------------------------------------- q53
    // TPC-DS q93 shape: net revenue after subtracting returned quantity —
    // the "returns" side is derived from the same fact (returnflag = 'R'),
    // left-joined back on the line identity; non-returned lines keep full
    // quantity. Both sides shuffle once on the same composite key.
    QueryDef("q53_net_of_returns",
      (s, d) => netOfReturns(Tables.lineitem(s, d)),
      Some("""SELECT l_suppkey,
             |  CAST(round(sum(CAST((l_quantity - COALESCE(r.r_qty, 0))
             |    * l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))), 2)
             |    AS DOUBLE) AS net_revenue
             |FROM lineitem l LEFT JOIN (
             |  SELECT l_orderkey AS r_orderkey, l_linenumber AS r_linenumber,
             |    l_quantity AS r_qty
             |  FROM lineitem WHERE l_returnflag = 'R') r
             |  ON l.l_orderkey = r.r_orderkey
             |    AND l.l_linenumber = r.r_linenumber
             |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // ---------------------------------------------------------------- q54
    // TPC-DS q98 shape: each brand's share of its type-class revenue — a
    // window total over PRE-AGGREGATED (type, brand) rows, so the window
    // input is dimension-sized no matter the fact size; the share is one
    // double division of two exactly-converted decimals (IEEE-identical
    // cross-engine).
    QueryDef("q54_class_revenue_share",
      (s, d) => {
        val agg = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_type"), col("p_brand"))
          .agg(sum(revDec).as("amt"))
        val w = Window.partitionBy(col("p_type"))
        agg.select(col("p_type"), col("p_brand"),
            decToDouble(col("amt"), "revenue"),
            decToDouble(sum(col("amt")).over(w), "class_total"))
          .withColumn("share", col("revenue") / col("class_total"))
          .orderBy(col("p_type"), col("p_brand"))
      },
      Some(s"""SELECT p_type, p_brand,
              |  CAST(round(amt, 2) AS DOUBLE) AS revenue,
              |  CAST(round(sum(amt) OVER (PARTITION BY p_type), 2) AS DOUBLE)
              |    AS class_total,
              |  CAST(round(amt, 2) AS DOUBLE)
              |    / CAST(round(sum(amt) OVER (PARTITION BY p_type), 2) AS DOUBLE)
              |    AS share
              |FROM (
              |  SELECT p_type, p_brand, sum($oRev) AS amt
              |  FROM lineitem JOIN part ON l_partkey = p_partkey
              |  GROUP BY 1, 2) t
              |ORDER BY p_type, p_brand""".stripMargin)),

    // ---------------------------------------------------------------- q55
    // TPC-H q15 shape: supplier(s) whose period revenue equals the global
    // maximum — aggregate once, take the scalar max OF the aggregate, join
    // back. The scalar subquery is over supplier-sized rows (never a fact
    // re-scan) and revenue is exact decimal, so the max-equality join is
    // deterministic cross-engine.
    QueryDef("q55_top_supplier",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= "1995-01-01" &&
            col("l_shipdate") < "1995-04-01")
          .groupBy(col("l_suppkey"))
          .agg(sum(revDec).as("total_rev"))
        val best = rev.agg(max(col("total_rev")).as("best")) // 1 row
        rev.join(broadcast(best), col("total_rev") === col("best"))
          .select(col("l_suppkey"), decToDouble(col("total_rev"), "total_rev"))
          .orderBy(col("l_suppkey"))
      },
      Some(s"""WITH rev AS (
              |  SELECT l_suppkey, sum($oRev) AS total_rev
              |  FROM lineitem
              |  WHERE l_shipdate >= DATE '1995-01-01'
              |    AND l_shipdate < DATE '1995-04-01'
              |  GROUP BY 1)
              |SELECT l_suppkey, CAST(round(total_rev, 2) AS DOUBLE) AS total_rev
              |FROM rev WHERE total_rev = (SELECT max(total_rev) FROM rev)
              |ORDER BY l_suppkey""".stripMargin)),

    // ---------------------------------------------------------------- q56
    // TPC-DS q65 shape: items selling at their group's minimum — per-brand
    // min joined back on equality. p_retailprice is stored data (no
    // arithmetic), so min and the equality are bit-exact cross-engine; the
    // min side is brand-sized and broadcasts.
    QueryDef("q56_min_price_parts",
      (s, d) => {
        val pt = Tables.part(s, d)
        val mins = pt.groupBy(col("p_brand"))
          .agg(min(col("p_retailprice")).as("min_price"))
        pt.join(broadcast(mins), Seq("p_brand"))
          .filter(col("p_retailprice") === col("min_price"))
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
          .orderBy(col("p_brand"), col("p_partkey"))
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice
             |FROM part p JOIN (
             |  SELECT p_brand AS b, min(p_retailprice) AS min_price
             |  FROM part GROUP BY 1) m
             |  ON p.p_brand = m.b AND p.p_retailprice = m.min_price
             |ORDER BY p_brand, p_partkey""".stripMargin)),

    // ---------------------------------------------------------------- q57
    // TPC-H q17 shape: revenue from small-quantity lines, "small" defined
    // by each part's own average (l_quantity < 0.2 * avg per part). The
    // per-part aggregate joins back size-gated: while the part population
    // fits the broadcast threshold the fact never re-shuffles; past it, a
    // co-partitioned shuffle join on l_partkey — never a correlated
    // re-scan either way. The threshold is rearranged to integer-free
    // decimal algebra (qty * 5 * cnt < sum_qty) so the comparison is exact
    // in both engines — a double 0.2*avg would round differently at ties.
    // (Measured on a 10x lineitem: the decimal compare, not the join,
    // dominates — the oracle-exact arithmetic is the price of hash parity; a
    // production pipeline free of the oracle would compare doubles.)
    QueryDef("q57_small_qty_revenue",
      (s, d) => smallQtyRevenue(Tables.lineitem(s, d)),
      Some(s"""SELECT count(*) AS n_small,
              |  CAST(round(sum($oRev), 2) AS DOUBLE) AS small_rev
              |FROM lineitem l JOIN (
              |  SELECT l_partkey AS pk,
              |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
              |    count(*) AS cnt
              |  FROM lineitem GROUP BY 1) p
              |  ON l.l_partkey = p.pk
              |WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * p.cnt
              |  < p.sum_qty""".stripMargin)),

    // ---------------------------------------------------------------- q58
    // TPC-DS q62/q99 shape: shipping-delay day-band counts per order
    // priority — one fact-fact equi-join (line to its order) then banded
    // conditional counts; all-BIGINT output, no float anywhere.
    QueryDef("q58_delay_buckets",
      (s, d) => {
        val j = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .withColumn("delay", datediff(col("l_shipdate"), col("o_orderdate")))
        j.groupBy(col("o_orderpriority"))
          .agg(
            count(when(col("delay") <= 30, 1)).as("d_00_30"),
            count(when(col("delay") > 30 && col("delay") <= 60, 1)).as("d_31_60"),
            count(when(col("delay") > 60 && col("delay") <= 90, 1)).as("d_61_90"),
            count(when(col("delay") > 90, 1)).as("d_91_up"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  count(*) FILTER (WHERE delay <= 30) AS d_00_30,
             |  count(*) FILTER (WHERE delay > 30 AND delay <= 60) AS d_31_60,
             |  count(*) FILTER (WHERE delay > 60 AND delay <= 90) AS d_61_90,
             |  count(*) FILTER (WHERE delay > 90) AS d_91_up
             |FROM (
             |  SELECT o_orderpriority,
             |    date_diff('day', o_orderdate, l_shipdate) AS delay
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey) t
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---------------------------------------------------------------- q59
    // TPC-H q21 shape: suppliers who were the ONLY late supplier in a
    // multi-supplier order — the hardest correlated-subquery form in the
    // TPC suites: an EXISTS and a NOT EXISTS both correlated with an
    // INEQUALITY (other-supplier) condition. Spark plans both as one
    // semi + one anti join on the order key with the supplier inequality
    // as residual — co-partitioned equi-joins, no per-row re-scans.
    QueryDef("q59_lonely_late_supplier",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val late = li
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") +
            expr("INTERVAL 60 DAYS"))
          .select(col("l_orderkey"), col("l_suppkey"))
        val anyOther = li.select(col("l_orderkey").as("o2_orderkey"),
          col("l_suppkey").as("o2_suppkey"))
        val lateOther = late.select(col("l_orderkey").as("o3_orderkey"),
          col("l_suppkey").as("o3_suppkey"))
        late
          .join(anyOther,
            col("l_orderkey") === col("o2_orderkey") &&
              col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
          .join(lateOther,
            col("l_orderkey") === col("o3_orderkey") &&
              col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("l_suppkey"))
      },
      Some("""WITH late AS (
             |  SELECT l_orderkey, l_suppkey
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |SELECT l_suppkey, count(*) AS numwait
             |FROM late l1
             |WHERE EXISTS (SELECT 1 FROM lineitem l2
             |        WHERE l2.l_orderkey = l1.l_orderkey
             |          AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM late l3
             |        WHERE l3.l_orderkey = l1.l_orderkey
             |          AND l3.l_suppkey <> l1.l_suppkey)
             |GROUP BY 1 ORDER BY numwait DESC, l_suppkey""".stripMargin)),

    // ---------------------------------------------------------------- q60
    // TPC-H q20 shape (nested aggregate threshold): suppliers shipping
    // more than 20% of some part's total volume (the uniform synthetic
    // data leaves no supplier above 50%, so the TPC-H original's majority
    // threshold would select nothing at any SF here). The part total
    // derives FROM the (part, supplier) aggregate — one fact scan feeds
    // both levels (AQE reuses the shuffle stage; PlanSpec asserts it) and
    // the threshold join is co-partitioned on l_partkey. Exact decimal
    // algebra (5*sp > total), no division.
    QueryDef("q60_dominant_suppliers",
      (s, d) => {
        val sp = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sp_qty"))
        val totals = sp.groupBy(col("l_partkey"))
          .agg(sum(col("sp_qty")).as("p_qty"))
        sp.join(totals, Seq("l_partkey"))
          .filter(col("sp_qty") * 5 > col("p_qty"))
          .select(col("l_suppkey")).distinct()
          .orderBy(col("l_suppkey"))
      },
      Some("""WITH sp AS (
             |  SELECT l_partkey, l_suppkey,
             |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sp_qty
             |  FROM lineitem GROUP BY 1, 2),
             |totals AS (SELECT l_partkey, sum(sp_qty) AS p_qty
             |           FROM sp GROUP BY 1)
             |SELECT DISTINCT l_suppkey
             |FROM sp JOIN totals USING (l_partkey)
             |WHERE sp_qty * 5 > p_qty
             |ORDER BY l_suppkey""".stripMargin)),

    // ---------------------------------------------------------------- q61
    // TPC-H q8 shape (market share): one nation's share of yearly revenue.
    // The fact-fact join shuffles once on the order key; supplier and
    // nation broadcast; the share is a conditional decimal sum over the
    // same aggregate pass (no second scan), surfaced as one exact double
    // division.
    QueryDef("q61_market_share",
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
        base.groupBy(year(col("o_orderdate")).cast("long").as("yr"))
          .agg(
            decToDouble(sum(when(col("n_name") === "NATION_3", revDec)
              .otherwise(lit(0).cast(DecimalType(30, 8)))), "nation_rev"),
            decToDouble(sum(revDec), "total_rev"))
          .withColumn("share", col("nation_rev") / col("total_rev"))
          .orderBy(col("yr"))
      },
      Some(s"""SELECT yr, nation_rev, total_rev,
              |  nation_rev / total_rev AS share
              |FROM (
              |  SELECT year(o_orderdate) AS yr,
              |    CAST(round(sum(CASE WHEN n_name = 'NATION_3' THEN $oRev
              |      ELSE CAST(0 AS DECIMAL(30,8)) END), 2) AS DOUBLE)
              |      AS nation_rev,
              |    CAST(round(sum($oRev), 2) AS DOUBLE) AS total_rev
              |  FROM lineitem
              |    JOIN orders ON l_orderkey = o_orderkey
              |    JOIN supplier ON l_suppkey = s_suppkey
              |    JOIN nation ON s_nationkey = n_nationkey
              |  GROUP BY 1) t
              |ORDER BY yr""".stripMargin)),

    // ---------------------------------------------------------------- q62
    // TPC-H q22 shape: high-balance customers with no recent orders —
    // scalar-average threshold (rearranged to bal * cnt > sum so the
    // comparison is exact decimal, never an averaged double) + anti join
    // against recent orders, bucketed by market segment.
    QueryDef("q62_idle_rich_customers",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val stats = cust.filter(col("c_acctbal") > 0)
          .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("sum_bal"),
            count(lit(1)).as("cnt"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= "2000-01-01")
          .select(col("o_custkey"))
        cust.join(broadcast(stats))
          .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("cnt")
            > col("sum_bal"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"),
            decToDouble(sum(col("c_acctbal").cast(DecimalType(18, 2))),
              "total_bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_cust,
             |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
             |    AS total_bal
             |FROM customer c
             |JOIN (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
             |        count(*) AS cnt
             |      FROM customer WHERE c_acctbal > 0) s ON TRUE
             |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > sum_bal
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |        WHERE o.o_custkey = c.c_custkey
             |          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---------------------------------------------------------------- q63
    // TPC-DS q67 shape: rank within a rolled-up hierarchy — top-3 rows per
    // (grouping level, type) over the ROLLUP(type, brand) revenue. The
    // window partitions on grouping_id so detail rows and subtotal rows
    // rank among their own kind; its input is the rollup output
    // (dimension-sized), never the fact. grouping_id stays OUT of the
    // output (Spark and DuckDB agree on the bitmask, but the contract is
    // only that it partitions identically).
    QueryDef("q63_rollup_rank",
      (s, d) => {
        val agg = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .rollup(col("p_type"), col("p_brand"))
          .agg(sum(revDec).as("amt"), grouping_id().as("gid"))
        val w = Window.partitionBy(col("gid"), col("p_type"))
          .orderBy(col("amt").desc, col("p_brand").asc_nulls_first)
        agg.withColumn("rnk", rank().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("p_type"), col("p_brand"),
            decToDouble(col("amt"), "amount"), col("rnk"))
          .orderBy(col("p_type").asc_nulls_first,
            col("rnk"), col("p_brand").asc_nulls_first)
      },
      Some(s"""SELECT p_type, p_brand,
              |  CAST(round(amt, 2) AS DOUBLE) AS amount, rnk
              |FROM (
              |  SELECT p_type, p_brand, sum($oRev) AS amt,
              |    CAST(rank() OVER (
              |      PARTITION BY GROUPING_ID(p_type, p_brand), p_type
              |      ORDER BY sum($oRev) DESC, p_brand ASC NULLS FIRST)
              |      AS BIGINT) AS rnk
              |  FROM lineitem JOIN part ON l_partkey = p_partkey
              |  GROUP BY ROLLUP(p_type, p_brand)) t
              |WHERE rnk <= 3
              |ORDER BY p_type NULLS FIRST, rnk, p_brand NULLS FIRST""".stripMargin)),

    // ---------------------------------------------------------------- q64
    // TPC-DS q23 shape: "frequent" items (ordered in >= 4 distinct
    // months) and the revenue they drive — a distinct-count HAVING
    // producing a key set, probed as a semi join (the frequent set never
    // materializes pairs against the fact).
    QueryDef("q64_frequent_parts",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val frequent = li
          .groupBy(col("l_partkey"))
          .agg(countDistinct(date_format(col("l_shipdate"), "yyyy-MM"))
            .as("n_months"))
          .filter(col("n_months") >= 4)
          .select(col("l_partkey"))
        li.join(frequent, Seq("l_partkey"), "left_semi")
          .agg(count(lit(1)).as("n_lines"),
            decToDouble(sum(revDec), "frequent_rev"))
      },
      Some(s"""SELECT count(*) AS n_lines,
              |  CAST(round(sum($oRev), 2) AS DOUBLE) AS frequent_rev
              |FROM lineitem
              |WHERE l_partkey IN (
              |  SELECT l_partkey FROM lineitem
              |  GROUP BY 1
              |  HAVING count(DISTINCT printf('%04d-%02d', year(l_shipdate),
              |    month(l_shipdate))) >= 4)""".stripMargin)),

    // ---------------------------------------------------------------- q65
    // TPC-DS q58/q83 shape: brands whose returned revenue sits within a
    // band of their sold revenue — two differently-filtered aggregates of
    // the same fact compared by a tolerance band. The band test is exact
    // decimal algebra (10r vs 2s), no division, so membership cannot flip
    // between engines.
    QueryDef("q65_balanced_channels",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
        val sales = li.filter(col("l_returnflag") =!= "R")
          .groupBy(col("p_brand")).agg(sum(revDec).as("sales_rev"))
        val returns = li.filter(col("l_returnflag") === "R")
          .groupBy(col("p_brand")).agg(sum(revDec).as("returns_rev"))
        // band test over the scale-2-ROUNDED revenues in DECIMAL(18,2):
        // multiplying the raw DECIMAL(38,8) sums overflows 38-digit
        // precision, where Spark rounds the product to a smaller scale but
        // DuckDB falls back to DOUBLE — membership could then flip at band
        // edges. At (18,2) the products stay exact in both engines, and
        // round() is HALF_UP for positives in both.
        val sr = round(col("sales_rev"), 2).cast(DecimalType(18, 2))
        val rr = round(col("returns_rev"), 2).cast(DecimalType(18, 2))
        sales.join(returns, Seq("p_brand"))
          // returns within [50%, 60%] of sales (the synthetic flag split
          // puts brand ratios in 0.45-0.57, so this band selects some
          // brands and rejects others): 10r >= 5s && 10r <= 6s
          .filter(rr * 10 >= sr * 5 && rr * 10 <= sr * 6)
          .select(col("p_brand"),
            decToDouble(col("sales_rev"), "sales_rev"),
            decToDouble(col("returns_rev"), "returns_rev"))
          .orderBy(col("p_brand"))
      },
      Some(s"""WITH sales AS (
              |  SELECT p_brand, sum($oRev) AS sales_rev
              |  FROM lineitem JOIN part ON l_partkey = p_partkey
              |  WHERE l_returnflag <> 'R' GROUP BY 1),
              |returns AS (
              |  SELECT p_brand, sum($oRev) AS returns_rev
              |  FROM lineitem JOIN part ON l_partkey = p_partkey
              |  WHERE l_returnflag = 'R' GROUP BY 1)
              |SELECT p_brand,
              |  CAST(round(sales_rev, 2) AS DOUBLE) AS sales_rev,
              |  CAST(round(returns_rev, 2) AS DOUBLE) AS returns_rev
              |FROM sales JOIN returns USING (p_brand)
              |WHERE CAST(round(returns_rev, 2) AS DECIMAL(18,2)) * 10
              |    >= CAST(round(sales_rev, 2) AS DECIMAL(18,2)) * 5
              |  AND CAST(round(returns_rev, 2) AS DECIMAL(18,2)) * 10
              |    <= CAST(round(sales_rev, 2) AS DECIMAL(18,2)) * 6
              |ORDER BY p_brand""".stripMargin)),

    // ---------------------------------------------------------------- q67
    // TPC-H q13 shape: the distribution of orders-per-customer INCLUDING
    // zero-order customers — a left join whose count() over the null side
    // yields 0, then a second aggregation over the counts (histogram of
    // counts). Both aggregations are partial-aggregate-friendly; the
    // second runs over customer-sized rows.
    QueryDef("q67_order_count_histogram",
      (s, d) => {
        val counts = Tables.customer(s, d)
          .join(Tables.orders(s, d),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
        counts.groupBy(col("n_orders"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("n_customers").desc, col("n_orders").desc)
      },
      Some("""SELECT n_orders, count(*) AS n_customers
             |FROM (
             |  SELECT c_custkey, count(o_orderkey) AS n_orders
             |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |  GROUP BY c_custkey) t
             |GROUP BY n_orders
             |ORDER BY n_customers DESC, n_orders DESC""".stripMargin)),

    // ---------------------------------------------------------------- q68
    // PIVOT: yearly revenue spread across return-flag columns — the
    // DataFrame .pivot() surface. With the value list given explicitly
    // the plan is ONE aggregation pass with conditional sums (no distinct
    // scan to discover pivot keys); the oracle states the same conditional
    // aggregation directly, so both engines compute identical cells.
    QueryDef("q68_pivot_returnflag",
      (s, d) => pivotWide(Tables.lineitem(s, d)).orderBy(col("yr")),
      Some(s"""SELECT * FROM ($oPivotWide) p ORDER BY yr""".stripMargin)),

    // ---------------------------------------------------------------- q69
    // UNPIVOT (melt): the wide per-year revenue columns folded back to
    // (yr, flag, revenue) rows — the inverse surface, a pure narrow
    // Expand over the aggregated frame (3 output rows per input row,
    // never a shuffle). The oracle is the UNION ALL the melt abbreviates.
    QueryDef("q69_unpivot_returnflag",
      (s, d) => pivotWide(Tables.lineitem(s, d))
        .unpivot(Array(col("yr")),
          Array(col("rev_a"), col("rev_n"), col("rev_r")),
          "flag", "revenue")
        .orderBy(col("yr"), col("flag")),
      Some(s"""WITH wide AS (
              |$oPivotWide)
              |SELECT yr, flag, revenue FROM (
              |  SELECT yr, 'rev_a' AS flag, rev_a AS revenue FROM wide
              |  UNION ALL
              |  SELECT yr, 'rev_n' AS flag, rev_n AS revenue FROM wide
              |  UNION ALL
              |  SELECT yr, 'rev_r' AS flag, rev_r AS revenue FROM wide) u
              |ORDER BY yr, flag""".stripMargin)),

    // ---------------------------------------------------------------- q70
    // Correlated LATERAL subquery with LIMIT: top-3 customers by balance
    // per nation, written as the SQL-standard lateral form. ONE text runs
    // on both engines (the pp_sql_functions pattern); Catalyst decorrelates
    // the per-row subquery into a join + per-group limit instead of
    // re-running it per nation row.
    QueryDef("q70_lateral_topn",
      (s, d) => {
        Tables.nation(s, d).createOrReplaceTempView("v_nation")
        Tables.customer(s, d).createOrReplaceTempView("v_customer")
        s.sql(lateralTopnSql("v_nation", "v_customer"))
      },
      Some(lateralTopnSql("nation", "customer"))),

    // ---------------------------------------------------------------- q74
    // NTILE quantile banding (TPC-DS customer-segmentation shape):
    // customers ranked into spend quartiles, then profiled per quartile.
    // The quartile assignment runs through [[graft.operators.GlobalRank
    // .ntile]] — an exact distributed ntile (parallel range sort +
    // per-partition rank offsets), NOT a single-partition window, once
    // the frame outgrows the operator's size gate: the per-customer
    // aggregate is dimension-sized today (the gate picks the plain
    // window and skips the offsets machinery's fixed job cost), but the
    // plan no longer carries the one bottleneck that would break if the
    // ranked frame ever grew fact-like (GlobalRankSpec pins window
    // parity, the gate, and the no-SinglePartition-exchange property on
    // the large path). The (spend, custkey) order is TOTAL — ties
    // cannot flip quartile membership between engines. DuckDB ntile
    // returns BIGINT => cast.
    QueryDef("q74_ntile_spend_quartiles",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("spend_dec"))
        graft.operators.GlobalRank
          .ntile(spend, 4, Seq(col("spend_dec"), col("o_custkey")),
            out = "quartile")
          .withColumn("quartile", col("quartile").cast("long"))
          .groupBy(col("quartile"))
          .agg(count(lit(1)).as("n_customers"),
            decToDouble(sum(col("spend_dec")), "total_spend"))
          .orderBy(col("quartile"))
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
             |  FROM orders GROUP BY 1),
             |qt AS (
             |  SELECT o_custkey, spend_dec,
             |    ntile(4) OVER (ORDER BY spend_dec, o_custkey) AS q
             |  FROM spend)
             |SELECT CAST(q AS BIGINT) AS quartile, count(*) AS n_customers,
             |  CAST(round(sum(spend_dec), 2) AS DOUBLE) AS total_spend
             |FROM qt GROUP BY q ORDER BY quartile""".stripMargin))
  )

  /** One LATERAL-top-n SQL text for both engines. Null ordering is
    * spelled EVERYWHERE (Spark ASC defaults NULLS FIRST, DuckDB NULLS
    * LAST) — inside the LIMIT 3 subquery it decides which rows survive,
    * not just their order.
    */
  private def lateralTopnSql(nation: String, customer: String): String =
    s"""SELECT n_name, c_name, c_acctbal
       |FROM $nation, LATERAL (
       |  SELECT c_name, c_acctbal FROM $customer
       |  WHERE c_nationkey = n_nationkey
       |  ORDER BY c_acctbal DESC NULLS LAST, c_name ASC NULLS FIRST
       |  LIMIT 3) t
       |ORDER BY n_name ASC NULLS FIRST, c_acctbal DESC NULLS LAST,
       |  c_name ASC NULLS FIRST""".stripMargin
}

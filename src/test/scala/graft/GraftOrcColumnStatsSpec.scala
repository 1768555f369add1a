package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.OrcData

/** Column-level statistics through the DSv2 `columnStats` surface — the
  * reference's acknowledged TODO (src/metadata.rs:60-86). Per-column
  * min/max/null-count come from the same footer sweep that prices the row
  * count; Catalyst CBO turns them into filter-selectivity estimates that
  * drive broadcast decisions — the thing a 100 TB join plan lives or dies
  * by.
  */
class GraftOrcColumnStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val orcPath = OrcData.orcPath(spark, TestSpark.sf0001, "lineitem")

  private def scanOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.connector.read.SupportsReportStatistics = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
  }

  test("scan reports per-column min/max/null-count from ORC footers") {
    val q = spark.read.format("graft-orc").load(orcPath)
      .select($"l_orderkey", $"l_quantity", $"l_shipdate", $"l_returnflag")
    q.collect()
    val stats = scanOf(q).estimateStatistics()
    val byName = stats.columnStats().asInstanceOf[java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]]
    import scala.jdk.CollectionConverters._
    val m = byName.asScala.map { case (k, v) => k.fieldNames.mkString(".") -> v }
    assert(m.keySet === Set("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"))

    // l_quantity is DECIMAL 1..50 in TPC-H; bounds must be real values
    val q10 = m("l_quantity")
    assert(q10.min().isPresent && q10.max().isPresent)
    val mn = BigDecimal(q10.min().get.toString)
    val mx = BigDecimal(q10.max().get.toString)
    assert(mn === BigDecimal(1) && mx === BigDecimal(50), s"got [$mn, $mx]")
    assert(q10.nullCount().getAsLong === 0L)

    // timestamps surface as Catalyst epoch micros (Long), ordered correctly
    val sd = m("l_shipdate")
    assert(sd.min().isPresent && sd.max().isPresent)
    val (dmin, dmax) = (sd.min().get.asInstanceOf[java.lang.Long].longValue,
      sd.max().get.asInstanceOf[java.lang.Long].longValue)
    assert(dmin < dmax)
    val minYear = java.time.Instant.ofEpochSecond(dmin / 1000000L)
      .atZone(java.time.ZoneOffset.UTC).getYear
    assert(minYear >= 1990 && minYear <= 2010, s"implausible min year $minYear")

    // strings: no numeric bounds (CBO intervals don't consume them), but
    // the exact null count still reports
    val cm = m("l_returnflag")
    assert(!cm.min().isPresent && !cm.max().isPresent)
    assert(cm.nullCount().getAsLong === 0L)
  }

  test("column stats gate: off under a pushed data filter, off by option") {
    val filtered = spark.read.format("graft-orc").load(orcPath)
      .filter($"l_quantity" > 25).select($"l_orderkey")
    filtered.collect()
    assert(scanOf(filtered).estimateStatistics().columnStats().isEmpty,
      "pushed data filter must degrade column stats with the row count")

    val disabled = spark.read.format("graft-orc")
      .option("graft.column_stats", "false").load(orcPath)
      .select($"l_orderkey")
    disabled.collect()
    assert(scanOf(disabled).estimateStatistics().columnStats().isEmpty)
  }

  test("hive-partition columns get exact bounds from the listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colstats-part")
      .toString
    spark.range(100).select(col("id"),
        (col("id") % 4).cast("int").as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").orc(dir)
    val q = spark.read.format("graft-orc").load(dir)
      .select($"id", $"bucket")
    q.collect()
    import scala.jdk.CollectionConverters._
    val m = scanOf(q).estimateStatistics().columnStats().asScala
      .map { case (k, v) => k.fieldNames.mkString(".") -> v }
    val b = m("bucket")
    assert(b.min().get.asInstanceOf[Integer] === 0)
    assert(b.max().get.asInstanceOf[Integer] === 3)
    assert(b.nullCount().getAsLong === 0L)
  }

  test("manifest tables price row count AND column stats with ZERO footer " +
    "reads (stat sidecars in the snapshot)") {
    import graft.sources.v2.GraftOrcDataSource
    val dir = java.nio.file.Files.createTempDirectory("graft-colstats-manifest")
      .toString
    spark.read.format("graft-orc").load(orcPath)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)

    GraftOrcDataSource.planFooterReads.clear()
    GraftOrcDataSource.recordPlanFooterReads = true
    try {
      val q = spark.read.format("graft-orc").load(dir)
        .select($"l_orderkey", $"l_quantity", $"l_shipdate")
      val stats = scanOf(q).estimateStatistics()
      // exact rows + real column bounds, priced from the manifest alone
      assert(stats.numRows().isPresent && stats.numRows().getAsLong > 0)
      import scala.jdk.CollectionConverters._
      val m = stats.columnStats().asScala
        .map { case (k, v) => k.fieldNames.mkString(".") -> v }
      val q10 = m("l_quantity")
      assert(q10.min().isPresent && q10.max().isPresent)
      assert(BigDecimal(q10.min().get.toString) === BigDecimal(1))
      assert(BigDecimal(q10.max().get.toString) === BigDecimal(50))
      val opened = GraftOrcDataSource.planFooterReads.asScala
        .filter(_.contains(dir))
      assert(opened.isEmpty,
        s"stats sweep on a manifest table opened footers: $opened")
    } finally {
      GraftOrcDataSource.recordPlanFooterReads = false
      GraftOrcDataSource.planFooterReads.clear()
    }

    // the same table through a manifest-blind BFS listing must still
    // answer (fallback path pays the footer reads the sidecar saved)
    GraftOrcDataSource.planFooterReads.clear()
    GraftOrcDataSource.recordPlanFooterReads = true
    try {
      val ignoreManifest = new graft.sources.v2.GraftOrcFileIndex(
        spark.sparkContext.hadoopConfiguration, Seq(dir),
        ignoreManifest = true)
      assert(ignoreManifest.entries.nonEmpty &&
        ignoreManifest.entries.forall(_.stats.isEmpty),
        "BFS-listed entries must carry no sidecar")
    } finally {
      GraftOrcDataSource.recordPlanFooterReads = false
      GraftOrcDataSource.planFooterReads.clear()
    }
  }

  test("manifest sidecars prune whole FILES under a pushed data filter " +
    "(zero-I/O file-level statistics pruning)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecar-prune")
      .toString
    // four files with DISJOINT l_orderkey ranges, committed through the
    // manifest writer so every entry carries min/max sidecars
    spark.read.format("graft-orc").load(orcPath)
      .repartitionByRange(4, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)
    val minKey = spark.read.format("graft-orc").load(dir)
      .agg(org.apache.spark.sql.functions.min($"l_orderkey"))
      .head().getLong(0)

    def partitionsOf(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // force planning
      df.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head
        .scan.asInstanceOf[graft.sources.v2.GraftOrcScan]
        .planInputPartitions().length
    }
    val all = spark.read.format("graft-orc").load(dir)
      .select($"l_orderkey", $"l_quantity")
    assert(partitionsOf(all) === 4, "fixture must have 4 files")
    // a predicate satisfiable only in the first range: 3 of 4 files are
    // provably row-free from their sidecar ranges and never planned
    val selective = spark.read.format("graft-orc").load(dir)
      .filter($"l_orderkey" <= minKey).select($"l_orderkey", $"l_quantity")
    assert(partitionsOf(selective) === 1,
      "sidecar ranges must prune the 3 non-matching files at plan time")
    // and of course the pruned plan returns the same rows
    assert(selective.count() ===
      spark.read.format("graft-orc").load(orcPath)
        .filter($"l_orderkey" <= minKey).count())
    // pushdown off disables the file prune along with the SARG push
    val unpushed = spark.read.format("graft-orc")
      .option("orc.pushdown_predicate", "false").load(dir)
      .filter($"l_orderkey" <= minKey).select($"l_orderkey")
    assert(partitionsOf(unpushed) === 4)
  }

  test("CBO broadcast decision is driven by the reported column stats") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // the filter must stay a residual above an UNPUSHED scan (exact rows +
    // column stats) for FilterEstimation to have anything to refine, so
    // predicate pushdown is disabled via the reference's own toggle
    def side(colStats: Boolean) = spark.read.format("graft-orc")
      .option("orc.pushdown_predicate", "false")
      .option("graft.column_stats", colStats.toString)
      .load(orcPath)
    def plan(colStats: Boolean) = {
      val small = side(colStats).filter($"l_quantity" <= 2)
        .select($"l_orderkey", $"l_quantity")
      val big = side(colStats).select($"l_orderkey", $"l_extendedprice")
      big.join(small, "l_orderkey").queryExecution.sparkPlan
    }
    val conf = spark.conf
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.cbo.enabled", "true")
      // between "filtered-side CBO estimate" (~2% of rows) and "whole file"
      conf.set("spark.sql.autoBroadcastJoinThreshold", (16 * 1024).toString)
      val withStats = plan(colStats = true)
      assert(withStats.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"expected broadcast join with column stats on:\n$withStats")
      val withoutStats = plan(colStats = false)
      assert(withoutStats.collect { case s: SortMergeJoinExec => s }.nonEmpty,
        s"expected sort-merge join with column stats off:\n$withoutStats")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

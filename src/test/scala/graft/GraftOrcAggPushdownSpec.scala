package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Footer-statistics aggregate pushdown: filterless global MIN/MAX/COUNT
  * answered on the driver from ORC footers and manifest sidecars
  * (GraftOrcAggScan), verified against the same aggregates computed the
  * slow way.
  */
class GraftOrcAggPushdownSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-agg-orc").toString
    // two files so the final merge over per-file partials is exercised
    graft.sources.OrcTables.write(
      Tables.lineitem(spark, TestSpark.sf0001).repartition(2), d)
    d
  }

  private def pushed(dir: String) = spark.read.format("graft-orc")
    .option("orc.aggregate_pushdown", "true").load(dir)

  import TestSpark.aggScans

  test("count(*) is answered from footers and matches the full scan") {
    val q = pushed(dir).agg(count(lit(1)).as("n"))
    assert(aggScans(q) === 1, q.queryExecution.executedPlan.toString)
    assert(q.as[Long].collect().head ===
      spark.read.format("graft-orc").load(dir).count())
  }

  test("40 files answer on the driver with no scan task; result stays exact") {
    val d = Files.createTempDirectory("graft-agg-chunk").toString
    (0 until 40).foreach { i =>
      spark.range(i * 5, (i + 1) * 5).select($"id")
        .coalesce(1).write.format("graft-orc").mode("append").save(d)
    }
    val q = pushed(d).agg(count(lit(1)).as("n"), max($"id").as("m"))
    assert(aggScans(q) === 1, q.queryExecution.optimizedPlan.toString)
    // the plan is Spark's renaming projection over the scan's final rows:
    // no file scan, no exchange, no aggregate, and no adaptive stages
    val plan = q.queryExecution.executedPlan
    assert(plan.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]),
      plan.toString)
    assert(plan.collect {
      case a: BaseAggregateExec => a
      case e: Exchange => e
    }.isEmpty, plan.toString)
    val (rows, jobs) = TestSpark.jobsDuring(q.collect())
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 200L && rows.head.getLong(1) === 199L)
    // the projection runs as one single-stage job over the local rows
    assert(jobs === 1, plan.toString)
  }

  test("min/max on integral columns match the full scan") {
    val q = pushed(dir).agg(
      min($"l_orderkey").as("a"), max($"l_orderkey").as("b"),
      min($"l_linenumber").as("e"), max($"l_linenumber").as("f"),
      count($"l_tax").as("g"))
    assert(aggScans(q) === 1, q.queryExecution.executedPlan.toString)
    val slow = spark.read.format("graft-orc").load(dir).agg(
      min($"l_orderkey"), max($"l_orderkey"),
      min($"l_linenumber"), max($"l_linenumber"),
      count($"l_tax"))
    assert(q.collect().head === slow.collect().head)
  }

  test("string and date MIN/MAX are refused (shared-util parity)") {
    // AggregatePushDownUtils limits min/max to numeric footer stats
    // (string stats truncate; ORC date stats are not mapped) — the graft
    // connector inherits the gate, matching the built-in source exactly
    assert(aggScans(pushed(dir).agg(min($"l_returnflag").as("m"))) === 0)
    assert(aggScans(pushed(dir).agg(min($"l_shipdate").as("m"))) === 0)
  }

  test("float/double MIN/MAX is refused (NaN-unsafe footer stats)") {
    val q = pushed(dir).agg(min($"l_extendedprice").as("m"))
    assert(aggScans(q) === 0)
    // still correct through the normal scan
    assert(q.collect().head.getDouble(0) ===
      Tables.lineitem(spark, TestSpark.sf0001)
        .agg(min($"l_extendedprice")).collect().head.getDouble(0))
  }

  test("a filter keeps the aggregate off the footer path") {
    val q = pushed(dir).filter($"l_quantity" > 10).agg(count(lit(1)).as("n"))
    assert(aggScans(q) === 0)
  }

  test("grouped aggregates on DATA columns are refused") {
    // l_returnflag is a data column here (unpartitioned table): grouped
    // footer stats don't exist, the full scan must run
    val q = pushed(dir).groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    assert(aggScans(q) === 0)
  }

  test("GROUP BY partition columns answers from metadata — footers on a " +
    "directory table, sidecars at ZERO footer opens on a manifest table") {
    import graft.sources.v2.GraftOrcDataSource
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    val slow = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), min($"l_orderkey").as("mn"),
        max($"l_linenumber").as("mx"))
      .orderBy($"l_returnflag").collect()

    // directory table: one partial row per (file, its partition value)
    val pdir = Files.createTempDirectory("graft-agg-part").toString
    li.write.format("graft-orc").partitionBy("l_returnflag")
      .mode("append").save(pdir)
    val q = pushed(pdir).groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), min($"l_orderkey").as("mn"),
        max($"l_linenumber").as("mx"))
      .orderBy($"l_returnflag")
    assert(aggScans(q) === 1, q.queryExecution.executedPlan.toString)
    assert(q.collect().map(_.toSeq).toSeq === slow.map(_.toSeq).toSeq)

    // manifest table: the same grouped aggregate with zero footer opens
    val mdir = Files.createTempDirectory("graft-agg-part-mani").toString
    li.write.format("graft-orc").partitionBy("l_returnflag")
      .option("graft.manifest", "true").mode("append").save(mdir)
    GraftOrcDataSource.planFooterReads.clear()
    GraftOrcDataSource.recordPlanFooterReads = true
    try {
      val qm = pushed(mdir).groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), min($"l_orderkey").as("mn"),
          max($"l_linenumber").as("mx"))
        .orderBy($"l_returnflag")
      assert(aggScans(qm) === 1, qm.queryExecution.executedPlan.toString)
      assert(qm.collect().map(_.toSeq).toSeq === slow.map(_.toSeq).toSeq)
      import scala.jdk.CollectionConverters._
      val opened = GraftOrcDataSource.planFooterReads.asScala
        .filter(_.contains(mdir))
      assert(opened.isEmpty,
        s"grouped sidecar pushdown opened footers: $opened")
    } finally {
      GraftOrcDataSource.recordPlanFooterReads = false
      GraftOrcDataSource.planFooterReads.clear()
    }
  }

  test("property: pushed and unpushed results agree for every eligible column") {
    // equivalence sweep across the whole schema: COUNT(c) for all columns,
    // MIN/MAX for the integral ones — footer stats must agree with the
    // scan on every one (nullability, type mapping, multi-file merge)
    val full = spark.read.format("graft-orc").load(dir)
    val integral = full.schema.fields.filter(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    for (f <- full.schema.fields) {
      val fast = pushed(dir).agg(count(col(f.name)).as("v"))
      assert(aggScans(fast) === 1, s"count(${f.name}) not pushed")
      assert(fast.collect().head ===
        full.agg(count(col(f.name))).collect().head, s"count(${f.name})")
    }
    val minMax: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(min(_), max(_))
    for (f <- integral; fn <- minMax) {
      val fast = pushed(dir).agg(fn(col(f.name)).as("v"))
      assert(aggScans(fast) === 1, s"min/max(${f.name}) not pushed")
      assert(fast.collect().head ===
        full.agg(fn(col(f.name))).collect().head, s"min/max(${f.name})")
    }
  }

  test("a zero-file table answers the global aggregate with one row, " +
    "the grouped one with none") {
    val empty = Files.createTempDirectory("graft-agg-empty").toString
    def read = spark.read.format("graft-orc").schema("id BIGINT, p INT")
      .option("orc.aggregate_pushdown", "true").load(empty)
    val global = read.agg(count(lit(1)).as("n"), min($"id").as("m"))
    assert(aggScans(global) === 1, global.queryExecution.optimizedPlan.toString)
    assert(global.collect().map(_.toSeq).toSeq === Seq(Seq(0L, null)))
    // with no file, `p` is not known as a partition column: the grouped
    // form takes Spark's own aggregate, and must agree
    val grouped = read.groupBy($"p")
      .agg(count(lit(1)).as("n"), min($"id").as("m"))
    assert(grouped.collect().isEmpty)
  }

  test("GROUP BY a partition column merges several files per group " +
    "exactly as the unpushed aggregate does") {
    val pdir = Files.createTempDirectory("graft-agg-group-files").toString
    (0 until 3).foreach { i =>
      spark.range(i * 100, (i + 1) * 100).select($"id",
        ($"id" % 4).cast("int").as("g"), ($"id" * 7 % 13).as("v"))
        .coalesce(1).write.format("graft-orc").partitionBy("g")
        .mode("append").save(pdir)
    }
    def grouped(df: org.apache.spark.sql.DataFrame) = df.groupBy($"g")
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"id").as("mn"), max($"v").as("mx"))
      .orderBy($"g")
    val fast = grouped(pushed(pdir))
    assert(aggScans(fast) === 1, fast.queryExecution.optimizedPlan.toString)
    val slow = grouped(spark.read.format("graft-orc").load(pdir))
    assert(aggScans(slow) === 0)
    val got = fast.collect().map(_.toSeq).toSeq
    assert(got.length === 4)
    assert(got === slow.collect().map(_.toSeq).toSeq)
  }

  test("a malformed orc.aggregate_pushdown fails, naming the option") {
    val e = intercept[Exception](spark.read.format("graft-orc")
      .option("orc.aggregate_pushdown", "ture").load(dir)
      .agg(count(lit(1))).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(msgs.contains("orc.aggregate_pushdown") && msgs.contains("ture"),
      msgs)
  }

  test("pushdown is off by default, matching the built-in source gate") {
    val q = spark.read.format("graft-orc").load(dir).agg(count(lit(1)).as("n"))
    assert(aggScans(q) === 0)
  }

  test("manifest tables answer pushed aggregates from stat sidecars with " +
    "ZERO footer opens, byte-identical to the footer kernel") {
    import graft.sources.v2.GraftOrcDataSource
    val mdir = Files.createTempDirectory("graft-agg-manifest").toString
    // same rows as `dir`, but committed through the manifest writer so
    // every entry carries its footer-stat sidecar
    spark.read.format("graft-orc").load(dir)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(mdir)

    val full = spark.read.format("graft-orc").load(dir)
    val integral = full.schema.fields.filter(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    GraftOrcDataSource.planFooterReads.clear()
    GraftOrcDataSource.recordPlanFooterReads = true
    try {
      // the full eligible surface: count(*), count(c) for every column,
      // min/max for the integral ones — sidecar answers must equal the
      // directory table's footer-kernel answers exactly
      val star = pushed(mdir).agg(count(lit(1)).as("n"))
      assert(aggScans(star) === 1)
      assert(star.collect().head === pushed(dir).agg(count(lit(1)).as("n"))
        .collect().head)
      for (f <- full.schema.fields) {
        val fast = pushed(mdir).agg(count(col(f.name)).as("v"))
        assert(aggScans(fast) === 1, s"count(${f.name}) not pushed")
        assert(fast.collect().head ===
          pushed(dir).agg(count(col(f.name)).as("v")).collect().head,
          s"count(${f.name}) sidecar != footer")
      }
      val minMax: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
        Seq(min(_), max(_))
      for (f <- integral; fn <- minMax) {
        val fast = pushed(mdir).agg(fn(col(f.name)).as("v"))
        assert(aggScans(fast) === 1, s"min/max(${f.name}) not pushed")
        assert(fast.collect().head ===
          pushed(dir).agg(fn(col(f.name)).as("v")).collect().head,
          s"min/max(${f.name}) sidecar != footer")
      }
      import scala.jdk.CollectionConverters._
      val opened = GraftOrcDataSource.planFooterReads.asScala
        .filter(_.contains(mdir))
      assert(opened.isEmpty,
        s"manifest agg pushdown opened footers: $opened")
    } finally {
      GraftOrcDataSource.recordPlanFooterReads = false
      GraftOrcDataSource.planFooterReads.clear()
    }
  }
}

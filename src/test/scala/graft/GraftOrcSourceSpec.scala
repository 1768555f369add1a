package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.OrcData

/** The graft-orc DSv2 connector must agree with Spark's built-in ORC source
  * on every query shape and honor the reference's pushdown contracts.
  */
class GraftOrcSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val orcPath = OrcData.orcPath(spark, TestSpark.sf0001, "lineitem")
  def v2 = spark.read.format("graft-orc").load(orcPath)
  def builtin = spark.read.orc(orcPath)

  test("full scan equals built-in ORC source") {
    assert(v2.count() === builtin.count())
    val a = v2.orderBy($"l_orderkey", $"l_linenumber").collect()
    val b = builtin.orderBy($"l_orderkey", $"l_linenumber").collect()
    assert(a === b)
  }

  test("small files pack into shared tasks (Spark FilePartition sizing): " +
    "fewer partitions, identical rows, graftFilesRead still counts every " +
    "file; graft.pack_small_files=false restores one task per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pack").toString
    (0 until 12).foreach { i =>
      spark.range(i * 10, (i + 1) * 10).select($"id", ($"id" * 2).as("v"))
        .coalesce(1).write.format("graft-orc").mode("append").save(dir)
    }
    // make packing engage on tiny fixtures: shrink the open-cost pad and
    // pin the parallelism floor below the file count
    val conf = spark.conf
    val oldOpen = conf.getOption("spark.sql.files.openCostInBytes")
    val oldMin = conf.getOption("spark.sql.files.minPartitionNum")
    conf.set("spark.sql.files.openCostInBytes", "1024")
    conf.set("spark.sql.files.minPartitionNum", "3")
    try {
      val packed = spark.read.format("graft-orc").load(dir)
      val nPacked = packed.rdd.getNumPartitions
      assert(nPacked < 12 && nPacked >= 3,
        s"expected 12 small files to pack into [3, 12) tasks, got $nPacked")
      val a = packed.orderBy($"id").collect()
      assert(a.length === 120 && a.map(_.getLong(0)).toSeq === (0L until 120L))
      // per-file metrics survive the chain: the scan still reports
      // every file read
      packed.collect()
      val scan = packed.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
      org.apache.spark.GraftSparkBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      assert(scan.metrics("graftFilesRead").value === 12L,
        s"chained readers must still count all files, got " +
          s"${scan.metrics("graftFilesRead").value}")
      val perFile = spark.read.format("graft-orc")
        .option("graft.pack_small_files", "false").load(dir)
      assert(perFile.rdd.getNumPartitions === 12)
      assert(perFile.count() === 120L)
    } finally {
      oldOpen.fold(conf.unset("spark.sql.files.openCostInBytes"))(
        conf.set("spark.sql.files.openCostInBytes", _))
      oldMin.fold(conf.unset("spark.sql.files.minPartitionNum"))(
        conf.set("spark.sql.files.minPartitionNum", _))
    }
  }

  test("timestamp and date columns round-trip identically to the built-in source") {
    // the alltypes fixture carries date32 but no timestamp; ORC timestamps
    // are the classic cross-reader divergence (writer-timezone base +
    // nanos encoding), so pin connector==built-in on them explicitly,
    // including a value inside a DST transition window
    val df = spark.range(5).select(col("id"),
      expr("timestamp'2024-03-10 01:30:00' + " +
        "make_interval(0,0,0,0,0,0,id*3600)").as("ts"),
      expr("date'2024-01-01' + CAST(id AS INT)").as("d"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString
    df.coalesce(1).write.mode("overwrite").orc(dir)
    val a = spark.read.format("graft-orc").load(dir).orderBy("id").collect().toSeq
    val b = spark.read.orc(dir).orderBy("id").collect().toSeq
    assert(a === b)
    assert(a.map(_.get(1).toString).exists(_.contains("2024-03-10")))
  }

  test("projection is pruned to the requested columns (A6)") {
    val q = v2.select($"l_orderkey", $"l_quantity")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(q.columns.toSeq === Seq("l_orderkey", "l_quantity"))
    assert(q.agg(sum($"l_quantity")).as[Double].collect().head ===
      builtin.agg(sum($"l_quantity")).as[Double].collect().head)
  }

  test("filters push (A8) but remain residual (A9) and results match") {
    val q = v2.filter($"l_returnflag" === "R" && $"l_quantity" > 25)
    val plan = q.queryExecution.executedPlan.toString
    // residual Filter must sit above the scan (inexact contract)
    assert(plan.contains("Filter"), plan.take(800))
    assert(q.count() ===
      builtin.filter($"l_returnflag" === "R" && $"l_quantity" > 25).count())
  }

  test("limit truncates exactly (A7)") {
    assert(v2.limit(17).count() === 17)
    assert(v2.select($"l_orderkey").limit(1).count() === 1)
  }

  test("alltypes fixture reads identically through graft-orc (atomic types)") {
    val p = TestSpark.resource("alltypes.snappy.orc")
    val a = spark.read.format("graft-orc").load(p)
      .orderBy($"int32".asc_nulls_first).collect()
    val b = spark.read.orc(p).orderBy($"int32".asc_nulls_first).collect()
    assert(a === b)
    assert(a.length === 11)
  }

  test("scan reports custom metrics and exact statistics (A3, A12)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = v2.select($"l_orderkey")
    q.collect()
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.nonEmpty)
    val names = scans.head.scan.supportedCustomMetrics().map(_.name()).toSet
    // full A12 parity with the reference's OrcFileMetrics (metrics.rs:52-118)
    assert(names === Set("graftBytesScanned", "graftFileBytes",
      "graftIoRequests", "graftMetadataLoadNs", "graftStripesPruned",
      "graftStripesMatched", "graftStatsEvalNs", "graftPredicateEvalErrors",
      "graftPushdownRowsPruned", "graftPushdownRowsMatched", "graftDecodeNs",
      "graftRowsDecoded", "graftBatchesProduced", "graftFilesRead",
      "graftCorruptFilesSkipped", "graftEqDeleteKeys"))
    val stats = scans.head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.numRows().getAsLong === builtin.count())
  }

  test("statistics degrade to inexact rows under a pushed data filter (source.rs:212-230)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = v2.filter($"l_quantity" > 25)
    q.collect()
    val scan = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.scan
    val stats = scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(!stats.numRows().isPresent,
      "filtered scan must not report an exact row count")
    assert(stats.sizeInBytes().isPresent)
  }

  test("stripe statistics prune is observable: stripesPruned > 0 on a selective predicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get("orc.stripe.size")
    try {
      hc.set("orc.stripe.size", "65536") // force many small stripes
      // sort by orderkey so stripes have disjoint key ranges => selective
      // min/max pruning
      Tables.lineitem(spark, TestSpark.sf0001).coalesce(1)
        .sortWithinPartitions($"l_orderkey")
        .write.mode("overwrite").orc(dir)
    } finally {
      if (old == null) hc.unset("orc.stripe.size") else hc.set("orc.stripe.size", old)
    }
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val q = spark.read.format("graft-orc").load(dir)
      .filter($"l_orderkey" < 50)
    q.collect()
    val scanExec = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    def metric(n: String): Long =
      scanExec.metrics.collectFirst { case (k, m) if k == n => m.value }.get
    assert(metric("graftStripesPruned") > 0,
      s"expected pruned stripes; matched=${metric("graftStripesMatched")}")
    assert(metric("graftStripesMatched") > 0)
    assert(metric("graftPushdownRowsPruned") > 0)
    assert(metric("graftBytesScanned") < metric("graftFileBytes"))
    // and correctness is unaffected by pruning
    assert(q.count() ===
      spark.read.orc(dir).filter($"l_orderkey" < 50).count())
  }

  test("hive-partitioned layout: partition columns materialize and filters prune files") {
    val dir = OrcData.partitionedOrcPath(spark, TestSpark.sf0001,
      "lineitem", "l_returnflag")
    val part = spark.read.format("graft-orc").load(dir)
    // partition column present with values restored
    assert(part.columns.contains("l_returnflag"))
    val expected = Tables.lineitem(spark, TestSpark.sf0001)
    assert(part.count() === expected.count())
    assert(part.filter($"l_returnflag" === "R").count() ===
      expected.filter($"l_returnflag" === "R").count())
    // grouped counts identical (partition values correct per file)
    val a = part.groupBy($"l_returnflag").count()
      .orderBy($"l_returnflag").collect().map(r => (r.getString(0), r.getLong(1)))
    val b = expected.groupBy($"l_returnflag").count()
      .orderBy($"l_returnflag").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a === b)
    // partition filter plans fewer input partitions than the full scan
    import graft.sources.v2.{GraftOrcScan, GraftOrcScanBuilder}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val opts = new CaseInsensitiveStringMap(Map("path" -> dir).asJava)
      val schema = new graft.sources.v2.GraftOrcDataSource().inferSchema(opts)
      val b = new GraftOrcScanBuilder(schema, opts)
      b.pushFilters(filters)
      b.build().asInstanceOf[GraftOrcScan].planInputPartitions().length
    }
    val full = planned(Array.empty)
    val pruned = planned(Array(
      org.apache.spark.sql.sources.EqualTo("l_returnflag", "R")))
    assert(pruned < full, s"partition filter must prune files: $pruned vs $full")
  }

  test("many-file nested layout lists in bounded time with correct results") {
    // region x nation partitioned customer -> dozens of leaf dirs, two levels
    val dir = java.nio.file.Files.createTempDirectory("graft-manyfiles").toString
    val cust = Tables.customer(spark, TestSpark.sf0001)
      .withColumn("bucket", pmod(col("c_custkey"), lit(40)))
    cust.write.mode("overwrite").partitionBy("bucket", "c_mktsegment").orc(dir)
    val t0 = System.nanoTime()
    val back = spark.read.format("graft-orc").load(dir)
    val n = back.count()
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(n === cust.count())
    // ~200 leaf dirs listed + footers planned; parallel listing keeps this
    // well under interactive bounds even on local FS
    assert(elapsedSec < 60, s"listing+scan took ${elapsedSec}s")
    // partition filter on the inner level prunes
    assert(back.filter($"c_mktsegment" === "BUILDING").count() ===
      cust.filter($"c_mktsegment" === "BUILDING").count())
  }

  test("multi-path load unions files across paths (JSON 'paths' array)") {
    val p2 = java.nio.file.Files.createTempDirectory("graft-mp").toString
    spark.read.orc(orcPath).limit(100).write.mode("overwrite").orc(p2)
    val merged = spark.read.format("graft-orc").load(orcPath, p2)
    assert(merged.count() === builtin.count() + 100)
  }

  test("nested types (map/list) read identically through graft-orc") {
    val p = TestSpark.resource("map_list.snappy.orc")
    val a = spark.read.format("graft-orc").load(p).collect()
    val b = spark.read.orc(p).collect()
    assert(a === b)
    assert(a.head.getAs[Map[String, String]]("m") ===
      Map("zero" -> "0", "one" -> "1"))
  }

  test("struct columns read, prune and filter identically through graft-orc") {
    // the reference declares STRUCT in its type matrix (src/lib.rs:156);
    // pin the connector's nested-column handling: whole-struct reads,
    // nested-field projection (requestedColumnIds on a nested schema),
    // and a filter over a nested field
    val dir = java.nio.file.Files.createTempDirectory("graft-struct").toString
    spark.sql(
      """SELECT id,
        |  named_struct('name', concat('n', CAST(id AS STRING)),
        |               'score', id * 10,
        |               'tags', array(CAST(id AS STRING), 'x')) AS info
        |FROM range(0, 100) AS t(id)""".stripMargin)
      .write.mode("overwrite").orc(dir)
    val g = spark.read.format("graft-orc").load(dir)
    val b = spark.read.orc(dir)
    // whole-struct parity
    assert(g.orderBy($"id").collect() === b.orderBy($"id").collect())
    // nested-field projection: only the struct column survives pruning,
    // and values match the built-in source
    val gNested = g.select($"id", $"info.score".as("score"))
    assert(gNested.orderBy($"id").collect() ===
      b.select($"id", $"info.score".as("score")).orderBy($"id").collect())
    // filter over a nested field
    assert(g.filter($"info.score" >= 500).count() ===
      b.filter($"info.score" >= 500).count())
    // array-in-struct survives
    assert(g.select($"info.tags").orderBy($"id").head()
      .getAs[Seq[String]](0) === Seq("0", "x"))
  }

  test("CHAR/VARCHAR columns round-trip with Spark's padding semantics") {
    // reference README.md:116-117 leaves CHAR/VARCHAR pending; pin the
    // Spark-side contract through the connector: CHAR(n) values compare
    // blank-padded, VARCHAR(n) truncates nothing on read, and both read
    // back identically to the built-in ORC source
    val dir = java.nio.file.Files.createTempDirectory("graft-char").toString
    spark.sql("DROP TABLE IF EXISTS graft_char_t")
    spark.sql(
      s"""CREATE TABLE graft_char_t (id INT, c CHAR(5), v VARCHAR(8))
         |USING ORC LOCATION '$dir'""".stripMargin)
    spark.sql(
      """INSERT INTO graft_char_t VALUES
        |  (1, 'ab', 'short'), (2, 'exact', 'len8len8'), (3, '', 'x')"""
        .stripMargin)
    try {
      val g = spark.read.format("graft-orc").load(dir)
      val b = spark.read.orc(dir)
      assert(g.orderBy($"id").collect() === b.orderBy($"id").collect())
      // CHAR(5) storage is blank-padded to length 5 by the writer
      val chars = g.orderBy($"id").select($"c").as[String].collect().toSeq
      assert(chars === Seq("ab   ", "exact", "     "))
      // VARCHAR reads back exactly what was written
      assert(g.orderBy($"id").select($"v").as[String].collect().toSeq ===
        Seq("short", "len8len8", "x"))
      // a filter on the padded form matches through the connector
      assert(g.filter($"c" === "ab   ").count() === 1)
    } finally spark.sql("DROP TABLE IF EXISTS graft_char_t")
  }

  test("stripe-aligned splits: a multi-stripe file fans out to multiple partitions") {
    val hc = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("graft-stripes").toString
    val old = hc.get("orc.stripe.size")
    try {
      hc.set("orc.stripe.size", "65536") // force many small stripes
      Tables.lineitem(spark, TestSpark.sf0001).coalesce(1)
        .write.mode("overwrite").orc(dir)
    } finally {
      if (old == null) hc.unset("orc.stripe.size") else hc.set("orc.stripe.size", old)
    }
    val v2small = spark.read.format("graft-orc")
      .option("graft.split_size", "65536").load(dir)
    val nParts = v2small.rdd.getNumPartitions
    assert(nParts > 1, s"expected multiple stripe splits, got $nParts")
    // results across splits must equal the built-in source
    val a = v2small.orderBy($"l_orderkey", $"l_linenumber").collect()
    val b = spark.read.orc(dir).orderBy($"l_orderkey", $"l_linenumber").collect()
    assert(a === b)
  }

  test("graft.split_size must be a positive long; a bad value fails naming it") {
    for (bad <- Seq("64k", "0", "-1")) {
      val e = intercept[IllegalArgumentException](spark.read
        .format("graft-orc").option("graft.split_size", bad).load(orcPath)
        .count())
      assert(e.getMessage.contains("graft.split_size") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SQL DDL: CREATE TEMPORARY VIEW ... USING graft-orc (register_orc_table analogue)") {
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_ddl_li
                 |USING `graft-orc` OPTIONS (path '$orcPath')""".stripMargin)
    assert(spark.table("graft_ddl_li").count() === builtin.count())
    val agg = spark.sql(
      "SELECT count(*) AS n FROM graft_ddl_li WHERE l_quantity > 40")
      .collect().head.getLong(0)
    assert(agg === builtin.filter($"l_quantity" > 40).count())
  }

  test("error contracts: nonexistent path errors; no-orc dir yields empty schema (basic_reading.rs:451-522)") {
    // nonexistent file -> listing error, not silent empty
    intercept[Exception] {
      spark.read.format("graft-orc").load("/no/such/path/anywhere").collect()
    }
    // dir with zero .orc files -> EMPTY schema (reference merges zero
    // schemas), zero rows, no exception
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty")
    java.nio.file.Files.writeString(tmp.resolve("readme.txt"), "not orc")
    val df = spark.read.format("graft-orc").load(tmp.toString)
    assert(df.schema.isEmpty)
    assert(df.count() === 0)
  }

  test("pushdown off via option still returns correct results") {
    val q = spark.read.format("graft-orc")
      .option("orc.pushdown_predicate", "false").load(orcPath)
      .filter($"l_quantity" > 40)
    assert(q.count() === builtin.filter($"l_quantity" > 40).count())
  }

  test("scan options are case-insensitive: a mixed-case " +
    "orc.pushdown_predicate=false pushes no data filter, a mixed-case " +
    "graft.split_size splits a multi-stripe file") {
    def scanDesc(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.head
    val filtered = spark.read.format("graft-orc")
      .option("ORC.Pushdown_Predicate", "false").load(orcPath)
      .filter($"l_quantity" > 40)
    assert(scanDesc(filtered).contains("dataFilters=[]"), scanDesc(filtered))
    assert(!scanDesc(v2.filter($"l_quantity" > 40)).contains("dataFilters=[]"))
    assert(filtered.count() === builtin.filter($"l_quantity" > 40).count())

    val dir = java.nio.file.Files.createTempDirectory("graft-case").toString
    graft.sources.OrcTables.writeTuned(
      Tables.lineitem(spark, TestSpark.sf0001).coalesce(1), dir,
      stripeSizeBytes = Some(65536))
    def parts(df: org.apache.spark.sql.DataFrame) = df.rdd.getNumPartitions
    assert(parts(spark.read.format("graft-orc").load(dir)) === 1)
    assert(parts(spark.read.format("graft-orc")
      .option("Graft.Split_Size", "65536").load(dir)) > 1)
  }

  test("schema evolution: a column added by newer files reads as NULL " +
    "from older files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    graft.sources.OrcTables.write(nation, s"$dir/w1", mode = "overwrite")
    graft.sources.OrcTables.write(
      nation.withColumn("note", concat(lit("n-"), $"n_nationkey")),
      s"$dir/w2", mode = "overwrite")

    val df = spark.read.format("graft-orc").load(dir.toString)
    // merged schema carries the union of columns
    assert(df.schema.fieldNames.contains("note"))
    assert(df.count() === nation.count() * 2)
    // old files surface NULL for the evolved column; new files their value
    assert(df.filter($"note".isNull).count() === nation.count())
    assert(df.filter($"note" === "n-3").count() === 1)
    // pushdown on the evolved column must not break pre-evolution files
    assert(df.filter($"note".isNotNull).count() === nation.count())
    // projecting ONLY the evolved column still spans every file
    assert(df.select($"note").count() === nation.count() * 2)
    // parity with the built-in merging reader (which cannot list the
    // nested layout from the root — the recursive listing is one of the
    // connector's additions — so it gets both subdirs spelled out)
    val builtinMerged = spark.read.option("mergeSchema", "true")
      .orc(s"$dir/w1", s"$dir/w2")
    assert(df.select($"n_nationkey", $"note").collect().toSet ===
      builtinMerged.select($"n_nationkey", $"note").collect().toSet)
  }

  test("ignoreCorruptFiles: garbage file fails the scan by default, " +
    "skips with a warning when opted in") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt")
    val nation = Tables.nation(spark, TestSpark.sf0001)
    graft.sources.OrcTables.write(nation, s"$dir/good", mode = "overwrite")
    // a file with the .orc suffix but garbage bytes (fails the footer
    // magic check) — the shape a truncated upload leaves behind
    java.nio.file.Files.write(dir.resolve("good").resolve("junk.orc"),
      "this is not an orc file at all, not even close".getBytes)

    // default: the corrupt file is an error (matches Spark's file sources)
    val failed = intercept[Throwable] {
      spark.read.format("graft-orc").load(s"$dir/good").count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(failed).exists(c => Option(c.getMessage).exists(m =>
      m.contains("junk.orc") || m.toLowerCase.contains("malformed"))),
      s"default read must fail on the corrupt file, got: $failed")

    // opted in: the good file's rows still arrive, the garbage is skipped
    val tolerant = spark.read.format("graft-orc")
      .option("ignoreCorruptFiles", "true").load(s"$dir/good")
    assert(tolerant.count() === nation.count())
    assert(tolerant.select($"n_nationkey").distinct().count() === nation.count())

    // invalid option value fails fast naming the option
    val bad = intercept[IllegalArgumentException] {
      spark.read.format("graft-orc")
        .option("ignoreCorruptFiles", "maybe").load(s"$dir/good").count()
    }
    assert(bad.getMessage.contains("ignoreCorruptFiles"))
  }
}

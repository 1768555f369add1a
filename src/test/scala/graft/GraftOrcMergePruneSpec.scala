package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MERGE target-scan pruning on a bucket-partitioned table: when the
  * clean/history table is PARTITIONED BY bucket(N, fp), a MERGE whose
  * source hits few buckets must not scan every history file. Probes
  * BOTH row-level modes and records which pruning each actually gets.
  */
class GraftOrcMergePruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-mp-wh").toString
    spark.conf.set("spark.sql.catalog.gmpr",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gmpr.warehouse", dir)
    dir
  }

  private def uniq(tag: String): String =
    tag + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def scanFilesRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    org.apache.spark.GraftSparkBridge
      .waitUntilListenerBusEmpty(spark.sparkContext)
    def scans(pl: SparkPlan): Seq[BatchScanExec] = pl match {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        scans(c.commandPhysicalPlan)
      case other =>
        (other.children ++ other.subqueries).flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.collectFirst {
        case (k, m) if k == "graftFilesRead" => m.value })
      .sum
  }

  private def probe(mode: String): (Long, Long) = {
    assume(wh.nonEmpty)
    val t = uniq(s"mp$mode")
    val qt = s"gmpr.default.$t"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmpr.default")
    spark.sql(s"CREATE TABLE $qt (fp BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, fp)) " +
      s"TBLPROPERTIES('graft.merge_mode'='$mode')")
    // 4 files per bucket: 32 history files
    (0 until 4).foreach { w =>
      spark.range(w * 10000, (w + 1) * 10000, 1, 1)
        .select($"id".as("fp"), ($"id" % 100).as("v"))
        .writeTo(qt).append()
    }
    val allFiles = spark.sql(s"SELECT count(*) FROM $qt.files")
      .collect()(0).getLong(0)
    // source: 50 fps that ALL hash to one bucket
    val oneBucket = spark.range(0, 40000)
      .select($"id".as("fp"))
      .filter(expr("pmod(hash(fp), 8) = 3")).limit(50)
    val src = uniq("mpsrc")
    oneBucket.createOrReplaceTempView(src)
    val merged = spark.sql(
      s"""MERGE INTO $qt t USING $src b ON t.fp = b.fp
         |WHEN MATCHED THEN UPDATE SET t.v = -1
         |""".stripMargin)
    val read = scanFilesRead(merged)
    spark.sql(s"DROP TABLE $qt")
    spark.catalog.dropTempView(src)
    (read, allFiles)
  }

  test("hidden bucket transform: COW merges get runtime group " +
    "filtering, MOR merges do NOT (the fact the explicit column fixes)") {
    val (cowRead, cowAll) = probe("cow")
    val (morRead, morAll) = probe("mor")
    info(s"cow: read $cowRead of $cowAll history files")
    info(s"mor: read $morRead of $morAll history files")
    // Spark's RowLevelOperationRuntimeGroupFiltering prunes the
    // group-based (copy-on-write) rewrite only
    assert(cowRead > 0 && cowRead <= cowAll / 4,
      s"cow merge read $cowRead of $cowAll")
    // pinned so a Spark upgrade that starts pruning delta merges
    // surfaces here (then the explicit-bucket path can retire)
    assert(morRead == morAll,
      s"mor merge read $morRead of $morAll — delta merges now prune?")
  }

  private def probeExplicit(mode: String): (Long, Long) = {
    assume(wh.nonEmpty)
    val t = uniq(s"mpe$mode")
    val qt = s"gmpr.default.$t"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmpr.default")
    spark.sql(s"CREATE TABLE $qt (fp BIGINT, v BIGINT, fpb INT) " +
      "PARTITIONED BY (fpb) " +
      s"TBLPROPERTIES('graft.merge_mode'='$mode')")
    (0 until 4).foreach { w =>
      spark.range(w * 10000, (w + 1) * 10000, 1, 1)
        .select($"id".as("fp"), ($"id" % 100).as("v"),
          pmod(hash($"id"), lit(8)).cast("int").as("fpb"))
        .writeTo(qt).append()
    }
    val allFiles = spark.sql(s"SELECT count(*) FROM $qt.files")
      .collect()(0).getLong(0)
    val oneBucket = spark.range(0, 40000)
      .select($"id".as("fp"),
        pmod(hash($"id"), lit(8)).cast("int").as("fpb"))
      .filter($"fpb" === 3).limit(50)
    val src = uniq("mpesrc")
    oneBucket.createOrReplaceTempView(src)
    val merged = spark.sql(
      s"""MERGE INTO $qt t USING $src b
         |ON t.fp = b.fp AND t.fpb IN (3)
         |WHEN MATCHED THEN UPDATE SET t.v = -1
         |""".stripMargin)
    val read = scanFilesRead(merged)
    spark.sql(s"DROP TABLE $qt")
    spark.catalog.dropTempView(src)
    (read, allFiles)
  }

  test("explicit bucket column + static IN in the ON clause prunes " +
    "BOTH modes' target scans") {
    val (cowRead, cowAll) = probeExplicit("cow")
    val (morRead, morAll) = probeExplicit("mor")
    info(s"cow explicit: read $cowRead of $cowAll history files")
    info(s"mor explicit: read $morRead of $morAll history files")
    assert(cowRead > 0 && cowRead <= cowAll / 4,
      s"cow explicit read $cowRead of $cowAll")
    assert(morRead > 0 && morRead <= morAll / 4,
      s"mor explicit read $morRead of $morAll")
  }

  test("IngestDedup with buckets: a single-bucket batch's MERGE reads " +
    "only that bucket's history files") {
    assume(wh.nonEmpty)
    import graft.streaming.IngestDedup
    import graft.functions.TextHashFunctions.md5Key60
    val t = uniq("mping")
    val qt = s"gmpr.default.$t"
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gmpr.default")
    spark.sql(s"CREATE TABLE $qt (fp BIGINT, doc_id BIGINT, src STRING, " +
      "fpb INT) PARTITIONED BY (fpb) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    // history: 4000 docs in 4 files per touched bucket (fpb spread)
    (0 until 4).foreach { w =>
      spark.range(w * 1000, (w + 1) * 1000, 1, 1)
        .select(md5Key60(concat(lit("history doc "), $"id")).as("fp"),
          $"id".as("doc_id"), lit("hist").as("src"))
        .withColumn("fpb", IngestDedup.fpBucket(64))
        .writeTo(qt).append()
    }
    val allFiles = spark.sql(s"SELECT count(*) FROM $qt.files")
      .collect()(0).getLong(0)
    // one small batch whose fps land in FEW buckets (20 docs)
    val batch = spark.range(0, 20)
      .select($"id".as("doc_id"),
        concat(lit("history doc "), $"id").as("text"),
        lit("crawl").as("src"))
    // measure the MERGE mergeBatch itself executes, via its onMerge hook
    var read = -1L
    IngestDedup.mergeBatch(batch, qt, md5Key60($"text"), Seq("src"),
      buckets = Some(64), onMerge = df => read = scanFilesRead(df))
    info(s"ingest merge: read $read of $allFiles history files")
    assert(read > 0 && read < allFiles,
      s"ingest merge read $read of $allFiles history files")
    // and the table state is the keep-min dedup (no dup fps)
    val n = spark.sql(s"SELECT count(*) FROM $qt").collect()(0).getLong(0)
    val d = spark.sql(s"SELECT count(DISTINCT fp) FROM $qt")
      .collect()(0).getLong(0)
    assert(n === d && n === 4000L, s"rows $n distinct $d")
    spark.sql(s"DROP TABLE $qt")
  }

  test("history maintenance: fp-sorted compaction turns point lookups " +
    "file-prunable via the manifest stat sidecars") {
    import graft.functions.TextHashFunctions.md5Key60
    val dir = Files.createTempDirectory("graft-mp-sort").toString
    // 8 appended files, each spanning (nearly) the whole fp hash range —
    // a point lookup must open every one
    (0 until 8).foreach { w =>
      spark.range(w * 20000, (w + 1) * 20000, 1, 1)
        .select(md5Key60(concat(lit("doc "), $"id")).as("fp"),
          $"id".as("doc_id"))
        .write.format("graft-orc").option("graft.manifest", "true")
        .mode("append").save(dir)
    }
    val someFp = spark.read.format("graft-orc").load(dir)
      .select($"fp").limit(1).collect()(0).getLong(0)
    def lookupFiles(): Long = {
      val df = spark.read.format("graft-orc").load(dir)
        .filter($"fp" === someFp)
      assert(df.collect().length >= 1)
      scanFilesRead(df)
    }
    val before = lookupFiles()
    assert(before === 8L,
      s"expected the unsorted layout to open all 8 files, read $before")
    // maintenance: rewrite fp-sorted in ~512 KB chunks (z-order of one
    // column = a range sort) — each output file owns a disjoint fp range
    val st = graft.sources.v2.GraftOrcCompact.compact(spark, dir,
      targetBytes = 512L << 10, smallFileBytes = 512L << 10,
      zorderCols = Seq("fp"))
    assert(st.filesOut > 1,
      s"need multiple sorted outputs for the receipt, got ${st.filesOut}")
    val after = lookupFiles()
    info(s"point lookup: $before files before sort, " +
      s"$after of ${st.filesOut} after")
    assert(after === 1L,
      s"sorted layout should prune to 1 file, read $after of " +
        s"${st.filesOut}")
  }

  test("ascending-id near-dup ingest: the static doc_id lower bound " +
    "prunes the ENTIRE history from both MERGE target scans while the " +
    "decision join still sees it") {
    assume(wh.nonEmpty)
    import graft.streaming.NearDupIngest
    val qt = s"gmpr.default.${uniq("ndp")}"
    val sig = s"gmpr.default.${uniq("ndpsig")}"
    spark.sql(s"CREATE TABLE $qt (doc_id BIGINT, src STRING, " +
      "n_chars BIGINT, db INT) PARTITIONED BY (db) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    spark.sql(s"CREATE TABLE $sig (band INT, key BIGINT, doc_id BIGINT, " +
      "kb INT) PARTITIONED BY (kb) " +
      "TBLPROPERTIES('graft.merge_mode'='mor')")
    // every shingle carries the doc number, so distinct docs share no
    // band keys (no accidental cross-doc near-dups) while re-crawled
    // EXACT texts still collide on every band
    def docs(ids: Seq[Int], idOff: Long, src: String) =
      ids.toDF("base").select((col("base") + idOff).as("doc_id"),
        concat(lit("pin"), col("base").cast("string"),
          lit(" alpha"), (col("base") * 7).cast("string"),
          lit(" beta"), (col("base") * 13).cast("string"),
          lit(" gamma"), (col("base") * 29).cast("string")).as("text"),
        (col("base") % 5).cast("long").as("n_chars"), lit(src).as("src"))
    val crawl = Files.createTempDirectory("graft-ndp-crawl").toString
    def deliver(df: org.apache.spark.sql.DataFrame): Unit =
      df.select($"doc_id", $"text", $"n_chars", $"src").repartition(2)
        .write.format("graft-orc").option("graft.manifest", "true")
        .mode("append").save(crawl)
    val ckpt = Files.createTempDirectory("graft-ndp-ck").toString + "/c"
    deliver(docs(0 until 30, 0L, "w1"))
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt)
    val histSigFiles = spark.sql(s"SELECT count(*) FROM $sig.files")
      .head().getLong(0)
    assert(histSigFiles > 0L, "wave 1 left no signature history")
    // wave 2 under LARGER ids: fresh docs 30..44 plus re-crawls of
    // wave-1 texts 0..9 (history colliders — the decision join must
    // still drop them, so it demonstrably reads the history the MERGE
    // scans do not)
    deliver(docs(30 until 45, 0L, "w2")
      .unionByName(docs(0 until 10, 1000L, "re")))
    var read = Map.empty[String, Long]
    NearDupIngest.ingest(spark, crawl, qt, sig, ckpt,
      onMerge = (which, df) =>
        read += which -> (read.getOrElse(which, 0L) + scanFilesRead(df)))
    assert(read.contains("clean") && read.contains("sig"),
      s"expected both MERGEs to run, saw ${read.keySet}")
    assert(read("clean") === 0L && read("sig") === 0L,
      "the doc_id >= min(batch) bound should stat-prune every " +
        s"history file from both MERGE target scans, read $read")
    // decisions unaffected: every fresh doc kept, every re-crawl dropped
    val kept = spark.sql(s"SELECT doc_id FROM $qt ORDER BY doc_id")
      .as[Long].collect().toSeq
    assert(kept === (0L until 45L),
      s"decision semantics drifted under the pruning bound: $kept")
  }
}

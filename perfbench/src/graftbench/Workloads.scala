package graftbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.OrcData

/** Row count, summed 40-bit row hashes and predicate violations of one
  * result: two results with the same rows give the same fingerprint. */
final case class Fp(n: Long, h: Long, bad: Long = 0L) {
  def json: Map[String, Any] = Map("n" -> n, "h" -> h, "bad" -> bad)
}

/** One timed call into the program. `layer` names the module the call
  * enters; `p50` names the per-layer metric that reports the median of
  * this kind of operation. `body` is the timed call and returns what the
  * call itself reports, if anything; `result`, when given, runs the same
  * operation again, untimed, and returns the fingerprint of its result for
  * the workload's check. */
final case class Op(name: String, group: String, layer: String, p50: String,
                    body: () => Option[Fp], result: Option[() => Fp] = None, tag: Long = -1L)

trait Workload {
  def name: String
  /** The program's own data preparation, run several times in set-up:
    * the last one serves the operations unless the workload says
    * otherwise. */
  def prepare(rep: Int): Unit
  /** Timed rounds a run takes at least. */
  def minRounds: Int = 1
  /** The untimed warm-up: round 0 unless the workload needs less. */
  def warmUp(rng: Random): Seq[Op] = round(0, rng)
  /** Operations of round `r`, in an order drawn from `rng`; any
    * preparation the round needs runs here, untimed. */
  def round(r: Int, rng: Random): Seq[Op]
  /** Untimed checks after the loop: the op indices whose result is wrong
    * (with the reason), plus anything the checks report. */
  def check(ops: Seq[OpRecord]): (Map[Int, String], Map[String, Any])
}

object Workloads {
  def fpExprs(df: DataFrame, bad: Column = lit(false)): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(shiftrightunsigned(xxhash64(df.columns.toSeq.map(df.col): _*), 24)).as("h"),
    sum(when(bad, 1L).otherwise(0L)).as("bad"))

  def toFp(m: Map[String, Any]): Fp = {
    def l(k: String): Long = m.get(k) match {
      case Some(v: Long) => v
      case Some(v: Number) => v.longValue
      case _ => 0L
    }
    Fp(l("n"), l("h"), l("bad"))
  }

  /** An operation that materializes a query through the noop sink; the
    * fingerprint of its result comes from an untimed re-run. */
  def query(name: String, group: String, layer: String, p50: String, df: () => DataFrame,
            bad: Column = lit(false)): Op =
    Op(name, group, layer, p50, () => { noop(df()); None }, Some(() => fingerprint(df(), bad)))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count, summed 40-bit row hashes and predicate violations of `df`. */
  def fingerprint(df: DataFrame, bad: Column = lit(false)): Fp = {
    val e = fpExprs(df, bad)
    val r = df.agg(e.head, e.tail: _*).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i) // sums over no rows are NULL
    Fp(l(0), l(1), l(2))
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def apply(name: String, spark: SparkSession, data: String, out: String,
            seed: Long): Workload = name match {
    case "orc_scan" => new OrcScan(spark, data, seed)
    case "query_mix" => new QueryMix(spark, data, out)
    case "lakehouse_ingest" => new LakehouseIngest(spark, data, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workloads._

/** The connector's own surface: the ten scan patterns of the reference's
  * `orc_query_sql.rs` bench plus footer-count pushdown and a bloom point
  * lookup, all through `format("graft-orc")`, over a write-order and an
  * `l_orderkey`-sorted layout of one lineitem table. */
final class OrcScan(spark: SparkSession, data: String, seed: Long) extends Workload {
  val name = "orc_scan"
  private val rng = new Random(seed ^ 0x5ca1ab1eL)
  private val flag = Seq("A", "N", "R")(rng.nextInt(3))
  private val quantity = 5 + rng.nextInt(40)
  private lazy val maxKey: Long =
    spark.read.parquet(s"$data/lineitem.parquet").agg(max(col("l_orderkey"))).head().getLong(0)
  private lazy val keyLo: Long = (rng.nextDouble() * maxKey * 0.97).toLong
  private lazy val keyHi: Long = keyLo + maxKey / 50
  private lazy val probeKey: Long = (rng.nextDouble() * maxKey).toLong
  private def bk(c: Column): Column = pmod(c * lit(2654435761L), lit(1000000007L))
  private lazy val probe: Long = ((probeKey * 2654435761L) % 1000000007L + 1000000007L) % 1000000007L

  private def layoutPath(layout: String): String = layout match {
    case "write" => OrcData.orcPath(spark, data, "lineitem")
    case "sorted" => OrcData.sortedOrcPath(spark, data, "lineitem", "l_orderkey")
    case "bloom" => OrcData.bloomLineitemPath(spark, data)
  }

  def prepare(rep: Int): Unit = {
    deleteTree(new File(sys.props("java.io.tmpdir") + "/graft-orc"))
    Seq("write", "sorted", "bloom").foreach(layoutPath)
  }

  /** (pattern, query over a lineitem frame, predicate every row must meet,
    * whether the rows are fully determined — LIMIT without ORDER BY is not) */
  private def patterns: Seq[(String, DataFrame => DataFrame, Column, Boolean)] = Seq(
    ("full_table_scan", (li: DataFrame) => li, lit(false), true),
    ("projection_single_column", (li: DataFrame) => li.select("l_orderkey"), lit(false), true),
    ("projection_multiple_columns",
      (li: DataFrame) => li.select("l_orderkey", "l_quantity", "l_extendedprice"), lit(false), true),
    ("filter_equality", (li: DataFrame) => li.filter(col("l_returnflag") === flag), lit(false), true),
    ("filter_range",
      (li: DataFrame) => li.filter(col("l_orderkey").between(keyLo, keyHi)), lit(false), true),
    ("filter_is_null", (li: DataFrame) => li.filter(col("l_returnflag").isNull), lit(false), true),
    ("aggregate_count", (li: DataFrame) => li.agg(count(lit(1)).as("n")), lit(false), true),
    ("aggregate_with_filter",
      (li: DataFrame) => li.filter(col("l_returnflag") === flag).agg(avg(col("l_quantity")).as("a")),
      lit(false), true),
    ("limit_100", (li: DataFrame) => li.limit(100), lit(false), false),
    ("projection_filter_limit",
      (li: DataFrame) => li.select("l_orderkey", "l_quantity")
        .filter(col("l_quantity") > quantity).limit(100),
      !(col("l_quantity") > quantity), false))

  private def graft(layout: String, opts: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("graft-orc").options(opts).load(layoutPath(layout))

  def round(r: Int, rng: Random): Seq[Op] = {
    val scans = for {
      layout <- Seq("write", "sorted")
      (p, q, bad, _) <- patterns
    } yield query(s"$p.$layout", p, "scan", s"orc_scan.$p.$layout.p50_ms", () => q(graft(layout)), bad)
    val extra = Seq("write", "sorted").map(layout =>
      query(s"count_footer.$layout", "count_footer", "scan", s"orc_scan.count_footer.$layout.p50_ms",
        () => graft(layout, Map("orc.aggregate_pushdown" -> "true")).agg(count(lit(1)).as("n")))) :+
      query("bloom_point_lookup.bloom", "bloom_point_lookup", "scan",
        "orc_scan.bloom_point_lookup.bloom.p50_ms", () => graft("bloom").filter(col("bk") === probe))
    rng.shuffle(scans ++ extra)
  }

  def check(ops: Seq[OpRecord]): (Map[Int, String], Map[String, Any]) = {
    // reference: Spark's built-in ORC reader over the write-order files
    val ref = spark.read.orc(layoutPath("write"))
    val expected: Map[String, Fp] = patterns.map { case (p, q, bad, exact) =>
      val fp = fingerprint(q(ref), bad)
      p -> (if (exact) fp else fp.copy(h = 0L))
    }.toMap ++ Map(
      "count_footer" -> fingerprint(ref.agg(count(lit(1)).as("n"))),
      "bloom_point_lookup" ->
        fingerprint(ref.withColumn("bk", bk(col("l_orderkey"))).filter(col("bk") === probe)))
    val determined = patterns.map(p => p._1 -> p._4).toMap.withDefaultValue(true)
    val wrong = ops.filter(_.ok).flatMap { o =>
      val want = expected(o.group)
      val got = o.fp.map(f => if (determined(o.group)) f else f.copy(h = 0L))
      if (got.contains(want)) None
      else Some(o.idx -> s"${o.name}: got ${got.getOrElse("none")}, want $want")
    }.toMap
    (wrong, Map("literals" -> Map("flag" -> flag, "quantity" -> quantity,
      "key_lo" -> keyLo, "key_hi" -> keyHi, "bloom_probe" -> probe),
      "layout_bytes" -> Seq("write", "sorted", "bloom").map(l => l -> dirBytes(new File(layoutPath(l)))).toMap))
  }
}

/** `SparkEntry` queries over one data directory. The untimed re-run of
  * every timed run must give the fingerprint of one checked run, whose
  * rows are written out for the DuckDB oracle (`SparkEntry.oracleSql`)
  * that runs after the JVM exits. */
final class EntryQueries(spark: SparkSession, data: String, out: String,
                         groups: Seq[(String, Seq[String])]) {
  def ops: Seq[Op] = for {
    (g, qs) <- groups
    q <- qs
  } yield query(q, g, "operators", s"operators.$g.p50_ms", () => SparkEntry.queries(q)(spark, data))

  def check(ops: Seq[OpRecord]): Map[Int, String] = {
    val names = groups.flatMap(_._2)
    val ref = names.map { q =>
      val df = SparkEntry.queries(q)(spark, data)
      val obs = Observation()
      val e = fpExprs(df)
      df.observe(obs, e.head, e.tail: _*).write.mode("overwrite").parquet(s"$out/check/$q")
      q -> toFp(obs.get)
    }.toMap
    java.nio.file.Files.writeString(new File(s"$out/check/oracle_sql.json").toPath,
      Json.render(names.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    ops.filter(o => o.ok && ref.contains(o.name)).flatMap { o =>
      if (o.fp.contains(ref(o.name))) None
      else Some(o.idx -> s"${o.name}: timed result ${o.fp} differs from checked result ${ref(o.name)}")
    }.toMap
  }
}

/** Read-only `SparkEntry` queries that have DuckDB oracles: relational and
  * TPC shapes plus the LLM-pipeline operators. */
final class QueryMix(spark: SparkSession, data: String, out: String) extends Workload {
  val name = "query_mix"
  private val queries = new EntryQueries(spark, data, out, Seq(
    "relational" -> Seq("q01_pricing_summary", "q03_star_join_revenue", "q07_window_topn",
      "q35_grouping_sets_join"),
    "tpcds" -> Seq("q45_channel_rollup", "q46_intersect_parts", "q51_yoy_growth",
      "q53_net_of_returns", "q89_channel_union_report", "q94_nation_trade"),
    "dedup" -> Seq("dd_exact", "dd_minhash_lsh_det", "dd_simhash_det"),
    "similarity" -> Seq("ss_ann_lsh_det"),
    "text" -> Seq("ta_token_stats", "ta_perplexity_det"),
    "pipeline" -> Seq("pp_stratified_sample", "pp_sequence_pack")))

  def prepare(rep: Int): Unit =
    graft.Tables.all.foreach(t => graft.Tables.load(spark, data, t).schema)

  def round(r: Int, rng: Random): Seq[Op] = rng.shuffle(queries.ops)

  def check(ops: Seq[OpRecord]): (Map[Int, String], Map[String, Any]) =
    (queries.check(ops), Map("check_dir" -> s"$out/check"))
}

/** Writes beside reads on tables that live through a round. Each cycle
  * appends a seeded crawl delivery to a graft-orc manifest table, streams
  * it into a merge-on-read clean catalog table with `IngestDedup.ingest`
  * and deletes a seeded slice, reading the changed table back after each
  * step, runs LLM-corpus operators (`graft.operators`) over the
  * documents the crawl draws from, and compacts the clean table, expires
  * its snapshots and vacuums it. */
final class LakehouseIngest(spark: SparkSession, data: String, out: String) extends Workload {
  val name = "lakehouse_ingest"
  private val plan = readPlan(new File(s"$data/plan.json"))
  private val mod = plan("delete_mod").toLong
  private val cycles = plan("cycles").toInt
  private val rems: Map[Int, Long] = (1 to cycles).map(c => c -> plan(s"delete_rem_$c").toLong).toMap
  private val cat = "bench"
  private var rep = 0
  private var prepared = 0
  private def table = s"clean_r$rep"
  private def qt = s"$cat.default.$table"
  private def crawlDir = s"$out/lake/crawl_r$rep"
  private def ckpt = s"$out/lake/ckpt_r$rep"
  private val warehouse = s"$out/lake/wh"
  // Two rounds (44 operations) put the tail percentile at p75, among the
  // deletes, compactions and operator queries rather than at the edge of
  // a block of alike operations; one round would put it at the median.
  override val minRounds = 2
  // the first cycle already runs every kind of operation
  override def warmUp(rng: Random): Seq[Op] = round(0, rng).filter(_.tag == 1)
  private val curation = new EntryQueries(spark, data, out, Seq(
    "dedup" -> Seq("dd_exact"), "text" -> Seq("ta_token_stats")))

  spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftOrcCatalog")
  spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)

  /** plan.json is a flat object of numbers written by the input generator. */
  private def readPlan(f: File): Map[String, String] = {
    val s = java.nio.file.Files.readString(f.toPath).trim.stripPrefix("{").stripSuffix("}")
    s.split(",").map(_.split(":")).map(kv =>
      kv(0).trim.stripPrefix("\"").stripSuffix("\"") -> kv(1).trim).toMap
  }

  private def delivery(c: Int): DataFrame = spark.read.parquet(f"$data/deliveries/c$c%05d.parquet")

  private def deliver(c: Int): Unit =
    delivery(c).write.format("graft-orc").option("graft.manifest", "true")
      .mode("append").save(crawlDir)

  private def ingest(): Unit =
    graft.streaming.IngestDedup.ingest(spark, crawlDir, qt, ckpt, buckets = Some(16))

  /** A fresh table pair: the crawl table holds delivery 0, the clean table
    * its deduplicated rows. */
  def prepare(r: Int): Unit = {
    rep = r
    new File(crawlDir).mkdirs()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.default")
    spark.sql(s"CREATE TABLE $qt (fp BIGINT, doc_id BIGINT, src STRING, n_chars BIGINT, " +
      "fpb INT) PARTITIONED BY (fpb) TBLPROPERTIES('graft.merge_mode'='mor', " +
      "'graft.distribution_mode'='hash')")
    deliver(0)
    ingest()
    prepared = r + 1
  }

  /** Row count and summed md5 prefixes of `cols` (a DuckDB model computes
    * the same digest). */
  private def digest(df: DataFrame, cols: String): Fp = {
    val row = df.selectExpr("count(*) AS n",
      s"sum(CAST(conv(substr(md5(concat_ws('|', $cols)), 1, 11), 16, 10) AS BIGINT)) AS h").head()
    Fp(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Round `r` runs every cycle of the plan on the table pair of the
    * `r`-th preparation: one of the set-up's, or one prepared here,
    * untimed, in the same way. So every round, and every run, times the
    * same operations on the same table states, however fast the program
    * is. */
  def round(r: Int, rng: Random): Seq[Op] = {
    if (r > 0) {
      spark.sql(s"DROP TABLE $qt")
      Seq(crawlDir, ckpt).foreach(d => deleteTree(new File(d)))
    }
    if (r < prepared) rep = r else prepare(r)
    val crawlCols = "CAST(doc_id AS STRING), src, CAST(n_chars AS STRING), text"
    val cleanCols = "CAST(fp AS STRING), CAST(doc_id AS STRING), src, CAST(n_chars AS STRING)"
    def read(after: String, df: () => DataFrame, cols: String) =
      Op(s"read_after_$after", "read", "scan", "lakehouse.read_ms", () => { noop(df()); None },
        Some(() => digest(df(), cols)))
    // every operation of cycle c carries tag c
    def cycle(c: Int) = (Seq(
      Op("append", "append", "write", "write.append_ms", () => { deliver(c); None }),
      read("append", () => spark.read.format("graft-orc").load(crawlDir), crawlCols),
      Op("ingest", "ingest", "stream", "stream.ingest_ms", () => { ingest(); None }),
      read("ingest", () => spark.table(qt), cleanCols),
      Op("delete", "delete", "mor", "mor.delete_ms", () => {
        spark.sql(s"DELETE FROM $qt WHERE doc_id % $mod = ${rems(c)}").collect(); None
      }),
      read("delete", () => spark.table(qt), cleanCols)) ++ curation.ops ++ Seq(
      Op("compact", "compact", "maint", "maint.compact_ms", () => {
        val n = spark.sql(s"CALL $cat.system.compact(table => 'default.$table')").head().getInt(0)
        Some(Fp(n, 0L))
      }),
      Op("expire_snapshots", "expire", "maint", "maint.expire_ms", () => {
        spark.sql(s"CALL $cat.system.expire_snapshots('default.$table', retain => 1)").collect(); None
      }),
      Op("vacuum", "vacuum", "maint", "maint.vacuum_ms", () => {
        spark.sql(s"CALL $cat.system.vacuum('default.$table')").collect(); None
      }))).map(_.copy(tag = c.toLong))
    (1 to cycles).flatMap(cycle)
  }

  private def freshBytes(df: DataFrame, tag: String): Long = {
    val dir = s"$out/lake/fresh_$tag"
    deleteTree(new File(dir))
    new File(dir).mkdirs()
    df.write.format("graft-orc").option("graft.manifest", "true").mode("append").save(dir)
    val b = dirBytes(new File(dir))
    deleteTree(new File(dir))
    b
  }

  def check(ops: Seq[OpRecord]): (Map[Int, String], Map[String, Any]) = {
    def deliveries(cs: Seq[Int]) = cs.map(delivery).reduce(_ unionByName _)
    // every timed round delivers cycles 1..cycles once
    val rounds = ops.map(_.round).distinct.size
    val deliveredTimed = if (rounds == 0) 0L else rounds * freshBytes(deliveries(1 to cycles), "timed")
    val liveFresh = freshBytes(deliveries(0 to cycles), "crawl") +
      freshBytes(spark.table(qt).drop("fpb"), "clean")
    val onDisk = dirBytes(new File(crawlDir)) + dirBytes(new File(s"$warehouse/default/$table"))
    val written = ops.map(_.fs(1)).sum
    def count(kind: String): Long =
      spark.sql(s"SELECT count(*) FROM $qt.$kind").head().getLong(0)
    val crawlFiles = graft.sources.v2.GraftOrcMetadata.files(spark, crawlDir).count()
    // the read-back digests are compared with a DuckDB model of the
    // delivered and deleted rows, and the curation results with DuckDB's
    // oracles, after the JVM exits
    (curation.check(ops), Map(
      "read_backs" -> ops.filter(o => o.ok && o.group == "read")
        .map(o => Map("idx" -> o.idx, "cycle" -> o.tag, "after" -> o.name.stripPrefix("read_after_"),
          "fp" -> o.fp.map(_.json))),
      "last_cycle" -> cycles, "check_dir" -> s"$out/check",
      "write_amp" -> (if (deliveredTimed > 0) written.toDouble / deliveredTimed else 0.0),
      "space_amp" -> onDisk.toDouble / liveFresh,
      "bytes_written_timed" -> written, "fresh_bytes_delivered_timed" -> deliveredTimed,
      "bytes_on_disk" -> onDisk, "fresh_bytes_live" -> liveFresh,
      "files_per_append" -> crawlFiles.toDouble / (cycles + 1),
      "delete_files_live" -> count("deletes"), "files_live" -> count("files"),
      "snapshots_live" -> count("snapshots")))
  }
}

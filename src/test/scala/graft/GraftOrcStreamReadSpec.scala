package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Micro-batch streaming READ through the graft-orc connector: the
  * directory is the stream; files arriving between batches are picked up
  * incrementally by the (mtime, path) watermark offset.
  */
class GraftOrcStreamReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two file waves arrive as incremental micro-batches") {
    val dir = Files.createTempDirectory("graft-orc-read-stream").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    val wave1 = nation.filter($"n_nationkey" < 10)
    val wave2 = nation.filter($"n_nationkey" >= 10)
    graft.sources.OrcTables.write(wave1, s"$dir/w1", mode = "overwrite")
    // flat multi-dir layouts need the recursive listing: point the stream
    // at the parent
    val stream = spark.readStream.format("graft-orc").load(dir)
    val q = stream.writeStream.format("memory").queryName("orc_in")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(stream.sparkSession.table("orc_in").count() === wave1.count())
      Thread.sleep(1100) // local FS mtime granularity is one second
      graft.sources.OrcTables.write(wave2, s"$dir/w2", mode = "overwrite")
      q.processAllAvailable()
      val got = stream.sparkSession.table("orc_in")
      assert(got.count() === nation.count())
      assert(got.select($"n_nationkey").as[Int].collect().sorted.toSeq ===
        nation.select($"n_nationkey").as[Int].collect().sorted.toSeq)
    } finally q.stop()
  }

  test("pushed filters and projection apply per micro-batch") {
    val dir = Files.createTempDirectory("graft-orc-read-stream2").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    graft.sources.OrcTables.write(nation, s"$dir/w1", mode = "overwrite")
    val stream = spark.readStream.format("graft-orc").load(dir)
      .filter($"n_regionkey" === 0).select($"n_name")
    val q = stream.writeStream.format("memory").queryName("orc_in_f")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = stream.sparkSession.table("orc_in_f")
        .as[String].collect().sorted.toSeq
      val want = nation.filter($"n_regionkey" === 0)
        .select($"n_name").as[String].collect().sorted.toSeq
      assert(got === want)
    } finally q.stop()
  }

  test("streaming pipeline: graft-orc source -> transform -> graft-orc sink") {
    // the full connector streaming story in one query: directory stream in,
    // incremental transform, exactly-once-per-epoch ORC out
    val src = Files.createTempDirectory("graft-orc-pipe-src").toString
    val out = Files.createTempDirectory("graft-orc-pipe-out").toString
    val ckpt = Files.createTempDirectory("graft-orc-pipe-ckpt").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    graft.sources.OrcTables.write(
      nation.filter($"n_nationkey" < 10), s"$src/w1", mode = "overwrite")
    val q = spark.readStream.format("graft-orc").load(src)
      .withColumn("n_name", lower($"n_name"))
      .writeStream.format("graft-orc")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start(out)
    try {
      q.processAllAvailable()
      Thread.sleep(1100) // mtime granularity
      graft.sources.OrcTables.write(
        nation.filter($"n_nationkey" >= 10), s"$src/w2", mode = "overwrite")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.format("graft-orc").load(out)
    assert(got.count() === nation.count())
    assert(got.select($"n_name").as[String].collect().sorted.toSeq ===
      nation.select(lower($"n_name")).as[String].collect().sorted.toSeq)
  }

  test("restart from checkpoint resumes at the committed offset") {
    val dir = Files.createTempDirectory("graft-orc-restart-src").toString
    val ckpt = Files.createTempDirectory("graft-orc-restart-ckpt").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    graft.sources.OrcTables.write(
      nation.filter($"n_nationkey" < 10), s"$dir/w1", mode = "overwrite")

    val out = Files.createTempDirectory("graft-orc-restart-out").toString
    def start() = spark.readStream.format("graft-orc").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()

    Thread.sleep(1100)
    graft.sources.OrcTables.write(
      nation.filter($"n_nationkey" >= 10), s"$dir/w2", mode = "overwrite")

    // a NEW query on the same checkpoint: the deserialized offset resumes
    // past wave 1 — every row lands exactly once across the two runs
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
    assert(got.count() === nation.count(),
      "restart must process wave 2 and never reprocess wave 1")
    assert(got.select($"n_nationkey").distinct().count() === nation.count())
  }

  test("kill-and-restart: sink commits landing while the query is down " +
    "arrive exactly once") {
    // End-to-end restart contract with the WRITER in the loop: waves are
    // published through the graft-orc batch sink (driver-stamped strictly
    // increasing mtimes), the reader is killed, MORE sink commits land
    // while it is down, and a new query on the same checkpoint picks up
    // exactly the files it has not consumed. No mtime-granularity sleeps:
    // the publish-stamp counter (seeded from the table listing) guarantees
    // every new commit stamps strictly above the consumed watermark.
    val dir = Files.createTempDirectory("graft-orc-restart-sink-src").toString
    val ckpt = Files.createTempDirectory("graft-orc-restart-sink-ck").toString
    val out = Files.createTempDirectory("graft-orc-restart-sink-out").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    nation.filter($"n_nationkey" < 10)
      .write.format("graft-orc").mode("append").save(dir)

    def start() = spark.readStream.format("graft-orc").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the query is DOWN; two separate sink commits land
    nation.filter($"n_nationkey" >= 10 && $"n_nationkey" < 18)
      .write.format("graft-orc").mode("append").save(dir)
    nation.filter($"n_nationkey" >= 18)
      .write.format("graft-orc").mode("append").save(dir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out)
    assert(got.count() === nation.count(),
      "restart must consume both down-time commits and never replay wave 1")
    assert(got.select($"n_nationkey").distinct().count() === nation.count(),
      "exactly-once across restart: no duplicated keys")
  }

  test("maxFilesPerTrigger drains a backfill as bounded micro-batches") {
    val dir = Files.createTempDirectory("graft-orc-throttle-src").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    // three files already present at stream start (a backfill)
    graft.sources.OrcTables.write(
      nation.filter($"n_nationkey" < 8).coalesce(1), s"$dir/w1",
      mode = "overwrite")
    graft.sources.OrcTables.write(
      nation.filter($"n_nationkey" >= 8 && $"n_nationkey" < 16).coalesce(1),
      s"$dir/w2", mode = "overwrite")
    graft.sources.OrcTables.write(
      nation.filter($"n_nationkey" >= 16).coalesce(1), s"$dir/w3",
      mode = "overwrite")
    val q = spark.readStream.format("graft-orc")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("orc_throttled")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // every row arrived exactly once...
      val got = spark.table("orc_throttled")
      assert(got.count() === nation.count())
      assert(got.select($"n_nationkey").distinct().count() === nation.count())
      // ...across at least 3 one-file batches, never one giant batch
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3,
        s"expected >=3 bounded batches, got $dataBatches")
    } finally q.stop()
  }

  test("maxBytesPerTrigger admits at least one file, never a whole backfill") {
    val dir = Files.createTempDirectory("graft-orc-bytecap-src").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    Seq(0 -> 8, 8 -> 16, 16 -> 25).foreach { case (lo, hi) =>
      graft.sources.OrcTables.write(
        nation.filter($"n_nationkey" >= lo && $"n_nationkey" < hi).coalesce(1),
        s"$dir/w$lo", mode = "overwrite")
    }
    // 1-byte cap: every file exceeds it, so each trigger admits exactly
    // the one guaranteed-progress file — the backfill drains one by one
    val q = spark.readStream.format("graft-orc")
      .option("maxBytesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("orc_bytecap")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("orc_bytecap")
      assert(got.count() === nation.count())
      assert(got.select($"n_nationkey").distinct().count() === nation.count())
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3,
        s"expected >=3 byte-capped batches, got $dataBatches")
    } finally q.stop()
  }

  test("invalid maxFilesPerTrigger fails fast with the option named") {
    val dir = Files.createTempDirectory("graft-orc-badopt").toString
    graft.sources.OrcTables.write(
      Tables.nation(spark, TestSpark.sf0001), s"$dir/w1", mode = "overwrite")
    // <= 0 would admit take(0) files every trigger — a stream that stalls
    // forever; non-numeric would surface as a bare NumberFormatException
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    for ((opt, bad) <- Seq("maxFilesPerTrigger" -> "0",
      "maxFilesPerTrigger" -> "-3", "maxFilesPerTrigger" -> "lots",
      "maxBytesPerTrigger" -> "0", "maxBytesPerTrigger" -> "wide")) {
      val q = spark.readStream.format("graft-orc")
        .option(opt, bad).load(dir)
        .writeStream.format("noop")
      val e = intercept[Throwable] {
        val started = q.start()
        try started.processAllAvailable() finally started.stop()
      }
      assert(chain(e).exists(c =>
        Option(c.getMessage).exists(_.contains(opt))),
        s"$opt='$bad' must be rejected naming the option, got: $e")
    }
  }

  test("offsets serialize and deserialize losslessly") {
    import graft.sources.v2.{GraftOrcSnapshotOffset, GraftOrcStreamOffset}
    val stream = new graft.sources.v2.GraftOrcMicroBatchStream(
      null, Nil, spark.sparkContext.hadoopConfiguration)
    val o = GraftOrcStreamOffset(1234L, "/x/a b/part-0.orc")
    assert(stream.deserializeOffset(o.json()) === o)
    val so = GraftOrcSnapshotOffset(7L)
    assert(stream.deserializeOffset(so.json()) === so)
  }

  test("snapshot offsets: a manifest table streams by snapshot seq " +
    "across kill-and-restart, exactly once") {
    // the offset is the consumed manifest snapshot SEQ — commit order
    // from the metadata log, no clock trusted. Kill the query, land MORE
    // snapshot commits while it is down, restart from the checkpoint:
    // every row arrives exactly once and the checkpointed offsets are
    // snapshot seqs, not (mtime, path) watermarks.
    val dir = Files.createTempDirectory("graft-orc-snapoff-src").toString
    val ckpt = Files.createTempDirectory("graft-orc-snapoff-ck").toString
    val out = Files.createTempDirectory("graft-orc-snapoff-out").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    nation.filter($"n_nationkey" < 10)
      .write.format("graft-orc").mode("append")
      .option("graft.manifest", "true").save(dir)               // snap 1

    def start() = spark.readStream.format("graft-orc")
      .option("graft.snapshot_offsets", "true").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // down: two more commits -> snapshots 2 and 3
    nation.filter($"n_nationkey" >= 10 && $"n_nationkey" < 18)
      .write.format("graft-orc").mode("append").save(dir)       // snap 2
    nation.filter($"n_nationkey" >= 18)
      .write.format("graft-orc").mode("append").save(dir)       // snap 3
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out)
    assert(got.count() === nation.count(),
      "restart must consume both down-time snapshots and never replay snap 1")
    assert(got.select($"n_nationkey").distinct().count() === nation.count(),
      "exactly-once across restart: no duplicated keys")

    // the checkpoint really holds snapshot seqs
    val offsetFiles = new java.io.File(s"$ckpt/offsets").listFiles()
    assert(offsetFiles != null && offsetFiles.nonEmpty)
    val texts = offsetFiles.filterNot(_.getName.startsWith("."))
      .map(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(texts.exists(_.contains("snapshot_seq")),
      s"checkpointed offsets must be snapshot seqs:\n${texts.mkString}")
    assert(!texts.exists(_.contains("\"mtime\"")),
      "no (mtime, path) offset may appear in snapshot-offset mode")
  }

  test("snapshot offsets: maxFilesPerTrigger admits whole snapshots, " +
    "at least one per trigger") {
    val dir = Files.createTempDirectory("graft-orc-snapoff-cap").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    // three commits of one file each -> snapshots 1..3 before the stream
    nation.filter($"n_nationkey" < 8).coalesce(1)
      .write.format("graft-orc").mode("append")
      .option("graft.manifest", "true").save(dir)
    nation.filter($"n_nationkey" >= 8 && $"n_nationkey" < 16).coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    nation.filter($"n_nationkey" >= 16).coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    val q = spark.readStream.format("graft-orc")
      .option("graft.snapshot_offsets", "true")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName("orc_snap_throttled")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("orc_snap_throttled")
      assert(got.count() === nation.count())
      assert(got.select($"n_nationkey").distinct().count() === nation.count())
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3,
        s"expected >=3 snapshot-granular batches, got $dataBatches")
    } finally q.stop()
  }

  test("manifest-to-manifest pipeline: snapshot-offset source -> " +
    "transform -> manifest sink, exactly once across commits") {
    // the full metadata-log streaming story: the source consumes by
    // snapshot seq (no clock trust), the sink commits each epoch as a
    // manifest snapshot — both ends atomic, so the pipeline is
    // exactly-once end to end with no mtime assumptions anywhere
    val src = Files.createTempDirectory("graft-orc-m2m-src").toString
    val out = Files.createTempDirectory("graft-orc-m2m-out").toString
    val ckpt = Files.createTempDirectory("graft-orc-m2m-ck").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    nation.filter($"n_nationkey" < 10)
      .write.format("graft-orc").mode("append")
      .option("graft.manifest", "true").save(src)                 // snap 1
    // establish the sink as a manifest table up front
    nation.limit(0).write.format("graft-orc").mode("append")
      .option("graft.manifest", "true").save(out)
    def run() = spark.readStream.format("graft-orc")
      .option("graft.snapshot_offsets", "true").load(src)
      .withColumn("n_name", lower($"n_name"))
      .writeStream.format("graft-orc")
      .option("checkpointLocation", ckpt).outputMode("append")
      .start(out)
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    nation.filter($"n_nationkey" >= 10)
      .write.format("graft-orc").mode("append").save(src)         // snap 2
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.format("graft-orc").load(out)
    assert(got.count() === nation.count())
    assert(got.select($"n_name").as[String].collect().sorted.toSeq ===
      nation.select(lower($"n_name")).as[String].collect().sorted.toSeq)
    // both ends really ran on the metadata log
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.v2.GraftOrcManifest.exists(fs,
      new org.apache.hadoop.fs.Path(out)))
    val offsets = new java.io.File(s"$ckpt/offsets").listFiles()
      .filterNot(_.getName.startsWith("."))
      .map(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(offsets.exists(_.contains("snapshot_seq")))
  }

  test("graft.stream.on_rewrite: fail stops at a copy-on-write snapshot, " +
    "skip drops its files, replay re-emits survivors (r10 ADVICE)") {
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    // memory sinks cannot recover a checkpoint, so each policy writes to
    // its own parquet sink and the second run resumes from the committed
    // snapshot offset
    def build(policy: String): (String, () => org.apache.spark.sql
        .streaming.StreamingQuery) = {
      val dir = Files.createTempDirectory(s"graft-orc-onrw-$policy").toString
      val ckpt = Files.createTempDirectory(s"graft-orc-onrw-ck-$policy")
        .toString
      val out = Files.createTempDirectory(s"graft-orc-onrw-out-$policy")
        .toString
      val nation = Tables.nation(spark, TestSpark.sf0001)
      nation.filter($"n_nationkey" < 10).coalesce(1)
        .write.format("graft-orc").mode("append")
        .option("graft.manifest", "true").save(dir)               // snap 1
      val run = () => spark.readStream.format("graft-orc")
        .option("graft.snapshot_offsets", "true")
        .option("graft.stream.on_rewrite", policy).load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      val q1 = run()
      try q1.processAllAvailable() finally q1.stop()
      assert(spark.read.parquet(out).count() === 10)
      // snap 2: copy-on-write DELETE rewrites the single file (9 survive)
      spark.sql(s"CREATE TABLE g_onrw_$policy USING `graft-orc` " +
        s"LOCATION '$dir'")
      spark.sql(s"DELETE FROM g_onrw_$policy WHERE n_nationkey = 3")
      spark.sql(s"DROP TABLE g_onrw_$policy")
      // snap 3: a pure append behind the rewrite
      nation.filter($"n_nationkey" >= 10 && $"n_nationkey" < 15)
        .coalesce(1).write.format("graft-orc").mode("append").save(dir)
      (out, run)
    }

    val (_, runFail) = build("fail")
    val e = intercept[Throwable] {
      val q = runFail()
      try q.processAllAvailable() finally q.stop()
    }
    assert(chain(e).exists(c => Option(c.getMessage).exists(m =>
      m.contains("append-only") && m.contains("graft.stream.on_rewrite"))),
      s"fail policy must name the option and the non-append snapshot: $e")

    val (skipOut, runSkip) = build("skip")
    val q2 = runSkip()
    try q2.processAllAvailable() finally q2.stop()
    // batch 1 emitted 0..9 BEFORE the delete (a sink is not rewound by a
    // source-side rewrite); the rewrite's files are dropped, so nothing
    // is emitted twice, and the snap-3 append flows through
    val skipKeys = spark.read.parquet(skipOut)
      .select($"n_nationkey").as[Int].collect().sorted.toSeq
    assert(skipKeys === (0 until 15).toSeq, s"skip policy: got $skipKeys")

    val (replayOut, runReplay) = build("replay")
    val q3 = runReplay()
    try q3.processAllAvailable() finally q3.stop()
    // documented replay semantics: the rewrite's 9 surviving rows re-enter
    val replayCount = spark.read.parquet(replayOut).count()
    assert(replayCount === 10 + 9 + 5, s"replay policy: got $replayCount")
  }

  test("on_rewrite=fail delivers appends committed BEFORE the rewrite, " +
    "then stops with the rewrite heading the next batch") {
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    val dir = Files.createTempDirectory("graft-orc-onrw-order").toString
    val ckpt = Files.createTempDirectory("graft-orc-onrw-order-ck").toString
    val out = Files.createTempDirectory("graft-orc-onrw-order-out").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    nation.filter($"n_nationkey" < 10).coalesce(1)
      .write.format("graft-orc").mode("append")
      .option("graft.manifest", "true").save(dir)                 // snap 1
    def run() = spark.readStream.format("graft-orc")
      .option("graft.snapshot_offsets", "true")
      .option("graft.stream.on_rewrite", "fail").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    // while down: snap 2 APPEND, snap 3 copy-on-write DELETE
    nation.filter($"n_nationkey" >= 10 && $"n_nationkey" < 15).coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)         // snap 2
    spark.sql(s"CREATE TABLE g_onrw_order USING `graft-orc` LOCATION '$dir'")
    try spark.sql("DELETE FROM g_onrw_order WHERE n_nationkey = 3") // snap 3
    finally spark.sql("DROP TABLE IF EXISTS g_onrw_order")
    val e = intercept[Throwable] {
      val q = run()
      try q.processAllAvailable() finally q.stop()
    }
    assert(chain(e).exists(c => Option(c.getMessage).exists(
      _.contains("graft.stream.on_rewrite"))), s"got: $e")
    // the snap-2 append must have been delivered before the stop — the
    // rewrite ends the in-flight batch instead of starving it
    val got = spark.read.parquet(out)
      .select($"n_nationkey").as[Int].collect().sorted.toSeq
    assert(got === (0 until 15).toSeq,
      s"appends before the rewrite must not be starved: $got")
  }

  test("snapshot offsets require a manifest table (typed error)") {
    val dir = Files.createTempDirectory("graft-orc-snapoff-nomani").toString
    graft.sources.OrcTables.write(
      Tables.nation(spark, TestSpark.sf0001), s"$dir/w1", mode = "overwrite")
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    val q = spark.readStream.format("graft-orc")
      .option("graft.snapshot_offsets", "true").load(dir)
      .writeStream.format("noop")
    val e = intercept[Throwable] {
      val started = q.start()
      try started.processAllAvailable() finally started.stop()
    }
    assert(chain(e).exists(c => Option(c.getMessage).exists(m =>
      m.contains("graft.snapshot_offsets") && m.contains("manifest"))),
      s"non-manifest table must be rejected naming the option, got: $e")
  }
}

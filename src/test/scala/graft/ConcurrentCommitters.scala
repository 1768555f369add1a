package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Real-thread concurrent committers against one manifest table, shared
  * by [[GraftOrcConcurrencySpec]].
  */
object ConcurrentCommitters {

  /** Result of [[concurrentCommitters]] — the real-thread concurrency
    * receipt: every commit landed exactly once or threw, and the final
    * state equals the serial application of the SUCCESSFUL operations.
    */
  case class ConcurrencyResult(rounds: Int, attempted: Int,
                               succeeded: Int, conflicts: Int,
                               finalRows: Long, expectedRows: Long,
                               exactState: Boolean) {
    def ok: Boolean = exactState && finalRows == expectedRows
  }

  /** N REAL concurrent committers against one manifest table, per round:
    * `appenders` append threads (disjoint key ranges), one blind-upsert
    * thread (GraftOrcEqDelete — equality sidecar + data, the
    * commit-time sequence-validation path), and one compactor
    * (purge-first stripe merge — the rewrite that must not resurrect
    * anything). Every thread either commits exactly once or throws
    * ConcurrentModificationException after its internal retries; the
    * final table must equal the serial oracle built from the successes.
    * This is the optimistic-concurrency contract Iceberg's commit loop
    * provides, exercised with actual interleavings rather than the
    * single-threaded spec simulations.
    */
  def concurrentCommitters(spark: SparkSession, dir: String,
                           appenders: Int = 4,
                           rounds: Int = 4): ConcurrencyResult = {
    import spark.implicits._
    import graft.sources.v2.{GraftOrcCompact, GraftOrcEqDelete, GraftOrcManifest}
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    // Committer key spaces MUST stay disjoint or the serial oracle is
    // confounded: base 0..999 (+ upsert 0..199, deletes 300+), appenders
    // 1000000 + r*100000 + i*1000 + j (grows with rounds), wap
    // 50000000 + r*1000, branchdml 60000000 + r*1000. Round 20 burned
    // this: at rounds >= 10 the old wap base (2000000) collided with
    // appender round-10 keys and the 12-round soak read as inexact
    // state with nothing actually wrong.
    require(1000000L + rounds.toLong * 100000L <= 50000000L,
      s"concurrentCommitters: $rounds rounds would push appender keys " +
        "into the wap key space — raise the wap/branchdml bases first")
    require(appenders <= 100,
      s"concurrentCommitters: $appenders appenders overflow one round's " +
        "100000-wide appender key block into the next round's " +
        "(i*1000 + j needs i < 100) — widen the per-round stride first")
    val baseKeys = 0 until 1000
    baseKeys.map(k => (k, "base")).toDF("k", "v").repartition(4)
      .write.format("graft-orc").option("graft.manifest", "true")
      .option("graft.manifest.retain", "3").mode("overwrite").save(dir)

    // a registered MoR table name so a DELETE committer can race too
    // (position sidecars + expectPresent validation under interleaving)
    val tname = "g_conc_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.sql(s"DROP TABLE IF EXISTS $tname")
    spark.sql(s"CREATE TABLE $tname USING `graft-orc` LOCATION '$dir' " +
      "TBLPROPERTIES('graft.delete_mode'='mor')")
    // a graft CATALOG handle over the same location, so a branch-DML
    // committer can race `DELETE FROM t.branch_<n>` (round 13): branch
    // handles resolve through GraftOrcCatalog, not the session catalog
    val cname = "gconc" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(6)
    spark.conf.set(s"spark.sql.catalog.$cname",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set(s"spark.sql.catalog.$cname.warehouse",
      java.nio.file.Files.createTempDirectory("graft-conc-wh").toString)
    spark.sql(s"CREATE TABLE $cname.t (k INT, v STRING) " +
      s"LOCATION '$dir'")

    val attempted = new java.util.concurrent.atomic.AtomicInteger()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger()
    // serial oracle inputs, recorded only for operations that COMMITTED
    val appendedBatches =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Int)]()) // (round, appender)
    val upsertRounds =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[Int]())
    val deletedRanges =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Int)]()) // [lo, hi)
    val wapRounds =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[Int]())

    (0 until rounds).foreach { r =>
      val errs = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Throwable]())
      // Loud, state-free failures a committer may legitimately hit:
      // a same-seq/validation conflict, or the RETENTION race — its
      // planned snapshot's files were replaced by rivals and physically
      // expired (retain=3 here, 6 commits/round: the adversarial
      // setting) before its scan finished. Both throw BEFORE the
      // commit, so nothing becomes visible — the contract is "exactly
      // once or loudly never", not "never fails".
      def retentionRace(t: Throwable): Boolean = {
        var c = t
        while (c != null) {
          if (c.isInstanceOf[java.io.FileNotFoundException]) return true
          c = c.getCause
        }
        false
      }
      def committer(name: String)(body: => Unit)(onOk: => Unit): Thread = {
        val t = new Thread(() => {
          attempted.incrementAndGet()
          try { body; succeeded.incrementAndGet(); onOk }
          catch {
            case _: java.util.ConcurrentModificationException =>
              conflicts.incrementAndGet() // loud, exactly-zero-times
            case e: Throwable if retentionRace(e) =>
              conflicts.incrementAndGet()
            case e: Throwable => errs.add(e)
          }
        }, s"graft-conc-$name-r$r")
        t.start(); t
      }
      val threads =
        (0 until appenders).map { i =>
          committer(s"append$i") {
            ((0 until 100).map(j =>
              (1000000 + r * 100000 + i * 1000 + j, s"app-$r-$i")))
              .toDF("k", "v").coalesce(1)
              .write.format("graft-orc").mode("append").save(dir)
          } { appendedBatches.add((r, i)) }
        } ++ Seq(
          committer("upsert") {
            GraftOrcEqDelete.upsert(spark, dir,
              (0 until 200).map(k => (k, s"ups-$r")).toDF("k", "v"),
              Seq("k"))
          } { upsertRounds.add(r) },
          committer("delete") {
            // per-round disjoint slice of the base keys, away from the
            // upsert's 0..199 — a real SQL MoR DELETE racing everyone
            val lo = 300 + r * 50
            spark.sql(s"DELETE FROM $tname WHERE k >= $lo AND k < ${lo + 25}")
          } { deletedRanges.add((300 + r * 50, 300 + r * 50 + 25)) },
          committer("compact") {
            GraftOrcCompact.compact(spark, dir,
              targetBytes = 64L << 20, smallFileBytes = 32L << 20)
          } { () },
          // deletion-vector consolidation racing the MoR delete + purge
          // + compact committers (round 14): content-preserving like
          // compact, so the serial oracle is untouched — what's under
          // test is the expectDeletes serialization (a consolidation
          // planned against a sidecar set a rival changed must retry or
          // fail loudly, never drop or duplicate a position)
          committer("consolidate") {
            graft.sources.v2.GraftOrcMor.consolidate(spark, dir)
          } { () },
          // the WAP loop racing everyone: fork -> staged append on the
          // branch -> audit read -> divergence-tolerant cherry-pick.
          // Exercises per-lineage commit locking and the cross-lineage
          // expiry/vacuum protection under real interleavings (main
          // commits 6x/round at retain=3 while the branch lives).
          committer("wap") {
            val pth = new org.apache.hadoop.fs.Path(dir)
            val bname = s"wap-$r"
            // pinned per-branch retention: the slow branch must keep its
            // own depth while main churns at retain=3 around it
            GraftOrcManifest.createBranch(fs, pth, bname,
              retain = Some(6))
            try {
              (0 until 80).map(j => (50000000 + r * 1000 + j, s"wap-$r"))
                .toDF("k", "v").coalesce(1)
                .write.format("graft-orc").option("graft.branch", bname)
                .mode("append").save(dir)
              val staged = spark.read.format("graft-orc")
                .option("graft.branch", bname).load(dir)
                .filter(col("k") >= 50000000 + r * 1000).count()
              require(staged == 80, s"branch audit read saw $staged/80")
              GraftOrcManifest.cherryPick(
                spark.sparkContext.hadoopConfiguration, dir, bname)
            } catch { case t: Throwable =>
              GraftOrcManifest.dropBranch(fs, pth, bname); throw t
            }
          } { wapRounds.add(r) },
          // branch DML racing everyone (round 13): fork -> staged
          // append -> branch-scoped CoW DELETE of part of the stage
          // (scans the branch, swaps against the branch lineage under
          // its own commit lock) -> audit -> drop (failed-gate path; a
          // DML branch is fast_forward-only and main races ahead here,
          // so publish is structurally off). Main state must be
          // bit-identical to a world where this committer never ran.
          committer("branchdml") {
            val pth = new org.apache.hadoop.fs.Path(dir)
            val bname = s"bdml$r"
            val lo = 60000000 + r * 1000
            GraftOrcManifest.createBranch(fs, pth, bname)
            try {
              (0 until 60).map(j => (lo + j, s"bdml-$r")).toDF("k", "v")
                .coalesce(1).write.format("graft-orc")
                .option("graft.branch", bname).mode("append").save(dir)
              spark.sql(s"DELETE FROM $cname.t.branch_$bname " +
                s"WHERE k >= $lo AND k < ${lo + 20}")
              val staged = spark.read.format("graft-orc")
                .option("graft.branch", bname).load(dir)
                .filter(col("k") >= lo).count()
              require(staged == 40,
                s"branch DML audit read saw $staged/40")
            } finally GraftOrcManifest.dropBranch(fs, pth, bname)
          } { () })
      threads.foreach(_.join(300000))
      if (!errs.isEmpty)
        throw new IllegalStateException(
          s"concurrent committer failed non-loudly: ${errs.get(0)}",
          errs.get(0))
    }

    // serial oracle: base ∪ successful appends, upserted keys at their
    // LAST successful round's value (rounds are join-separated, so
    // "newest wins" has a defined order)
    import scala.jdk.CollectionConverters._
    val lastUps = upsertRounds.asScala.toSeq.sorted.lastOption
    val deleted: Set[Int] = deletedRanges.asScala
      .flatMap { case (lo, hi) => lo until hi }.toSet
    val expected: Map[Int, String] =
      baseKeys.filterNot(deleted).map(k => k -> lastUps.map(r =>
        if (k < 200) s"ups-$r" else "base").getOrElse("base")).toMap ++
      appendedBatches.asScala.flatMap { case (r, i) =>
        (0 until 100).map(j =>
          (1000000 + r * 100000 + i * 1000 + j) -> s"app-$r-$i")
      } ++
      wapRounds.asScala.flatMap { r =>
        (0 until 80).map(j => (50000000 + r * 1000 + j) -> s"wap-$r")
      }
    val actual = spark.read.format("graft-orc").load(dir)
      .as[(Int, String)].collect().toMap
    val actualRows = spark.read.format("graft-orc").load(dir).count()
    spark.sql(s"DROP TABLE IF EXISTS $tname")
    spark.sql(s"DROP TABLE IF EXISTS $cname.t")
    if (actual != expected || actualRows != expected.size) {
      val missing = expected.keySet -- actual.keySet
      val extra = actual.keySet -- expected.keySet
      val changed = expected.keySet.intersect(actual.keySet)
        .filter(k => expected(k) != actual(k))
      System.err.println(s"[conc-debug] missing=${missing.size} " +
        s"(${missing.take(5)} -> ${missing.take(5).map(expected)}) " +
        s"extra=${extra.size} (${extra.take(5)}) " +
        s"changed=${changed.take(5).map(k =>
          s"$k:${expected(k)}!=${actual(k)}")} " +
        s"rows=$actualRows vs ${expected.size}")
    }
    // seq history sanity: one live snapshot, readable
    GraftOrcManifest.readSnapshot(fs,
      fs.makeQualified(new org.apache.hadoop.fs.Path(dir))).get
    ConcurrencyResult(rounds, attempted.get(), succeeded.get(),
      conflicts.get(), actualRows, expected.size.toLong,
      exactState = actual == expected && actualRows == expected.size)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.GraftOrcCompact

/** Small-file compaction: stripe-copy merge of a fragmented (streaming-
  * ingested) table, bin-packed per partition directory, published through
  * the staging + stamped-rename protocol.
  */
class GraftOrcCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.withProps
  import spark.implicits._

  private def orcFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f).filter(_.getName.endsWith(".orc"))
      else if (f.getName.startsWith("_")) Nil
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(dir))
  }

  test("compaction merges a fragmented partitioned table losslessly") {
    val dir = Files.createTempDirectory("graft-orc-compact").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    // three appends x 4 tasks -> up to 12 small files per region dir (the
    // shape a per-epoch streaming sink leaves behind)
    (1 to 3).foreach { _ =>
      nation.repartition(4).write.format("graft-orc")
        .partitionBy("n_regionkey").mode("append").save(dir)
    }
    val before = orcFiles(dir)
    val beforeMaxMtime = before.map(_.lastModified()).max
    assert(before.size > 10, s"fixture not fragmented: ${before.size} files")

    val stats = GraftOrcCompact.compact(spark, dir)
    val after = orcFiles(dir)
    assert(after.size < before.size,
      s"expected fewer files, got ${before.size} -> ${after.size}")
    assert(stats.filesCompacted === before.size,
      "every small file should land in a bin here")
    assert(after.size === stats.bins, "one output file per merged bin")
    assert(TestSpark.stagingClean(dir))

    // lossless: same rows, partition column re-materialized from the path
    val back = spark.read.format("graft-orc").load(dir)
    assert(back.count() === nation.count() * 3)
    assert(back.groupBy($"n_regionkey").count()
      .as[(Int, Long)].collect().sorted.toSeq ===
      nation.groupBy($"n_regionkey").count()
        .as[(Int, Long)].collect().sorted.toSeq.map { case (k, c) => (k, c * 3) })

    // compacted files carry NEW publish stamps above everything published
    // before — the documented reason an ACTIVE streaming source must not
    // be compacted (a reader's (mtime, path) watermark would re-ingest)
    assert(orcFiles(dir).map(_.lastModified()).min > beforeMaxMtime)

    // a second pass finds nothing worth merging (one file per dir)
    val again = GraftOrcCompact.compact(spark, dir)
    assert(again.bins === 0 && again.filesCompacted === 0)
    assert(orcFiles(dir).size === after.size)
  }

  test("compaction preserves z-order stripe statistics (stripes are " +
    "byte-copied, min/max stays tight)") {
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get("orc.stripe.size")
    val dir = Files.createTempDirectory("graft-compact-z").toString
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    try {
      hc.set("orc.stripe.size", "65536")
      // a fragmented z-ordered table: 6 small sorted files
      graft.operators.ZOrder
        .zorderBy(li, Seq("l_orderkey", "l_partkey"), partitions = 6)
        .write.format("graft-orc").mode("append").save(dir)
    } finally {
      if (old == null) hc.unset("orc.stripe.size") else hc.set("orc.stripe.size", old)
    }
    val before = orcFiles(dir).size
    assert(before >= 6)
    val stats = GraftOrcCompact.compact(spark, dir)
    assert(stats.bins >= 1 && orcFiles(dir).size < before)

    // stripe pruning on BOTH z columns still engages after the merge:
    // mergeFiles byte-copies stripes, so each kept its tight min/max
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def pruned(filter: org.apache.spark.sql.Column): Long = {
      val q = spark.read.format("graft-orc").load(dir).filter(filter)
      q.collect()
      val scan = q.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b }.head
      scan.metrics.collectFirst {
        case (k, m) if k == "graftStripesPruned" => m.value }.get
    }
    assert(pruned($"l_orderkey" < 50) > 0,
      "compacted z table must still prune on l_orderkey")
    assert(pruned($"l_partkey" < 20) > 0,
      "compacted z table must still prune on l_partkey")
    // and the data survived intact
    assert(spark.read.format("graft-orc").load(dir).count() === li.count())
  }

  test("z-order rewrite compaction gains pruning on a non-sort column") {
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get("orc.stripe.size")
    val dir = Files.createTempDirectory("graft-compact-zrw").toString
    val li = Tables.lineitem(spark, TestSpark.sf0001)
    try {
      hc.set("orc.stripe.size", "65536")
      // a fragmented table laid out by ONE column only (the streaming-
      // ingest reality: per-epoch files roughly time-ordered) — filters
      // on l_partkey get no stripe locality at all
      (1 to 3).foreach { _ =>
        li.sort("l_orderkey").coalesce(2)
          .write.format("graft-orc").mode("append").save(dir)
      }
      val before = orcFiles(dir).size
      assert(before >= 3)

      val stats = GraftOrcCompact.compact(spark, dir,
        zorderCols = Seq("l_orderkey", "l_partkey"))
      assert(stats.bins >= 1 && stats.filesOut >= 1)
      assert(orcFiles(dir).size < before)

      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def pruned(filter: org.apache.spark.sql.Column): Long = {
        val q = spark.read.format("graft-orc").load(dir).filter(filter)
        q.collect()
        val scan = q.queryExecution.executedPlan.collect {
          case b: BatchScanExec => b }.head
        scan.metrics.collectFirst {
          case (k, m) if k == "graftStripesPruned" => m.value }.get
      }
      // the rewrite bought locality on BOTH z columns — including
      // l_partkey, which the original layout had no order on
      assert(pruned($"l_partkey" < 20) > 0,
        "z-rewrite must prune stripes on the non-sort column")
      assert(pruned($"l_orderkey" < 50) > 0)
      // lossless
      assert(spark.read.format("graft-orc").load(dir).count() ===
        li.count() * 3)
      assert(TestSpark.stagingClean(dir))
      assert(!new java.io.File(dir, GraftOrcCompact.TombstoneDir).exists())
    } finally {
      if (old == null) hc.unset("orc.stripe.size")
      else hc.set("orc.stripe.size", old)
    }
  }

  test("a crash inside the publish window is repaired, not merged in") {
    val dir = Files.createTempDirectory("graft-orc-repair").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    (1 to 2).foreach { _ =>
      nation.repartition(2).write.format("graft-orc").mode("append").save(dir)
    }
    val base = nation.count() * 2
    assert(spark.read.format("graft-orc").load(dir).count() === base)

    // recreate the exact crash state: a bin of two inputs whose merged
    // output HAS published (rename done) but whose input deletes never
    // ran — inputs still visible, tombstone still present
    val hc = spark.sparkContext.hadoopConfiguration
    val inputs = orcFiles(dir).sortBy(_.getName).take(2)
    val dest = new org.apache.hadoop.fs.Path(dir, "c-crashed.orc")
    org.apache.orc.OrcFile.mergeFiles(dest,
      org.apache.orc.OrcFile.writerOptions(hc),
      java.util.Arrays.asList(
        inputs.map(f => new org.apache.hadoop.fs.Path(f.getPath)): _*))
    val fs = dest.getFileSystem(hc)
    val tombs = new org.apache.hadoop.fs.Path(dir, GraftOrcCompact.TombstoneDir)
    fs.mkdirs(tombs)
    val stone = new org.apache.hadoop.fs.Path(tombs, "t-c-crashed.orc.txt")
    val out = fs.create(stone, true)
    out.write(("1" +: fs.makeQualified(dest).toString +:
      inputs.map(f => fs.makeQualified(
        new org.apache.hadoop.fs.Path(f.getPath)).toString))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    // the window is visible: the two merged inputs count twice
    val dupRows = spark.read.format("graft-orc").load(dir).count() - base
    assert(dupRows > 0, "fixture must exhibit the duplicate window")

    assert(GraftOrcCompact.repair(spark, dir) === 1)
    assert(spark.read.format("graft-orc").load(dir).count() === base)
    assert(!new java.io.File(dir, GraftOrcCompact.TombstoneDir).exists(),
      "tombstones are consumed by repair")
    // idempotent: nothing left to heal
    assert(GraftOrcCompact.repair(spark, dir) === 0)
  }

  test("a tombstone whose output never published is dropped harmlessly") {
    val dir = Files.createTempDirectory("graft-orc-repair2").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    nation.repartition(2).write.format("graft-orc").mode("append").save(dir)
    val base = spark.read.format("graft-orc").load(dir).count()
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hc)
    val tombs = new org.apache.hadoop.fs.Path(dir, GraftOrcCompact.TombstoneDir)
    fs.mkdirs(tombs)
    // crash BEFORE the rename: dest doesn't exist; inputs are live truth
    val victim = fs.makeQualified(
      new org.apache.hadoop.fs.Path(orcFiles(dir).head.getPath))
    val stone = new org.apache.hadoop.fs.Path(tombs, "t-c-never.orc.txt")
    val out = fs.create(stone, true)
    out.write(("1\n" + new org.apache.hadoop.fs.Path(dir, "c-never.orc") +
      "\n" + victim.toString + "\n").getBytes("UTF-8"))
    out.close()
    // compact() runs repair automatically; live inputs must survive
    GraftOrcCompact.compact(spark, dir)
    assert(spark.read.format("graft-orc").load(dir).count() === base)
    assert(!new java.io.File(dir, GraftOrcCompact.TombstoneDir).exists())
  }

  test("a compaction whose inputs a rival already swapped out is " +
    "REFUSED (expectPresent) — committing it would re-add the rows a " +
    "concurrent compaction just merged") {
    import graft.sources.v2.{GraftOrcManifest, OrcFileEntry}
    val dir = Files.createTempDirectory("graft-compact-race").toString
    (0 until 3).foreach { i =>
      spark.range(i * 5, (i + 1) * 5).toDF("id").coalesce(1)
        .write.format("graft-orc").option("graft.manifest", "true")
        .mode("append").save(dir)
    }
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qt = fs.makeQualified(p)
    val snap = GraftOrcManifest.readSnapshot(fs, qt).get
    val victim = snap.entries.head
    // rival commits first: swaps the victim for a (fake) merged output
    GraftOrcManifest.commitSwap(fs, qt, remove = Set(victim.path),
      add = Seq(victim.copy(path = victim.path + ".merged")),
      op = "compact", expectPresent = Set(victim.path))
    // the loser planned against the OLD snapshot: its inputs include the
    // victim, which is gone — the swap must refuse, not silently re-add
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftOrcManifest.commitSwap(fs, qt, remove = Set(victim.path),
        add = Seq(victim.copy(path = victim.path + ".merged2")),
        op = "compact", expectPresent = Set(victim.path))
    }
    assert(e.getMessage.contains("already replaced"))
  }

  test("graft.compact_after: the commit that crosses the small-file " +
    "threshold auto-compacts inline; graft.compact_zorder keeps the " +
    "layout key-sorted; rows exact throughout") {
    val wh = Files.createTempDirectory("graft-autocompact-wh").toString
    spark.conf.set("spark.sql.catalog.gcpa",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcpa.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcpa.default")
    val t = "gcpa.default.autoc"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES(" +
      "'graft.compact_after'='8', 'graft.compact_zorder'='k')")
    def files(): Long =
      spark.sql(s"SELECT count(*) FROM $t.files").head().getLong(0)
    def append(i: Int): Unit =
      spark.range(i * 10, (i + 1) * 10)
        .select($"id".as("k"), ($"id" * 3).as("v"))
        .coalesce(1).writeTo(t).append()
    (0 until 7).foreach(append)
    assert(files() === 7L, "below the threshold nothing may compact")
    append(7) // 8th small file crosses the threshold -> inline compact
    val after = files()
    assert(after < 7L, s"expected the 8th commit to auto-compact, " +
      s"table still has $after files")
    val rows = spark.table(t).orderBy($"k").collect()
    assert(rows.length === 80 &&
      rows.map(_.getLong(0)).toSeq === (0L until 80L),
      "auto-compaction changed the table's contents")
    // the cycle repeats: more small commits re-cross and re-compact
    (8 until 16).foreach(append)
    assert(files() < 9L,
      "the second threshold crossing should have compacted again")
    assert(spark.table(t).count() === 160L)
  }

  test("cross-driver intent marker: a rival's fresh compact.intent makes " +
    "the threshold-crossing commit SKIP auto-compaction (counted as " +
    "skipped_cross_driver); once the marker ages past the cooldown the " +
    "next commit compacts and clears its own stamp") {
    val wh = Files.createTempDirectory("graft-intent-wh").toString
    spark.conf.set("spark.sql.catalog.gcim",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcim.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcim.default")
    val t = "gcim.default.intm"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES(" +
      "'graft.compact_after'='8')")
    def files(): Long =
      spark.sql(s"SELECT count(*) FROM $t.files").head().getLong(0)
    def append(i: Int): Unit =
      spark.range(i * 10, (i + 1) * 10)
        .select($"id".as("k"), ($"id" * 3).as("v"))
        .coalesce(1).writeTo(t).append()
    (0 until 7).foreach(append)
    // catalog layout: <warehouse>/<ns>/<table>; marker beside snapshots
    val marker = new org.apache.hadoop.fs.Path(
      s"$wh/default/intm/_graft_manifest/compact.intent")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a RIVAL driver's fresh stamp (foreign token, current mtime)
    val out = fs.create(marker, true)
    out.write("not-our-token 0".getBytes("UTF-8")); out.close()
    GraftOrcCompact.resetAutoCompactStats()
    append(7) // crosses the threshold — but the rival is maintaining
    assert(files() === 8L,
      "a fresh rival marker must make the auto pass skip")
    val st1 = GraftOrcCompact.autoCompactStats
    assert(st1("skipped_cross_driver") === 1L && st1("attempted") === 0L,
      s"expected one cross-driver skip, got $st1")
    // age the marker past the 60 s cooldown: the rival crashed or moved
    // on; the next commit may maintain
    fs.setTimes(marker, System.currentTimeMillis() - 120000L, -1L)
    append(8)
    assert(files() < 9L, "an aged marker must not block maintenance")
    val st2 = GraftOrcCompact.autoCompactStats
    assert(st2("attempted") === 1L && st2("landed") === 1L &&
      st2("lost_race") === 0L, s"expected one landed merge, got $st2")
    // our stamp overwrote the stale rival's and was cleared on exit
    assert(!fs.exists(marker),
      "the finished maintenance pass must clear its own stamp")
    assert(spark.table(t).count() === 90L, "rows must be exact throughout")
  }

  test("clock-skew degraded mode: a marker whose store mtime sits far in " +
    "the FUTURE of this driver's clock is NOT fresh — the auto pass " +
    "proceeds (fail-open to the pre-marker racing behavior, arbitrated " +
    "loudly at the swap) instead of skipping forever on a stamp nobody " +
    "will ever clear") {
    val wh = Files.createTempDirectory("graft-intent-skew-wh").toString
    spark.conf.set("spark.sql.catalog.gcis",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcis.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcis.default")
    val t = "gcis.default.ints"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES(" +
      "'graft.compact_after'='8')")
    def files(): Long =
      spark.sql(s"SELECT count(*) FROM $t.files").head().getLong(0)
    def append(i: Int): Unit =
      spark.range(i * 10, (i + 1) * 10)
        .select($"id".as("k"), ($"id" * 3).as("v"))
        .coalesce(1).writeTo(t).append()
    (0 until 7).foreach(append)
    val marker = new org.apache.hadoop.fs.Path(
      s"$wh/default/ints/_graft_manifest/compact.intent")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    out.write("skewed-rival-token 0".getBytes("UTF-8")); out.close()
    // a rival (or the store itself) whose clock runs 10 minutes ahead:
    // under the old one-sided freshness test (now - mtime < cooldown)
    // this marker would read fresh for the next ~11 minutes and a
    // LONG-skewed one forever — every auto pass silently skipping on a
    // stamp whose owner believes it already cleared it
    fs.setTimes(marker, System.currentTimeMillis() + 600000L, -1L)
    GraftOrcCompact.resetAutoCompactStats()
    append(7) // crosses the threshold
    assert(files() < 8L,
      "a future-skewed marker must not block maintenance")
    val st = GraftOrcCompact.autoCompactStats
    assert(st("attempted") === 1L && st("landed") === 1L &&
      st("skipped_cross_driver") === 0L,
      s"expected the pass to proceed through the skewed marker, got $st")
    // our pass stamped over the skewed marker and cleared its own stamp
    assert(!fs.exists(marker),
      "the finished pass must have replaced and cleared the marker")
    assert(spark.table(t).count() === 80L, "rows must be exact throughout")
  }

  test("an explicit compact under a rival's FRESH marker runs anyway " +
    "(the user asked) but leaves the rival's stamp untouched — its " +
    "protection window survives our pass") {
    val dir = Files.createTempDirectory("graft-intent-expl").toString
    (0 until 4).foreach { i =>
      spark.range(i * 10, (i + 1) * 10)
        .selectExpr("id AS k", "id * 3 AS v").coalesce(1)
        .write.format("graft-orc").option("graft.manifest", "true")
        .mode("append").save(dir)
    }
    val marker = new org.apache.hadoop.fs.Path(
      s"$dir/_graft_manifest/compact.intent")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    out.write("not-our-token 0".getBytes("UTF-8")); out.close()
    val st = GraftOrcCompact.compact(spark, dir)
    assert(st.filesCompacted === 4, "explicit compact must never skip")
    assert(fs.exists(marker), "the rival's stamp must survive")
    val in = fs.open(marker)
    val content = try {
      val b = new Array[Byte](64); val n = in.read(b)
      new String(b, 0, n, "UTF-8")
    } finally in.close()
    assert(content.startsWith("not-our-token"),
      "the rival's stamp content must be untouched")
    fs.delete(marker, false)
    assert(spark.read.format("graft-orc").load(dir).count() === 40L)
  }

  test("the maintenance gate also guards auto-consolidation: a rival's " +
    "fresh marker defers the sidecar union; an aged one admits it") {
    val wh = Files.createTempDirectory("graft-intent-cons-wh").toString
    spark.conf.set("spark.sql.catalog.gcic",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcic.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcic.default")
    val t = "gcic.default.intc"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES(" +
      "'graft.delete_mode'='mor', 'graft.consolidate_after'='2')")
    spark.range(100).select($"id".as("k"), ($"id" * 3).as("v"))
      .coalesce(1).writeTo(t).append()
    def sidecars(): Long =
      spark.sql(s"SELECT count(*) FROM $t.deletes").head().getLong(0)
    val marker = new org.apache.hadoop.fs.Path(
      s"$wh/default/intc/_graft_manifest/compact.intent")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(marker, true)
    out.write("not-our-token 0".getBytes("UTF-8")); out.close()
    spark.sql(s"DELETE FROM $t WHERE k = 3")
    spark.sql(s"DELETE FROM $t WHERE k = 7")
    // two live position sidecars crossed consolidate_after=2, but the
    // rival's fresh marker deferred the union
    assert(sidecars() === 2L,
      "a fresh rival marker must defer auto-consolidation")
    fs.setTimes(marker, System.currentTimeMillis() - 120000L, -1L)
    spark.sql(s"DELETE FROM $t WHERE k = 11")
    assert(sidecars() === 1L,
      "an aged marker must admit the consolidation")
    assert(spark.table(t).count() === 97L)
  }

  test("SET TBLPROPERTIES between appends does not fragment compaction " +
    "bins: props-only DDL keeps schemaV, so files across the stamps " +
    "still merge (the per-batch property-stamp ingest pattern)") {
    val wh = Files.createTempDirectory("graft-propsv-wh").toString
    spark.conf.set("spark.sql.catalog.gcpv",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcpv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcpv.default")
    val t = "gcpv.default.propsv"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      spark.range(i * 10, (i + 1) * 10)
        .select($"id".as("k"), ($"id" * 3).as("v"))
        .coalesce(1).writeTo(t).append()
      // the per-batch stamp (e.g. an ingest high-water mark)
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('app.mark'='$i')")
    }
    def files(): Long =
      spark.sql(s"SELECT count(*) FROM $t.files").head().getLong(0)
    assert(files() === 4L)
    val stats = GraftOrcCompact.compact(spark, s"$wh/default/propsv")
    assert(stats.filesCompacted === 4 && stats.filesOut === 1,
      s"props-only DDL fragmented the bins: $stats")
    assert(files() === 1L)
    assert(spark.table(t).count() === 40L)
    // the stamps themselves survived
    val mark = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .collectFirst { case r if r.getString(0) == "app.mark" =>
        r.getString(1) }
    assert(mark.contains("3"))
  }

  test("files at or above the small-file threshold are left untouched") {
    val dir = Files.createTempDirectory("graft-orc-compact2").toString
    val nation = Tables.nation(spark, TestSpark.sf0001)
    (1 to 2).foreach { _ =>
      nation.coalesce(1).write.format("graft-orc").mode("append").save(dir)
    }
    val names = orcFiles(dir).map(_.getName).toSet
    // every file is "large" under a 1-byte threshold -> nothing merges
    val stats = GraftOrcCompact.compact(spark, dir, smallFileBytes = 1L,
      targetBytes = 1L)
    assert(stats.bins === 0)
    assert(orcFiles(dir).map(_.getName).toSet === names)
  }

  test("two writers racing auto-compaction and an explicit compactor on " +
    "one path table under the file commit lock: the table stays " +
    "row-exact and id-distinct") {
    val dir = Files.createTempDirectory("graft-xwriter").toString + "/t"
    spark.range(0).selectExpr("id", "id AS v")
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)
    val writers = 2
    val commits = 8
    val rowsPerCommit = 500L
    val saved = spark.conf.getOption("spark.graft.compact_after")
    // 4 tiny files per commit: the threshold trips on almost every
    // commit once the table warms up, so auto passes overlap the other
    // writer's appends
    spark.conf.set("spark.graft.compact_after", "8")
    GraftOrcCompact.resetAutoCompactStats()
    // explicit passes that merged files / lost the swap to a rival
    val explicitLanded = new java.util.concurrent.atomic.AtomicInteger()
    val explicitLost = new java.util.concurrent.atomic.AtomicInteger()
    try withProps("graft.commit.lock" -> "file") {
      val errs = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Throwable]())
      val writing = new java.util.concurrent.CountDownLatch(writers)
      val threads = (0 until writers).map { w =>
        val t = new Thread(() =>
          try (0 until commits).foreach { i =>
            // writer-disjoint ascending ids
            val base = w * 1000000000L + i * 1000000L
            spark.range(rowsPerCommit)
              .selectExpr(s"id + ${base}L AS id", "id * 2 AS v")
              .repartition(4)
              .write.format("graft-orc").option("graft.manifest", "true")
              .mode("append").save(dir)
          } catch { case e: Throwable => errs.add(e) }
          finally writing.countDown(),
          s"graft-xwriter-$w")
        t.start(); t
      }
      // an explicit run never skips on the in-JVM in-flight flag, so it
      // overlaps the writers' auto passes: maintenance races
      // maintenance, and the swap must arbitrate without losing rows.
      // The pause leaves windows in which the flag is free for an auto
      // pass to take.
      val compactor = new Thread(() =>
        try while (writing.getCount > 0) {
          try {
            if (GraftOrcCompact.compact(spark, dir).filesCompacted > 0)
              explicitLanded.incrementAndGet()
          } catch {
            case _: java.util.ConcurrentModificationException =>
              explicitLost.incrementAndGet()
          }
          Thread.sleep(200)
        } catch { case e: Throwable => errs.add(e) },
        "graft-xcompactor")
      compactor.start()
      threads.foreach(_.join(300000))
      compactor.join(300000)
      assert(errs.isEmpty, s"a writer or the compactor failed: $errs")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.graft.compact_after", v)
      case None => spark.conf.unset("spark.graft.compact_after")
    }
    val expected = writers.toLong * commits * rowsPerCommit
    val r = spark.read.format("graft-orc").load(dir)
      .agg(count(lit(1)), countDistinct($"id")).head()
    assert(r.getLong(0) === expected && r.getLong(1) === expected,
      s"expected $expected rows, got ${r.getLong(0)} " +
        s"(${r.getLong(1)} distinct) — a maintenance run lost or " +
        "duplicated rows")
    // both kinds of maintenance really committed merges during the race,
    // and every auto pass either landed or lost the swap loudly (a pass
    // failing any other way is only logged by the committer). The lost
    // counts show how often the two overlapped.
    val stats = GraftOrcCompact.autoCompactStats
    info(s"auto passes $stats; explicit landed ${explicitLanded.get}, " +
      s"lost ${explicitLost.get}")
    assert(stats("landed") > 0, s"no auto-compaction landed: $stats")
    assert(stats("attempted") === stats("landed") + stats("lost_race"),
      s"an auto pass failed: $stats")
    assert(explicitLanded.get > 0, "no explicit compaction merged files")
  }
}

package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftOrcCompact, GraftOrcManifest, GraftOrcSchema}

/** Field-ID schema evolution over the manifest log ([[GraftOrcSchema]]).
  * The invariants under test are the two silent-corruption shapes
  * name-based schema merge cannot avoid:
  *  - a RENAME follows the data: old files keep serving the column under
  *    its new name (no sudden nulls), including a->b->c chains and a<->b
  *    swaps (which pure alias-guessing cannot resolve);
  *  - a DROP is forever: re-adding a dropped name yields a FRESH field —
  *    old files' bytes for the dead column never resurrect.
  * Plus: adds null-fill old files, widenings decode old narrow files
  * through ORC's own conversion, DDL commits are atomic snapshots (time
  * travel reads an old snapshot under ITS schema), and stats-driven
  * pruning/classification stays CORRECT (never stale-name-keyed) across
  * renames.
  */
class GraftOrcSchemaEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def conf = spark.sparkContext.hadoopConfiguration

  private def alter(dir: String)(
      f: GraftOrcManifest.TableMeta => GraftOrcManifest.TableMeta): Unit =
    GraftOrcSchema.alter(conf, dir)(f)

  private def readAll(dir: String) =
    spark.read.format("graft-orc").load(dir)

  /** Manifest table with two int columns (a, b) and values (i, i*10). */
  private def abTable(n: Int = 10): String = {
    val dir = freshDir("graft-evo")
    (0 until n).map(i => (i, i * 10)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)
    dir
  }

  test("rename follows the data: old files serve the new name; a second " +
    "append writes the new physical name; both read identically") {
    val dir = abTable()
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "b2"))
    // post-DDL schema is the persisted one
    val df = readAll(dir)
    assert(df.schema.fieldNames.toSeq == Seq("a", "b2"))
    assert(df.select("a", "b2").as[(Int, Int)].collect().sorted.toSeq ==
      (0 until 10).map(i => (i, i * 10)))
    // append AFTER the rename: new file physically carries b2
    Seq((100, 1000)).toDF("a", "b2").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    val all = readAll(dir).select("a", "b2").as[(Int, Int)].collect().sorted
    assert(all.toSeq == (0 until 10).map(i => (i, i * 10)) :+ (100, 1000))
    // the old column name is gone
    assertThrows[org.apache.spark.sql.AnalysisException] {
      readAll(dir).select("b").collect()
    }
  }

  test("rename chain and swap resolve per-version (alias guessing " +
    "cannot): a->tmp, b->a, tmp->b swaps the columns of OLD files") {
    val dir = abTable(5)
    alter(dir)(GraftOrcSchema.renameColumn(_, "a", "tmp"))
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "a"))
    alter(dir)(GraftOrcSchema.renameColumn(_, "tmp", "b"))
    // now "a" must read the ORIGINAL b values and vice versa
    val rows = readAll(dir).select("a", "b").as[(Int, Int)].collect().sorted
    assert(rows.toSeq == (0 until 5).map(i => (i * 10, i)))
  }

  test("add null-fills old files, new appends carry values; drop then " +
    "re-add the same name NEVER resurrects the dropped bytes") {
    val dir = abTable(3)
    alter(dir)(GraftOrcSchema.addColumn(_, "c", StringType))
    assert(readAll(dir).select("c").collect().forall(_.isNullAt(0)))
    Seq((7, 70, "x")).toDF("a", "b", "c").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    val withC = readAll(dir).select("a", "c").as[(Int, Option[String])]
      .collect().toMap
    assert(withC(7).contains("x") && withC(0).isEmpty)
    // drop b, then re-add a column NAMED b: old files hold real bytes
    // under the physical name "b" — they must NOT come back
    alter(dir)(GraftOrcSchema.dropColumn(_, "b"))
    assert(!readAll(dir).schema.fieldNames.contains("b"))
    alter(dir)(GraftOrcSchema.addColumn(_, "b", IntegerType))
    val bVals = readAll(dir).select("b").collect()
    assert(bVals.forall(_.isNullAt(0)),
      "re-added column resurrected dropped data")
  }

  test("widen int->long decodes old narrow files; new files write wide; " +
    "filters still prune correctly across both") {
    val dir = abTable(5)
    alter(dir)(GraftOrcSchema.widenColumn(_, "b", LongType))
    val df = readAll(dir)
    assert(df.schema("b").dataType == LongType)
    assert(df.select("b").as[Long].collect().sorted.toSeq ==
      (0 until 5).map(_ * 10L))
    Seq((9, 90L)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    // filter spans an old (narrow) and a new (wide) file
    assert(readAll(dir).filter($"b" >= 30L).select("b").as[Long]
      .collect().sorted.toSeq == Seq(30L, 40L, 90L))
    // illegal narrowing / unsupported change fails loudly at DDL time
    assertThrows[IllegalArgumentException] {
      alter(dir)(GraftOrcSchema.widenColumn(_, "a", ShortType))
    }
  }

  test("DDL is an atomic snapshot: time travel reads the old snapshot " +
    "under the OLD schema") {
    val dir = abTable(4)
    val preDdlSeq = GraftOrcManifest.listSnapshots(
      new Path(dir).getFileSystem(conf), new Path(dir)).get.last.seq
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "renamed"))
    val old = spark.read.format("graft-orc")
      .option("graft.snapshot_id", preDdlSeq.toString).load(dir)
    assert(old.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(old.select("b").as[Int].collect().sorted.toSeq ==
      Seq(0, 10, 20, 30))
    assert(readAll(dir).schema.fieldNames.toSeq == Seq("a", "renamed"))
  }

  test("stat-sidecar file pruning translates names per file version — " +
    "filters on a renamed column still PRUNE old files (and never " +
    "mis-prune)") {
    val dir = freshDir("graft-evo-prune")
    // two files with disjoint b ranges, then rename b -> metric
    Seq((1, 100)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)
    Seq((2, 200)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "metric"))
    // correctness: the filter selects exactly the right rows
    assert(readAll(dir).filter($"metric" === 200).select("a").as[Int]
      .collect().toSeq == Seq(2))
    // pruning: only ONE file becomes an input partition (the sidecar of
    // the other file proves metric=200 impossible via its old-name stats)
    val plan = readAll(dir).filter($"metric" === 200).select("a")
    plan.collect()
    val leaf = plan.queryExecution.executedPlan.collectLeaves().head
    val filesRead = leaf.metrics.find(_._1 == "graftFilesRead").map(_._2.value)
    assert(filesRead.contains(1L),
      s"expected 1 file read after sidecar pruning, got $filesRead")
  }

  test("DELETE classification translates names: a delete on the renamed " +
    "column full-drops the matching file as pure metadata and keeps the " +
    "other file's identity") {
    val dir = freshDir("graft-evo-del")
    Seq((1, 100), (11, 110)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)
    Seq((2, 200), (22, 220)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "metric"))
    val fsys = new Path(dir).getFileSystem(conf)
    val before = GraftOrcManifest.readSnapshot(fsys, new Path(dir)).get
      .entries.map(_.path).sorted
    spark.sql(s"CREATE TABLE g_evo_del USING `graft-orc` LOCATION '$dir'")
    try {
      spark.sql("DELETE FROM g_evo_del WHERE metric >= 200")
      val after = GraftOrcManifest.readSnapshot(fsys, new Path(dir)).get
        .entries.map(_.path).sorted
      // the surviving file kept its IDENTITY (metadata-only delete of the
      // other — no rewrite of anything)
      assert(after.size == 1 && before.contains(after.head))
      assert(readAll(dir).select("a").as[Int].collect().sorted.toSeq ==
        Seq(1, 11))
    } finally spark.sql("DROP TABLE g_evo_del")
  }

  test("aggregate pushdown refuses mixed-version files after a rename " +
    "but returns after compaction rewrites to the current schema") {
    val dir = abTable(6)
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "m"))
    Seq((50, 500)).toDF("a", "m").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    def maxM: Long = {
      val df = spark.read.format("graft-orc")
        .option("orc.aggregate_pushdown", "true").load(dir)
        .agg(org.apache.spark.sql.functions.max($"m"))
      df.collect().head.getInt(0).toLong
    }
    def planHasAggPushdown: Boolean =
      TestSpark.aggScans(spark.read.format("graft-orc")
        .option("orc.aggregate_pushdown", "true").load(dir)
        .agg(org.apache.spark.sql.functions.max($"m"))) > 0
    assert(maxM == 500L)
    assert(!planHasAggPushdown,
      "stats-keyed agg pushdown must refuse mixed-version files")
    // compaction groups by schema version and rewrites/merges; run a
    // stripe-copy compact, then check pushdown again only if all files
    // now share the current version — the correctness half (maxM) must
    // hold either way
    GraftOrcCompact.compact(spark, dir)
    assert(maxM == 500L)
  }

  test("MoR delete then purge across a rename: positions apply to old " +
    "files, purge rewrites them to the CURRENT schema") {
    val dir = freshDir("graft-evo-mor")
    (0 until 8).map(i => (i, i * 10)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").option("graft.manifest", "true")
      .mode("overwrite").save(dir)
    alter(dir)(GraftOrcSchema.renameColumn(_, "b", "m"))
    spark.sql(s"CREATE TABLE g_evo_mor USING `graft-orc` LOCATION '$dir' " +
      "TBLPROPERTIES('graft.delete_mode'='mor')")
    try {
      spark.sql("DELETE FROM g_evo_mor WHERE m = 30")
      assert(readAll(dir).select("m").as[Int].collect().sorted.toSeq ==
        Seq(0, 10, 20, 40, 50, 60, 70))
      // purge rewrites the affected (old-version) file: afterwards the
      // physical file carries the CURRENT name and version
      graft.sources.v2.GraftOrcMor.purge(spark, dir)
      assert(readAll(dir).select("m").as[Int].collect().sorted.toSeq ==
        Seq(0, 10, 20, 40, 50, 60, 70))
      val snap = GraftOrcManifest.readSnapshot(
        new Path(dir).getFileSystem(conf), new Path(dir)).get
      assert(snap.deletes.isEmpty)
      assert(snap.entries.forall(_.schemaV == snap.meta.get.schemaV),
        "purge outputs must carry the current schema version")
    } finally spark.sql("DROP TABLE g_evo_mor")
  }

  test("bootstrap: the first DDL on a pre-evolution manifest table " +
    "assigns ids from the inferred schema; existing v=0 files keep " +
    "serving every original field") {
    val dir = abTable(3)
    // simulate a pre-evolution table: entries already have v=0 from the
    // initial write (no DDL yet) — the first alter bootstraps meta
    val meta = GraftOrcSchema.alter(conf, dir)(
      GraftOrcSchema.addColumn(_, "extra", DoubleType))
    assert(meta.schemaV == 2L) // bootstrap=1, add=2
    assert(GraftOrcSchema.fieldId(meta.schema("a")).contains(1L))
    assert(GraftOrcSchema.fieldId(meta.schema("extra")).contains(3L))
    val rows = readAll(dir).select("a", "b", "extra").collect()
    assert(rows.length == 3 && rows.forall(_.isNullAt(2)))
    assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
  }

  // ---- write-path schema evolution (graft.merge_schema) ---------------

  test("merge_schema append: a superset batch auto-adds its new columns " +
    "as one DDL commit — old rows null-fill, new files stamp the evolved " +
    "version, time travel still reads the old shape") {
    val dir = abTable(3)
    val seqBefore = GraftOrcManifest.readSnapshot(
      new Path(dir).getFileSystem(conf), new Path(dir)).get.seq
    Seq((100, 1000, "x", 1.5), (101, 1010, "y", 2.5))
      .toDF("a", "b", "tag", "score").coalesce(1)
      .write.format("graft-orc").option("graft.merge_schema", "true")
      .mode("append").save(dir)
    val fs = new Path(dir).getFileSystem(conf)
    val snap = GraftOrcManifest.readSnapshot(fs, new Path(dir)).get
    // exactly two commits: the DDL (bootstrap + 2 adds) and the append
    assert(snap.seq == seqBefore + 2, s"${snap.seq} vs $seqBefore")
    val meta = snap.meta.get
    assert(meta.schema.fieldNames.toSeq == Seq("a", "b", "tag", "score"))
    // new files carry the evolved version; originals stay at 0
    assert(snap.entries.exists(_.schemaV == meta.schemaV) &&
      snap.entries.exists(_.schemaV == 0L))
    val rows = readAll(dir).selectExpr("a", "tag", "score")
      .collect().sortBy(_.getInt(0))
    assert(rows.length == 5)
    assert(rows.take(3).forall(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(rows(3).getString(1) == "x" && rows(4).getDouble(2) == 2.5)
    // the pre-merge snapshot still reads the two-column shape
    val old = spark.read.format("graft-orc")
      .option("graft.snapshot_id", seqBefore.toString).load(dir)
    assert(old.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(old.count() == 3)
  }

  test("merge_schema append WIDENS int->long as metadata; without the " +
    "option the same superset batch is refused with a pointer to it; " +
    "missing columns refuse even with it") {
    val dir = abTable(3)
    // no option -> typed refusal naming the remedy
    val err = intercept[IllegalArgumentException] {
      Seq((1, 2, "z")).toDF("a", "b", "c").write.format("graft-orc")
        .mode("append").save(dir)
    }
    assert(err.getMessage.contains("graft.merge_schema"))
    // widening via merge: b arrives as BIGINT
    Seq((200, 20L)).toDF("a", "b").coalesce(1)
      .write.format("graft-orc").option("graft.merge_schema", "true")
      .mode("append").save(dir)
    val meta = GraftOrcManifest.readSnapshot(
      new Path(dir).getFileSystem(conf), new Path(dir)).get.meta.get
    assert(meta.schema("b").dataType == LongType)
    val vals = readAll(dir).selectExpr("sum(b)").as[Long].head()
    assert(vals == 0 + 10 + 20 + 20L)
    // a non-widenable change still refuses
    val err2 = intercept[IllegalArgumentException] {
      Seq((1, "no")).toDF("a", "b").write.format("graft-orc")
        .option("graft.merge_schema", "true").mode("append").save(dir)
    }
    assert(err2.getMessage.contains("has type"))
    // missing columns refuse regardless of the option
    val err3 = intercept[IllegalArgumentException] {
      Seq(Tuple1(1)).toDF("a").write.format("graft-orc")
        .option("graft.merge_schema", "true").mode("append").save(dir)
    }
    assert(err3.getMessage.contains("missing columns"))
  }

  test("TBLPROPERTIES('graft.merge_schema'='true') makes evolution the " +
    "table default; an explicit false option overrides it") {
    val dir = abTable(3)
    alter(dir)(m => m.copy(props = m.props + ("graft.merge_schema" -> "true")))
    Seq((300, 30, 7.0)).toDF("a", "b", "w").coalesce(1)
      .write.format("graft-orc").mode("append").save(dir)
    assert(readAll(dir).schema.fieldNames.toSeq == Seq("a", "b", "w"))
    assert(readAll(dir).count() == 4)
    val err = intercept[IllegalArgumentException] {
      Seq((1, 2, 3.0, "q")).toDF("a", "b", "w", "q")
        .write.format("graft-orc").option("graft.merge_schema", "false")
        .mode("append").save(dir)
    }
    assert(err.getMessage.contains("unexpected columns"))
  }

  test("two concurrent merge_schema appends adding the SAME column " +
    "both commit — the auto-DDL is idempotent under the alter retry") {
    val dir = abTable(3)
    val errs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    val threads = (0 until 2).map { i =>
      new Thread(() =>
        try Seq((500 + i, 5, s"t$i")).toDF("a", "b", "tag")
          .coalesce(1).write.format("graft-orc")
          .option("graft.merge_schema", "true").mode("append").save(dir)
        catch { case t: Throwable => errs.add(t) },
        s"merge-race-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toString)
    val back = readAll(dir)
    assert(back.schema.fieldNames.toSeq == Seq("a", "b", "tag"))
    assert(back.count() == 5)
    assert(back.filter($"a" >= 500).select("tag").as[String]
      .collect().sorted.toSeq == Seq("t0", "t1"))
    // a racing add with a DIFFERENT type still fails typed
    val err = intercept[Exception] {
      Seq((600, 6, 1.5)).toDF("a", "b", "tag").write.format("graft-orc")
        .option("graft.merge_schema", "true").mode("append").save(dir)
    }
    assert(err.getMessage.contains("has type"), err.getMessage)
  }

  test("merge_schema on a branch append is refused — evolution commits " +
    "to the main lineage a staged write must not mutate") {
    val dir = abTable(3)
    GraftOrcManifest.createBranch(
      new Path(dir).getFileSystem(conf), new Path(dir), "audit")
    val err = intercept[IllegalArgumentException] {
      Seq((1, 2, "x")).toDF("a", "b", "c").write.format("graft-orc")
        .option("graft.merge_schema", "true")
        .option("graft.branch", "audit").mode("append").save(dir)
    }
    assert(err.getMessage.contains("branch"))
  }
}

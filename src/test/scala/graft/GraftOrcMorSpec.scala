package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.v2.{GraftOrcCompact, GraftOrcManifest, GraftOrcMor}

/** Merge-on-read DELETE (position-delete sidecars, the Iceberg-v2 shape):
  * a DELETE under `graft.delete_mode=mor` writes tiny `(f, pos)` sidecars
  * instead of rewriting data files; readers subtract the positions at
  * scan time; a purge (run by every compact) rewrites the affected files
  * and retires the sidecars, restoring the vectorized path.
  */
class GraftOrcMorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapshot(dir: String): GraftOrcManifest.Snapshot =
    GraftOrcManifest.readSnapshot(fsOf(dir), new Path(dir)).get

  /** Seeded frame with a NULL-bearing column (three-valued semantics). */
  private def seeded: DataFrame =
    spark.range(200).select($"id",
      when($"id" % 7 === 0, lit(null).cast("double"))
        .otherwise(($"id" % 100).cast("double")).as("bal"))

  private def morTable(tag: String, df: DataFrame,
                       parts: Int = 4): (String, String) = {
    val dir = Files.createTempDirectory(s"graft-mor-$tag").toString
    df.repartition(parts).write.format("graft-orc")
      .option("graft.manifest", "true").mode("append").save(dir)
    val name = s"g_mor_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-orc` LOCATION '$dir' " +
      "TBLPROPERTIES('graft.delete_mode'='mor')")
    (dir, name)
  }

  test("MoR DELETE keeps every data file's identity and commits only " +
    "position sidecars; results match the predicate, NULL keeps the row") {
    val (dir, t) = morTable("basic", seeded)
    try {
      val before = snapshot(dir)
      // bal < 50 is NULL for the id%7 rows -> they must survive
      spark.sql(s"DELETE FROM $t WHERE bal < 50")
      val after = snapshot(dir)
      assert(after.seq === before.seq + 1)
      assert(after.entries.map(_.path).toSet ===
        before.entries.map(_.path).toSet,
        "no data file may be rewritten or dropped by a partial MoR delete")
      assert(after.deletes.nonEmpty, "position sidecars must be committed")
      assert(after.deletes.forall(_.path.contains(GraftOrcMor.DeletesDir)))
      val got = spark.read.format("graft-orc").load(dir)
        .select($"id").as[Long].collect().sorted
      val want = seeded.filter($"bal" >= 50 || $"bal".isNull)
        .select($"id").as[Long].collect().sorted
      assert(got.toSeq === want.toSeq)
      // time travel: the pre-delete snapshot still reads in full
      assert(spark.read.format("graft-orc")
        .option("graft.snapshot_id", before.seq.toString)
        .load(dir).count() === 200L)
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_basic")
  }

  test("a second MoR delete stacks; limits count surviving rows") {
    val (dir, t) = morTable("stack", seeded)
    try {
      spark.sql(s"DELETE FROM $t WHERE bal < 30")
      spark.sql(s"DELETE FROM $t WHERE bal >= 80")
      assert(snapshot(dir).deletes.size >= 2)
      val survivors = seeded.filter(
        ($"bal" >= 30 && $"bal" < 80) || $"bal".isNull)
      val got = spark.read.format("graft-orc").load(dir)
      assert(got.count() === survivors.count())
      // a pushed per-file limit must truncate on SURVIVING rows
      assert(got.limit(10).collect().length === 10)
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_stack")
  }

  test("positions are file-absolute across stripe splits") {
    val dir = Files.createTempDirectory("graft-mor-split").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = Option(hc.get("orc.stripe.row.count"))
    hc.set("orc.stripe.row.count", "5000")
    try {
      spark.range(30000L).select($"id".as("v"),
          md5(concat_ws(":", $"id", lit("pad"))).as("pad"))
        .coalesce(1).sortWithinPartitions($"v")
        .write.format("graft-orc").option("graft.manifest", "true")
        .mode("append").save(dir)
    } finally {
      prev match { case Some(v) => hc.set("orc.stripe.row.count", v)
                   case None => hc.unset("orc.stripe.row.count") }
    }
    spark.sql(s"DROP TABLE IF EXISTS g_mor_split")
    spark.sql(s"CREATE TABLE g_mor_split USING `graft-orc` LOCATION " +
      s"'$dir' TBLPROPERTIES('graft.delete_mode'='mor')")
    try {
      spark.sql("DELETE FROM g_mor_split WHERE v % 3 = 1")
      // tiny split size => several splits over the one multi-stripe
      // file; each split must subtract its own position range
      val got = spark.read.format("graft-orc")
        .option("graft.split_size", "65536").load(dir)
        .select($"v").as[Long].collect().sorted
      assert(got.length === 20000)
      assert(got.forall(v => v % 3 != 1))
      assert(snapshot(dir).entries.size === 1, "single data file kept")
    } finally spark.sql("DROP TABLE IF EXISTS g_mor_split")
  }

  test("MoR and CoW deletes of the same predicate agree on the final " +
    "table state") {
    val pred = "bal < 40 AND id % 2 = 0"
    val (dirM, tM) = morTable("vsmor", seeded)
    val dirC = Files.createTempDirectory("graft-mor-vscow").toString
    seeded.repartition(4).write.format("graft-orc")
      .option("graft.manifest", "true").mode("append").save(dirC)
    spark.sql(s"DROP TABLE IF EXISTS g_cow_vs")
    spark.sql(s"CREATE TABLE g_cow_vs USING `graft-orc` LOCATION '$dirC'")
    try {
      spark.sql(s"DELETE FROM $tM WHERE $pred")
      spark.sql(s"DELETE FROM g_cow_vs WHERE $pred")
      val m = spark.read.format("graft-orc").load(dirM)
        .select($"id").as[Long].collect().sorted
      val c = spark.read.format("graft-orc").load(dirC)
        .select($"id").as[Long].collect().sorted
      assert(m.toSeq === c.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_mor_vsmor")
      spark.sql("DROP TABLE IF EXISTS g_cow_vs")
    }
  }

  test("a copy-on-write rewrite after a MoR delete does not resurrect " +
    "deleted rows (UPDATE path)") {
    val (dir, t) = morTable("resurrect", seeded)
    try {
      spark.sql(s"DELETE FROM $t WHERE bal < 20")
      // UPDATE pays copy-on-write on every file it touches; the rewrite
      // must subtract the sidecar positions first
      spark.sql(s"UPDATE $t SET bal = 999 WHERE bal >= 90")
      val got = spark.read.format("graft-orc").load(dir)
      assert(got.filter($"bal" < 20).count() === 0L,
        "MoR-deleted rows must not resurrect through the UPDATE rewrite")
      val wantRows = seeded.filter($"bal" >= 20 || $"bal".isNull).count()
      assert(got.count() === wantRows)
      assert(got.filter($"bal" === 999).count() ===
        seeded.filter($"bal" >= 90).count())
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_resurrect")
  }

  test("purge rewrites exactly the affected files, retires all sidecars, " +
    "and restores columnar scans + aggregate pushdown; compact auto-purges") {
    val (dir, t) = morTable("purge", seeded)
    try {
      spark.sql(s"DELETE FROM $t WHERE bal < 50")
      val withDeletes = snapshot(dir)
      val before = spark.read.format("graft-orc").load(dir)
        .select($"id").as[Long].collect().sorted
      // with live sidecars: row counts degrade, agg pushdown refused
      def aggPushed = TestSpark.aggScans(spark.read.format("graft-orc")
        .option("orc.aggregate_pushdown", "true").load(dir)
        .agg(count(lit(1)))) === 1
      assert(!aggPushed,
        "aggregate pushdown must be refused while sidecars are live")
      // compact runs the purge before binning
      GraftOrcCompact.compact(spark, dir)
      val purged = snapshot(dir)
      assert(purged.deletes.isEmpty, "purge retires every sidecar")
      val after = spark.read.format("graft-orc").load(dir)
        .select($"id").as[Long].collect().sorted
      assert(after.toSeq === before.toSeq,
        "purge must not change the table's content")
      // sidecar files physically die once no retained snapshot holds them
      // (retention still covers withDeletes here, so only check the
      // snapshot de-references them)
      assert(withDeletes.deletes.nonEmpty)
      // columnar path restored: agg pushdown plans again
      assert(aggPushed)
      assert(spark.read.format("graft-orc").load(dir).count() ===
        seeded.filter($"bal" >= 50 || $"bal".isNull).count())
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_purge")
  }

  test("_file/_pos stay usable on a MoR table; count(*) is exact") {
    val (dir, t) = morTable("meta", seeded)
    try {
      spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")
      val rows = spark.read.format("graft-orc").load(dir)
        .select($"_file", $"_pos", $"id").collect()
      assert(rows.length === 180)
      // per (file, pos) uniqueness survives the subtraction
      assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct
        .length === rows.length)
      assert(spark.read.format("graft-orc").load(dir).count() === 180L)
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_meta")
  }

  test("an append AFTER a MoR delete carries the sidecars forward — " +
    "deleted rows must not resurrect") {
    val (dir, t) = morTable("appendafter", seeded)
    try {
      spark.sql(s"DELETE FROM $t WHERE bal < 50")
      val afterDelete = spark.read.format("graft-orc").load(dir)
        .select($"id").as[Long].collect().toSet
      // plain append (no MoR options at all — the common case)
      spark.range(1000, 1010).select($"id",
          ($"id" % 100).cast("double").as("bal"))
        .write.format("graft-orc").mode("append").save(dir)
      val snap = snapshot(dir)
      assert(snap.deletes.nonEmpty,
        "append snapshot dropped the live position-delete sidecars")
      val got = spark.read.format("graft-orc").load(dir)
        .select($"id").as[Long].collect().toSet
      assert(got === afterDelete ++ (1000L until 1010L),
        "append resurrected MoR-deleted rows")
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_appendafter")
  }

  test("a CoW UPDATE of one file after a MoR delete on another keeps " +
    "the untouched file's deletions") {
    val (dir, t) = morTable("updafter", seeded)
    try {
      // MoR delete hits rows spread across all files
      spark.sql(s"DELETE FROM $t WHERE bal >= 90")
      val afterDelete = spark.read.format("graft-orc").load(dir)
        .select($"id", $"bal").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      // group-based CoW UPDATE: rewrites only files where id < 10 may
      // live; every other file keeps its identity AND its sidecars
      spark.sql(s"UPDATE $t SET bal = 0.5 WHERE id < 10 AND bal < 5")
      val got = spark.read.format("graft-orc").load(dir)
        .select($"id", $"bal").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      val expect = afterDelete.map {
        case (id, Some(b)) if id < 10 &&
          b.asInstanceOf[Double] < 5 => (id, Some(0.5: Any))
        case other => other
      }
      assert(got === expect,
        "CoW rewrite commit resurrected MoR-deleted rows")
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_updafter")
  }

  test("incremental read with graft.on_rewrite=fail stops at a MoR " +
    "delete snapshot; replay/skip proceed") {
    val (dir, t) = morTable("incr", seeded)
    try {
      val startSeq = snapshot(dir).seq
      spark.range(200, 250).select($"id",
          ($"id" % 100).cast("double").as("bal"))
        .write.format("graft-orc").mode("append").save(dir)
      spark.sql(s"DELETE FROM $t WHERE bal < 10")
      val e = intercept[IllegalStateException] {
        spark.read.format("graft-orc")
          .option("graft.start_snapshot_id", startSeq.toString)
          .option("graft.on_rewrite", "fail").load(dir).count()
      }
      assert(e.getMessage.contains("position-delete sidecars") ||
        e.getMessage.contains("not append-only"))
      // skip: the append delivers; the delete event carries no new files
      val skipped = spark.read.format("graft-orc")
        .option("graft.start_snapshot_id", startSeq.toString)
        .option("graft.on_rewrite", "skip").load(dir)
      assert(skipped.count() === 50L)
    } finally spark.sql(s"DROP TABLE IF EXISTS g_mor_incr")
  }
}

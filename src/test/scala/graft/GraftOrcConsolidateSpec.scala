package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.v2.{GraftOrcDeleteVector, GraftOrcEqDelete, GraftOrcManifest, GraftOrcMor}

/** Deletion-vector consolidation ([[GraftOrcMor.consolidate]] /
  * `CALL cat.system.consolidate_deletes`): N accumulated per-commit
  * position sidecars union into minimal deletion vectors in ONE metadata
  * commit — no data file read or rewritten — so the per-scan-task header
  * walk and `bitmapFor` probes go back to one seek. The cheap
  * maintenance step between purges (Iceberg-v3 DV maintenance shape).
  */
class GraftOrcConsolidateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def snapshot(dir: String): GraftOrcManifest.Snapshot =
    GraftOrcManifest.readSnapshot(fsOf(dir), new Path(dir)).get

  private def seeded: DataFrame =
    spark.range(400).select($"id", ($"id" % 100).cast("double").as("bal"))

  private def morTable(tag: String): (String, String) = {
    val dir = Files.createTempDirectory(s"graft-cons-$tag").toString
    seeded.repartition(4).write.format("graft-orc")
      .option("graft.manifest", "true").mode("append").save(dir)
    val name = s"g_cons_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING `graft-orc` LOCATION '$dir' " +
      "TBLPROPERTIES('graft.delete_mode'='mor')")
    (dir, name)
  }

  private def ids(dir: String): Seq[Long] =
    spark.read.format("graft-orc").load(dir)
      .select($"id").as[Long].collect().sorted.toSeq

  test("N per-commit sidecars consolidate into one deletion vector; " +
    "re-run no-ops") {
    val (dir, t) = morTable("many")
    try {
      // six small DELETE commits -> six deletion vectors
      (0 until 6).foreach(i =>
        spark.sql(s"DELETE FROM $t WHERE id % 40 = $i"))
      assert(ids(dir) === seeded.filter($"id" % 40 >= 6)
        .select($"id").as[Long].collect().sorted.toSeq)
      val before = snapshot(dir)
      assert(before.deletes.size >= 6,
        s"expected >=6 accumulated sidecars, got ${before.deletes.size}")
      val survivors = ids(dir)
      val dataFiles = before.entries.map(_.path).toSet

      val (retired, written) = GraftOrcMor.consolidate(spark, dir)
      assert(retired === before.deletes.size)
      assert(written === 1,
        s"six small sidecars must union into one vector, got $written")
      val after = snapshot(dir)
      assert(after.entries.map(_.path).toSet === dataFiles,
        "consolidation must not touch data files")
      assert(after.deletes.size === 1 &&
        new Path(after.deletes.head.path).getName.startsWith("dv-"))
      assert(ids(dir) === survivors,
        "consolidation must not change the table's content")
      // idempotence: one live sidecar -> nothing to gain
      assert(GraftOrcMor.consolidate(spark, dir) === ((0, 0)))
      // time travel to the pre-consolidation snapshot still subtracts
      // through the RETIRED sidecars
      assert(spark.read.format("graft-orc")
        .option("graft.snapshot_id", before.seq.toString).load(dir)
        .select($"id").as[Long].collect().sorted.toSeq === survivors)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("equality sidecars are left alone (their mtime is an " +
    "applicability watermark); only position sidecars merge") {
    val (dir, t) = morTable("eq")
    try {
      (0 until 3).foreach(i =>
        spark.sql(s"DELETE FROM $t WHERE id % 50 = $i"))
      // a blind upsert leaves an equality sidecar
      GraftOrcEqDelete.upsert(spark, dir,
        Seq((7L, 700.0), (401L, 1.0)).toDF("id", "bal"), keyCols = Seq("id"))
      val before = snapshot(dir)
      val eqBefore = before.deletes.filter(e =>
        GraftOrcEqDelete.isEqualitySidecar(e.path))
      assert(eqBefore.nonEmpty, "the upsert must leave an eq sidecar")
      val survivors = ids(dir)
      val (retired, written) = GraftOrcMor.consolidate(spark, dir)
      assert(retired === before.deletes.size - eqBefore.size)
      assert(written === 1)
      val after = snapshot(dir)
      assert(after.deletes.filter(e =>
        GraftOrcEqDelete.isEqualitySidecar(e.path)).map(e =>
          (e.path, e.mtime)) === eqBefore.map(e => (e.path, e.mtime)),
        "equality sidecars must carry through byte-identical")
      assert(ids(dir) === survivors)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("positions of files a CoW rewrite already replaced drop out: " +
    "the consolidated vector references only live files") {
    val (dir, t) = morTable("inert")
    try {
      (0 until 4).foreach(i =>
        spark.sql(s"DELETE FROM $t WHERE id % 40 = $i"))
      // purge rewrites the affected files and retires sidecars; then two
      // fresh deletes accumulate against the NEW files
      GraftOrcMor.purge(spark, dir)
      spark.sql(s"DELETE FROM $t WHERE id % 40 = 4")
      spark.sql(s"DELETE FROM $t WHERE id % 40 = 5")
      val before = snapshot(dir)
      assert(before.deletes.size === 2)
      val survivors = ids(dir)
      val (retired, written) = GraftOrcMor.consolidate(spark, dir)
      assert(retired === 2 && written === 1)
      val after = snapshot(dir)
      val prefix = fsOf(dir).makeQualified(new Path(dir)).toString
        .stripSuffix("/") + "/"
      val liveRel: Set[String] = after.entries
        .map(_.path.stripPrefix(prefix)).toSet
      val conf = spark.sparkContext.hadoopConfiguration
      val referenced = GraftOrcDeleteVector.files(conf,
        after.deletes.head.path)
      assert(referenced.nonEmpty && referenced.forall(liveRel.contains),
        s"consolidated vector references dead files: " +
          s"${referenced.filterNot(liveRel.contains)}")
      assert(ids(dir) === survivors)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("graft.consolidate_after auto-consolidates once the live " +
    "position sidecar count reaches the threshold") {
    val dir = Files.createTempDirectory("graft-cons-auto").toString
    seeded.repartition(4).write.format("graft-orc")
      .option("graft.manifest", "true").mode("append").save(dir)
    val t = "g_cons_auto"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t USING `graft-orc` LOCATION '$dir' " +
      "TBLPROPERTIES('graft.delete_mode'='mor'," +
      "'graft.consolidate_after'='3')")
    try {
      (0 until 7).foreach { i =>
        spark.sql(s"DELETE FROM $t WHERE id % 40 = $i")
        // the live count never exceeds the threshold: each delete adds
        // one sidecar, and crossing 3 consolidates back to 1
        assert(snapshot(dir).deletes.size <= 3,
          s"after delete $i: ${snapshot(dir).deletes.size} sidecars")
      }
      assert(ids(dir) === seeded.filter($"id" % 40 >= 7)
        .select($"id").as[Long].collect().sorted.toSeq)
      // the threshold commit really consolidated (op recorded)
      assert(snapshot(dir).op.contains("consolidate") ||
        snapshot(dir).deletes.size < 3)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("fast_forward consolidates the sidecars a DML-heavy branch " +
    "staged: branch commits skip auto mode, publish triggers it on main") {
    val wh = Files.createTempDirectory("graft-cons-ff-wh").toString
    spark.conf.set("spark.sql.catalog.gcff",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcff.warehouse", wh)
    spark.sql("CREATE TABLE gcff.bt (id BIGINT, bal DOUBLE) " +
      "TBLPROPERTIES('graft.delete_mode'='mor'," +
      "'graft.consolidate_after'='3')")
    try {
      spark.sql("INSERT INTO gcff.bt " +
        "SELECT /*+ REPARTITION(4) */ id, CAST(id AS DOUBLE) " +
        "FROM range(400)")
      spark.sql("CALL gcff.system.create_branch('bt', 'stage')").collect()
      (0 until 6).foreach(i =>
        spark.sql(s"DELETE FROM gcff.bt.branch_stage WHERE id % 40 = $i"))
      val dir = s"$wh/bt"
      // the BRANCH accumulated past the threshold (auto mode skips
      // branch commits by design)...
      val staged = GraftOrcManifest
        .readSnapshot(fsOf(dir), new Path(dir), Some("stage"))
        .get.deletes.size
      assert(staged > 3, s"branch staged only $staged sidecars")
      // ...and main is untouched pre-publish
      assert(snapshot(dir).deletes.isEmpty)
      spark.sql("CALL gcff.system.fast_forward('bt', 'stage')").collect()
      // publish ran the property-gated consolidation on the merged
      // state: main's live sidecar count is the consolidated handful,
      // not the branch's accumulation
      val main = snapshot(dir).deletes.size
      assert(main <= 1, s"main holds $main sidecars after fast_forward")
      // and the published content is exactly the staged deletes
      assert(spark.sql("SELECT count(*) FROM gcff.bt")
        .collect()(0).getLong(0) === 400L - 60L)
    } finally spark.sql("DROP TABLE IF EXISTS gcff.bt")
  }

  test("CALL cat.system.consolidate_deletes returns the receipt") {
    val wh = Files.createTempDirectory("graft-cons-wh").toString
    spark.conf.set("spark.sql.catalog.gcons",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gcons.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcons.default")
    spark.sql("CREATE TABLE gcons.default.ct (id BIGINT, bal DOUBLE) " +
      "TBLPROPERTIES('graft.delete_mode'='mor')")
    try {
      spark.sql("INSERT INTO gcons.default.ct " +
        "SELECT /*+ REPARTITION(4) */ id, CAST(id AS DOUBLE) " +
        "FROM range(400)")
      (0 until 3).foreach(i =>
        spark.sql(s"DELETE FROM gcons.default.ct WHERE id % 40 = $i"))
      // catalog MoR DELETEs run the per-task delta writers, so each
      // commit can leave several sidecars — count what accumulated
      val acc = spark.sql(
        "SELECT count(*) FROM gcons.default.ct.deletes")
        .collect()(0).getLong(0).toInt
      assert(acc >= 3)
      val r = spark.sql(
        "CALL gcons.system.consolidate_deletes('default.ct')").collect()(0)
      assert(r.getInt(0) === acc && r.getInt(1) === 1)
      assert(spark.sql("SELECT count(*) FROM gcons.default.ct")
        .collect()(0).getLong(0) === 400L - 30L)
    } finally spark.sql("DROP TABLE IF EXISTS gcons.default.ct")
  }
}

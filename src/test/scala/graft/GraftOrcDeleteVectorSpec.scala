package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftOrcDeleteVector, GraftOrcManifest, GraftOrcMor}
import graft.sources.v2.GraftOrcDeleteVector.PositionBitmap

/** Deletion-vector sidecars ([[GraftOrcDeleteVector]] — the Iceberg-v3
  * bitmap encoding, graft's only position-delete encoding). Pins the
  * container math (sparse array <-> dense bitmap switch at 4096, exact
  * round trips at both shapes), the file format (header index walk,
  * seek-to-one-file decode), and the end-to-end table behavior: both
  * MoR writers (SupportsDelete and the delta path) emit only
  * `dv-*.bin`, reads/changelog/purge apply them exactly, and a snapshot
  * that still lists a row-ORC `d-*.orc` sidecar fails the read loudly.
  */
class GraftOrcDeleteVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fsOf(dir: String) = new Path(dir).getFileSystem(conf)

  test("PositionBitmap: sparse and dense containers round-trip exactly; " +
    "the 4096-entry densify point is seamless; contains/cardinality/" +
    "sorted iteration agree") {
    val b = new PositionBitmap
    // sparse chunk (a few scattered ordinals), a chunk crossing the
    // densify threshold, and a far chunk exercising the high-bits key
    val sparse = Seq(0L, 1L, 7L, 65535L)
    val dense = (100000L until 100000L + 5000L by 1L)
    val far = Seq(1L << 33, (1L << 33) + 9)
    val all = (sparse ++ dense ++ far).distinct.sorted
    // insert unsorted + duplicated: order must not matter
    scala.util.Random.shuffle(all ++ all.take(50)).foreach(b.add)
    assert(b.cardinality == all.size)
    assert(b.toSortedArray.toSeq == all)
    all.foreach(p => assert(b.contains(p), s"missing $p"))
    Seq(2L, 99999L, 100000L + 5001L, (1L << 33) + 1).foreach(p =>
      assert(!b.contains(p), s"phantom $p"))
  }

  test("sidecar file: header walk lists files without decoding " +
    "payloads; bitmapFor seeks to one file; allPairs decodes all") {
    val dir = Files.createTempDirectory("graft-dv").toString
    val dest = new Path(dir, "dv-test.bin")
    val a = PositionBitmap.of(Seq(1L, 5L, 9L))
    val bb = PositionBitmap.of(0L until 6000L) // dense
    GraftOrcDeleteVector.write(fsOf(dir), dest,
      Iterator("p=1/a.orc" -> a, "p=2/b.orc" -> bb))
    assert(GraftOrcDeleteVector.files(conf, dest.toString) ==
      Seq("p=1/a.orc", "p=2/b.orc"))
    val got = GraftOrcDeleteVector.bitmapFor(conf, dest.toString,
      "p=2/b.orc").get
    assert(got.cardinality == 6000 && got.contains(5999L) &&
      !got.contains(6000L))
    assert(GraftOrcDeleteVector.bitmapFor(conf, dest.toString,
      "nope.orc").isEmpty)
    val pairs = GraftOrcDeleteVector.allPairs(conf, dest.toString).toSeq
    assert(pairs.size == 6003)
    assert(pairs.take(3) == Seq("p=1/a.orc" -> 1L, "p=1/a.orc" -> 5L,
      "p=1/a.orc" -> 9L))
    // a non-dv file is refused loudly
    val junk = new Path(dir, "dv-junk.bin")
    val out = fsOf(dir).create(junk, true)
    out.write("not a sidecar".getBytes("UTF-8")); out.close()
    assertThrows[java.io.IOException] {
      GraftOrcDeleteVector.files(conf, junk.toString)
    }
  }

  private def seeded(n: Int) = spark.range(n)
    .selectExpr("id AS k", "cast(id % 97 as double) AS v")

  private def isDv(path: String): Boolean = {
    val n = new Path(path).getName
    n.startsWith("dv-") && n.endsWith(".bin")
  }

  private def morTable(tag: String, n: Int = 2000, parts: Int = 4,
                       props: String = "'graft.delete_mode'='mor'")
      : (String, String) = {
    val dir = Files.createTempDirectory(s"graft-dvt-$tag").toString
    seeded(n).repartition(parts).write.format("graft-orc")
      .option("graft.manifest", "true")
      .option("graft.manifest.retain", "6").mode("append").save(dir)
    val t = s"g_dv_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t USING `graft-orc` LOCATION '$dir' " +
      s"TBLPROPERTIES($props)")
    (dir, t)
  }

  private def snapshot(dir: String): GraftOrcManifest.Snapshot =
    GraftOrcManifest.readSnapshot(fsOf(dir), new Path(dir)).get

  private def state(dir: String): Seq[(Long, Double)] =
    spark.read.format("graft-orc").load(dir)
      .as[(Long, Double)].collect().sorted.toSeq

  test("MoR DELETE writes only dv-*.bin; results, lookups, stacked " +
    "deletes, purge") {
    val (dir, t) = morTable("bitmap")
    // translatable predicates -> the SupportsDelete MoR path (an
    // untranslatable one routes through the DELTA writer — next test)
    spark.sql(s"DELETE FROM $t WHERE k >= 300 AND k < 900")
    spark.sql(s"DELETE FROM $t WHERE k >= 1500")
    val snap = snapshot(dir)
    assert(snap.deletes.nonEmpty && snap.deletes.forall(e => isDv(e.path)),
      snap.deletes.map(_.path).toString)
    val want = (0L until 2000L)
      .filterNot(k => (k >= 300 && k < 900) || k >= 1500)
      .map(k => (k, (k % 97).toDouble))
    assert(state(dir) == want)
    // point lookup through the row-wise delete wrapper
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 4")
      .as[Double].collect().toSeq == Seq(4.0))
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 4000")
      .as[Double].collect().isEmpty)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 1600")
      .as[Double].collect().isEmpty)
    // purge materializes the vectors and retires them
    assert(GraftOrcMor.purge(spark, dir) > 0)
    assert(state(dir) == want)
    assert(snapshot(dir).deletes.isEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the DELTA path (MoR UPDATE/MERGE, untranslatable DELETE) writes " +
    "only dv-*.bin") {
    val (dir, t) = morTable("delta", n = 1000, parts = 2,
      props = "'graft.delete_mode'='mor', 'graft.update_mode'='mor', " +
        "'graft.merge_mode'='mor'")
    // untranslatable predicate -> the DELTA delete path
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 3")
    // MoR UPDATE: position delta + insert in one commit
    spark.sql(s"UPDATE $t SET v = -1.0 WHERE k % 11 = 5")
    // MoR MERGE: matched keys update, the rest insert
    spark.range(990, 1010).selectExpr("id AS k", "CAST(5.0 AS DOUBLE) AS v")
      .createOrReplaceTempView("g_dvd_src")
    spark.sql(s"MERGE INTO $t USING g_dvd_src s ON $t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    val snap = snapshot(dir)
    assert(snap.deletes.nonEmpty && snap.deletes.forall(e => isDv(e.path)),
      snap.deletes.map(_.path).toString)
    val got = spark.sql(s"SELECT k, v FROM $t ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    val want = ((0L until 1000L).filterNot(_ % 7 == 3)
      .map(k => k -> (if (k % 11 == 5) -1.0 else (k % 97).toDouble))
      .toMap ++ (990L until 1010L).map(_ -> 5.0)).toSeq.sorted
    assert(got == want, "delta state diverged")
    // purge materializes the delta-written vectors too
    assert(GraftOrcMor.purge(spark, dir) > 0)
    assert(state(dir) == want)
    spark.catalog.dropTempView("g_dvd_src")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the `deletes` metadata table: deletion_vector + equality kinds, " +
    "cardinalities") {
    val (dir, t) = morTable("meta", n = 600, parts = 2)
    spark.sql(s"DELETE FROM $t WHERE k < 50")
    spark.sql(s"DELETE FROM $t WHERE k >= 550")
    graft.sources.v2.GraftOrcEqDelete.upsert(spark, dir,  // equality
      Seq((100L, 0.0)).toDF("k", "v"), Seq("k"))
    val meta = graft.sources.v2.GraftOrcMetadata.deletes(spark, dir)
      .collect().map(r => (r.getString(1),
        Option(r.get(4)).map(_.asInstanceOf[Long]),
        Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(meta.map(_._1).toSet == Set("deletion_vector", "equality"),
      meta.toSeq)
    val dv = meta.filter(_._1 == "deletion_vector")
    assert(dv.map(_._2.get).sum == 100, s"dv cardinality: ${dv.toSeq}")
    assert(dv.forall(_._3.exists(_ >= 1)))
    assert(meta.filter(_._1 == "equality").forall(_._2.contains(1L)))
    // the catalog identifier form resolves too
    val wh = Files.createTempDirectory("graft-dvmeta-wh").toString
    spark.conf.set("spark.sql.catalog.gdvm",
      "graft.sources.v2.GraftOrcCatalog")
    spark.conf.set("spark.sql.catalog.gdvm.warehouse", wh)
    spark.sql("CREATE TABLE gdvm.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('graft.delete_mode'='mor')")
    // ONE multi-row file, so the delete classifies partial (a
    // single-row file would full-drop as pure metadata — no sidecar)
    spark.sql("INSERT INTO gdvm.t SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 10, 1, 1)")
    spark.sql("DELETE FROM gdvm.t WHERE k = 2")
    val rows = spark.sql(
      "SELECT kind, cardinality FROM gdvm.t.deletes").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "deletion_vector"
      && rows(0).getLong(1) == 1L, rows.toSeq)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the changelog rebuilds MoR deletes from their deletion vectors") {
    val (dir, t) = morTable("cdc", n = 1000, parts = 2)
    spark.sql(s"DELETE FROM $t WHERE k < 100")          // seq 2
    spark.sql(s"DELETE FROM $t WHERE k >= 900")         // seq 3
    assert(snapshot(dir).deletes.forall(e => isDv(e.path)))
    assert(state(dir).map(_._1) == (100L until 900L))
    def deleted(from: Long, to: Long): Seq[Long] =
      graft.sources.v2.GraftOrcChangelog
        .between(spark, dir, startSnapshotId = from, endSnapshotId = Some(to))
        .filter($"_change_type" === "delete")
        .select($"k").as[Long].collect().sorted.toSeq
    assert(deleted(1, 2) == (0L until 100L))
    assert(deleted(2, 3) == (900L until 1000L))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a snapshot listing a row-ORC d-*.orc sidecar fails the read, " +
    "naming the file") {
    val (dir, t) = morTable("legacy", n = 200, parts = 1)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val fs = fsOf(dir)
    val qt = fs.makeQualified(new Path(dir))
    val file = snapshot(dir).entries.head.path
    // the retired encoding: an ORC file of (f, pos) rows
    val scratch = Files.createTempDirectory("graft-dv-legacy") + "/rows"
    Seq((file.stripPrefix(qt.toString.stripSuffix("/") + "/"), 3L))
      .toDF("f", "pos").coalesce(1).write.orc(scratch)
    val orc = fs.listStatus(new Path(scratch))
      .find(_.getPath.getName.endsWith(".orc")).get
    val legacy = new Path(new Path(qt, GraftOrcMor.DeletesDir),
      "d-legacy.orc")
    fs.mkdirs(legacy.getParent)
    assert(fs.rename(orc.getPath, legacy))
    GraftOrcManifest.commitSwap(fs, qt, remove = Set.empty, add = Nil,
      addDeletes = Seq(graft.sources.v2.OrcFileEntry(legacy.toString,
        fs.getFileStatus(legacy).getLen, Map.empty,
        System.currentTimeMillis())), op = "delta")
    val e = intercept[Exception](state(dir))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("d-legacy.orc") &&
      m.contains("not a deletion-vector sidecar")), msgs)
  }
}

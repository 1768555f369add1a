package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{OrcData, OrcStatistics, OrcTables}

/** Options parsing (reference src/options.rs:116-225 semantics), write/read
  * round-trips (A14), and footer statistics (A3).
  */
class OrcTablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("option parsing: defaults") {
    val o = OrcTables.parseOptions(Map.empty)
    assert(o.batchSize.isEmpty)
    assert(o.pushdownPredicate)
    assert(o.metadataSizeHint.isEmpty)
  }

  test("option parsing: valid values") {
    val o = OrcTables.parseOptions(Map(
      "orc.batch_size" -> "1024",
      "orc.pushdown_predicate" -> "false",
      "orc.metadata_size_hint" -> "32768"))
    assert(o.batchSize.contains(1024))
    assert(!o.pushdownPredicate)
    assert(o.metadataSizeHint.contains(32768L))
  }

  test("option parsing: invalid values raise typed errors") {
    val e1 = intercept[IllegalArgumentException] {
      OrcTables.parseOptions(Map("orc.batch_size" -> "not_a_number"))
    }
    assert(e1.getMessage.contains("orc.batch_size"))
    val e2 = intercept[IllegalArgumentException] {
      OrcTables.parseOptions(Map("orc.pushdown_predicate" -> "maybe"))
    }
    assert(e2.getMessage.contains("orc.pushdown_predicate"))
  }

  test("option parsing: unknown orc.* keys are ignored (options.rs:92-99)") {
    val o = OrcTables.parseOptions(Map("orc.some_future_option" -> "xyz"))
    assert(o === OrcTables.OrcReadOptions())
  }

  test("write -> read round-trip preserves rows and schema") {
    val src = spark.read.parquet(s"${TestSpark.sf0001}/nation.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft-orc-rt").toString
    OrcTables.write(src, out)
    val back = OrcTables.read(spark, out)
    assert(back.schema === src.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("footer statistics: exact row count, positive byte size, no data read") {
    val p = OrcData.orcPath(spark, TestSpark.sf0001, "region")
    val st = OrcStatistics.tableStats(spark, p)
    val expected = spark.read.parquet(s"${TestSpark.sf0001}/region.parquet").count()
    assert(st.numRows === expected)
    assert(st.totalBytes > 0)
    assert(st.numFiles >= 1)
  }

  test("footer statistics: recursive bounded listing covers nested many-file trees") {
    // the pre-round-4 listing was sequential AND one level deep: on this
    // fixture (data files only under subdirectories) it found 0 files
    val dir = java.nio.file.Files.createTempDirectory("graft-nested-stats").toString
    val region = spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
    val n = region.count()
    OrcTables.write(region.coalesce(1), s"$dir/top.orc")
    OrcTables.write(region.coalesce(1), s"$dir/y=2024/mid.orc")
    OrcTables.write(region.coalesce(1), s"$dir/y=2024/m=01/deep.orc")
    val st = OrcStatistics.tableStats(spark, dir)
    assert(st.numFiles === 3, st.toString)
    assert(st.numRows === 3 * n, st.toString)
  }

  test("file index: partition column names keep path order past 4 levels") {
    // immutable.Map only preserves insertion order up to its 4-entry
    // specializations; a 5-deep hive layout exposes a hash-order regression
    val dir = java.nio.file.Files.createTempDirectory("graft-part-order").toString
    val region = spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
    OrcTables.write(region.coalesce(1), s"$dir/k1=a/k2=b/k3=c/k4=d/k5=e/data.orc")
    val idx = new graft.sources.v2.GraftOrcFileIndex(
      spark.sparkContext.hadoopConfiguration, Seq(dir))
    assert(idx.partitionColumnNames === Seq("k1", "k2", "k3", "k4", "k5"))
  }

  test("metadata_size_hint: sufficient hint = one ranged tail read; tiny hint falls back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hint").toString
    OrcTables.write(spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
      .coalesce(1), dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dir), conf)
    val f = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".orc")).head
    val len = fs.getFileStatus(f).getLen
    val plain = org.apache.orc.OrcFile.createReader(f,
      org.apache.orc.OrcFile.readerOptions(conf))
    val expectRows = try plain.getNumberOfRows finally plain.close()

    // no hint: the reader's own footer read, and the tail it parsed comes
    // back for the split's batch reader (no second footer read per split)
    val (r0, t0, reads0) = graft.sources.v2.GraftOrcTailReader.createReader(
      f, conf, len, None)
    try {
      assert(reads0 === 1)
      assert(t0 != null && t0.getFooter.getNumberOfRows === expectRows)
    } finally r0.close()

    // generous hint: the pre-parsed tail is handed to the reader — exactly
    // one ranged metadata read, and the reader agrees with the plain path
    val (r1, _, reads1) = graft.sources.v2.GraftOrcTailReader.createReader(
      f, conf, len, Some(64 * 1024))
    try {
      assert(reads1 === 1)
      assert(r1.getNumberOfRows === expectRows)
      assert(r1.getSchema.getFieldNames.size() > 0)
    } finally r1.close()

    // 8-byte hint cannot hold any postscript: the hinted read is wasted
    // and the reader re-fetches — observable as the second metadata read
    val (r2, _, reads2) = graft.sources.v2.GraftOrcTailReader.createReader(
      f, conf, len, Some(8))
    try {
      assert(reads2 === 2)
      assert(r2.getNumberOfRows === expectRows)
    } finally r2.close()

    // hint larger than the file is capped, not an error
    val (r3, _, reads3) = graft.sources.v2.GraftOrcTailReader.createReader(
      f, conf, len, Some(len * 100))
    try { assert(reads3 === 1); assert(r3.getNumberOfRows === expectRows) }
    finally r3.close()

    // end-to-end: the option routes through the graft-orc connector and
    // returns the same rows as the built-in source
    val viaHint = OrcTables.read(spark, dir,
      Map("orc.metadata_size_hint" -> "65536"))
    assert(viaHint.queryExecution.analyzed.toString.contains("graft-orc"))
    assert(viaHint.orderBy("r_regionkey").collect().toSeq ===
      OrcTables.read(spark, dir).orderBy("r_regionkey").collect().toSeq)
  }

  test("sorted ORC layout: same rows, range-disjoint files on the sort key") {
    val dir = OrcData.sortedOrcPath(spark, TestSpark.sf0001,
      "lineitem", "l_orderkey")
    val sorted = OrcTables.read(spark, dir)
    val src = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    assert(sorted.count() === src.count())
    // per-file [min,max] ranges of the sort key must not overlap — this
    // is what makes stripe/file min-max pruning selective on range
    // filters (the --sorted layout's whole point)
    import org.apache.spark.sql.functions.{input_file_name, max => smax, min => smin}
    val ranges = sorted
      .groupBy(input_file_name())
      .agg(smin("l_orderkey").as("lo"), smax("l_orderkey").as("hi"))
      .orderBy("lo")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length > 1, "expected multiple range-partitioned files")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"overlapping file ranges: $hi > $lo")
    }
  }

  test("column statistics surface min/max from footers") {
    val p = OrcData.orcPath(spark, TestSpark.sf0001, "region")
    val cs = OrcStatistics.columnStats(spark, p)
    assert(cs.map(_._1).contains("r_regionkey"))
    assert(cs.forall(_._2 > 0)) // every column has values
  }

  test("column statistics align with names on NESTED schemas (flattened ids)") {
    // map_list: id(long), m(map), l(list), s(string) — nested cols occupy
    // id ranges, so naive i+1 indexing would misattribute stats
    val cs = OrcStatistics.columnStats(spark,
      TestSpark.resource("map_list.snappy.orc"))
    assert(cs.map(_._1) === Seq("id", "m", "l", "s"))
    val sStats = cs.find(_._1 == "s").get
    assert(sStats._4.contains("blaze"), sStats.toString) // string min/max
    val idStats = cs.find(_._1 == "id").get
    assert(idStats._4.contains("1"), idStats.toString) // long min/max
  }

  test("tuned writer: stripe size and bloom filters land in the files") {
    val out = java.nio.file.Files.createTempDirectory("graft-tuned").toString
    OrcTables.writeTuned(
      spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet").coalesce(1),
      out, stripeSizeBytes = Some(65536),
      bloomFilterColumns = Seq("l_orderkey"))
    val back = OrcTables.read(spark, out)
    assert(back.count() ===
      spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet").count())
    // multiple stripes prove the stripe-size option took effect
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(out), conf)
    val orcFile = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath).filter(_.getName.endsWith(".orc")).head
    val r = org.apache.orc.OrcFile.createReader(orcFile,
      org.apache.orc.OrcFile.readerOptions(conf))
    try assert(r.getStripes.size() > 1, s"stripes=${r.getStripes.size()}")
    finally r.close()
  }

  test("register binds *.orc files as temp views") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reg").toString
    OrcTables.write(spark.read.parquet(s"${TestSpark.sf0001}/region.parquet")
      .coalesce(1), s"$dir/regiontest.orc")
    val names = OrcTables.register(spark, dir)
    assert(names.contains("regiontest"))
    assert(spark.table("regiontest").count() ===
      spark.read.parquet(s"${TestSpark.sf0001}/region.parquet").count())
  }

  test("multi-file schema merge conflict raises an error (file_format.rs:157-161)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-conflict").toString
    val one = spark.range(3).select(col("id"), lit("s").as("v"))
    val two = spark.range(3).select(col("id"), lit(1.5).as("v")) // v: double vs string
    one.coalesce(1).write.orc(s"$dir/a.orc")
    two.coalesce(1).write.orc(s"$dir/b.orc")
    val e = intercept[Exception] {
      OrcTables.read(spark, dir, Map("orc.merge_schema" -> "true")).collect()
    }
    assert(e.getMessage != null)
  }

  test("scan efficiency < 1.0 for a single-column projection (metrics.rs:203-217)") {
    val p = OrcData.orcPath(spark, TestSpark.sf0001, "lineitem")
    val eff = OrcStatistics.scanEfficiency(spark, p) {
      OrcTables.read(spark, p).select("l_orderkey")
        .agg(sum("l_orderkey")).collect()
      0L
    }
    assert(eff > 0.0, s"expected some bytes read, got $eff")
    assert(eff < 1.0, s"single-column projection should not read the whole file: $eff")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** graft-orc schema inference reads footers on the driver: a `load()`
  * starts no Spark job on any layout, agrees with the built-in source's
  * merging reader field for field, and still surfaces merge conflicts and
  * unreadable footers as the built-in source does.
  */
class GraftOrcSchemaInferenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsDuring

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every `.orc` data file under `dir`, hidden directories excluded. */
  private def orcFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      } else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".orc"))
      .map(_.getPath)
  }

  private def older = (1 to 6).map(i => (i.toLong, s"v$i", i % 2)).toDF("id", "v", "k")
  private def newer = (7 to 12).map(i => (i.toLong, s"v$i", i % 2, i * 1.5))
    .toDF("id", "v", "k", "w")

  test("a flat multi-file directory infers without a Spark job and " +
    "matches the built-in merging reader") {
    val dir = freshDir("graft-infer-flat")
    older.coalesce(1).write.mode("overwrite").orc(dir)
    newer.coalesce(1).write.mode("append").orc(dir)
    val (schema, jobs) =
      jobsDuring(spark.read.format("graft-orc").load(dir).schema)
    assert(jobs === 0, s"schema inference ran $jobs Spark jobs")
    val builtin = spark.read.option("mergeSchema", "true")
      .orc(orcFiles(dir): _*).schema
    assert(schema === builtin)
    assert(schema.fieldNames.toSeq === Seq("id", "v", "k", "w"))
    assert(spark.read.format("graft-orc").load(dir).count() === 12)
  }

  test("a hive k=v directory wider than Spark's parallel-listing " +
    "threshold infers without a Spark job, partition columns from the paths") {
    val dir = freshDir("graft-infer-hive")
    older.coalesce(1).write.mode("overwrite").partitionBy("k").orc(dir)
    newer.coalesce(1).write.mode("append").partitionBy("k").orc(dir)
    // 40 more k= directories: above spark.sql.sources
    // .parallelPartitionDiscovery.threshold (32), where Spark's own file
    // index lists with a job
    (100 until 140).map(i => (i.toLong, s"v$i", i, 0.5)).toDF("id", "v", "k", "w")
      .coalesce(1).write.mode("append").partitionBy("k").orc(dir)
    val (schema, jobs) =
      jobsDuring(spark.read.format("graft-orc").load(dir).schema)
    assert(jobs === 0, s"schema inference ran $jobs Spark jobs")
    val builtin = spark.read.option("mergeSchema", "true")
      .option("basePath", dir).orc(orcFiles(dir): _*).schema
    assert(schema === builtin)
    assert(schema.fieldNames.toSeq === Seq("id", "v", "w", "k"))
    assert(schema("k").dataType === org.apache.spark.sql.types.IntegerType)
    assert(spark.read.format("graft-orc").load(dir)
      .filter($"k" === 1 && $"w".isNotNull).count() === 3)
  }

  test("a meta-less manifest table infers and appends with no job " +
    "beyond the write's own") {
    val dir = freshDir("graft-infer-manifest")
    older.coalesce(1).write.format("graft-orc")
      .option("graft.manifest", "true").mode("overwrite").save(dir)
    val index = new graft.sources.v2.GraftOrcFileIndex(
      spark.sparkContext.hadoopConfiguration, Seq(dir))
    assert(index.tableMeta.isEmpty, "fixture must be a meta-less manifest table")
    val (_, appendJobs) = jobsDuring {
      older.coalesce(1).write.format("graft-orc")
        .option("graft.manifest", "true").mode("append").save(dir)
    }
    assert(appendJobs === 1, s"append ran $appendJobs Spark jobs")
    val (schema, jobs) =
      jobsDuring(spark.read.format("graft-orc").load(dir).schema)
    assert(jobs === 0, s"schema inference ran $jobs Spark jobs")
    assert(schema === spark.read.option("mergeSchema", "true")
      .orc(orcFiles(dir): _*).schema)
    assert(spark.read.format("graft-orc").load(dir).count() === 12)
  }

  test("a string-vs-double column across two files fails the graft-orc " +
    "load naming both types") {
    val dir = freshDir("graft-infer-conflict")
    spark.range(3).select(col("id"), lit("s").as("v"))
      .coalesce(1).write.orc(s"$dir/a")
    spark.range(3).select(col("id"), lit(1.5).as("v"))
      .coalesce(1).write.orc(s"$dir/b")
    val e = intercept[Exception] {
      spark.read.format("graft-orc").load(dir).schema
    }
    val msg = e.getMessage.toLowerCase
    assert(msg.contains("string") && msg.contains("double"), e.getMessage)
  }

  test("ignoreCorruptFiles: garbage footers alone still fail inference; " +
    "a good file beside one keeps its rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-infer-corrupt")
    val garbage = "this is not an orc file at all, not even close".getBytes
    java.nio.file.Files.createDirectories(dir.resolve("bad"))
    java.nio.file.Files.write(dir.resolve("bad").resolve("x.orc"), garbage)
    java.nio.file.Files.write(dir.resolve("bad").resolve("y.orc"), garbage)
    def load(sub: String, ignore: Boolean) = spark.read.format("graft-orc")
      .option("ignoreCorruptFiles", ignore.toString).load(s"$dir/$sub")

    // without the option the footer error names the file
    val strict = intercept[Exception](load("bad", ignore = false).schema)
    assert(Option(strict.getMessage).exists(_.contains(".orc")), strict)
    // with it, nothing readable is left: no schema, not an empty one
    val none = intercept[org.apache.spark.sql.AnalysisException](
      load("bad", ignore = true).schema)
    assert(none.getMessage.contains("Unable to infer schema"), none.getMessage)

    older.coalesce(1).write.orc(s"$dir/mixed")
    java.nio.file.Files.write(dir.resolve("mixed").resolve("z.orc"), garbage)
    val tolerant = load("mixed", ignore = true)
    assert(tolerant.schema.fieldNames.toSeq === Seq("id", "v", "k"))
    assert(tolerant.count() === 6)
  }
}

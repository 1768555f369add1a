package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{GraftOrcConfShipping, GraftOrcWriteBuilder}

/** The Hadoop conf reaches graft-orc tasks as one shared broadcast
  * (GraftOrcConfShipping), never inside a task factory: factories stay
  * small, a changed conf reaches the next query, and what a task does to
  * its own copy never reaches anyone else.
  */
class GraftOrcConfShippingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private def sc = spark.sparkContext

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-ship").toString
    spark.range(0, 2000).select($"id", ($"id" % 7).as("k"))
      .repartition(2).write.format("graft-orc").mode("append").save(d)
    d
  }

  private def scanOf(df: DataFrame): Scan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.getOrElse(fail(s"no v2 scan in ${df.queryExecution.optimizedPlan}"))

  private def serializedBytes(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).limit()

  test("scan/writer factories serialize under 16 KB; agg scans ship none") {
    val rowScan = scanOf(spark.read.format("graft-orc").load(dir)
      .filter($"k" === 3))
    // a pushed aggregate is answered on the driver: no reader factory
    val agg = spark.read.format("graft-orc")
      .option("orc.aggregate_pushdown", "true").load(dir)
      .agg(count(lit(1)))
    assert(TestSpark.aggScans(agg) === 1)
    assert(scanOf(agg).isInstanceOf[LocalScan])
    val info = new LogicalWriteInfo {
      override def queryId(): String = "ship"
      override def schema() = spark.read.format("graft-orc").load(dir).schema
      override def options() =
        new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    }
    val writer = new GraftOrcWriteBuilder(Seq(dir), info).build()
      .toBatch.createBatchWriterFactory(null)
    val sizes = Map(
      "scan" -> serializedBytes(rowScan.toBatch.createReaderFactory()),
      "writer" -> serializedBytes(writer))
    sizes.foreach { case (name, bytes) =>
      assert(bytes < 16 * 1024,
        s"$name factory serializes to $bytes bytes: the conf rides inside it")
    }
  }

  test("a value set on the session conf between two reads reaches the " +
    "second read's tasks") {
    def read(): Long =
      spark.read.format("graft-orc").load(dir).filter($"k" === 2).count()
    val hc = sc.hadoopConfiguration
    TaskOpenCountingFs.opens.set(0L)
    assert(read() === 2000L / 7 + 1)
    assert(TaskOpenCountingFs.opens.get() === 0L)
    hc.set("fs.file.impl", classOf[TaskOpenCountingFs].getName)
    hc.setBoolean("fs.file.impl.disable.cache", true)
    try {
      assert(read() === 2000L / 7 + 1)
      assert(TaskOpenCountingFs.opens.get() > 0L,
        "the second read's tasks opened their files without the new fs.file.impl")
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  test("a task's copy of the shipped conf is its own: mutating it, or the " +
    "scan reader's SARG keys, never reaches the next query") {
    val hc = sc.hadoopConfiguration
    val sargKeys = Seq("orc.kryo.sarg", "orc.sarg.column.names",
      "orc.sarg.to.filter")
    val before = GraftOrcConfShipping.broadcast(sc, hc)
    assert(sargKeys.forall(k => before.value.value.get(k) == null))
    // a pushed filter: every scan task sets SARG keys on its own conf
    assert(spark.read.format("graft-orc").load(dir).filter($"id" < 10L)
      .count() === 10L)
    // a task that copies and mutates
    val mutated = sc.parallelize(1 to 4, 4).map { _ =>
      val c = new Configuration(before.value.value)
      c.set("graft.ship.mutated", "yes")
      c.get("graft.ship.mutated")
    }.collect()
    assert(mutated.forall(_ == "yes"))
    val after = GraftOrcConfShipping.broadcast(sc, hc)
    assert(after.id === before.id, "an unchanged conf must reuse its broadcast")
    val shipped = after.value.value
    assert(shipped.get("graft.ship.mutated") == null)
    sargKeys.foreach(k => assert(shipped.get(k) == null, k))
  }

  test("the memo keys on the conf's full content and evicts without " +
    "destroying") {
    val base = new Configuration(sc.hadoopConfiguration)
    val a = GraftOrcConfShipping.broadcast(sc, base)
    assert(GraftOrcConfShipping.broadcast(sc, new Configuration(base)).id === a.id)
    base.set("graft.ship.changed", "1")
    val b = GraftOrcConfShipping.broadcast(sc, base)
    assert(b.id !== a.id, "a changed conf must get a new broadcast")
    assert(b.value.value.get("graft.ship.changed") === "1")
    // flood the memo past its bound: the oldest entry is dropped, yet
    // its broadcast stays readable, on the driver and in tasks
    (0 to GraftOrcConfShipping.MaxEntries).foreach { i =>
      base.set("graft.ship.changed", s"flood-$i")
      GraftOrcConfShipping.broadcast(sc, base)
    }
    base.set("graft.ship.changed", "1")
    assert(GraftOrcConfShipping.broadcast(sc, base).id !== b.id)
    assert(sc.parallelize(1 to 2, 2)
      .map(_ => b.value.value.get("graft.ship.changed")).collect()
      .toSeq === Seq("1", "1"))
  }
}

/** A local file system that counts the files task threads open. */
class TaskOpenCountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (TaskContext.get() != null) TaskOpenCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object TaskOpenCountingFs {
  val opens = new AtomicLong
}

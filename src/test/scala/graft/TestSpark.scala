package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.sources.v2.GraftOrcAggScan

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // storage-partitioned joins: co-partitioned graft-orc tables join
      // with zero shuffle (GraftOrcScan reports KeyGroupedPartitioning)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the given JVM system properties set, restoring
    * their previous values (or absence) afterwards.
    */
  def withProps(props: (String, String)*)(body: => Unit): Unit = {
    val saved = props.map { case (k, _) => k -> Option(System.getProperty(k)) }
    props.foreach { case (k, v) => System.setProperty(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => System.setProperty(k, v)
      case (k, None) => System.clearProperty(k)
    }
  }

  /** How many scans of `df`'s optimized plan are a pushed graft-orc
    * aggregate ([[GraftOrcAggScan]]). The physical plan cannot tell: the
    * pushed aggregate executes as a `LocalTableScanExec`, which does not
    * name the scan it came from.
    */
  def aggScans(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftOrcAggScan] => r
    }.size

  /** Jobs started from this thread while `body` runs (a job group keeps
    * other suites' jobs out of the count).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            group == p.getProperty("spark.jobGroup.id")))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-counting spec")
    try {
      val out = body
      org.apache.spark.GraftSparkBridge.waitUntilListenerBusEmpty(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** Commit/abort must leave zero staged FILES. The empty `_staging`
    * root itself may remain: deleting it when it looks empty races a
    * concurrent writer's staged-dir mkdirs (see GraftOrcWrite
    * .dropStaging), so the writer keeps it deliberately.
    */
  def stagingClean(dir: String): Boolean = {
    def hasFiles(f: java.io.File): Boolean = Option(f.listFiles())
      .exists(_.exists(c => c.isFile || hasFiles(c)))
    val root = new java.io.File(dir, "_staging")
    !root.exists() || !hasFiles(root)
  }
}

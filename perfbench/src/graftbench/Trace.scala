package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-side counters of one finished stage. Times in ms. */
final case class StageStat(stageId: Int, attempt: Int, startMs: Long,
                           endMs: Long, tasks: Int, cpuMs: Double,
                           runMs: Double, gcMs: Double,
                           shuffleWriteBytes: Long, shuffleWriteMs: Double,
                           shuffleReadBytes: Long, fetchWaitMs: Double,
                           spillBytes: Long, peakExecBytes: Long,
                           scanMs: Double)

/** Planning and executed-plan counters of one finished query execution. */
final case class QeStat(execId: Long, phases: Seq[(String, Long, Long)],
                        exchanges: Int, scan: Map[String, Long],
                        usefulRows: Long)

final case class BatchStat(batchId: Long, startMs: Long, durations: Map[String, Long],
                           inputRows: Long)

/** Records spans and counters from Spark's public listener surfaces:
  * a SparkListener (SQL executions, jobs, stages, tasks), a
  * QueryExecutionListener (planning phases, post-AQE plan, the graft-orc
  * scan's SQL metrics) and a StreamingQueryListener (micro-batches).
  * Everything stays in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val sqlSpans = new ConcurrentLinkedQueue[(Long, Long, Long)]()      // execId, start, end
  val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  val jobSpans = new ConcurrentLinkedQueue[(Int, Long, Long, Long, Seq[Int])]() // job, exec, start, end, stages
  val stages = new ConcurrentLinkedQueue[StageStat]()
  val qes = new ConcurrentLinkedQueue[QeStat]()
  val batches = new ConcurrentLinkedQueue[BatchStat]()
  private val peakByStage = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  private val ScanDescr = Set("graft: decode time (ns)", "graft: metadata load time (ns)",
    "graft: statistics eval time (ns)")

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        if (sqlStarts.containsKey(s.executionId))
          sqlSpans.add((s.executionId, sqlStarts.remove(s.executionId), s.time))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobStarts.put(j.jobId, (j.time, exec, j.stageIds))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach { case (t0, exec, st) =>
        jobSpans.add((j.jobId, exec, t0, j.time, st))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) {
        peakByStage.merge((t.stageId, t.stageAttemptId), t.taskMetrics.peakExecutionMemory,
          (a: Long, b: Long) => math.max(a, b))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      if (m != null) {
        val scanNs = i.accumulables.values.iterator
          .filter(a => a.name.exists(ScanDescr)).map(a => a.value match {
            case Some(v: Long) => v
            case Some(v) => scala.util.Try(v.toString.toLong).getOrElse(0L)
            case None => 0L
          }).sum
        val now = System.currentTimeMillis()
        stages.add(StageStat(i.stageId, i.attemptNumber(),
          i.submissionTime.getOrElse(now), i.completionTime.getOrElse(now),
          i.numTasks, m.executorCpuTime / 1e6, m.executorRunTime.toDouble,
          m.jvmGCTime.toDouble, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.writeTime / 1e6, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime.toDouble,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          Option(peakByStage.remove((i.stageId, i.attemptNumber()))).getOrElse(0L),
          scanNs / 1e6))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(Tracer.qeStat(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(Tracer.qeStat(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (p.numInputRows > 0 || d.getOrElse("addBatch", 0L) > 0)
        batches.add(BatchStat(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted event has reached the listeners, then detaches. */
  def stop(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Every node of an executed plan, through AQE wrappers and query stages. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case other => Iterator(other) ++ (other.children ++ other.subqueries).iterator.flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def scans(p: SparkPlan): Seq[BatchScanExec] =
    nodes(p).collect { case b: BatchScanExec if b.metrics.contains("graftRowsDecoded") => b }.toSeq

  /** Rows the scan hands on past its first filter (the rows the query
    * needed), or the scan's own output rows when no filter sits above it. */
  private def usefulRows(p: SparkPlan): Long = {
    val filtered = nodes(p).collect {
      case f: FilterExec if scans(f).nonEmpty && nodes(f.child).collect { case _: FilterExec => 1 }.isEmpty =>
        (metric(f, "numOutputRows"), scans(f).map(_.id).toSet)
    }.toSeq
    val covered = filtered.flatMap(_._2).toSet
    filtered.map(_._1).sum + scans(p).filterNot(s => covered(s.id))
      .map(metric(_, "numOutputRows")).sum
  }

  def qeStat(qe: QueryExecution): QeStat = {
    val phases = qe.tracker.phases.toSeq.map { case (n, ps) => (n, ps.startTimeMs, ps.endTimeMs) }
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan == null) QeStat(qe.id, phases, 0, Map.empty, 0L)
    else {
      val all = nodes(plan).toSeq
      // a reused or re-planned stage shows once per node, count distinct ids
      val exchanges = all.collect { case e: ShuffleExchangeLike => e.id }.distinct.size
      val scanMetrics = scans(plan).flatMap(_.metrics.collect {
        case (k, v) if k.startsWith("graft") => k -> v.value
      }).groupMapReduce(_._1)(_._2)(_ + _)
      QeStat(qe.id, phases, exchanges, scanMetrics, usefulRows(plan))
    }
  }
}

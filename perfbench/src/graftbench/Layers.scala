package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Attributes each traced operation's wall time to the layers it crossed.
  *
  * The spans of one operation nest: operation > streaming micro-batch >
  * SQL execution > planning phase or job > stage. Each instant of the
  * operation belongs to the innermost spans open at that instant (shared
  * equally when several are), so the layer self times of an operation sum
  * to its span's length; `self.accounted_ratio` compares that sum, before
  * it is scaled to the nanosecond wall time, with the wall time, and
  * `self.fallback_share` is the time no span inside the operation covers
  * (charged to the operation's own layer). A stage's time is split further by its task
  * counters: graft-orc scan time (`scan`), shuffle fetch wait and write
  * (`exchange`), GC (`memory`), the rest (`exec`). SQL-execution time
  * outside its jobs is driver work: whole-stage compilation (`codegen`, up
  * to the compile time measured in the operation), and for writes the
  * tail after the last job (`commit`). */
object Layers {
  val Names: Seq[String] = Seq("catalyst", "codegen", "exec", "exchange", "memory", "scan",
    "write", "commit", "mor", "stream", "maint", "operators")

  private final case class S(depth: Int, start: Long, end: Long, layer: Long => Map[String, Double])

  /** Layers whose operations commit to storage. */
  private val Writing = Set("write", "stream", "mor", "maint")

  def analyse(t: Tracer, records: Seq[OpRecord])
      : (Map[String, Double], (Seq[Map[String, Any]], Seq[Map[String, Any]])) = {
    val traced = records.filter(_.traced)
    val sqls = t.sqlSpans.asScala.toSeq
    val jobs = t.jobSpans.asScala.toSeq
    val stageById = t.stages.asScala.toSeq.groupBy(_.stageId)
    val qes = t.qes.asScala.toSeq
    val batches = t.batches.asScala.toSeq
    def within(o: OpRecord, ms: Long) = ms >= o.startMs && ms <= o.endMs

    val spansOut = mutable.ArrayBuffer.empty[Map[String, Any]]
    val opLayers = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = sums(k) += v
    val perGroup = mutable.Map.empty[String, mutable.Map[String, Double]]
    def addG(g: String, k: String, v: Double): Unit =
      perGroup.getOrElseUpdate(g, mutable.Map.empty[String, Double].withDefaultValue(0.0))(k) += v

    traced.foreach { o =>
      val oid = s"op${o.idx}"
      val oSql = sqls.filter(s => within(o, s._2))
      val execIds = oSql.map(_._1).toSet
      val oJobs = jobs.filter(j => within(o, j._3))
      val oStages = oJobs.flatMap(_._5).distinct.flatMap(id => stageById.getOrElse(id, Nil))
      val oQes = qes.filter(q => execIds(q.execId) ||
        (q.phases.nonEmpty && within(o, q.phases.map(_._2).min)))
      val oBatches = batches.filter(b => within(o, b.startMs))
      val writeKind = Writing(o.layer)

      val spans = mutable.ArrayBuffer.empty[S]
      // a span's parent is the span that caused it where the event says so
      // (job -> SQL execution, stage -> job, planning phase -> SQL
      // execution); otherwise the operation
      def span(id: String, kind: String, name: String, a: Long, b: Long, parent: String): Unit =
        spansOut += Map("id" -> id, "op" -> o.idx, "kind" -> kind, "name" -> name,
          "start_ms" -> a, "end_ms" -> b, "parent" -> parent)
      span(oid, "operation", o.name, o.startMs, o.endMs, "")
      spans += S(0, o.startMs, o.endMs, _ => Map(o.layer -> 1.0))
      oBatches.foreach { b =>
        val end = b.startMs + b.durations.getOrElse("triggerExecution", 0L)
        span(s"$oid.batch${b.batchId}", "stream_batch", s"batch ${b.batchId}", b.startMs, end, oid)
        spans += S(1, b.startMs, end, _ => Map("stream" -> 1.0))
      }
      oSql.foreach { case (id, a, b) =>
        val lastJobEnd = oJobs.filter(_._2 == id).map(_._4).maxOption
        span(s"sql$id", "sql_execution", s"execution $id", a, b, oid)
        spans += S(2, a, b, at =>
          if (writeKind && lastJobEnd.exists(at >= _)) Map("commit" -> 1.0) else Map("sql_driver" -> 1.0))
      }
      oQes.foreach { q =>
        q.phases.foreach { case (name, a, b) =>
          span(s"sql${q.execId}.$name", "planning_phase", name, a, b,
            if (execIds(q.execId)) s"sql${q.execId}" else oid)
          spans += S(3, a, b, _ => Map("catalyst" -> 1.0))
        }
      }
      oJobs.foreach { case (id, exec, a, b, _) =>
        span(s"job$id", "job", s"job $id", a, b, if (execIds(exec)) s"sql$exec" else oid)
        spans += S(3, a, b, _ => Map("exec" -> 1.0))
      }
      oStages.foreach { st =>
        val parent = oJobs.find(_._5.contains(st.stageId)).map(j => s"job${j._1}").getOrElse(oid)
        span(s"stage${st.stageId}.${st.attempt}", "stage", s"stage ${st.stageId}", st.startMs, st.endMs,
          parent)
        val run = math.max(st.runMs, 1e-9)
        val raw = Map("scan" -> st.scanMs / run, "exchange" -> (st.fetchWaitMs + st.shuffleWriteMs) / run,
          "memory" -> st.gcMs / run)
        val tot = raw.values.sum
        val shares = if (tot > 1) raw.map { case (k, v) => k -> v / tot } else raw
        val split = shares + ("exec" -> (1.0 - shares.values.sum))
        spans += S(4, st.startMs, st.endMs, _ => split)
      }

      // sweep the operation's elementary intervals
      val a0 = o.startMs
      val b0 = math.max(o.endMs, o.startMs + 1)
      val cuts = (spans.flatMap(s => Seq(s.start, s.end)) ++ Seq(a0, b0))
        .filter(x => x >= a0 && x <= b0).distinct.sorted
      val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var fallback = 0L
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val open = spans.filter(s => s.start <= a && s.end >= b)
        val top = open.map(_.depth).max
        if (top == 0) fallback += b - a
        val inner = open.filter(_.depth == top)
        inner.foreach(s => s.layer(a).foreach { case (k, f) => self(k) += f * (b - a) / inner.size })
      }
      // codegen compiles on the driver between planning and the first job
      val cg = math.min(o.codegenMs, self("sql_driver"))
      self("codegen") += cg
      self("exec") += self("sql_driver") - cg
      self.remove("sql_driver")
      // wall-clock spans tick in whole ms: the unscaled sum is checked
      // against the operation's nanosecond wall time, then scaled to it
      val swept = self.values.sum
      val scale = o.wallMs / math.max(swept, 1e-9)
      val layerMs = self.map { case (k, v) => k -> v * scale }.toMap
      opLayers += Map("op" -> o.idx, "name" -> o.name, "wall_ms" -> o.wallMs, "swept_ms" -> swept,
        "fallback_ms" -> fallback, "self_ms" -> layerMs)
      layerMs.foreach { case (k, v) => add(s"self.$k", v) }
      add("swept_ms", swept)
      add("fallback_ms", fallback.toDouble)

      // counters of the operation
      val jobIntervals = oJobs.map(j => (math.max(j._3, o.startMs), math.min(j._4, o.endMs)))
      val inJobs = union(jobIntervals)
      add("exec.driver_self_ms", math.max(0.0, o.wallMs - inJobs))
      phaseMs(oQes, "analysis", add, "catalyst.analysis_ms")
      phaseMs(oQes, "optimization", add, "catalyst.optimization_ms")
      phaseMs(oQes, "planning", add, "catalyst.planning_ms")
      add("codegen.compile_ms", o.codegenMs)
      add("codegen.compiles", o.compiles.toDouble)
      add("exec.jobs", oJobs.size)
      add("exec.stages", oStages.size)
      add("exec.tasks", oStages.map(_.tasks).sum)
      add("exec.task_cpu_ms", oStages.map(_.cpuMs).sum)
      add("exec.task_run_ms", oStages.map(_.runMs).sum)
      add("exec.gc_ms", oStages.map(_.gcMs).sum)
      add("exchange.nodes", oQes.map(_.exchanges).sum)
      add("exchange.shuffle_write_bytes", oStages.map(_.shuffleWriteBytes).sum.toDouble)
      add("exchange.shuffle_read_bytes", oStages.map(_.shuffleReadBytes).sum.toDouble)
      add("exchange.fetch_wait_ms", oStages.map(_.fetchWaitMs).sum)
      add("memory.spill_bytes", oStages.map(_.spillBytes).sum.toDouble)
      add("memory.peak_execution_bytes", oStages.map(_.peakExecBytes).maxOption.getOrElse(0L).toDouble)
      val scan = oQes.flatMap(_.scan).groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0L)
      add("scan.metadata_load_ms", scan("graftMetadataLoadNs") / 1e6)
      add("scan.stats_eval_ms", scan("graftStatsEvalNs") / 1e6)
      add("scan.decode_ms", scan("graftDecodeNs") / 1e6)
      Seq("rows_decoded" -> "graftRowsDecoded", "bytes_scanned" -> "graftBytesScanned",
        "file_bytes" -> "graftFileBytes", "io_requests" -> "graftIoRequests",
        "files_read" -> "graftFilesRead", "batches" -> "graftBatchesProduced",
        "stripes_pruned" -> "graftStripesPruned", "stripes_matched" -> "graftStripesMatched")
        .foreach { case (k, m) => add(s"scan.$k", scan(m).toDouble) }
      add("scan.useful_rows", oQes.map(_.usefulRows).sum.toDouble)
      Seq("bytes_read", "bytes_written", "read_ops", "write_ops").zip(o.fs)
        .foreach { case (k, v) => add(s"fs.$k", v.toDouble) }
      if (writeKind) {
        val tail = oJobs.map(_._4).maxOption.map(e => math.max(0L, o.endMs - e).toDouble)
        addG("commit", "driver_tail_ms", tail.getOrElse(0.0))
        addG("commit", "ops", 1)
      }
      val g = o.group
      addG(g, "ops", 1)
      addG(g, "fs_bytes_written", o.fs(1).toDouble)
      addG(g, "result_n", o.fp.map(_.n.toDouble).getOrElse(0.0))
      addG(g, "batches", oBatches.size)
      addG(g, "input_rows", oBatches.map(_.inputRows).sum.toDouble)
      Seq("addBatch", "walCommit", "queryPlanning", "latestOffset").foreach(k =>
        addG(g, k, oBatches.map(_.durations.getOrElse(k, 0L)).sum.toDouble))
      addG(g, "batch_jobs", oJobs.count(j => oBatches.exists(b =>
        j._3 >= b.startMs && j._3 <= b.startMs + b.durations.getOrElse("triggerExecution", 0L))).toDouble)
    }

    val n = math.max(traced.size, 1).toDouble
    val wall = math.max(traced.map(_.wallMs).sum, 1e-9)
    def g(group: String, k: String): Double = perGroup.get(group).map(_(k)).getOrElse(0.0)
    def perOp(group: String, k: String): Double =
      if (g(group, "ops") == 0) 0.0 else g(group, k) / g(group, "ops")
    val perOpMetrics = sums.toMap.collect {
      case (k, v) if !k.startsWith("self.") && !Set("scan.useful_rows", "swept_ms", "fallback_ms")(k) =>
        k -> v / n
    }
    val shares = Names.map(l => s"self.$l.share" -> sums(s"self.$l") / wall).toMap
    val selfMs = Names.map(l => s"self.$l.ms" -> sums(s"self.$l") / n).toMap
    val pruned = sums("scan.stripes_pruned")
    val matched = sums("scan.stripes_matched")
    val ingestBatches = g("ingest", "batches")
    val derived = Map(
      "scan.stripe_prune_ratio" -> (if (pruned + matched > 0) pruned / (pruned + matched) else 0.0),
      "scan.rows_useful_ratio" ->
        (if (sums("scan.rows_decoded") > 0) sums("scan.useful_rows") / sums("scan.rows_decoded") else 0.0),
      "commit.driver_tail_ms" -> perOp("commit", "driver_tail_ms"),
      "write.bytes_written" -> perOp("append", "fs_bytes_written"),
      "stream.batches" -> perOp("ingest", "batches"),
      "stream.input_rows" -> perOp("ingest", "input_rows"),
      "stream.jobs_per_batch" -> (if (ingestBatches > 0) g("ingest", "batch_jobs") / ingestBatches else 0.0),
      "stream.add_batch_ms" -> perOp("ingest", "addBatch"),
      "stream.wal_commit_ms" -> perOp("ingest", "walCommit"),
      "stream.query_planning_ms" -> perOp("ingest", "queryPlanning"),
      "stream.latest_offset_ms" -> perOp("ingest", "latestOffset"),
      "maint.files_rewritten" -> perOp("compact", "result_n"),
      "maint.bytes_rewritten" -> perOp("compact", "fs_bytes_written"),
      "trace.ops" -> traced.size.toDouble,
      "self.accounted_ratio" -> sums("swept_ms") / wall,
      "self.fallback_share" -> sums("fallback_ms") / wall)
    (perOpMetrics ++ shares ++ selfMs ++ derived, (spansOut.toSeq, opLayers.toSeq))
  }

  private def phaseMs(qes: Seq[QeStat], phase: String, add: (String, Double) => Unit, k: String): Unit =
    add(k, qes.flatMap(_.phases).filter(_._1 == phase).map(p => (p._3 - p._2).toDouble).sum)

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

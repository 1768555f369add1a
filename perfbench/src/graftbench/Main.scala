package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed operation. Times in ms; `fs` holds the Hadoop FileSystem
  * statistics deltas (bytes read, bytes written, read ops, write ops). */
final case class OpRecord(idx: Int, round: Int, traced: Boolean, name: String, group: String,
                          layer: String, p50: String, tag: Long, startMs: Long, endMs: Long, wallMs: Double,
                          ok: Boolean, error: String, fp: Option[Fp], fs: Array[Long],
                          codegenMs: Double, compiles: Long)

/** Closed loop, one client: runs one workload's operations back to back in
  * one `local[cores]` session and writes `result.json` (and, traced,
  * `trace.json`) to the output directory.
  *
  * Arguments: workload seed seconds trace(0|1) dataDir outDir cores */
object Main {
  private val MinSamples = 20
  private val WarmRounds = 1

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, out, cores) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(out).mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w = Workloads(workload, spark, data, out, seed)
    val prepS = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      w.prepare(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionS + median(prepS)
    val timeline = mutable.LinkedHashMap[String, Any]("session_ready" -> sessionS)
    def mark(k: String): Unit = timeline(k) = (System.currentTimeMillis() - jvmStart) / 1e3
    mark("prepared")

    val rng = new Random(seed)
    val ambientBefore = Ambient.stamp()
    val warm = w.warmUp(rng).map(o => runOp(o, -1, 0, traced = false))
    mark("warmed")
    val tracer = new Tracer(spark)
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val untimed = new Untimed
    val cpu0 = Ambient.processCpuMs()
    val loop0 = System.nanoTime()
    var r = WarmRounds
    def elapsed = (System.nanoTime() - loop0 - untimed.ns) / 1e9
    // Whole rounds only, so every run times the same mix of operations,
    // at least the workload's minimum of rounds, and at least MinSamples
    // operations, so the tail percentile (the highest with ten samples
    // beyond it) is at least the median. A traced run orders its rounds
    // traced, untraced, untraced, traced (and repeats), so warm-up drift
    // cancels out of the tracing overhead. Building a round and re-running
    // operations for their results is taken off the loop's time and CPU.
    def untracedOps = records.count(!_.traced)
    while (elapsed < seconds || untracedOps < MinSamples || r - WarmRounds < w.minRounds ||
      (trace && r - WarmRounds < 4)) {
      val traced = trace && Set(0, 3)((r - WarmRounds) % 4)
      val ops = untimed(w.round(r, rng))
      if (traced) tracer.start()
      ops.foreach(o => records += runOp(o, records.size, r, traced, Some(untimed)))
      if (traced) tracer.stop()
      r += 1
    }
    val loopS = elapsed
    val cpuMs = Ambient.processCpuMs() - cpu0 - untimed.cpuMs
    val rssMb = Ambient.vmHwmKb() / 1024.0
    val ambientAfter = Ambient.stamp()
    mark("looped")

    val (wrong, checkInfo) = try w.check(records.toSeq)
      catch { case e: Throwable => (Map(-1 -> s"check failed: $e"), Map.empty[String, Any]) }
    mark("checked")

    val untraced = records.filterNot(_.traced).toSeq
    val walls = untraced.map(_.wallMs).sorted
    val n = walls.size
    val tailIdx = math.max(0, n - 11)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores.toInt,
      "attempted" -> records.size,
      "errors" -> records.filterNot(_.ok).map(o => Map("idx" -> o.idx, "op" -> o.name, "error" -> o.error)),
      "wrong" -> wrong.toSeq.sortBy(_._1).map { case (i, m) => Map("idx" -> i, "reason" -> m) },
      "warmup_errors" -> warm.filterNot(_.ok).map(o => Map("op" -> o.name, "error" -> o.error)),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "setup_s" -> setupS),
      "timeline_s" -> timeline, "loop_s" -> loopS, "rounds" -> (r - WarmRounds),
      "metrics" -> Map(
        "setup_s" -> setupS,
        "latency_p50_ms" -> median(walls),
        "latency_tail_ms" -> (if (n == 0) 0.0 else walls(tailIdx)),
        "ops_per_s" -> (if (trace) records.size / loopS else n / loopS),
        "cpu_ms_per_op" -> cpuMs / records.size,
        "rss_peak_mb" -> rssMb),
      "latency_tail" -> Map("percentile" -> (if (n == 0) 0.0 else 100.0 * (tailIdx + 1) / n),
        "samples_beyond" -> (n - 1 - tailIdx), "samples" -> n),
      "ambient" -> Map("before" -> ambientBefore, "after" -> ambientAfter,
        "loaded" -> (ambientBefore("loadavg_1m").asInstanceOf[Double] > cores.toInt ||
          ambientAfter("loadavg_1m").asInstanceOf[Double] > cores.toInt)),
      "op_p50_ms" -> untraced.groupBy(_.p50).map { case (k, v) => k -> median(v.map(_.wallMs)) },
      "check" -> checkInfo,
      "ops" -> records.map(o => Map("idx" -> o.idx, "round" -> o.round, "traced" -> o.traced,
        "op" -> o.name, "tag" -> o.tag, "wall_ms" -> o.wallMs, "ok" -> o.ok, "rows" -> o.fp.map(_.n))))
    if (trace) {
      val (layers, spans) = Layers.analyse(tracer, records.toSeq)
      val tracedWalls = records.filter(_.traced).map(_.wallMs).toSeq
      val overheadMs = median(tracedWalls) - median(walls)
      result("per_layer") = layers ++ Map(
        "trace.overhead_ms" -> overheadMs,
        "trace.overhead_ratio" -> overheadMs / median(walls))
      Files.writeString(new File(s"$out/trace.json").toPath, Json.render(Map(
        "workload" -> workload, "seed" -> seed, "spans" -> spans._1, "op_layers" -> spans._2)))
    }
    Files.writeString(new File(s"$out/result.json").toPath, Json.render(result))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def fsStats(): Array[Long] = {
    val a = Array.fill(4)(0L)
    FileSystem.getAllStatistics.asScala.foreach { s =>
      a(0) += s.getBytesRead; a(1) += s.getBytesWritten
      a(2) += s.getReadOps + s.getLargeReadOps; a(3) += s.getWriteOps
    }
    a
  }

  /** Runs `o`'s call, timed; given `untimed`, then re-runs the operation
    * for the result fingerprint the workload checks, on `untimed`'s
    * account. */
  private def runOp(o: Op, idx: Int, round: Int, traced: Boolean,
                    untimed: Option[Untimed] = None): OpRecord = {
    def attempt[T](f: => T): Either[String, T] =
      try Right(f) catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(2000)) }
    val fs0 = fsStats()
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val called = attempt(o.body())
    val wall = (System.nanoTime() - t0) / 1e6
    val endMs = System.currentTimeMillis()
    val fs1 = fsStats()
    val cg = (CodeGenerator.compileTime - cg0) / 1e6
    val cc = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
    val outcome = called.flatMap(own => (untimed, o.result) match {
      case (Some(u), Some(res)) => u(attempt(res())).map(Some(_)).left.map("untimed re-run: " + _)
      case _ => Right(own)
    })
    OpRecord(idx, round, traced, o.name, o.group, o.layer, o.p50, o.tag, startMs, endMs, wall,
      outcome.isRight, outcome.left.getOrElse(""), outcome.getOrElse(None),
      fs1.zip(fs0).map { case (a, b) => a - b }, cg, cc)
  }
}

/** Wall and process CPU time spent inside the timed loop but outside the
  * timed calls. */
final class Untimed {
  var ns = 0L
  var cpuMs = 0.0
  def apply[T](f: => T): T = {
    val t0 = System.nanoTime()
    val c0 = Ambient.processCpuMs()
    try f finally {
      ns += System.nanoTime() - t0
      cpuMs += Ambient.processCpuMs() - c0
    }
  }
}

/** The run's ambient control: host load and a fixed CPU-bound timing,
  * stamped before and after the timed loop. */
object Ambient {
  def loadAvg(): Seq[Double] = try {
    Files.readString(new File("/proc/loadavg").toPath).trim.split("\\s+").take(3).map(_.toDouble).toSeq
  } catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  /** Wall time of a fixed single-threaded integer loop, best of three. */
  def cpuControlMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("") // keeps the JIT from dropping the loop as dead code
    (System.nanoTime() - t0) / 1e6
  }.min

  def stamp(): Map[String, Any] = {
    val l = loadAvg()
    Map("loadavg_1m" -> l.head, "loadavg" -> l, "cpu_control_ms" -> cpuControlMs(),
      "time_ms" -> System.currentTimeMillis())
  }

  def processCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  def vmHwmKb(): Double = try {
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
  } catch { case _: Throwable => 0.0 }
}

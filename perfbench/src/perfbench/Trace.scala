package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.{CaseInsensitiveStringMap, QueryExecutionListener}

import graft.sources.fst.{FstFormat, FstTable, XdfFormat}

/** Counters of one process-wide quantity set; deltas around a call
  * attribute them to that call (the benchmark is a single client).
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          busyNs: Long = 0, cpuNs: Long = 0,
                          schedNs: Long = 0, shuffleWrite: Long = 0,
                          shuffleRead: Long = 0, spill: Long = 0,
                          peakExecMem: Long = 0, analysisMs: Long = 0,
                          optimizationMs: Long = 0, planningMs: Long = 0,
                          exchanges: Long = 0, gcMs: Long = 0,
                          alloc: Long = 0, ioRead: Long = 0,
                          ioWrite: Long = 0, fsRead: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, busyNs - o.busyNs,
    cpuNs - o.cpuNs, schedNs - o.schedNs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, peakExecMem,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, exchanges - o.exchanges, gcMs - o.gcMs,
    alloc - o.alloc, ioRead - o.ioRead, ioWrite - o.ioWrite,
    fsRead - o.fsRead)
}

/** SparkListener + QueryExecutionListener registered by the benchmark
  * for traced cycles only.
  */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var c = Counters()
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      // scheduler delay as Spark's UI defines it: task wall time not
      // spent deserializing, running or shipping the result
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L))
      peak = math.max(peak, m.peakExecutionMemory)
      c = c.copy(tasks = c.tasks + 1,
        busyNs = c.busyNs + m.executorRunTime * 1000000L,
        cpuNs = c.cpuNs + m.executorCpuTime,
        schedNs = c.schedNs + sched * 1000000L,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val ex = exchanges(qe.executedPlan)
    synchronized {
      c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning"),
        exchanges = c.exchanges + ex)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Analysis of a materialized frame runs when the frame is built,
    * before its write's own query execution starts.
    */
  def analyzed(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.get("analysis").map(_.durationMs)
      .getOrElse(0L)
    synchronized { c = c.copy(analysisMs = c.analysisMs + ms) }
  }

  /** Shuffle exchanges in the executed plan, through adaptive stages. */
  def exchanges(plan: SparkPlan): Long =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
      .size.toLong

  /** Counter values now; call after [[Trace.drain]]. */
  def read(): Counters = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val alloc = ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean =>
        t.getTotalThreadAllocatedBytes
      case _ => 0L
    }
    val (r, w) = Trace.procIo()
    synchronized {
      val out = c.copy(peakExecMem = peak, gcMs = gc, alloc = alloc,
        ioRead = r, ioWrite = w, fsRead = Trace.fsBytesRead())
      peak = 0L
      out
    }
  }
}

object Trace {

  /** Every per-layer metric with its unit, in output order. A workload
    * that does not exercise a layer reports 0 for it.
    */
  val Metrics: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "plan.exchanges" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_busy_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.sched_wait_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "jvm.alloc_mb" -> "MB",
    "io.read_mb" -> "MB", "io.write_mb" -> "MB",
    "fst.scan_plan_ms" -> "ms", "fst.dir_records_per_s" -> "1/s",
    "fst.read_bytes_per_payload_byte" -> "ratio") ++
    Gen.Variants.map(v => s"fst.decode_mb_per_s.${v.name}" -> "MB/s") ++
    Seq("fst.decode_mb_per_s.compact" -> "MB/s",
      "fst.copy_bound_mb_per_s" -> "MB/s") ++
    Gen.Variants.map(v => s"fst.encode_mb_per_s.${v.name}" -> "MB/s") ++
    Seq("fst.write_ms" -> "ms", "fst.update_ms" -> "ms",
      "fst.bytes_written_mb" -> "MB",
      "ops.decode_ms" -> "ms", "ops.select_with_meta_ms" -> "ms",
      "ops.cleanup_ms" -> "ms", "ops.quick_pressure_ms" -> "ms",
      "ops.voir_ms" -> "ms",
      "ops.fststat_ms" -> "ms", "ops.unit_convert_ms" -> "ms",
      "ops.cube_ms" -> "ms",
      "pipeline.curate_ms" -> "ms", "pipeline.shard_write_ms" -> "ms",
      "pipeline.survivor_frac" -> "ratio",
      "trace_overhead_frac" -> "ratio")

  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Called with every frame an op materializes; set while tracing. */
  @volatile var onFrame: org.apache.spark.sql.DataFrame => Unit = _ => ()

  /** rchar/wchar of this process (bytes through read/write calls). */
  def procIo(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try {
      val kv = src.getLines().map(_.split(":\\s*")).collect {
        case Array(k, v) => k -> v.trim.toLong }.toMap
      (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
    } finally src.close()
  } catch { case _: java.io.IOException => (0L, 0L) }

  /** Bytes read through Hadoop's local file system (the scan's reads). */
  def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  } catch { case _: java.io.IOException => 0.0 }

  /** The per-layer values derived from op-execution counter deltas:
    * each is the mean per executed op over the traced cycles.
    */
  def execMetrics(deltas: Seq[Counters]): Map[String, Double] = {
    val n = math.max(1, deltas.size).toDouble
    def mean(f: Counters => Long) = deltas.map(f).sum / n
    val mb = 1e6
    Map(
      "plan.analysis_ms" -> mean(_.analysisMs),
      "plan.optimization_ms" -> mean(_.optimizationMs),
      "plan.planning_ms" -> mean(_.planningMs),
      "plan.exchanges" -> mean(_.exchanges),
      "exec.jobs" -> mean(_.jobs), "exec.stages" -> mean(_.stages),
      "exec.tasks" -> mean(_.tasks),
      "exec.task_busy_s" -> mean(_.busyNs) / 1e9,
      "exec.task_cpu_s" -> mean(_.cpuNs) / 1e9,
      "exec.sched_wait_s" -> mean(_.schedNs) / 1e9,
      "exec.shuffle_write_mb" -> mean(_.shuffleWrite) / mb,
      "exec.shuffle_read_mb" -> mean(_.shuffleRead) / mb,
      "exec.spill_mb" -> mean(_.spill) / mb,
      "exec.peak_exec_mem_mb" ->
        (if (deltas.isEmpty) 0.0 else deltas.map(_.peakExecMem).max / mb),
      "jvm.gc_ms" -> mean(_.gcMs), "jvm.alloc_mb" -> mean(_.alloc) / mb,
      "io.read_mb" -> mean(_.ioRead) / mb,
      "io.write_mb" -> mean(_.ioWrite) / mb)
  }

  /** Time to list and split the scan's input into read partitions,
    * through the source's public table/scan API (median of `reps`).
    */
  def scanPlanMs(paths: Seq[String], reps: Int = 5): Double = Stats.median(
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      new FstTable(paths).newScanBuilder(CaseInsensitiveStringMap.empty())
        .build().toBatch.planInputPartitions()
      (System.nanoTime() - t0) / 1e6
    })

  // ---------------------------------------------------------------
  // codec table: direct encode/decode calls against a copy bound
  // ---------------------------------------------------------------

  /** MB/s of raw payload bytes for `f`, median of 3 batches of at
    * least `minMs` each.
    */
  private def throughput(rawBytes: Long, minMs: Double)(f: () => Any)
      : Double = {
    f() // warm
    Stats.median((1 to 3).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minMs) {
        f(); reps += 1
        el = (System.nanoTime() - t0) / 1e6
      }
      rawBytes * reps / 1e6 / (el / 1000.0)
    })
  }

  /** Per-datyp encode/decode MB/s on one seeded payload each, the
    * compact container's float32 read, and a plain array copy of the
    * same number of raw bytes.
    */
  def codecTable(seed: Long, side: Int, minMs: Double = 60)
      : Map[String, Double] = {
    val r = Gen.rng(seed, 5)
    val nelm = side * side
    val perVariant = Gen.Variants.flatMap { v =>
      val values = Gen.payload(v, r, side)
      val raw = nelm.toLong * (if (v.nbits > 32) 8 else 4)
      val words = XdfFormat.encodePayload(v.datyp, v.nbits, values)
      val decoded = XdfFormat.decodePayload(v.datyp, v.nbits, nelm, words)
      require(java.util.Arrays.equals(decoded.map(_ + 0.0), values),
        s"codec table: ${v.name} does not round-trip")
      Seq(
        s"fst.encode_mb_per_s.${v.name}" -> throughput(raw, minMs)(() =>
          XdfFormat.encodePayload(v.datyp, v.nbits, values)),
        s"fst.decode_mb_per_s.${v.name}" -> throughput(raw, minMs)(() =>
          XdfFormat.decodePayload(v.datyp, v.nbits, nelm, words)))
    }
    val f32 = Gen.payload(Gen.Variants(2), r, side)
    val m = Gen.meta("TT", "CODEC", side, side, 0, 0, 5, 32, "Z", 0, 0)
    val image = FstFormat.writeFile(Seq((m, f32.map(_.toFloat))))
    val entry = FstFormat.readDirectory(image).head
    val raw = nelm * 4L
    val src = new Array[Byte](nelm * 4)
    val dst = new Array[Byte](nelm * 4)
    (perVariant ++ Seq(
      "fst.decode_mb_per_s.compact" -> throughput(raw, minMs)(() =>
        FstFormat.readPayload(image, entry)),
      "fst.copy_bound_mb_per_s" -> throughput(raw, minMs)(() =>
        System.arraycopy(src, 0, dst, 0, src.length)))).toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile from `ladder` with at least ten samples
    * above it, and its value (nearest rank). With too few samples for
    * any of them the maximum is reported, as percentile 100.
    */
  def tail(xs: Seq[Double],
           ladder: Seq[Double] = Seq(99.9, 99, 95, 90, 80, 75, 50))
      : (Double, Double) = {
    val s = xs.sorted
    if (s.isEmpty) return (100.0, 0.0)
    ladder.find(p => s.size * (1 - p / 100) >= 10) match {
      case Some(p) =>
        (p, s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
      case None => (100.0, s.last)
    }
  }
}

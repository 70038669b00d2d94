package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The record-catalog benchmark.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * One client on one driver thread runs its workload's op cycle in a
  * closed loop (each op starts when the previous one has finished) for
  * `--seconds` and at least one cycle, always finishing the cycle in
  * progress. An op's clock stops only when its whole result has been
  * written to the `noop` sink; its output is then checked against the
  * generator's ground truth, and a failed op is counted, never timed.
  * `--trace 1` instead runs an untraced, a traced and an untraced
  * cycle and reports per-layer metrics. The last stdout line is one
  * JSON object with the metrics (none, and exit code 1, if an op
  * failed); full detail goes to a file under `.bench_build/perfbench`.
  */
object Main {

  val SetupReps = 3
  // One measured cycle (it outlasts --seconds) after one warm-up cycle.
  // The JIT keeps speeding cycles up for two more cycles, but across
  // runs the host's drift, not the JIT, sets the spread (NOTES.md), and
  // a second cycle of either kind does not fit the run budget.
  val MinCycles = 1

  /** End-to-end metrics printed but left out of the result line:
    * ops_failed_frac is 0 when all is well (the result's `failed` field
    * carries it); one cycle has too few samples for a tail percentile
    * with ten samples above it; a cold set-up happens once per run, so
    * its spread across runs is not held to a bound.
    */
  val Ungated = Set("ops_failed_frac", "op_tail_ms", "setup_cold_s")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean)

  final case class Sample(op: String, ms: Double, records: Long,
                          err: Option[String], fsRead: Long = 0)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    require(kv.keySet.subsetOf(Set("workload", "seed", "seconds", "trace")),
      s"unknown arguments ${kv.keySet}")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1")
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** The session settings of the repo's own Bench, local[N], with every
    * scratch directory inside `work`.
    */
  def session(work: File): SparkSession = {
    val n = cores
    val s = SparkSession.builder()
      .master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Run one op: the timed part, then its check outside the clock. */
  def runOp(op: Op, release: Boolean = true): Sample = {
    val t0 = System.nanoTime()
    try {
      val finish = op.timed()
      val ms = (System.nanoTime() - t0) / 1e6
      val err = try op.verify(finish())
        catch { case e: Exception => Some(s"check threw $e") }
      Sample(op.name, ms, op.records, err)
    } catch {
      case e: Exception =>
        Sample(op.name, (System.nanoTime() - t0) / 1e6, op.records,
          Some(s"threw $e"))
    } finally if (release) graft.core.CacheRegistry.releaseAll()
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--selftest")) {
      sys.exit(SelfTest.run(argv.tail))
    }
    val args = parse(argv)
    val workload = Workloads(args.workload)
    val root = new File(sys.props("user.dir"))
    val out = new File(root, ".bench_build/perfbench")
    val work = new File(out,
      s"work/${workload.name}-${ProcessHandle.current.pid}")
    var spark: SparkSession = null
    try {
      val code = run(args, workload, out, work, s => spark = s)
      if (spark != null) spark.stop()
      deleteTree(work)
      sys.exit(code)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        if (spark != null) spark.stop()
        deleteTree(work)
        sys.exit(1)
    }
  }

  def run(args: Args, workload: Workload, out: File, work: File,
          started: SparkSession => Unit): Int = {
    val warmErrors = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var setup: Setup = null

    // the seeded inputs and their ground truth, once: benchmark work,
    // so it is reported apart from setup_s
    val gen0 = System.nanoTime()
    val build = workload.prepare(args.seed, args.trace)
    val genS = (System.nanoTime() - gen0) / 1e9
    // set-up, several times in one JVM: session start + writing the
    // inputs through the library + building the cycle's frames (the
    // median is reported; the first, cold one is reported apart). The
    // untimed warm-up cycle then runs in the final session.
    val setupS = (0 until SetupReps).map { i =>
      if (setup != null) {
        setup.release()
        spark.stop()
        deleteTree(new File(work, s"setup${i - 1}"))
      }
      val t0 = System.nanoTime()
      spark = session(work)
      started(spark)
      setup = build(spark, new File(work, s"setup$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    def warmed(s: Sample): Unit =
      s.err.foreach(e => warmErrors += s"${s.op}: $e")
    setup.ops.foreach(op => warmed(runOp(op)))
    if (args.trace) setup.spans.foreach(op => warmed(runOp(op, release = false)))
    graft.core.CacheRegistry.releaseAll()
    val warmupS = (System.nanoTime() - warm0) / 1e9

    val samples = ArrayBuffer.empty[Sample]
    val traced = ArrayBuffer.empty[Sample]
    val deltas = ArrayBuffer.empty[Counters]
    var untracedMs = 0.0
    var tracedMs = 0.0
    val probe = new Probe
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def untracedCycle(): Unit = setup.ops.foreach { op =>
      val s = runOp(op); samples += s; untracedMs += s.ms
    }
    def tracedCycle(): Unit = {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      Trace.onFrame = df => probe.analyzed(df.queryExecution)
      def measured(op: Op, release: Boolean): Sample = {
        Trace.drain(spark)
        val before = probe.read()
        val s = runOp(op, release)
        Trace.drain(spark)
        val d = probe.read() - before
        if (release) deltas += d
        s.copy(fsRead = d.fsRead)
      }
      setup.ops.foreach { op =>
        val s = measured(op, release = true)
        traced += s; tracedMs += s.ms
      }
      setup.spans.foreach(op => traced += measured(op, release = false))
      graft.core.CacheRegistry.releaseAll()
      Trace.onFrame = _ => ()
      spark.listenerManager.unregister(probe)
      spark.sparkContext.removeSparkListener(probe)
    }
    var cycles = 0
    if (!args.trace) {
      while (cycles < MinCycles || elapsed < args.seconds) {
        untracedCycle()
        cycles += 1
      }
    } else {
      // untraced, traced, untraced: the JIT still speeds cycles up, and
      // comparing the traced cycle with the mean of its neighbours
      // cancels a steady trend
      untracedCycle(); tracedCycle(); untracedCycle()
      cycles = 3
    }
    val measuredS = elapsed

    val ok = samples.filter(_.err.isEmpty)
    val failed = (samples ++ traced).filter(_.err.isDefined)
    failed.take(5).foreach(s => System.err.println(
      s"perfbench: ${s.op} failed: ${s.err.get}"))
    warmErrors.take(5).foreach(e =>
      System.err.println(s"perfbench: warm-up $e"))
    val attempted = samples.size + traced.size
    val latencies = ok.map(_.ms)
    val (tailP, tailMs) = Stats.tail(latencies.toSeq)
    val stored = setup.storedBytes()

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("setup_cold_s", setupS.head, "s"),
      ("records_per_s",
        ok.map(_.records).sum / math.max(1e-9, ok.map(_.ms).sum / 1000),
        "1/s"),
      ("op_p50_ms", Stats.median(latencies.toSeq), "ms"),
      ("op_tail_ms", tailMs, "ms"),
      ("ops_failed_frac", failed.size.toDouble / math.max(1, attempted),
        "ratio"),
      ("peak_rss_mb", Trace.peakRssMb(), "MB"),
      ("stored_bytes_per_payload_byte", stored.toDouble / setup.payloadBytes,
        "ratio"))

    val layer: Seq[(String, Double, String)] = if (!args.trace) Nil else {
      val byName = traced.filter(_.err.isEmpty).groupBy(_.op)
      val spans = new Spans {
        def ms(s: String) = Stats.median(byName.getOrElse(s, Nil).map(_.ms).toSeq)
        def records(s: String) =
          byName.get(s).flatMap(_.headOption).map(_.records.toDouble)
            .getOrElse(0.0)
        def readBytes(s: String) =
          Stats.median(byName.getOrElse(s, Nil).map(_.fsRead.toDouble).toSeq)
      }
      val values = Trace.execMetrics(deltas.toSeq) ++
        setup.layers.map(l => l.metric -> l.value(spans)) ++
        Trace.codecTable(args.seed, Fields.Side) ++
        Map("fst.scan_plan_ms" -> Trace.scanPlanMs(setup.scanPaths),
          "trace_overhead_frac" -> (tracedMs / (untracedMs / 2) - 1))
      Trace.Metrics.map { case (m, u) => (m, values.getOrElse(m, 0.0), u) }
    }

    // ---- output ----
    val correct = failed.isEmpty && warmErrors.isEmpty
    // a run with a failed op reports no figures: its timings would
    // leave out the failed ops and could read as a speed-up
    val reported = if (!correct) Nil else if (args.trace) layer
      else e2e.filterNot(m => Ungated(m._1))
    println(s"perfbench workload=${workload.name} seed=${args.seed} " +
      s"trace=${if (args.trace) 1 else 0} local[$cores] " +
      s"nproc=${Runtime.getRuntime.availableProcessors} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory >> 20}")
    println(s"why: ${workload.why}")
    println("input: " + setup.input.map { case (k, v) => s"$k=$v" }
      .mkString(" ") + s" digest=${setup.digest.take(16)}")
    println(f"run: cycles=$cycles ops=$attempted failed=${failed.size} " +
      f"measured_s=$measuredS%.2f tail=${fmtP(tailP)} " +
      f"gen_s=$genS%.2f " +
      s"setup_s=${setupS.map(s => f"$s%.3f").mkString(",")} " +
      f"warmup_s=$warmupS%.2f")
    (e2e ++ layer).foreach { case (m, v, u) =>
      println(s"metric $m ${num(v)} $u")
    }
    val detail = new File(out, s"results/${workload.name}-seed${args.seed}" +
      s"-trace${if (args.trace) 1 else 0}.json")
    detail.getParentFile.mkdirs()
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val doc = Json.obj(
      "workload" -> workload.name, "why" -> workload.why,
      "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cores]",
      "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20),
      "spark_conf" -> Json.obj(conf: _*),
      "input" -> Json.obj(setup.input: _*), "digest" -> setup.digest,
      "gen_s" -> genS, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "cycles" -> cycles,
      "measured_s" -> measuredS,
      "tail_percentile" -> tailP,
      "warmup_errors" -> warmErrors.toSeq,
      "failures" -> failed.map(s => s"${s.op}: ${s.err.get}").toSeq,
      "ops" -> Json.obj(samples.groupBy(_.op).toSeq.sortBy(_._1).map {
        case (n, ss) => n -> Json.obj("records" -> ss.head.records,
          "ms" -> ss.map(_.ms).toSeq)
      }: _*),
      "spans" -> Json.obj(traced.groupBy(_.op).toSeq.sortBy(_._1).map {
        case (n, ss) => n -> Json.obj("ms" -> ss.map(_.ms).toSeq,
          "fs_read_bytes" -> ss.map(_.fsRead).toSeq)
      }: _*),
      "metrics" -> Json.obj((e2e ++ layer).map { case (m, v, u) =>
        m -> Json.obj("value" -> v, "unit" -> u) }: _*))
    val w = new java.io.PrintWriter(detail, "UTF-8")
    try w.println(Json.render(doc)) finally w.close()
    println(s"detail: ${root(detail)}")
    println(Json.render(Json.obj(
      "correct" -> correct, "attempted" -> attempted,
      "failed" -> failed.size,
      "metrics" -> Json.obj(reported.map { case (m, v, u) =>
        m -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    if (correct) 0 else 1
  }

  private def root(f: File): String =
    new File(sys.props("user.dir")).toPath.relativize(f.toPath).toString

  private def fmtP(p: Double): String =
    if (p == 100) "max" else if (p == p.floor) s"p${p.toLong}" else s"p$p"

  private def num(v: Double): String = java.lang.Double.toString(v)
}

/** Minimal JSON rendering for the result line and the detail file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${render(x)}" }
      .mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: java.lang.Number => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case null => "null"
    case x => str(x.toString)
  }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

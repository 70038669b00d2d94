package graft

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The dev tool, on the [[GraftSession]] conf the bench and gate run:
  *
  *  - `time <sfDir> <reps> <q,..|all>` runs each query `reps` times in
  *    one warm JVM; `q,..` are name prefixes
  *    ([[SparkEntry.selectQueries]]). Run 1 carries the per-plan fixed
  *    cost (Catalyst, codegen compile, JIT); later runs are the data
  *    work.
  *  - `ab <sfDir> <q> <reps> <spark.key> <a> <b>` is a PAIRED A/B of one
  *    session conf. The local host's throughput drifts ±40% over hours
  *    (DESIGN.md round 7), so unpaired runs cannot resolve sub-second
  *    deltas: the two values alternate run by run (A B A B ...) so both
  *    see the same drift, after one untimed run of each (plan codegen is
  *    per-variant and must not land on either's run 1).
  *  - `plan <sfDir> <q..>` prints each query's formatted physical plan,
  *    with the ids that vary between runs of the same code renumbered
  *    ([[stableIds]]), so two dumps of the same code diff empty.
  *
  * Every timed run is a full `write.format("noop")` of the query's
  * result, so no projection or aggregate is pruned away as under
  * `count()`. Each `time` line gives the median, then the Janino
  * compiles over the query's runs and their milliseconds
  * (`compiles=N compile_ms=M`): a query that compiles on every run is
  * thrashing Spark's code cache.
  *
  * Usage: runMain graft.Tool time|ab|plan <args..>
  */
object Tool {
  val usage: String = "usage: graft.Tool time <sfDir> <reps> <q,..|all> " +
    "| ab <sfDir> <q> <reps> <spark.key> <a> <b> | plan <sfDir> <q..>"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try run(spark, args.toList) finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "time" :: sfDir :: reps :: which :: Nil =>
      val names = SparkEntry.selectQueries(
        if (which == "all") None else Some(which)).map(_._1)
      warmUp(spark, sfDir)
      names.foreach { q =>
        try {
          val (n0, ns0) = compiles()
          val ts = (1 to reps.toInt).map(_ => timed(spark, sfDir, q))
          val (n1, ns1) = compiles()
          println(s"[tool] time $q ${ts.map(f2).mkString(" ")} " +
            s"median=${f2(median(ts))} compiles=${n1 - n0} " +
            s"compile_ms=${(ns1 - ns0) / 1000000}")
        } catch { case e: Exception => println(s"[tool] time $q ERR $e") }
      }
    case "ab" :: sfDir :: q :: reps :: key :: a :: b :: Nil =>
      require(key.startsWith("spark."),
        s"ab varies a session conf (spark.*), got '$key'")
      warmUp(spark, sfDir)
      Seq(a, b).foreach { v => spark.conf.set(key, v); timed(spark, sfDir, q) }
      val runs = (1 to reps.toInt).flatMap { i =>
        Seq(a, b).map { v =>
          spark.conf.set(key, v)
          val t = timed(spark, sfDir, q)
          println(s"[tool] ab $q $key=$v run $i: ${f2(t)} s")
          v -> t
        }
      }
      Seq(a, b).foreach { v =>
        val ts = runs.collect { case (`v`, t) => t }
        println(s"[tool] ab MEDIAN $q $key=$v: ${f2(median(ts))} s " +
          s"(${ts.map(f2).mkString(", ")})")
      }
    case "plan" :: sfDir :: names if names.nonEmpty =>
      names.foreach { q =>
        println(s"\n========== $q ==========")
        println(stableIds(SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))))
      }
    case _ => throw new IllegalArgumentException(usage)
  }

  /** `plan` with its run-dependent ids renumbered in order of first
    * appearance: AQE query-stage ids (the `Arguments` of a
    * `...QueryStage` node), whole-stage-codegen ids, exchange
    * `plan_id`s and expression ids. AQE creates sibling stages, and
    * plans their codegen stages, in whichever order their inputs
    * finish, and the other two count every plan the session made.
    */
  def stableIds(plan: String): String = {
    final class Ids(first: Int) {
      private val seen = mutable.Map[String, Int]()
      def apply(id: String): String =
        seen.getOrElseUpdate(id, first + seen.size).toString
    }
    val (stage, codegen, exchange, expr) =
      (new Ids(0), new Ids(1), new Ids(0), new Ids(0))
    val node = """^\(\d+\) (\w+)""".r.unanchored
    var inStage = false
    plan.split("\n", -1).map { line =>
      line match {
        case node(name) => inStage = name.endsWith("QueryStage")
        case _ =>
      }
      val l = if (inStage) """^Arguments: (\d+)$""".r.replaceAllIn(line,
        m => s"Arguments: ${stage(m.group(1))}") else line
      Seq[(scala.util.matching.Regex, String => String)](
        """(\[codegen id : )(\d+)""".r -> (codegen(_)),
        """(\*\()(\d+)(?=\))""".r -> (codegen(_)),
        """(\[plan_id=)(\d+)""".r -> (exchange(_)),
        """(#)(\d+)""".r -> (expr(_))
      ).foldLeft(l) { case (acc, (re, ids)) =>
        re.replaceAllIn(acc, m => scala.util.matching.Regex.quoteReplacement(
          m.group(1) + ids(m.group(2))))
      }
    }.mkString("\n")
  }

  /** Untimed warm-up: JVM, codegen and session start-up must not land
    * on whichever query runs first. The streaming engine (micro-batch
    * planner, state stores, checkpoint I/O) class-loads and codegens on
    * first use, a multi-second one-time cost, so one tiny drain absorbs
    * it too.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    try {
      graft.streaming.StreamDrain.drain(spark,
        spark.readStream.format("rate")
          .option("rowsPerSecond", "1").option("numPartitions", "1")
          .load().groupBy().count(),
        "complete", "warmup", shufflePartitions = 1,
        timeoutMs = 60000L).count()
    } catch { case _: Throwable => () }
  }

  /** Janino compiles so far in this JVM and their total nanoseconds.
    * Spark's code cache holds a fixed number of generated classes, so a
    * run that keeps compiling is evicting classes it needs again.
    */
  private def compiles(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime)

  /** True median: the two middle values averaged for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Seconds to materialize the query's whole result, then release its
    * persisted intermediates (outside the clock).
    */
  private def timed(spark: SparkSession, sfDir: String, q: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(q)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally {
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }
  }

  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.US, v)
}

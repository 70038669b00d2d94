package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan lint over EVERY declared query: builds each physical plan at
  * sf0.001 and rejects scale-killer shapes. A cartesian product
  * sneaking into any operator (e.g. a join key lost in a refactor)
  * fails `sbt test` before the driver or a cluster ever sees it.
  * (`crossJoin(broadcast(oneRowAgg))` plans as
  * BroadcastNestedLoopJoin over a single-row side, which is fine and
  * distinct from CartesianProduct.)
  */
class PlanLintSpec extends AnyFunSuite with BeforeAndAfterAll {

  // the bench and gate conf, so the lint checks the plans they run
  lazy val spark: SparkSession = GraftSession(4)

  override def afterAll(): Unit = spark.stop()

  /** Streaming-drain queries: building them EXECUTES the whole
    * stream (staging write + drain) and the returned DataFrame is the
    * memory sink's LocalTableScan — linting it is vacuous and costs
    * full execution. Their plan posture is covered by StreamingSpec.
    */
  private val streamingDrains =
    Set("f43_stream_agg", "f45_stream_dedup", "q19_stream_sessions",
      "p46_stream_neardup", "q26_stream_stream_join",
      "q43_stream_enrich")

  /** Queries allowed to plan a GLOBAL sort. Only the human-listing op
    * qualifies: `voir` IS a sorted display (the reference sorts the
    * whole catalog to print it); every other operator must express
    * ordering as TakeOrdered / keyed windows / bounded-domain sorts,
    * or it stops scaling.
    */
  private val globalSortAllowed = Set("f14_voir")

  test("every declared query analyzes+plans cleanly, with no CartesianProduct") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).exists())
    // collect ALL problems (attributed per query) instead of dying on
    // the first: a testdata-drift analysis error (round 4: TIMESTAMP_NTZ
    // vs unix_micros) should read as "q16 failed analysis", not as a
    // mystery abort of the cartesian lint.
    val problems = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => streamingDrains(q._1))
      .flatMap { case (name, fn) =>
        try {
          val plan = fn(spark, dir).queryExecution.executedPlan.toString
          val globalSort = plan.linesIterator.exists(l =>
            l.contains("Sort [") && l.contains("], true, 0"))
          if (plan.contains("CartesianProduct"))
            Some(s"$name: plans a CartesianProduct")
          else if (globalSort && !globalSortAllowed(name))
            Some(s"$name: plans a GLOBAL Sort (scale-killer; use " +
              "TakeOrdered / keyed windows, or whitelist a display op)")
          else None
        } catch { case e: Throwable =>
          Some(s"$name: failed analysis/planning — " +
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      }
    assert(problems.isEmpty, problems.mkString("\n", "\n", ""))
  }

  test("fststat and unit_convert keep payload math off higher-order functions") {
    // needs no testdata: a two-record fixture catalog is enough to
    // build both optimized plans (over a range, not a local relation,
    // which the optimizer would fold away with the math on top)
    import org.apache.spark.sql.functions._
    val cat = spark.range(2).select(
      when(col("id") === 0, "TT").otherwise("UU").as("nomvar"),
      lit(2).as("ni"), lit(1).as("nj"),
      array(col("id").cast("float"), lit(1.5f)).as("d"))
    val plans = Seq(
      "fststat" -> graft.ops.Stats.fststat(cat),
      "unit_convert" -> graft.ops.UnitConvert.unitConvert(cat, "kelvin"))
      .map { case (op, df) => op -> df.queryExecution.optimizedPlan.toString }
    // a lambda in the plan means a CodegenFallback HOF (aggregate,
    // transform, zip_with, ...) boxes every payload element again
    val hof = plans.filter { case (_, p) =>
      p.contains("aggregate(") || p.contains("transform(") ||
        p.contains("lambdafunction(")
    }
    assert(hof.isEmpty, hof.map { case (op, p) => s"$op:\n$p" }
      .mkString("\n", "\n", ""))
    assert(plans.forall { case (op, p) =>
      p.contains(if (op == "fststat") "graft_fststat(" else
        "graft_unit_convert(")
    })
  }

  test("cube plans stack payloads in one aggregate over one exchange") {
    // a fixture catalog over a range, as above: two levels of TT with a
    // duplicate, and one lon and one lat axis record
    import org.apache.spark.sql.functions._
    val cat = spark.range(5).select(col("id").as("rid"),
      element_at(array(lit("TT"), lit("TT"), lit("TT"), lit(">>"),
        lit("^^")), (col("id") + 1).cast("int")).as("nomvar"),
      (lit(graft.core.IpCodec.encode(500f, 2)) + col("id") % 2).as("ip1"),
      lit(0).as("ip2"), lit(7).as("ig1"), lit(8).as("ig2"),
      lit(442998800L).as("datev"),
      array(col("id").cast("float"), lit(1.5f)).as("d"))
    val plans = Seq(
      "toCube" -> graft.ops.Cubes.toCube(cat),
      "toCubeTimeseries" -> graft.ops.Cubes.toCubeTimeseries(cat),
      "toCubeWithCoords" -> graft.ops.Cubes.toCubeWithCoords(cat))
    val bad = plans.flatMap { case (op, df) =>
      val optimized = df.queryExecution.optimizedPlan.toString
      val physical = df.queryExecution.executedPlan.toString
      // a shuffle exchange, not BroadcastExchange or ReusedExchange
      val shuffles = "(?<![A-Za-z])Exchange ".r.findAllIn(physical).size
      // toCubeWithCoords adds the axes pick, min(struct(rid, d)) per
      // grid: a SortAggregate over a second, axis-records-only exchange
      val axes = op == "toCubeWithCoords"
      Seq(
        optimized.contains("lambdafunction(") ->
          "holds a LambdaFunction (a CodegenFallback HOF)",
        (physical.contains("SortAggregate") && !axes) ->
          "plans a SortAggregate",
        !physical.contains("graft_cube(") -> "does not stack with graft_cube",
        (shuffles != (if (axes) 2 else 1)) ->
          s"plans $shuffles shuffle exchanges")
        .collect { case (true, why) => s"$op $why:\n$physical" }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    assert(plans.forall(_._2.count() >= 1))
  }

  test("decodeMetadata decodes ips with the native codec, not a Column CASE tree") {
    import graft.sources.fst.FstFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_lint_ip")
    val recs = (1 to 2).map(i => (FstFormat.Meta("TT", "P", "R1_V710_N", 2,
      1, 1, 0L, graft.core.IpCodec.encode(i * 100f, 2), 6, 0, 0, 0, 5, 32,
      "X", 0, 0, 0, 0, 442998800L, 0, 0), Array(1f, 2f)))
    java.nio.file.Files.write(dir.resolve("ip.fst"),
      FstFormat.writeFile(recs))
    val plan = graft.ops.Decode.decodeMetadata(
      spark.read.format("fstrec").load(dir.toString))
      .queryExecution.optimizedPlan
      .treeString(verbose = false, maxFields = Int.MaxValue)
    assert(plan.contains("graft_decode_ip_value(") &&
      plan.contains("graft_decode_ip_kind(") && !plan.contains("1.0E-11"),
      plan)
  }
}

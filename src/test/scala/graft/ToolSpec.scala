package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs every [[Tool]] subcommand once on a small query, so the dev
  * tool cannot rot untested.
  */
class ToolSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val q = "f19_quick_pressure"

  private def tool(args: String*): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Tool.main(args.toArray))
    out.toString("UTF-8")
  }

  test("time, ab and plan run a query under the session conf") {
    assume(new java.io.File(dir).exists())
    val time = tool("time", dir, "1", q)
    assert((s"""\\[tool\\] time $q \\d+\\.\\d\\d median=\\d+\\.\\d\\d""" +
      """ compiles=\d+ compile_ms=\d+""").r
      .findFirstIn(time).isDefined, time)

    val key = "spark.sql.shuffle.partitions"
    val ab = tool("ab", dir, q, "1", key, "2", "4")
    Seq("2", "4").foreach { v =>
      assert(ab.contains(s"[tool] ab $q $key=$v run 1: "), ab)
      assert(ab.contains(s"[tool] ab MEDIAN $q $key=$v: "), ab)
    }

    val plan = tool("plan", dir, q)
    assert(plan.contains(s"========== $q ==========") &&
      plan.contains("Physical Plan"), plan)
  }

  test("one query filter: name prefixes, and no match fails loudly") {
    def names(only: String) = SparkEntry.selectQueries(Some(only)).map(_._1)
    assert(SparkEntry.selectQueries(None).map(_._1) ==
      SparkEntry.queries.keys.toSeq.sorted)
    assert(names(q) == Seq(q))
    val f1 = names("f1")
    assert(f1.nonEmpty && f1.forall(_.startsWith("f1")) && f1 == f1.sorted)
    assert(names(s" $q , q01") == Seq(q) ++ names("q01"))
    Seq("zz_nope", s"$q,zz_nope", " , ").foreach { f =>
      val e = intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(f)))
      assert(e.getMessage.contains("matches no query"), e.getMessage)
    }
    // Tool time selects before it starts any work
    intercept[IllegalArgumentException](
      Tool.run(null, List("time", dir, "1", "zz_nope")))
  }

  test("plan dumps renumber the ids that vary between runs") {
    // the same plan twice: AQE created the two sibling stages (and
    // planned their codegen stages) in the other order, and the session
    // had made other plans before the second dump
    def dump(stages: (Int, Int), codegen: (Int, Int), off: Int) = s"""
      |== Physical Plan ==
      |AdaptiveSparkPlan (9)
      |+- == Final Plan ==
      |   * SortMergeJoin Inner (8)
      |   :- ShuffleQueryStage (3), Statistics(sizeInBytes=1.0 KiB)
      |   +- ShuffleQueryStage (6), Statistics(sizeInBytes=2.0 KiB)
      |(2) Exchange
      |Input [1]: [k#${101 + off}L]
      |Arguments: hashpartitioning(k#${101 + off}L, 4), ENSURE_REQUIREMENTS, [plan_id=${40 + off}]
      |(3) ShuffleQueryStage
      |Output [1]: [k#${101 + off}L]
      |Arguments: ${stages._1}
      |(4) Project [codegen id : ${codegen._1}]
      |Output [1]: [k#${102 + off}L]
      |(5) Exchange
      |Arguments: hashpartitioning(k#${102 + off}L, 4), ENSURE_REQUIREMENTS, [plan_id=${41 + off}]
      |(6) ShuffleQueryStage
      |Output [1]: [k#${102 + off}L]
      |Arguments: ${stages._2}
      |(7) Sort [codegen id : ${codegen._2}]
      |Arguments: [k#${101 + off}L ASC NULLS FIRST], false, 0
      |(8) SortMergeJoin [codegen id : 3]
      |Arguments: 4""".stripMargin
    val a = dump((3, 4), (1, 2), 0)
    val b = dump((4, 3), (2, 1), 7000)
    assert(a != b)
    val stable = Tool.stableIds(a)
    assert(stable == Tool.stableIds(b), stable)
    Seq("Arguments: 0", "Arguments: 1", "[codegen id : 1]",
      "[codegen id : 3]", "[plan_id=0]", "[plan_id=1]", "k#0L", "k#1L",
      // not a query stage's: left as it is
      "(8) SortMergeJoin [codegen id : 3]\nArguments: 4").foreach { s =>
      assert(stable.contains(s), s)
    }
    // a real difference still shows
    assert(Tool.stableIds(a.replace("Inner", "LeftOuter")) != stable)
  }

  test("bad arguments fail with the usage line") {
    val e = intercept[IllegalArgumentException](
      Tool.run(null, List("time", dir)))
    assert(e.getMessage == Tool.usage)
    val k = intercept[IllegalArgumentException](
      Tool.run(null, List("ab", dir, q, "1", "graft.knob", "a", "b")))
    assert(k.getMessage.contains("spark.*"), k.getMessage)
  }
}

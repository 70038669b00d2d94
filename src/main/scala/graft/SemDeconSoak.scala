package graft

import org.apache.spark.sql.functions._

/** Dev tool: scale behavior of the semantic-decon probe (p86/p89).
  * Two claims under test, stated the way SemDecon's scaladoc states
  * them — honestly:
  *  1. the probe's per-batch cost is linear in the TRAIN volume
  *     (scan bandwidth + one per-vector aggregate exchange; the
  *     suite side is broadcast), measured at 1x/10x/30x replication;
  *  2. the suite index is an OPERATIONAL artifact, not a throughput
  *     one — the suite is tiny, so direct and index probes should be
  *     near-parity (unlike p84, where the skipped work is the whole
  *     corpus scan), with outputs row-identical at every multiplier.
  *
  * Usage: runMain graft.SemDeconSoak [sfDir] [multipliers...]
  */
object SemDeconSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mults = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                else Seq(1, 10, 30)
    val spark = GraftSession()
    graft.functions.GraftFunctions.install(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val suite = emb.filter(col("vec_id") < 500)
      .select(col("vec_id").as("suite_id"), col("embedding").as("sv"))
      .cache()
    println(s"[sdsoak] suite ${suite.count()} vectors")
    val idx = graft.core.Scratch.path("graft_sdsoak_suite_idx")
    val tb = System.nanoTime()
    graft.pipeline.SemDecon.writeSuiteIndex(suite, idx)
    println(f"[sdsoak] one-time writeSuiteIndex: ${
      (System.nanoTime() - tb) / 1e9}%.2f s")

    def train(m: Int) = {
      val base = emb.select(col("vec_id"), col("embedding").as("v"))
      spark.range(m).crossJoin(base)
        .select((col("vec_id") + col("id") * 10000000L).as("vec_id"),
          col("v"))
    }
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).sortBy(_._1).toSeq

    // untimed warmup of both plans at the smallest multiplier
    rows(graft.pipeline.SemDecon.probe(
      graft.pipeline.SemDecon.suiteTable(suite), train(1)))
    rows(graft.pipeline.SemDecon.decontaminateAgainstIndex(
      spark, idx, train(1)))
    mults.foreach { m =>
      val t = train(m)
      val (d, sd) = time(rows(graft.pipeline.SemDecon.probe(
        graft.pipeline.SemDecon.suiteTable(suite), t)))
      val (x, sx) = time(rows(graft.pipeline.SemDecon
        .decontaminateAgainstIndex(spark, idx, t)))
      println(f"[sdsoak] m=$m%-3d train=${m * emb.count()}%-8d " +
        f"direct $sd%.2f s, index $sx%.2f s, rows ${d.length}, " +
        f"equal ${d == x}")
      assert(d == x, s"index probe diverged from direct at m=$m")
      assert(d.length == m * d.count(_._1 < 10000000L),
        "probe output did not scale linearly with replication")
    }
    spark.stop()
  }
}

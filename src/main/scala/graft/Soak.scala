package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: adversarial-SCALE soak for the dedup/CC family — the
  * 100 TB design claims (no per-round growth in the connected-
  * components loop, no LSH bucket-cap blowout under pathological
  * duplication) measured on a deliberately skewed fixture instead of
  * only design-audited.
  *
  * Fixture (deterministic, built once into a scratch dir): the sf0.1
  * `documents` table duplicated `copies`× (doc_id offset 1e8 per copy
  * so the pipeline fixtures' own +1e6/+2e6 doubling offsets never
  * collide), with two planted pathologies:
  *  - a MEGA-CLUSTER holding ~20% of docs: chained sliding windows
  *    (120 words, stride 6) over one pseudo-random word stream, so
  *    consecutive chain ranks share ~90% of their shingles and the
  *    whole 20% connects into ONE component with diameter in the
  *    thousands — the worst case for a propagation-style CC loop
  *    (exercises the O(log diameter) label-doubling claim);
  *  - a HOT BUCKET: ~2% of docs carry one IDENTICAL text, so every
  *    band key they hash to holds a bucket far over LshBucketCap —
  *    the degenerate-bucket guard must cap it (identical texts are
  *    exact-dedup's job, stage 1 of the curation funnel; LSH
  *    skipping them is the documented contract).
  * The remaining docs appear `copies`× verbatim, giving the band
  * table a power-law bucket-size profile (modal size ~2·copies from
  * the pipeline's own corpus doubling, long natural tail).
  *
  * Measurements printed per phase (and summarized in DESIGN.md):
  *  - band-bucket histogram: max / p50 / p99 bucket size, buckets
  *    over cap, share of band rows lost to capped buckets;
  *  - p16's per-CC-round wall time (`Clusters.lastStats`) and
  *    per-job shuffle read/write bytes+records from a listener, so
  *    round-over-round growth is visible directly;
  *  - end-to-end times for p02/p16/p33/p47/p67 pointed at the
  *    fixture dir through the very SparkEntry registry the driver
  *    runs.
  *
  * Usage: runMain graft.Soak [sfDir] [copies]
  */
object Soak {

  /** Per-job shuffle totals, keyed by job id (stage -> job via
    * onJobStart; task metrics accumulated at task end).
    */
  class ShuffleListener extends SparkListener {
    case class Agg(var srB: Long = 0, var swB: Long = 0,
                   var srRec: Long = 0, var swRec: Long = 0,
                   var tasks: Int = 0)
    // Integer values so a missing stage (straggler finishing after
    // reset()) reads back as null instead of unboxing to 0
    val jobOfStage =
      new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    @volatile var t0 = System.nanoTime()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      j.stageIds.foreach(s => jobOfStage.put(s, j.jobId))
      jobStart.put(j.jobId, (System.nanoTime() - t0) / 1e9)
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      // a straggler task can finish after reset() cleared its
      // stage→job entry; dropping it beats misattributing its bytes
      // to a phantom job and corrupting the per-round numbers
      val jidBoxed = jobOfStage.get(te.stageId)
      if (jidBoxed == null) return
      val jid: Int = jidBoxed.intValue()
      val m = te.taskMetrics
      if (m != null) {
        val a = jobs.computeIfAbsent(jid, _ => Agg())
        a.synchronized {
          a.srB += m.shuffleReadMetrics.totalBytesRead
          a.swB += m.shuffleWriteMetrics.bytesWritten
          a.srRec += m.shuffleReadMetrics.recordsRead
          a.swRec += m.shuffleWriteMetrics.recordsWritten
          a.tasks += 1
        }
      }
    }
    def reset(): Unit = { jobs.clear(); jobOfStage.clear()
      jobStart.clear(); t0 = System.nanoTime() }
    def dump(tag: String): Unit = {
      import scala.jdk.CollectionConverters._
      println(s"[soak] per-job shuffle ($tag):")
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (jid, a) =>
        println(f"[soak]   job $jid%3d @${jobStart.getOrDefault(jid, -1.0)}%7.2fs  " +
          f"write ${a.swB / 1e6}%9.2f MB / ${a.swRec}%10d rec   " +
          f"read ${a.srB / 1e6}%9.2f MB / ${a.srRec}%10d rec   (${a.tasks} tasks)")
      }
    }
  }

  def buildFixture(spark: SparkSession, sfDir: String, outDir: String,
                   copies: Int): Unit = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val d0 = (0 until copies).map { k =>
      base.withColumn("doc_id", col("doc_id") + k.toLong * 100000000L)
    }.reduce(_ unionByName _)
    val baseId = pmod(col("doc_id"), lit(100000000L))
    val copyK = floor(col("doc_id") / lit(100000000L)).cast("long")
    val isHot = pmod(baseId, lit(50L)) === 0
    val isMega = pmod(baseId, lit(5L)) === 0 && !isHot
    // dense chain rank across copies: copy k continues copy k-1's
    // stream, so the mega docs form ONE chain of length ~copies*900
    val rank = (copyK * lit(1000L) + floor(baseId / lit(5L))).cast("long")
    // 120-word sliding window, stride 6, over a fixed word stream
    // where every position carries a distinct word (prime modulus
    // far above the stream length — a small cyclic vocabulary would
    // make the stream periodic, windows 256 ranks apart identical,
    // and band buckets blow past the cap, which kills every chain
    // pair and collapses the planted topology; measured exactly so
    // with a 512-word vocab). Adjacent ranks share 114 of 120 words
    // (~90% shingle overlap), ranks 7+ apart fall under the 0.5
    // jaccard threshold — a pure chain topology
    val chainText = concat_ws(" ",
      transform(sequence(rank * 6, rank * 6 + 119),
        i => format_string("w%d", pmod(i * 2654435761L, lit(1000003L)))))
    val hotText = lit(("hot bucket sentinel " +
      (0 until 27).map(i => s"dup$i").mkString(" ")))
    val text = when(isHot, hotText)
      .when(isMega, chainText)
      .otherwise(col("text"))
    d0.withColumn("text", text)
      .withColumn("n_chars", length(col("text")).cast("int"))
      .repartition(32)
      .write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
  }

  /** Decontamination-family fixture: every doc (test AND train
    * buckets — the h64 bucketing is text-keyed, so appending the same
    * tail moves docs between buckets deterministically but keeps the
    * ~90/10 split) carries one fixed 24-word boilerplate tail. That
    * plants ~24 UNIVERSAL 3-shingles — join keys with document
    * frequency = N, the "licence header in every doc" pathology — and
    * a hot 8-word span population for p30 (the tail's span alignment
    * depends on each doc's word count mod 8, so each of the 8
    * alignments is shared by ~N/8 docs). The claim under test: the
    * shingle-keyed decontamination joins (p23/p59/p79) and the span
    * winner-election (p30) stay LINEAR under a universal key — the
    * probe side carries one row per distinct key (p23/p79 distinct,
    * p59 bloom aggregate, p30 min-combine), so a universal key fans
    * out N×1, never N×M — with the hot key's N rows landing on one
    * partition at worst (AQE skew split territory), never N² rows
    * anywhere.
    */
  def buildDeconFixture(spark: SparkSession, sfDir: String,
                        outDir: String, copies: Int): Unit = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val d0 = (0 until copies).map { k =>
      base.withColumn("doc_id", col("doc_id") + k.toLong * 100000000L)
    }.reduce(_ unionByName _)
    val boiler = (0 until 24).map(i => s"boilerplate$i").mkString(" ")
    d0.withColumn("text", concat(col("text"), lit(" " + boiler)))
      .withColumn("n_chars", length(col("text")).cast("int"))
      .repartition(32)
      .write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
  }

  /** Shingle-df audit for the decon fixture: prove the plant (a df=N
    * head) and show what natural text's Zipf head looks like next to
    * it.
    */
  def shingleDfAudit(spark: SparkSession, dir: String): Unit = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingleSig(col("text"))
          .getField("sh").as("sh"))
      .filter(size(col("sh")) > 0)
    val n = d.count()
    val df = d.select(explode(col("sh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val top = df.orderBy(col("df").desc).limit(5).collect()
    val stats = df.agg(count(lit(1)).as("keys"),
      sum(when(col("df") === n, 1).otherwise(0)).as("universal"))
      .collect()(0)
    println(f"[soak] decon shingle df: $n docs, ${stats.getLong(0)} " +
      f"distinct shingles, ${stats.getLong(1)} UNIVERSAL (df = N); " +
      s"top df: ${top.map(_.getLong(1)).mkString(", ")}")
  }

  /** Band-bucket histogram over the same doubled corpus the p-queries
    * shingle (documents + the pipeline's own +1e6 perturbed copies).
    */
  def bucketAudit(spark: SparkSession, dir: String): Unit = {
    val cap = graft.pipeline.PipelineOps.LshBucketCap
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzz extra tail qq")).as("text")))
    val bands = corpus
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingleSig(col("text"))
          .getField("bks").as("bks"))
      .filter(size(col("bks")) > 0)
      .select(col("doc_id"), posexplode(col("bks")).as(Seq("band", "bkey")))
    val sizes = bands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("n"))
      .select(col("n")).cache()
    val row = sizes.agg(
      count(lit(1)).as("buckets"),
      sum(col("n")).as("rows"),
      max(col("n")).as("max"),
      expr("percentile(n, 0.5)").as("p50"),
      expr("percentile(n, 0.99)").as("p99"),
      sum(when(col("n") > cap, 1).otherwise(0)).as("over_cap"),
      sum(when(col("n") > cap, col("n")).otherwise(0)).as("rows_capped")
    ).collect()(0)
    sizes.unpersist()
    val rows = row.getLong(1); val capped = row.getLong(6)
    println(f"[soak] band buckets: ${row.getLong(0)} buckets, $rows band rows; " +
      f"size max=${row.getLong(2)} p50=${row.getDouble(3)}%.0f " +
      f"p99=${row.getDouble(4)}%.0f; over-cap(>$cap)=${row.getLong(5)} " +
      f"buckets holding $capped rows (${100.0 * capped / rows}%.2f%% of band rows dropped by the guard)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession()
    val listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)

    val fixDir = graft.core.Scratch.path(s"graft_soak_${copies}x")
    val t0 = System.nanoTime()
    buildFixture(spark, sfDir, fixDir, copies)
    val n = spark.read.parquet(s"$fixDir/documents.parquet").count()
    println(f"[soak] fixture: $n docs (${copies}x sf0.1, ~20%% mega-chain, " +
      f"~2%% hot-identical) in ${(System.nanoTime() - t0) / 1e9}%.1f s at $fixDir")

    bucketAudit(spark, fixDir)

    Seq("p02_minhash_lsh", "p16_dup_clusters", "p33_neardup_prune",
      "p67_cluster_histogram", "p47_curation_funnel",
      "p43_incremental_dedup", "p52_simhash_neardup").foreach { q =>
      listener.reset()
      val t = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, fixDir)
      val rows = df.count()
      val secs = (System.nanoTime() - t) / 1e9
      println(f"[soak] $q: $secs%.1f s ($rows rows)")
      if (q == "p16_dup_clusters") {
        listener.dump(q)
        graft.pipeline.Clusters.lastStats.foreach(c => println(s"[soak]   cc $c"))
      }
      if (q == "p43_incremental_dedup") {
        // stratified-keep evidence: the hot-identical docs re-arrive
        // in the incoming batch (baseId%50==0 implies %5==0) wearing
        // the same suffix as their corpus twins — with over-cap
        // corpus buckets DROPPED (round 7) they all reported novel
        // (corpus pollution); the size-stratified keep must match
        // them
        val hot = df.filter(
          pmod(pmod(col("new_id") - 2000000L, lit(100000000L)),
            lit(50L)) === 0)
          .agg(count(lit(1)).as("n"),
            sum(when(col("matched"), 1L).otherwise(0L)).as("m"))
          .collect()(0)
        println(s"[soak]   p43 hot-identical incoming: ${hot.getLong(0)} " +
          s"docs, ${hot.getLong(1)} matched (round 7: 0 matched)")
      }
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }

    // phase 2: the decontamination family under a universal shingle
    val deconDir = graft.core.Scratch.path(s"graft_soak_decon_${copies}x")
    val t1 = System.nanoTime()
    buildDeconFixture(spark, sfDir, deconDir, copies)
    println(f"[soak] decon fixture (universal 24-word boilerplate in " +
      f"EVERY doc) in ${(System.nanoTime() - t1) / 1e9}%.1f s at $deconDir")
    shingleDfAudit(spark, deconDir)
    Seq("p23_decontamination", "p59_bloom_decontamination",
      "p79_decontamination_matrix", "p30_span_dedup").foreach { q =>
      listener.reset()
      val t = System.nanoTime()
      val rows = SparkEntry.queries(q)(spark, deconDir).count()
      val secs = (System.nanoTime() - t) / 1e9
      println(f"[soak] $q: $secs%.1f s ($rows rows)")
      listener.dump(q)
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }

    // phase 3 (round 9, verdict item 7): what PARTIAL labels look
    // like operationally when connected components runs out of
    // iterations under strict = false — the diagnostic mode. The
    // mega-chain needs ceil(log2(diameter)) + 1 rounds; capping
    // maxIter below that leaves the chain split into several
    // components whose count and size profile this phase prints, so
    // an operator seeing strict = false output knows the signature
    // of under-merging (many same-size fragments of one true
    // component) vs genuinely separate clusters.
    {
      val d = spark.read.parquet(s"$fixDir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      val (sh, _, pairs) = graft.pipeline.NearDup.lshPairs(d)
      val nodes = sh.select(col("doc_id").as("id"))
      val edges = pairs.select(col("doc_id_a").as("a"),
        col("doc_id_b").as("b"))
      Seq(3, 6, 25).foreach { mi =>
        val t = System.nanoTime()
        val lab = graft.pipeline.Clusters.connectedComponents(
          nodes, edges, maxIter = mi, trustedEndpoints = true,
          strict = false)
        val comp = lab.groupBy("label")
          .agg(count(lit(1)).as("sz")).filter(col("sz") >= 2)
        val prof = comp.agg(count(lit(1)).as("n"),
          min("sz").as("mn"),
          expr("percentile_approx(sz, 0.5)").as("p50"),
          max("sz").as("mx")).collect()(0)
        println(f"[soak] cc strict=false maxIter=$mi%2d: " +
          f"${prof.getLong(0)} multi-doc components " +
          f"(min=${prof.getLong(1)} p50=${prof.get(2)} " +
          f"max=${prof.getLong(3)}) in ${(System.nanoTime() - t) / 1e9}%.1f s")
        graft.core.CacheRegistry.releaseAll()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scale evidence for the continuous-build LSH index
  * (round 10, extended round 11). Four phases:
  *
  *  1. **Parity** — `matchesAgainst` (re-shingles the corpus per
  *     batch) vs `matchesAgainstIndex` (precomputed index), paired
  *     alternating rounds in one warm JVM, output-equality asserted.
  *  2. **Corpus scaling** — the SAME batch probed against 1x/4x/16x
  *     replicas of the corpus. Reports per-probe seconds AND the
  *     keep-window's input rows (touched-bucket population after the
  *     round-11 broadcast semi-join prefilter) next to the full band
  *     table size: the prefilter makes window input a function of
  *     the BATCH's collision footprint, not corpus row count —
  *     before the fix the window exchanged + sorted the entire band
  *     table per probe call.
  *  3. **20-batch continuous build** — dedupAgainstIndex →
  *     appendIndex loop; per-batch wall time and pinned-cache count
  *     must stay flat as the index grows (each batch also re-probes
  *     docs appended by the previous batch, proving the grown index
  *     is live).
  *  4. **Compaction** — after the loop's appends, probe cost and
  *     file counts before/after `compactIndex`; output asserted
  *     identical.
  *
  * Usage: runMain graft.IndexSoak [docsParquet] [batchSize]
  */
object IndexSoak {
  def main(args: Array[String]): Unit = {
    val docsPath = if (args.nonEmpty) args(0)
      else "/root/testdata/sf0.1/documents.parquet"
    val batchSize = if (args.length > 1) args(1).toInt else 200
    val spark = GraftSession()
    graft.functions.GraftFunctions.install(spark)

    val base = spark.read.parquet(docsPath).select("doc_id", "text")
    val n = base.count()

    // ---- fixtures ------------------------------------------------
    // replicas keep the TEXT identical (ids offset): every band
    // bucket's population scales with the replication factor — the
    // adversarial case for the keep window, whose cost is bucket
    // population
    def replica(k: Int): DataFrame =
      (0 until k).map(i => base.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        col("text"))).reduce(_ unionByName _)
    // disjoint id spaces by construction: near-dup ids live in
    // [60M, 95M) and novels in [95M, ...) for every seed the soak
    // uses, so the novel/near-dup split filter below cannot alias
    def batchOf(seed: Int, sz: Int): DataFrame =
      base.filter(pmod(col("doc_id"), lit(17)) === (seed % 17))
        .limit(sz / 2)
        .select((col("doc_id") + lit(60000000L + seed * 100000L))
          .as("doc_id"),
          concat(col("text"), lit(s" zz tail probe $seed")).as("text"))
        .unionByName(spark.range(sz / 2)
          .select((col("id") + lit(95000000L + seed * 100000L))
            .as("doc_id"),
            concat_ws(" ", (1 to 30).map(i =>
              concat(lit(s"nv${i}s$seed"), col("id"))): _*).as("text")))
    val batch = batchOf(0, batchSize).cache()
    println(s"[idxsoak] corpus $n docs, batch ${batch.count()} docs")

    // ---- focused mode: break-even at production batch sizes ------
    // `runMain graft.IndexSoak <docs> <batchSize> breakeven [k,k,..]`
    // The r12-quoted 23-34 probes/append break-even came from 200-doc
    // fixture batches, where the ~1 s bucketed-append premium is
    // mostly FIXED overhead (catalog round-trip, bucket shuffle
    // setup) — amortized over a production-sized batch the premium
    // per doc collapses and the break-even should drop. This mode
    // re-measures phase 6's probe saving and phase 7's append premium
    // with the requested batch size at grown corpora (default
    // 16x/64x), the regime a pipeline owner actually operates in.
    // Note the near-dup half of a probe batch is capped by the
    // fixture's mod-17 slice (~n/17 docs); the novel half scales
    // freely, so append batches are exactly batchSize/2 novel docs.
    if (args.length > 2 && args(2) == "breakeven") {
      val scales = if (args.length > 3)
        args(3).split(",").map(_.trim.toInt).toSeq else Seq(16, 64)
      println(s"[idxsoak] ---- breakeven mode: batch $batchSize, " +
        s"corpora ${scales.mkString("x/")}x ----")
      scales.foreach { k =>
        val rep = replica(k)
        val pIdxB = graft.core.Scratch.path(s"graft_be_plain_${k}x")
        val bIdxB = graft.core.Scratch.path(s"graft_be_buck_${k}x")
        val bTblB = s"graft_be_bands_${k}x"
        graft.pipeline.NearDup.writeIndex(rep, pIdxB)
        graft.pipeline.NearDup.writeIndexBucketed(rep, bIdxB, bTblB)
        graft.pipeline.NearDup.compactIndexBucketed(spark, bIdxB, bTblB)
        def med3(f: => Long): Double = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          f
          graft.core.CacheRegistry.releaseAll()
          (System.nanoTime() - t0) / 1e9
        }.sorted.apply(1)
        // one warmup each (file listing, codegen), as in phase 6
        graft.pipeline.NearDup.matchesAgainstIndex(spark, pIdxB, batch)
          .count()
        graft.core.CacheRegistry.releaseAll()
        graft.pipeline.NearDup.matchesAgainstBucketedIndex(
          spark, bIdxB, bTblB, batch).count()
        graft.core.CacheRegistry.releaseAll()
        val pm = med3(graft.pipeline.NearDup
          .matchesAgainstIndex(spark, pIdxB, batch).count())
        val bm = med3(graft.pipeline.NearDup
          .matchesAgainstBucketedIndex(spark, bIdxB, bTblB, batch)
          .count())
        println(f"[idxsoak] be ${k}%2dx probe medians: plain $pm%6.2f s," +
          f" bucketed(compacted) $bm%6.2f s, ratio ${bm / pm}%.2f")
        val appendTimes = (1 to 5).map { i =>
          val nd = batchOf(600 + k * 10 + i, batchSize)
            .filter(col("doc_id") >= 95000000L).cache()
          val ndN = nd.count()
          val t0 = System.nanoTime()
          graft.pipeline.NearDup.appendIndex(nd, pIdxB)
          graft.core.CacheRegistry.releaseAll()
          val p = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          graft.pipeline.NearDup.appendIndexBucketed(nd, bIdxB, bTblB)
          graft.core.CacheRegistry.releaseAll()
          val b = (System.nanoTime() - t1) / 1e9
          nd.unpersist(true)
          println(f"[idxsoak] be ${k}%2dx append $i ($ndN docs): " +
            f"plain $p%5.2f s, bucketed $b%5.2f s")
          (p, b)
        }
        val apM = appendTimes.map(_._1).sorted.apply(2)
        val abM = appendTimes.map(_._2).sorted.apply(2)
        val prem = abM - apM
        val sav = pm - bm
        println(f"[idxsoak] be ${k}%2dx: append plain $apM%.2f s / " +
          f"bucketed $abM%.2f s => premium $prem%.2f s/append; probe " +
          f"saving $sav%.2f s/probe => break-even ~${
            if (sav > 0) f"${prem / sav}%.1f" else "n/a"
          } probes/append at batch $batchSize, corpus ${k}x")
        spark.sql(s"DROP TABLE IF EXISTS $bTblB")
      }
      spark.stop()
      return
    }

    val idx = graft.core.Scratch.path("graft_idxsoak_index")
    val tb = System.nanoTime()
    graft.pipeline.NearDup.writeIndex(base, idx)
    println(f"[idxsoak] one-time writeIndex: ${
      (System.nanoTime() - tb) / 1e9}%.1f s")

    def run(tag: String)(f: => DataFrame)
        : Seq[(Long, Boolean, Long, Double)] = {
      val t0 = System.nanoTime()
      // ALL four output columns, including jaccard — a divergence
      // that ties the same best match but perturbs the score must
      // fail the equality assert too
      val rows = f.collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
          r.getDouble(3)))
        .sortBy(_._1).toSeq
      graft.core.CacheRegistry.releaseAll()
      println(f"[idxsoak] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        f" (${rows.length} rows, ${rows.count(_._2)} matched)")
      rows
    }

    // ---- phase 1: direct vs index parity -------------------------
    println("[idxsoak] ---- phase 1: direct-vs-index parity ----")
    run("warmup direct") {
      graft.pipeline.NearDup.matchesAgainst(base, batch) }
    run("warmup index") {
      graft.pipeline.NearDup.matchesAgainstIndex(spark, idx, batch) }
    var eq = true
    (1 to 3).foreach { i =>
      val d = run(s"direct round $i") {
        graft.pipeline.NearDup.matchesAgainst(base, batch) }
      val x = run(s"index  round $i") {
        graft.pipeline.NearDup.matchesAgainstIndex(spark, idx, batch) }
      eq &&= (d == x)
    }
    println(s"[idxsoak] direct == index output: $eq")
    assert(eq, "index probe diverged from direct probe on the soak corpus")

    // ---- phase 2: corpus scaling ---------------------------------
    println("[idxsoak] ---- phase 2: corpus scaling (same batch) ----")
    Seq(1, 4, 16).foreach { k =>
      val kidx = graft.core.Scratch.path(s"graft_idxsoak_index_${k}x")
      graft.pipeline.NearDup.writeIndex(replica(k), kidx)
      // window-input census: band-table rows vs rows surviving the
      // probe's touched-bucket semi-join (the keep window's actual
      // input after the round-11 prefilter)
      val cb0 = spark.read.parquet(s"$kidx/bands")
      val full = cb0.count()
      val touched = {
        val ib = batch
          .withColumn("sig",
            graft.functions.GraftFunctions.shingleSig(col("text")))
          .filter(size(col("sig.sh")) > 0)
          .select(posexplode(col("sig.bks")).as(Seq("band", "bkey")))
          .distinct()
        cb0.join(broadcast(ib), Seq("band", "bkey"), "left_semi").count()
      }
      // median-of-3 probe
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.pipeline.NearDup.matchesAgainstIndex(spark, kidx, batch)
          .count()
        graft.core.CacheRegistry.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[idxsoak] scale ${k}%2dx: band rows $full%9d, " +
        f"window input $touched%8d (${100.0 * touched / full}%5.1f%%), " +
        f"probe median ${times(1)}%.2f s")
    }

    // ---- phase 2b: batch scaling (fixed corpus) -------------------
    // the honest complement to phase 2 (which scales the CORPUS under
    // a fixed batch and shows window input is a ~constant fraction of
    // the band table): scale the BATCH under the fixed 1x corpus and
    // show probe cost + window input track batch size — together the
    // two sweeps pin the probe's real bound, the touched-bucket
    // population (NearDup.probe's round-12 wording)
    println("[idxsoak] ---- phase 2b: batch scaling (fixed 1x corpus) ----")
    val cb0Base = spark.read.parquet(s"$idx/bands")
    Seq(1, 2, 4).foreach { m =>
      val mb = (0 until m).map(i => batchOf(200 + i * 3, batchSize))
        .reduce(_ unionByName _).cache()
      val mn = mb.count()
      val touched = {
        val ib = mb
          .withColumn("sig",
            graft.functions.GraftFunctions.shingleSig(col("text")))
          .filter(size(col("sig.sh")) > 0)
          .select(posexplode(col("sig.bks")).as(Seq("band", "bkey")))
          .distinct()
        cb0Base.join(broadcast(ib), Seq("band", "bkey"), "left_semi")
          .count()
      }
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.pipeline.NearDup.matchesAgainstIndex(spark, idx, mb)
          .count()
        graft.core.CacheRegistry.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[idxsoak] batch ${m}%2dx ($mn%5d docs): window input " +
        f"$touched%8d rows, probe median ${times(1)}%.2f s")
      mb.unpersist(true)
    }

    // ---- phase 3: 20-batch continuous build ----------------------
    println("[idxsoak] ---- phase 3: 20-batch dedup->append loop " +
      "(one mid-loop compaction at batch 10) ----")
    val loopIdx = graft.core.Scratch.path("graft_idxsoak_loop")
    graft.pipeline.NearDup.writeIndex(base, loopIdx)
    def idxFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(loopIdx))
        .count(_.getName.endsWith(".parquet"))
    }
    // the soak's own long-lived caches (the shared batch etc.) are
    // pinned by design; the leak assert is about PER-BATCH growth
    val pinnedBase = spark.sparkContext.getPersistentRDDs.size
    var prevNovel: Option[DataFrame] = None
    val batchSecs = (1 to 20).map { b =>
      // half novel, half re-probes: near-dups of the PREVIOUS
      // batch's appended novels (must be matched by the grown index)
      // when a previous batch exists, else near-dups of the corpus
      val reprobe = prevNovel match {
        case Some(p) => p.select(
          (col("doc_id") + lit(200000000L)).as("doc_id"),
          concat(col("text"), lit(" zw")).as("text"))
        case None => batchOf(b, batchSize)
          .filter(col("doc_id") < 90000000L)
      }
      val novel = batchOf(b + 40, batchSize)
        .filter(col("doc_id") >= 95000000L)
      val inc = novel.unionByName(reprobe).cache()
      inc.count()
      val t0 = System.nanoTime()
      val survivors = graft.pipeline.NearDup
        .dedupAgainstIndex(spark, loopIdx, inc).cache()
      val ns = survivors.count()
      graft.pipeline.NearDup.appendIndex(survivors, loopIdx)
      val secs = (System.nanoTime() - t0) / 1e9
      val matchedBack = reprobe.count() -
        survivors.join(reprobe, Seq("doc_id"), "left_semi").count()
      survivors.unpersist(true); inc.unpersist(true)
      graft.core.CacheRegistry.releaseAll()
      // the hard contract: CacheRegistry-managed operator caches must
      // all be released per batch. getPersistentRDDs is reported
      // informationally but NOT asserted exactly — CC's superseded
      // localCheckpoint rounds linger until the async ContextCleaner
      // collects them, so the raw count breathes; the flat per-batch
      // series below is what shows it stays bounded.
      assert(graft.core.CacheRegistry.size == 0,
        s"batch $b left ${graft.core.CacheRegistry.size} registered caches")
      val pinned = spark.sparkContext.getPersistentRDDs.size
      println(f"[idxsoak] batch $b%2d: $secs%5.2f s, $ns%4d survivors, " +
        f"$matchedBack%4d re-probes matched, ${idxFiles()}%4d index " +
        f"files, ${pinned - pinnedBase} pinned RDDs over baseline " +
        "(localCheckpoint residue, ContextCleaner-bounded)")
      // one mid-loop compaction (batch 10) shows the production
      // cadence inline; batches 11-20 re-accumulate files so phase 4
      // can measure an explicit before/after on a grown index
      if (b == 10) {
        val t1 = System.nanoTime()
        graft.pipeline.NearDup.compactIndex(spark, loopIdx)
        println(f"[idxsoak] compaction after batch $b: ${
          (System.nanoTime() - t1) / 1e9}%.2f s, down to ${
          idxFiles()} files")
      }
      if (b > 1) assert(matchedBack > 0,
        s"batch $b: grown index failed to match the previous batch's docs")
      // novel re-derives deterministically from batchOf (no pin):
      // the next batch's re-probes are near-dups of THESE docs,
      // which just appended — matching them proves the index grew
      prevNovel = Some(novel)
      secs
    }
    val firstHalf = batchSecs.take(10).sorted.apply(5)
    val lastHalf = batchSecs.drop(10).sorted.apply(5)
    println(f"[idxsoak] per-batch median: first half $firstHalf%.2f s, " +
      f"second half $lastHalf%.2f s (flat => index growth is free)")

    // ---- phase 5 (runs before 4's artifacts so the plain loop
    // index is untouched): bucketed-layout loop in LOCKSTEP --------
    // the SAME batches drive a second continuous build on the
    // writeIndexBucketed layout (dedupAgainstBucketedIndex ->
    // appendIndexBucketed, compactIndexBucketed at batch 5); the
    // survivor sets must match the plain-layout loop batch-for-batch
    // — the strongest layout-independence claim: not one probe, the
    // whole accumulated build
    println("[idxsoak] ---- phase 5: bucketed loop, lockstep vs plain ----")
    val bIdx = graft.core.Scratch.path("graft_idxsoak_bloop")
    val bTable = "graft_idxsoak_bloop_bands"
    val pIdx = graft.core.Scratch.path("graft_idxsoak_ploop")
    graft.pipeline.NearDup.writeIndexBucketed(base, bIdx, bTable)
    graft.pipeline.NearDup.writeIndex(base, pIdx)
    var prevNovel5: Option[DataFrame] = None
    var lockstep = true
    (1 to 10).foreach { b =>
      val reprobe = prevNovel5 match {
        case Some(p) => p.select(
          (col("doc_id") + lit(300000000L)).as("doc_id"),
          concat(col("text"), lit(" zv")).as("text"))
        case None => batchOf(70 + b, batchSize)
          .filter(col("doc_id") < 90000000L)
      }
      val novel = batchOf(70 + b + 20, batchSize)
        .filter(col("doc_id") >= 95000000L)
      val inc = novel.unionByName(reprobe).cache()
      inc.count()
      def ids(df: DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val t0 = System.nanoTime()
      val sb = graft.pipeline.NearDup
        .dedupAgainstBucketedIndex(spark, bIdx, bTable, inc).cache()
      val sbIds = ids(sb)
      graft.pipeline.NearDup.appendIndexBucketed(sb, bIdx, bTable)
      val bSecs = (System.nanoTime() - t0) / 1e9
      graft.core.CacheRegistry.releaseAll()
      val t1 = System.nanoTime()
      val sp = graft.pipeline.NearDup
        .dedupAgainstIndex(spark, pIdx, inc).cache()
      val spIds = ids(sp)
      graft.pipeline.NearDup.appendIndex(sp, pIdx)
      val pSecs = (System.nanoTime() - t1) / 1e9
      lockstep &&= (sbIds == spIds)
      println(f"[idxsoak] b-batch $b%2d: bucketed $bSecs%5.2f s / " +
        f"plain $pSecs%5.2f s, ${sbIds.size}%4d survivors, " +
        f"lockstep ${sbIds == spIds}")
      assert(sbIds == spIds,
        s"batch $b: bucketed loop diverged from plain loop")
      sb.unpersist(true); sp.unpersist(true); inc.unpersist(true)
      graft.core.CacheRegistry.releaseAll()
      if (b == 5) {
        val t2 = System.nanoTime()
        graft.pipeline.NearDup.compactIndexBucketed(spark, bIdx, bTable)
        println(f"[idxsoak] bucketed compaction after b-batch 5: ${
          (System.nanoTime() - t2) / 1e9}%.2f s")
      }
      prevNovel5 = Some(novel)
    }
    println(s"[idxsoak] bucketed loop lockstep with plain: $lockstep " +
      "(10 batches, incl. across a mid-loop bucketed compaction)")

    // ---- phase 4: compaction -------------------------------------
    println("[idxsoak] ---- phase 4: compaction after 20 appends ----")
    def files(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    val probeBatch = batchOf(99, batchSize).cache()
    probeBatch.count()
    def timedProbe(tag: String): Seq[(Long, Boolean, Long, Double)] = {
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.pipeline.NearDup
          .matchesAgainstIndex(spark, loopIdx, probeBatch).count()
        graft.core.CacheRegistry.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val out = run(tag) {
        graft.pipeline.NearDup
          .matchesAgainstIndex(spark, loopIdx, probeBatch) }
      println(f"[idxsoak] $tag probe median ${t(1)}%.2f s, " +
        f"${files(loopIdx)} data files")
      out
    }
    val beforeC = timedProbe("pre-compaction")
    graft.pipeline.NearDup.compactIndex(spark, loopIdx)
    val afterC = timedProbe("post-compaction")
    assert(beforeC == afterC,
      "probe output changed across compaction")
    println("[idxsoak] compaction output identical: true")

    // ---- phase 6: bucketed-vs-plain probe crossover ---------------
    // the round-11 verdict's open item: the bucketed layout's
    // zero-exchange/zero-sort plan is real, but at soak scale it
    // measured SLOWER than plain end-to-end — is there a corpus/batch
    // ratio where it wins? Same fixed batch, growing corpus replicas;
    // both layouts freshly built, the bucketed one compacted to its
    // advertised serving state (one sorted file per bucket, sort
    // elided under the outputOrdering conf set above). Probe-only
    // medians: the probe is where the layouts differ (both appends
    // are partition-local file adds).
    println("[idxsoak] ---- phase 6: bucketed-vs-plain crossover ----")
    var probe1xPlain = 0.0
    var probe1xBuck = 0.0
    Seq(1, 4, 16, 64).foreach { k =>
      val rep = replica(k)
      val pIdx6 = graft.core.Scratch.path(s"graft_idxsoak_p6_plain_${k}x")
      val bIdx6 = graft.core.Scratch.path(s"graft_idxsoak_p6_buck_${k}x")
      val bTbl6 = s"graft_idxsoak_p6_bands_${k}x"
      graft.pipeline.NearDup.writeIndex(rep, pIdx6)
      graft.pipeline.NearDup.writeIndexBucketed(rep, bIdx6, bTbl6)
      graft.pipeline.NearDup.compactIndexBucketed(spark, bIdx6, bTbl6)
      def med(f: => Long): Double = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f
        graft.core.CacheRegistry.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
      // one warmup each (file listing, codegen) so the median is the
      // steady state both layouts would serve at
      graft.pipeline.NearDup.matchesAgainstIndex(spark, pIdx6, batch)
        .count()
      graft.core.CacheRegistry.releaseAll()
      graft.pipeline.NearDup.matchesAgainstBucketedIndex(
        spark, bIdx6, bTbl6, batch).count()
      graft.core.CacheRegistry.releaseAll()
      val pm = med(graft.pipeline.NearDup
        .matchesAgainstIndex(spark, pIdx6, batch).count())
      val bm = med(graft.pipeline.NearDup
        .matchesAgainstBucketedIndex(spark, bIdx6, bTbl6, batch)
        .count())
      println(f"[idxsoak] crossover ${k}%2dx corpus: plain $pm%6.2f s, " +
        f"bucketed(compacted) $bm%6.2f s, bucketed/plain ${bm / pm}%.2f")
      if (k == 1) { probe1xPlain = pm; probe1xBuck = bm }
      spark.sql(s"DROP TABLE IF EXISTS $bTbl6")
    }

    // ---- phase 7: append-cost A/B + end-to-end break-even ---------
    // phase 6 has the compacted bucketed probe WINNING at every
    // scale while phase 5's loop has bucketed LOSING end-to-end, so
    // the delta must be the INCREMENT. Measure it directly: paired
    // alternating appends of the same fresh batch into both layouts
    // (same JVM, same drift window), then derive the break-even
    // probes-per-append from phase 6's 1x probe medians — the number
    // a deployment compares against its own probe:append ratio.
    println("[idxsoak] ---- phase 7: append-cost A/B (the increment premium) ----")
    val apIdx = graft.core.Scratch.path("graft_idxsoak_p7_plain")
    val abIdx = graft.core.Scratch.path("graft_idxsoak_p7_buck")
    val abTbl = "graft_idxsoak_p7_bands"
    graft.pipeline.NearDup.writeIndex(base, apIdx)
    graft.pipeline.NearDup.writeIndexBucketed(base, abIdx, abTbl)
    val appendTimes = (1 to 5).map { i =>
      val nd = batchOf(400 + i, batchSize)
        .filter(col("doc_id") >= 95000000L).cache()
      nd.count()
      val t0 = System.nanoTime()
      graft.pipeline.NearDup.appendIndex(nd, apIdx)
      graft.core.CacheRegistry.releaseAll()
      val p = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.pipeline.NearDup.appendIndexBucketed(nd, abIdx, abTbl)
      graft.core.CacheRegistry.releaseAll()
      val b = (System.nanoTime() - t1) / 1e9
      nd.unpersist(true)
      println(f"[idxsoak] append $i: plain $p%5.2f s, bucketed $b%5.2f s")
      (p, b)
    }
    val apMed = appendTimes.map(_._1).sorted.apply(2)
    val abMed = appendTimes.map(_._2).sorted.apply(2)
    val premium = abMed - apMed
    val saving = probe1xPlain - probe1xBuck
    println(f"[idxsoak] append medians: plain $apMed%.2f s, bucketed " +
      f"$abMed%.2f s => increment premium ${premium}%.2f s/append; " +
      f"probe saving (1x, compacted) ${saving}%.2f s/probe => " +
      f"bucketed wins end-to-end above ~${
        if (saving > 0) f"${premium / saving}%.0f" else "n/a (no probe saving)"
      } probes/append at this fixture scale")
    spark.sql(s"DROP TABLE IF EXISTS $abTbl")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: adversarial-SCALE soak for the EMBEDDING-side bucket
  * joins — the cosine analog of `graft.Soak`'s text-dedup fixture.
  * The guards under test (PipelineOps.EmbClusterCap/EmbBucketCap and
  * p42's exact-vector class collapse) are designed for the 100 TB
  * hot-bucket case; this measures them on a deliberately degenerate
  * fixture instead of only design-auditing them.
  *
  * Fixture (deterministic, built into a scratch dir): sf0.1
  * `embeddings` duplicated `copies`× (vec_id offset 1e7 per copy so
  * p42's own +1e6 perturbed doubling never collides), with two
  * planted pathologies on base ids >= 10 (seeds/queries stay
  * natural):
  *  - HOT IDENTICAL (~20%, base id % 5 == 0): ONE fixed vector —
  *    after p42's perturbed doubling this is TWO exact-vector
  *    classes of ~0.2·N each; the class collapse must reduce them to
  *    2 pair-join rows (this is exact-dup mass, the funnel's stage-1
  *    job — the collapse keeps the OPERATOR safe when run alone);
  *  - NEAR-IDENTICAL DISTINCT (~20%, base id % 5 == 1): the same
  *    base pattern plus a per-id 1e-6-scale jitter — thousands of
  *    DISTINCT reps that all land in one k-means cluster and one
  *    argmax/sign bucket, the mass the caps must bound (the cluster
  *    is skipped by p42's backstop; p65/p73 audit-sample it).
  * `documents` is duplicated with the same id offsets (no planted
  * text pathology) so the row-aligned p73 text join stays total.
  *
  * Measurements printed: rep-per-cluster and bucket-size audits
  * (guard-eye view), per-query wall + rows for p42/p65/p73/p75/p06,
  * and the p75 health report rows (it must FLAG the hot buckets).
  *
  * Usage: runMain graft.EmbSoak [sfDir] [copies]
  */
object EmbSoak {
  def buildFixture(spark: SparkSession, sfDir: String, outDir: String,
                   copies: Int): Unit = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val e0 = (0 until copies).map { k =>
      base.withColumn("vec_id", col("vec_id") + k.toLong * 10000000L)
    }.reduce(_ unionByName _)
    val baseId = pmod(col("vec_id"), lit(10000000L))
    val isHot = pmod(baseId, lit(5L)) === 0 && baseId >= 10
    val isNear = pmod(baseId, lit(5L)) === 1 && baseId >= 10
    // hot: one fixed unit-ish pattern; near: same pattern + a per-id
    // jitter of 1e-6 * (id % 97) on dimension (id % 64) — distinct
    // vectors, pairwise cosine ~1, all nearest the same centroid
    val hotVec = transform(sequence(lit(0), lit(63)),
      i => (lit(0.5f) + i.cast("float") / lit(1000.0f)).cast("float"))
    val nearVec = transform(sequence(lit(0), lit(63)), i =>
      (lit(0.5f) + i.cast("float") / lit(1000.0f) +
        when(i === pmod(col("vec_id"), lit(64)).cast("int"),
          (pmod(col("vec_id"), lit(97)).cast("float") / lit(1000000.0f)))
          .otherwise(lit(0.0f))).cast("float"))
    e0.withColumn("embedding",
        when(isHot, hotVec).when(isNear, nearVec)
          .otherwise(col("embedding")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until copies).map { k =>
      docs.withColumn("doc_id", col("doc_id") + k.toLong * 10000000L)
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Guard-eye audit: p42's rep-per-cluster profile and the p65/p73
    * bucket-size profiles, printed before the queries run.
    */
  def audit(spark: SparkSession, dir: String): Unit = {
    import graft.pipeline.PipelineOps._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    // p42's own corpus doubling + assignment, replicated for the audit
    val near = base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        x => (x + lit(0.01f)).cast("float")).as("embedding"))
    val e = base.unionByName(near)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cluster"), col("v").as("c"))
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("dist", aggregate(
        zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"))
      .join(e, Seq("vec_id"))
    val repsPerCluster = assigned
      .groupBy("cluster", "v").agg(count(lit(1)).as("members"))
      .groupBy("cluster").agg(count(lit(1)).as("reps"),
        sum("members").as("members"), max("members").as("max_class"))
      .orderBy(col("reps").desc)
    println("[embsoak] p42 guard-eye: members/reps/max-class per cluster " +
      s"(EmbClusterCap=$EmbClusterCap):")
    repsPerCluster.collect().foreach { r =>
      val flag = if (r.getLong(1) > EmbClusterCap)
        s"  <-- OVER CAP (sub-bucketed into rank blocks of $EmbRankBlock)"
      else ""
      println(f"[embsoak]   cluster ${r.getInt(0)}%2d: ${r.getLong(2)}%7d members, " +
        f"${r.getLong(1)}%7d reps, biggest exact class ${r.getLong(3)}%7d$flag")
    }
    val buckets = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(argmaxBucket(col("embedding")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(max("n").as("max"), expr("percentile(n, 0.5)").as("p50"),
        count(lit(1)).as("buckets")).collect()(0)
    println(f"[embsoak] p65 argmax buckets: ${buckets.getLong(2)} buckets, " +
      f"max=${buckets.getLong(0)} p50=${buckets.getDouble(1)}%.0f " +
      f"(EmbBucketCap=$EmbBucketCap)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val copies = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession()

    val fixDir = graft.core.Scratch.path(s"graft_embsoak_${copies}x")
    val t0 = System.nanoTime()
    buildFixture(spark, sfDir, fixDir, copies)
    val n = spark.read.parquet(s"$fixDir/embeddings.parquet").count()
    println(f"[embsoak] fixture: $n vectors (${copies}x sf0.1, ~20%% hot-" +
      f"identical, ~20%% near-identical-distinct) in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s at $fixDir")

    audit(spark, fixDir)

    Seq("p42_semantic_dedup", "p12_embedding_dedup",
      "p65_knn_label_purity", "p73_crossmodal_agreement",
      "p75_ann_index_report", "p06_cosine_ann").foreach { q =>
      val t = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, fixDir)
      val rows = df.count()
      val secs = (System.nanoTime() - t) / 1e9
      println(f"[embsoak] $q: $secs%.1f s ($rows rows)")
      if (q == "p75_ann_index_report")
        df.collect().foreach(r => println(s"[embsoak]   p75 row: $r"))
      if (q == "p42_semantic_dedup") {
        // deduped-not-skipped evidence: per-cluster canonical counts.
        // Round 7 skipped the over-cap cluster (every member its own
        // class canonical); rank blocks must collapse it to ~1
        // canonical per block (+ the hot exact classes' reps).
        df.groupBy("cluster")
          .agg(count(lit(1)).as("members"),
            countDistinct("canonical_id").as("canonicals"))
          .orderBy(col("members").desc)
          .collect().foreach { r =>
            println(f"[embsoak]   p42 cluster ${r.getInt(0)}%2d: " +
              f"${r.getLong(1)}%7d members -> " +
              f"${r.getLong(2)}%7d canonicals")
          }
        // planted-mass resolution (round 9): the per-cluster count is
        // dominated by NATURAL reps that genuinely have no 0.99
        // partner, so the planted masses are counted on their own —
        // canonicals among p42 output rows whose base id is the
        // near-identical-distinct plant (base%5==1) resp. the hot-
        // identical plant (base%5==0). True answer for each mass is
        // ~its exact-class count (near: ~1-2 after the two-pass
        // election; hot: 2 — the base class and its +0.01 double).
        Seq(("near-distinct", 1L), ("hot-identical", 0L)).foreach {
          case (tag, m) =>
            val mass = df.filter(
              pmod(pmod(col("vec_id"), lit(10000000L)), lit(1000000L))
                .between(10, 999999) &&
              pmod(pmod(pmod(col("vec_id"), lit(10000000L)),
                lit(1000000L)), lit(5L)) === m)
            val (mm, cc) = mass.agg(count(lit(1)),
              countDistinct("canonical_id")).collect()
              .map(r => (r.getLong(0), r.getLong(1))).head
            println(f"[embsoak]   p42 planted $tag%-13s mass: " +
              f"$mm%7d members -> $cc%3d canonicals")
        }
      }
      if (q == "p12_embedding_dedup") {
        // guard-effect evidence: under the rank-block guard the
        // planted near-identical mass must stay PAIRED — every mass
        // member with a smaller-id same/adjacent-rank partner
        // reports a canonical (a dropped-bucket design would report
        // none; the unguarded join would pay the quadratic bucket).
        // A handful of per-block minima legitimately have no
        // smaller-id partner, so matched ~== members minus a few.
        val mass = df.filter(
          pmod(pmod(col("vec_id"), lit(10000000L)), lit(1000000L))
            .between(10, 999999) &&
          pmod(pmod(pmod(col("vec_id"), lit(10000000L)),
            lit(1000000L)), lit(5L)) === 1L)
          .agg(count(lit(1)).as("n"),
            countDistinct("canonical_id").as("c")).collect().head
        println(f"[embsoak]   p12 planted near-mass rows in output: " +
          f"${mass.getLong(0)}%7d (-> ${mass.getLong(1)} canonicals)")
      }
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    }

    // ---- Spark-internal uncapped oracle (round 10, verdict item 1)
    // The one guard whose LIVE over-cap path no second engine had
    // verified: DuckDB cannot host the fixture (two attempts spilled
    // >92 GB on the MINIMAL over-cap fixture — DESIGN.md), but Spark
    // streams the same volume in seconds, so the second computation
    // is a brute-force NO-cap/NO-block election run by Spark itself
    // through different code (plain self-join; no rankBlockProbes,
    // no census, no pass 2). Gated to copies <= 5 (the verdict's
    // minimal over-cap fixture, copies=5, is where it runs): the
    // oracle is deliberately quadratic in the planted mass, and the
    // 10x/30x runs exist for cross-round PERF comparison — keeping
    // the oracle out of them keeps their timings comparable.
    if (copies <= 5) {
      import graft.pipeline.{PipelineOps, SemDeDup}
      import graft.pipeline.PipelineOps.{EmbClusterCap, EmbRankBlock,
        EmbBucketCap, argmaxBucket}

      // p42: guarded two-pass election == uncapped all-pairs election,
      // row for row, on a fixture where pass 2 LIVE-fires (the planted
      // masses are mutually similar, so the two provably agree — see
      // SemDeDup.uncappedCanonicals' scaladoc for the argument).
      val t42 = System.nanoTime()
      val e42 = SemDeDup.doubled(
        spark.read.parquet(s"$fixDir/embeddings.parquet")
          .select("vec_id", "embedding"))
        .transform(graft.core.CacheRegistry.persist(_))
      e42.count()
      val (_, reps) = SemDeDup.memberReps(e42, 8)
      val ocClusters = reps.groupBy("cluster")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > EmbClusterCap).count()
      val guarded = PipelineOps.semanticCanonicals(
        reps, EmbClusterCap, EmbRankBlock, 0.99)
      val uncapped = SemDeDup.uncappedCanonicals(reps, 0.99)
      val onlyG = guarded.exceptAll(uncapped).count()
      val onlyU = uncapped.exceptAll(guarded).count()
      println(f"[embsoak] p42 uncapped oracle: over-cap clusters = " +
        f"$ocClusters (pass 2 ${if (ocClusters > 0) "LIVE" else
          "dormant"}), guarded-only rows = $onlyG, uncapped-only " +
        f"rows = $onlyU (${(System.nanoTime() - t42) / 1e9}%.1f s)")
      assert(onlyG == 0 && onlyU == 0,
        s"p42 two-pass election diverged from the uncapped oracle " +
          s"($onlyG guarded-only, $onlyU uncapped-only rows)")
      if (copies >= 5) assert(ocClusters > 0,
        "fixture regression: pass 2 no longer fires at copies >= 5 — " +
          "the oracle equality proved nothing")
      // at copies < 5 pass 2 is dormant BY CONSTRUCTION and the
      // equality above is a single-pass tautology — say so loudly so
      // a green run at a small multiplier is never read as over-cap
      // parity evidence
      if (ocClusters == 0) println(
        "[embsoak] WARNING: no over-cap cluster at this multiplier — " +
          "the p42 guarded==uncapped equality exercised only the " +
          "dormant single-pass path (run copies>=5 for live parity)")
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()

      // p12: same harness for the rank-block branch. p12 is a
      // SINGLE-pass election by design (its canonicals are per-block
      // minima, not cluster minima), so row-identity vs uncapped is
      // NOT its contract; the hard asserts are (1) soundness — every
      // guarded pair is a true uncapped pair — and (2) connectivity —
      // the planted near-identical mass forms exactly ONE connected
      // component under BOTH pair sets (block-adjacent chains
      // preserve what dedup-by-components consumes). The pair-level
      // recall gap (pairs >1 rank block apart) is the documented
      // trade, measured and printed.
      val t12 = System.nanoTime()
      val base12 = spark.read.parquet(s"$fixDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val e12 = base12.unionByName(base12.select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x + lit(0.01f)).cast("float")).as("embedding")))
        .withColumn("cluster", argmaxBucket(col("embedding")))
        .withColumn("nrm", PipelineOps.norm(col("embedding")))
        .select(col("cluster"), col("vec_id"),
          col("embedding").as("v"), col("nrm"))
        .transform(graft.core.CacheRegistry.persist(_))
      e12.count()
      def cosPairs(cap: Int): org.apache.spark.sql.DataFrame =
        PipelineOps.bucketPairs(e12, cap, EmbRankBlock)
          .withColumn("cos", PipelineOps.dot(col("va"), col("vb")) /
            (col("na_") * col("nb_")))
          .filter(col("cos") >= 0.99)
          .select("a", "b")
      val gp = cosPairs(EmbBucketCap)
        .transform(graft.core.CacheRegistry.persist(_))
      val up = cosPairs(Int.MaxValue)
        .transform(graft.core.CacheRegistry.persist(_))
      val nG = gp.count(); val nU = up.count()
      val spurious = gp.exceptAll(up).count()
      assert(spurious == 0,
        s"p12 rank-block guard produced $spurious pairs the " +
          "unguarded join does not — unsound")
      val ids = e12.select(col("vec_id").as("id"))
      val ccG = graft.pipeline.Clusters.connectedComponents(
        ids, gp, trustedEndpoints = true)
      val ccU = graft.pipeline.Clusters.connectedComponents(
        ids, up, trustedEndpoints = true)
      val massIds = ids.filter(
        pmod(pmod(col("id"), lit(10000000L)), lit(1000000L))
          .between(10, 999999) &&
        pmod(pmod(pmod(col("id"), lit(10000000L)), lit(1000000L)),
          lit(5L)) === 1L)
      val massCompG = ccG.join(massIds, Seq("id"))
        .select(countDistinct("label")).collect()(0).getLong(0)
      val massCompU = ccU.join(massIds, Seq("id"))
        .select(countDistinct("label")).collect()(0).getLong(0)
      val labelDiff = ccG.select(col("id"), col("label").as("lg"))
        .join(ccU.select(col("id"), col("label").as("lu")), Seq("id"))
        .filter(col("lg") =!= col("lu")).count()
      println(f"[embsoak] p12 uncapped oracle: guarded pairs = $nG, " +
        f"uncapped pairs = $nU (recall gap = ${nU - nG} pairs, the " +
        f"documented >1-block trade), spurious = 0, planted-mass " +
        f"components guarded/uncapped = $massCompG/$massCompU, " +
        f"all-id label diffs = $labelDiff " +
        f"(${(System.nanoTime() - t12) / 1e9}%.1f s)")
      assert(massCompG == 1 && massCompU == 1,
        s"planted mass fragmented: $massCompG guarded / $massCompU " +
          "uncapped components (rank-block chain broke connectivity)")
      graft.core.CacheRegistry.releaseAll()
      spark.catalog.clearCache()
    } else {
      println("[embsoak] uncapped-oracle cross-check skipped at " +
        s"copies=$copies (the oracle is deliberately quadratic in " +
        "the planted mass; run copies<=5 for the parity section)")
    }
    spark.stop()
  }
}

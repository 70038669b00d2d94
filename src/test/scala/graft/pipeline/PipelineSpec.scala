package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.PipelineOps._

/** Unit tests for the LLM-pipeline building blocks: shingling,
  * MinHash/LSH, hyperplane signatures, and the multimodal frame/resize
  * plumbing. These assert engine-side semantics directly; the DuckDB
  * parity of each op is covered by the driver-checked p* queries.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def one(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(1).toDF("i").select(c.as("v")).collect()(0).get(0)
  }

  test("p49 weight stays exact and non-null for per-group counts above 1e9") {
    import spark.implicits._
    import graft.queries.PipelineQueries.{DsirLr, dsirWeight}
    // doc 1 has two buckets whose rolled-up counts pass decimal(9,0)'s
    // range; doc 2 the largest count a long-valued census could reach
    // in a realistic corpus
    val rows = Seq((1L, -1.234567891, 3000000000L),
        (1L, 0.5, 1000000001L), (2L, 2.000000001, 999999999999L))
      .toDF("doc_id", "lr", "n")
      .withColumn("lr", round(col("lr"), 9).cast(DsirLr))
    Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        val got = rows.groupBy("doc_id").agg(dsirWeight(col("lr"),
            col("n")).as("w"))
          .collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val exact1 = BigDecimal("-1.234567891") * 3000000000L +
          BigDecimal("0.5") * 1000000001L
        val exact2 = BigDecimal("2.000000001") * 999999999999L
        assert(got(1L) == exact1.toDouble, s"ansi=$ansi")
        assert(got(2L) == exact2.setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, s"ansi=$ansi")
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("shingles: n-grams of a short text, distinct, empty under n") {
    val sh = one(shingles(words(lit("a b c d")), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(sh.toSeq == Seq("a b c", "b c d"))
    val under = one(shingles(words(lit("a b")), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(under.isEmpty)
    val dup = one(shingles(words(lit("x x x x x")), 3))
      .asInstanceOf[scala.collection.Seq[String]]
    assert(dup.toSeq == Seq("x x x"))
  }

  test("minhash is permutation-invariant over the shingle set") {
    val a = one(minhash(hashedShingles(
      shingles(words(lit("p q r s t u")), 3)), 3))
    val b = one(minhash(hashedShingles(
      shingles(words(lit("s t u p q r")), 3)), 3))
    // same shingle SET (order differs) except boundary n-grams differ;
    // use explicit arrays for a strict check instead
    val h1 = one(minhash(transform(array(lit("x"), lit("y"), lit("z")),
      s => h64(s, 0)), 5))
    val h2 = one(minhash(transform(array(lit("z"), lit("x"), lit("y")),
      s => h64(s, 0)), 5))
    assert(h1 == h2)
    assert(a != null && b != null)
  }

  test("jaccard: identical sets 1.0, disjoint sets 0.0") {
    val same = one(jaccard(array(lit(1L), lit(2L)),
      array(lit(1L), lit(2L))))
    assert(same == 1.0)
    val disj = one(jaccard(array(lit(1L), lit(2L)),
      array(lit(3L), lit(4L))))
    assert(disj == 0.0)
  }

  test("hyperplane signatures: deterministic, in range, nontrivial") {
    val planes = hyperplanes(4, 8)
    assert(planes == hyperplanes(4, 8)) // fixed seed
    assert(planes.flatten.forall(v => v >= -1.0 && v <= 1.0))
    val vecs = Seq(
      Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Seq(-1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 1f, 2f, 0f, 0f, 1f))
    import spark.implicits._
    val sigs = vecs.toDF("v")
      .select(hyperplaneSig(col("v"), planes).as("s"))
      .collect().map(_.getInt(0))
    assert(sigs.forall(s => s >= 0 && s < 16))
    // antipodal vectors land in complementary buckets
    assert(sigs(0) == 15 - sigs(1))
  }

  test("frameSample covers the payload prefix at stride 1") {
    import spark.implicits._
    val df = Seq((1L, "abcdefgh" * 20)).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val frames = Multimodal.frameSample(df, frameBytes = 16,
      everyNth = 1)
    val rows = frames.orderBy("frame_idx").collect()
    assert(rows.length == 10) // 160 bytes / 16
    val rebuilt = rows.map(r =>
      new String(r.getAs[Array[Byte]]("frame_payload"))).mkString
    assert(rebuilt == "abcdefgh" * 20)
    assert(rows.map(_.getInt(1)).toSeq == (0 until 10))
    assert(rows.map(_.getInt(2)).toSeq == (0 until 10).map(_ * 16))
  }

  test("resizeStub hits the byte target for long payloads") {
    import spark.implicits._
    val df = Seq((1L, "x" * 320)).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val r = Multimodal.resizeStub(df, targetBytes = 32).collect()(0)
    val meta = r.getAs[org.apache.spark.sql.Row]("resize_meta")
    assert(meta.getAs[Int]("stride") == 10)
    assert(meta.getAs[Int]("actual_bytes") == 32)
  }

  test("argmax bucket is stable under positive scaling") {
    import spark.implicits._
    val v = Seq(0.1f, -0.9f, 0.5f)
    val df = Seq((v, v.map(x => x * 3f))).toDF("a", "b")
    val r = df.select(argmaxBucket(col("a")).as("ba"),
      argmaxBucket(col("b")).as("bb")).collect()(0)
    assert(r.getInt(0) == r.getInt(1) && r.getInt(0) == 2)
  }

  test("connected components labels a chain, a pair and a singleton") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4: forces multi-round convergence),
    // pair 10-11, singleton 20
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val got = Clusters.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("chunking covers every token with stride-12 windows") {
    val rows = graft.queries.PipelineQueries
      .queries("p27_chunking")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    // independent token counts straight from the source table, so
    // final-token coverage is checked against ground truth rather
    // than against the chunk rows themselves
    import spark.implicits._
    val nw = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), size(words(col("text"))).as("nw"))
      .as[(Long, Int)].collect().toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == nw.keySet)
    byDoc.foreach { case (d, cs) =>
      val sorted = cs.sortBy(_.getInt(1))
      // chunk ids are 0..n-1, starts follow the stride
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(1) == i)
        assert(r.getInt(2) == i * 12 + 1)
        assert(r.getInt(3) >= 1 && r.getInt(3) <= 16)
      }
      // the last window ends exactly at the document's final token
      val last = sorted.last
      assert(last.getInt(2) + last.getInt(3) - 1 == nw(d))
      sorted.init.foreach(r => assert(r.getInt(3) == 16))
    }
  }

  test("mixture sample: quotas respect weights, kept <= corpus") {
    val rows = graft.queries.PipelineQueries
      .queries("p28_mixture_sample")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, quota, kept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(quota <= n)
      assert(kept <= n)
    }
    // at least one source is fully kept (the scarcest-source rule
    // pins T so max-weight sources saturate their availability)
    assert(rows.exists(r => r.getLong(2) == r.getLong(1)))
  }

  test("shard pack: contiguous positions per shard, deterministic") {
    val q = graft.queries.PipelineQueries.queries("p29_shard_pack")
    val a = q(spark, "/root/testdata/sf0.001").collect()
    val byShard = a.groupBy(_.getInt(1))
    assert(byShard.keys.forall(s => s >= 0 && s < 8))
    byShard.values.foreach { rs =>
      val pos = rs.map(_.getLong(2)).sorted
      assert(pos.toSeq == (1L to rs.length).toSeq)
    }
    // identical layout on a re-run (content-derived, not random)
    val b = q(spark, "/root/testdata/sf0.001").collect()
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
  }

  test("connected components is direction-agnostic on pair order") {
    import spark.implicits._
    // edges given with the larger id first must cluster identically
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val pairs = Seq((3L, 2L), (2L, 1L)).toDF("a", "b")
    val got = Clusters.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connected components: stray endpoints cannot bridge or label") {
    import spark.implicits._
    // 2 is NOT a node but appears in pairs on both sides of the
    // 5—2—9 path. A stray must neither donate a label (2 < 5 would
    // win every min election) nor CONDUCT one: seeding labels from
    // nodes alone is not enough, because a stray labeled in round 1
    // via groupBy(a) would relay that label to its other neighbors
    // in round 2, silently merging 5's and 9's components.
    val nodes = Seq(5L, 9L).toDF("id")
    val pairs = Seq((5L, 2L), (2L, 9L)).toDF("a", "b")
    val got = Clusters.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 9L -> 9L), s"stray bridged: $got")
    // same graph with 2 a real node: one component labeled 2
    val got2 = Clusters.connectedComponents(
      Seq(2L, 5L, 9L).toDF("id"), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(2L -> 2L, 5L -> 2L, 9L -> 2L))
  }

  test("connected components: stray smaller than every node never " +
      "becomes a label (fused-seed guard)") {
    import spark.implicits._
    // r13 ADVICE (high): the fused seed takes min(b) over the
    // symmetrized edges, so with >= 3 in-set nodes and a stray id
    // SMALLER than all of them, a b-side-unguarded seed would label
    // node 5 with out-of-set id 2 (least(5, min(2, 7)) = 2), the sum
    // probe would converge on that non-fixpoint, and component {5,7}
    // would have no id == label member — a canonical-survivor dedup
    // would silently drop all its docs. Expected: stray 2 ignored
    // completely, so components are {5,7} (edge 5-7) and {9}.
    val nodes = Seq(5L, 7L, 9L).toDF("id")
    val pairs = Seq((5L, 2L), (2L, 9L), (5L, 7L)).toDF("a", "b")
    val got = Clusters.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 7L -> 5L, 9L -> 9L),
      s"stray leaked into labels: $got")
  }

  test("rank-block probes pair same+adjacent blocks exactly once") {
    import spark.implicits._
    // cluster A is over-cap (6 > cap 4): rank order = proj = id, so
    // block 2 gives blocks {1,2} {3,4} {5,6}. Cluster B (3 <= cap)
    // stays one constant block. The p42-shaped self-join must yield
    // every same-block and adjacent-block pair EXACTLY ONCE (the
    // duplicate same-block match at jk=blk+1 dropped, the top
    // block's overhang rows inert) and nothing 2+ blocks apart.
    val reps = (1L to 6L).map(i => ("A", i, i.toDouble)) ++
      Seq(10L, 11L, 12L).map(i => ("B", i, i.toDouble))
    val df = reps.toDF("cluster", "vec_id", "proj")
    val rpx = rankBlockProbes(df, cap = 4, block = 2)
    val a = rpx.select(col("cluster"), col("jk"),
      col("vec_id").as("a"), col("blk").as("blka"))
    val b = rpx.select(col("cluster"), col("jk"),
      col("vec_id").as("b"), col("blk").as("blkb"))
    val got = a.join(b, Seq("cluster", "jk"))
      .filter(col("a") < col("b") &&
        (col("blka") =!= col("blkb") || col("jk") === col("blka")))
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = Set(
      (1L, 2L),                              // blk0
      (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), // blk0-blk1
      (3L, 4L),                              // blk1
      (3L, 5L), (3L, 6L), (4L, 5L), (4L, 6L), // blk1-blk2
      (5L, 6L),                              // blk2
      (10L, 11L), (10L, 12L), (11L, 12L))    // in-cap cluster whole
    assert(got.size == got.distinct.size,
      s"duplicate pairs: ${got.diff(got.distinct)}")
    assert(got.toSet == expected,
      s"missing ${expected -- got.toSet}, extra ${got.toSet -- expected}")
    // per-probe-key population bound: <= 2*block rows per (cluster, jk)
    val maxKey = rpx.groupBy("cluster", "jk").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxKey <= 4, s"probe key over 2*block: $maxKey")
  }

  test("semantic canonicals: pass 2 collapses the per-block chain") {
    import spark.implicits._
    // rankProj on 2 dims = v[0] - v[1] (sign hash: +1, -1), so
    // v_k = (k, 0) ranks reps in id order and every pair has cosine
    // exactly 1. Cluster A (6 reps > cap 4, block 2) pass-1 one-hop:
    // blocks {1,2} {3,4} {5,6} give canon1 = 1,1,1,1,3,3 — the ~1
    // canonical-per-block chain. Pass 2 pairs canonicals {1,3}
    // (in-cap, all-pairs) and must collapse everything to 1. In-cap
    // cluster B must be byte-identical to the one-hop election:
    // orthogonal 11 stays its own canonical, parallel 12 maps to 10.
    val reps = (
      (1L to 6L).map(k => ("A", k, Seq(k.toDouble, 0.0), k.toDouble)) ++
      Seq(("B", 10L, Seq(1.0, 0.0), 1.0),
          ("B", 11L, Seq(0.0, 1.0), 1.0),
          ("B", 12L, Seq(2.0, 0.0), 2.0)))
      .toDF("cluster", "vec_id", "v", "nrm")
    val got = semanticCanonicals(reps, cap = 4, block = 2, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 6L -> 1L, 10L -> 10L, 11L -> 11L, 12L -> 10L)
    assert(got == expected, s"got $got")
    // census-false branch (no over-cap cluster): the single-pass plan
    // must produce the same one-hop election
    val gotB = semanticCanonicals(reps.filter(col("cluster") === "B"),
      cap = 4, block = 2, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotB == Map(10L -> 10L, 11L -> 11L, 12L -> 10L), s"got $gotB")
    graft.core.CacheRegistry.releaseAll()
  }

  /** Seeded reps: cluster 1 is a planted mass of nine near-copies of
    * one direction (every pair at cosine > 0.99, over cap 4); cluster 2
    * holds three random directions and a near-copy of the first (in cap).
    * Shuffled ids, so id order is not rank order.
    */
  private def plantedReps(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def near(v: Seq[Double]) = v.map(_ + 1e-3 * rnd.nextGaussian())
    val dir = Seq.fill(8)(rnd.nextGaussian())
    val others = Seq.fill(3)(Seq.fill(8)(rnd.nextGaussian()))
    val vs = Seq.fill(9)(1 -> near(dir)) ++
      (others :+ near(others.head)).map(2 -> _)
    vs.zip(rnd.shuffle((1L to vs.size).toList)).map { case ((c, v), id) =>
      (c, id, v, math.sqrt(v.map(x => x * x).sum))
    }.toDF("cluster", "vec_id", "v", "nrm")
  }

  test("semantic canonicals equal the uncapped oracle where pass 2 fires") {
    val reps = plantedReps()
    assert(reps.groupBy("cluster").count().filter(col("count") > 4)
      .count() == 1, "no over-cap cluster: pass 2 would stay dormant")
    val guarded = semanticCanonicals(reps, cap = 4, block = 2, minCos = 0.99)
    val uncapped = SemDeDup.uncappedCanonicals(reps, 0.99)
    assert(guarded.exceptAll(uncapped).isEmpty &&
      uncapped.exceptAll(guarded).isEmpty,
      s"guarded ${guarded.collect().mkString(" ")} != " +
        s"uncapped ${uncapped.collect().mkString(" ")}")
    graft.core.CacheRegistry.releaseAll()
  }

  test("capped bucket pairs are uncapped pairs; the planted mass stays " +
    "one component") {
    val e = plantedReps()
    def pairs(cap: Int) = bucketPairs(e, cap, block = 2)
      .filter(dot(col("va"), col("vb")) / (col("na_") * col("nb_")) >= 0.99)
      .select("a", "b")
    val (capped, uncapped) = (pairs(4), pairs(Int.MaxValue))
    val extra = capped.exceptAll(uncapped).collect()
    assert(extra.isEmpty, s"pairs the uncapped join lacks: ${extra.mkString}")
    val ids = e.select(col("vec_id").as("id"))
    val mass = e.filter(col("cluster") === 1).select(col("vec_id").as("id"))
    Seq(capped, uncapped).foreach { p =>
      val comps = Clusters.connectedComponents(ids, p, trustedEndpoints = true)
        .join(mass, Seq("id")).select("label").distinct().count()
      assert(comps == 1, s"planted mass split into $comps components")
    }
    graft.core.CacheRegistry.releaseAll()
  }

  test("hot corpus bucket still matches an incoming near-dup") {
    import spark.implicits._
    // 100 IDENTICAL corpus docs put > LshBucketCap rows in every band
    // bucket they hash to. Round 7 DROPPED such buckets from the
    // asymmetric probe — an incoming near-dup then matched nothing,
    // looked novel, and appended (corpus pollution). The round-8
    // size-stratified keep must retain a cap-bounded subset, so the
    // probe still finds a match. A genuinely novel doc must stay
    // unmatched.
    val hotText = (1 to 30).map(i => s"hot$i").mkString(" ")
    val corpus = ((1L to 100L).map(i => (i, hotText)) :+
      (500L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1000L, hotText + " tiny tail"),
      (1001L, (1 to 30).map(i => s"novel$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = NearDup.matchesAgainst(corpus, incoming)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getLong(2))).toMap
    graft.core.CacheRegistry.releaseAll()
    assert(got(1000L)._1, s"hot near-dup went unmatched: $got")
    // min corpus id tiebreak: rank 1 of the stratified keep is the
    // smallest (nsh, doc_id), and all hot docs tie on jaccard
    assert(got(1000L)._2 == 1L, s"expected match_id 1: $got")
    assert(!got(1001L)._1, s"novel doc falsely matched: $got")
  }

  test("over-cap keep: a band-invisible qualifier at every stride phase") {
    import spark.implicits._
    // (band keys, shingle count) from the scan's own signature kernel
    def sig(text: String): (Seq[String], Int) = {
      val r = graft.functions.ShingleSig.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text))
      (r.getArray(1).toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq, r.getArray(0).numElements())
    }
    val h = (1 to 40).map(i => s"h$i").mkString(" ")
    val (hBks, hNsh) = sig(h)
    val bands = hBks.indices
    // greedy growth: append a word only if its trailing shingle
    // displaces no minhash minimum of the `kept` bands, so the text
    // stays in H's bucket of each of them
    def grow(base: String, target: Int, prefix: String,
             kept: Seq[Int] = bands): (String, Int) = {
      var (text, n) = (base, sig(base)._2)
      var j = 0
      while (n < target) {
        assert(j < 5000, s"greedy search stalled at $n of $target shingles")
        val (bks, m) = sig(s"$text $prefix$j")
        if (kept.forall(b => bks(b) == hBks(b))) { text = s"$text $prefix$j"; n = m }
        j += 1
      }
      (text, n)
    }
    // invisible in all bands but the last, which must leave H's bucket
    def partial(target: Int, prefix: String): (String, Int) = {
      val t = grow(h, target, prefix, bands.init)._1
      (t +: (0 until 5000).map(j => s"$t ${prefix}x$j")).iterator
        .map(x => (x, sig(x))).collectFirst {
          case (x, (bks, n)) if bks(bands.last) != hBks(bands.last) &&
            bands.init.forall(b => bks(b) == hBks(b)) => (x, n)
        }.getOrElse(fail("no word moves the last band"))
    }
    // D: the unique qualifier of probe P (the size prefilter excludes
    // H); L: a 4x non-qualifier; J1/J2 bracket D inside its
    // power-of-two size window, in every band (J1'/J2': all but one)
    val (d, dNsh) = grow(h, (2.2 * hNsh).toInt, "zf")
    val p = grow(d, dNsh + 2, "yq")._1
    val l = grow(h, (4.2 * hNsh).toInt, "wk")._1
    val Seq((j1, n1), (j2, n2)) = Seq((1.7, "ga"), (2.9, "qb"))
      .map { case (f, px) => grow(h, (f * hNsh).toInt, px) }
    val Seq((j1p, n1p), (j2p, n2p)) = Seq((1.7, "gc"), (2.9, "qd"))
      .map { case (f, px) => partial((f * hNsh).toInt, px) }
    def win(n: Int) = 32 - Integer.numberOfLeadingZeros(n)
    assert(Seq(n1, n2, n1p, n2p).forall(win(_) == win(dNsh)))

    def probe(k: Int, planted: (Long, String)*)(cap: Int = 4): (Boolean, Long) = {
      val corpus = ((1L to k).map(_ -> h) ++ planted).toDF("doc_id", "text")
      val r = NearDup.matchesAgainst(corpus,
        Seq(5000L -> p).toDF("doc_id", "text"), 0.5, bucketCap = cap)
        .collect().head
      graft.core.CacheRegistry.releaseAll()
      (r.getBoolean(1), r.getLong(2))
    }
    val hit = (true, 999L)
    (8 to 13).foreach { k =>
      assert(probe(k, 999L -> d)() == hit, s"lone qualifier, K=$k")
      assert(probe(k, 999L -> d)(1 << 30) == hit, s"uncapped, K=$k")
      assert(probe(k, 999L -> d, 1500L -> l)() == hit, s"window-isolated, K=$k")
      assert(probe(k, 998L -> j1p, 999L -> d, 1501L -> j2p)() == hit,
        s"one clean band, K=$k")
      // bracketed in every band, D (rank K+2 of K+3) survives only
      // on its stride rank
      val strideKeeps = (k + 1) % math.ceil((k + 3) / 4.0).toInt == 0
      val got = probe(k, 998L -> j1, 999L -> d, 1501L -> j2)()
      assert(got == (if (strideKeeps) hit else (false, -1L)),
        s"bracketed, K=$k: $got")
    }
  }

  test("precomputed index probe is row-identical to the in-session " +
    "probe, including the hot-bucket keep") {
    import spark.implicits._
    // writeIndex + matchesAgainstIndex must reproduce matchesAgainst
    // exactly — the index is the production shape (corpus shingled
    // once, not per batch), so any drift between the two paths is
    // corpus corruption waiting to happen. The fixture includes an
    // over-cap hot bucket so the keep rule runs through the INDEX
    // path too (the keep applies at probe time: one stored index
    // serves any bucketCap).
    val hotText = (1 to 30).map(i => s"ho$i").mkString(" ")
    val corpus = ((1L to 100L).map(i => (i, hotText)) :+
      (500L, (1 to 30).map(i => s"oth$i").mkString(" ")) :+
      (600L, (1 to 25).map(i => s"plain$i").mkString(" ")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1000L, hotText + " tiny tail"),
      (1001L, (1 to 25).map(i => s"plain$i").mkString(" ") + " qq"),
      (1002L, (1 to 30).map(i => s"novel$i").mkString(" ")))
      .toDF("doc_id", "text")
    val direct = NearDup.matchesAgainst(corpus, incoming)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    graft.core.CacheRegistry.releaseAll()
    val idx = java.nio.file.Files
      .createTempDirectory("graft_lsh_idx").toString
    NearDup.writeIndex(corpus, idx)
    val viaIndex = NearDup.matchesAgainstIndex(spark, idx, incoming)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    graft.core.CacheRegistry.releaseAll()
    assert(viaIndex == direct,
      s"index probe diverged:\n direct=$direct\n index=$viaIndex")
    // and a second batch reuses the same index without rebuilding
    val batch2 = Seq((2000L, hotText + " another tail x")).toDF(
      "doc_id", "text")
    val got2 = NearDup.matchesAgainstIndex(spark, idx, batch2)
      .collect().map(r => (r.getBoolean(1), r.getLong(2))).head
    graft.core.CacheRegistry.releaseAll()
    assert(got2._1 && got2._2 == 1L,
      s"second-batch probe against the reused index failed: $got2")
  }

  test("ANN index: partitioned layout is real and topK matches the " +
    "in-session bucketed search") {
    import spark.implicits._
    // deterministic 8-dim vectors spread over several argmax buckets
    val e = (1L to 60L).map { i =>
      (i, (0 until 8).map(d =>
        (((i * 7 + d * 13) % 19).toFloat - 9f) / 10f).toArray)
    }.toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ann_idx").toString + "/ix"
    AnnIndex.write(e, idx)
    // the directory layout IS the inverted file: bucket=N partitions
    val parts = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName)
    assert(parts.length > 1, s"expected >1 bucket partition: ${
      parts.toSeq}")
    val q = e.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = AnnIndex.topK(spark, idx, q, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
        r.getDouble(4))).sortBy(t => (t._1, t._3)).toSeq
    // in-session reference: the p06 shape over the same data
    val eb = e.withColumn("bucket",
        graft.pipeline.PipelineOps.argmaxBucket(col("embedding")))
      .withColumn("nrm", graft.pipeline.PipelineOps.norm(col("embedding")))
    val qb = eb.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket"), col("nrm").as("qn"))
    val rn = org.apache.spark.sql.functions.row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("vec_id").asc))
    val ref = broadcast(qb)
      .join(eb.withColumnRenamed("bucket", "cbucket"),
        col("cbucket") === col("bucket") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.pipeline.PipelineOps.dot(col("qv"),
        col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rank", rn).filter(col("rank") <= 3)
      .select("query_id", "vec_id", "rank", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
    assert(got == ref,
      s"index topK diverged from in-session search:\n got=$got\n ref=$ref")

    // append: new vectors land in their buckets without touching
    // existing files, and immediately serve probes
    val extra = Seq((200L, Array.fill(8)(0.9f)))
      .toDF("vec_id", "embedding")
    AnnIndex.append(extra, idx)
    val q200 = extra.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    // a same-direction query (vec 201 == vec 200's direction) must
    // now find 200 as its top neighbor through the appended file
    val probe = Seq((201L, Array.fill(8)(0.45f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = AnnIndex.topK(spark, idx, probe, k = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(4))).headOption
    assert(top.exists { case (vid, cos) =>
      vid == 200L && math.abs(cos - 1.0) < 1e-9 },
      s"appended vector not served by the index: $top")
  }

  test("connected components surface maxIter non-convergence") {
    import spark.implicits._
    // diameter-4 path: label-edge doubling needs 2 rounds to cover it
    // plus 1 to observe the fixpoint, so maxIter = 1 must trip. The
    // strict default THROWS (partial labels silently under-merge
    // duplicate clusters — the worst failure shape for a dedup);
    // strict = false returns the partial labels for diagnosis.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      Clusters.connectedComponents(nodes, pairs, maxIter = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
    val partial = Clusters
      .connectedComponents(nodes, pairs, maxIter = 1, strict = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 merges distance <= 2; node 5 cannot have reached 1 yet
    assert(partial(1L) == 1L && partial(5L) > 1L,
      s"unexpected partial labels: $partial")
    // the soak-proven budget is untouched: the same graph converges
    // fine (and quietly) under the default maxIter
    val full = Clusters.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connected components rounds use reliable checkpoints when configured") {
    import spark.implicits._
    // with a checkpoint dir set the per-round label tables must go
    // through reliable checkpoints (the executor-loss-safe cluster
    // path) and produce identical labels
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val nodes = Seq(1L, 2L, 3L, 4L, 10L).toDF("id")
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
      val got = Clusters.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L))
      // the reliable path actually wrote checkpoint data: rdd-*
      // directories with part files under the context's UUID subdir
      // (setCheckpointDir eagerly mkdirs the UUID dir, so a bare
      // non-empty check on `dir` would pass even if the local-
      // checkpoint branch were taken — assert the rdd files exist)
      def rddFiles(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).toSeq.flatten.flatMap { c =>
          if (c.isDirectory) rddFiles(c)
          else if (c.getName.startsWith("part-")) Seq(c) else Nil
        }
      val parts = rddFiles(new java.io.File(dir))
      assert(parts.nonEmpty,
        s"no reliable checkpoint part files under $dir")
    } finally {
      // SparkContext has no unsetCheckpointDir: null resets the
      // Option so later suites keep the local-checkpoint path
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("span dedup: first occurrence wins, copies lose their spans") {
    val rows = graft.queries.PipelineQueries
      .queries("p30_span_dedup")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val (orig, copies) = rows.partition(_.getLong(0) < 1000000L)
    assert(orig.length == copies.length)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    // the smallest doc id is the global first occurrence of every
    // span it contains, so it keeps them all
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(2) == first.getLong(1))
    // a perturbed copy shares all but its tail span with its
    // original, so collectively the copies keep strictly less
    val keptShare = (rs: Array[org.apache.spark.sql.Row]) =>
      rs.map(_.getLong(2)).sum.toDouble / rs.map(_.getLong(1)).sum
    assert(keptShare(copies) < keptShare(orig))
  }

  test("gopher quality: pass is exactly the rule conjunction") {
    val rows = graft.queries.PipelineQueries
      .queries("p31_gopher_quality")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) > 0.0)
      val flags = (3 to 7).map(r.getBoolean)
      assert(r.getBoolean(8) == flags.forall(identity))
    }
  }

  test("tfidf: at most 5 terms per doc, ranked by score desc") {
    val rows = graft.queries.PipelineQueries
      .queries("p32_tfidf_topk")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.length <= 5)
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("near-dup prune: clusters >= 2 keep their longest member") {
    val rows = graft.queries.PipelineQueries
      .queries("p33_neardup_prune")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // cluster label is the min member id, so it bounds the rep
      assert(r.getLong(0) <= r.getLong(1))
      assert(r.getLong(2) >= 2L)
      assert(r.getLong(3) > 0L)
    }
    // the doubled corpus pairs every doc with its longer tail-suffixed
    // copy; the copy (id + 1e6) must win representative election
    assert(rows.exists(r => r.getLong(1) >= 1000000L))
  }

  test("pq ann: 5 candidates per query, ADC distance ascending") {
    val rows = graft.queries.PipelineQueries
      .queries("p34_pq_ann")(spark, "/root/testdata/sf0.001")
      .collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to 5))
      sorted.foreach(r => assert(r.getLong(1) != q))
      val d = sorted.map(_.getDouble(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
      assert(d.forall(_ >= 0.0))
    }
  }

  test("ann recall: 10 queries; multi-probe dominates single-bucket") {
    val rows = graft.queries.PipelineQueries
      .queries("p36_ann_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 5L)
      val (lh, mh) = (r.getLong(2), r.getLong(3))
      assert(lh >= 0 && lh <= 5 && mh <= 5)
      // the multi-probe candidate set is a superset of the single
      // bucket, and anything outscoring a true top-5 member is itself
      // a true top-5 member — so hits are monotone in the probe set
      assert(mh >= lh)
      assert(r.getDouble(4) == lh / 5.0 && r.getDouble(5) == mh / 5.0)
    }
  }

  test("source cap: at most K per source, ranks contiguous from 1") {
    val rows = graft.queries.PipelineQueries
      .queries("p37_source_cap")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).values.foreach { rs =>
      assert(rs.length <= SourceCap)
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length))
    }
  }

  test("char entropy: bounded by log2(alphabet), counts positive") {
    val rows = graft.queries.PipelineQueries
      .queries("p38_char_entropy")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val bound = math.log(EntropyAlphabet.size) / math.log(2)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      val e = r.getDouble(2)
      assert(e > 0.0 && e <= bound + 1e-9)
    }
    // degenerate distributions: single repeated char has zero entropy
    import spark.implicits._
    val z = Seq("aaaa", "ab").toDF("text")
      .select(charEntropy(col("text")).as("e"))
      .select(col("e.n_alpha"), col("e.entropy")).collect()
    assert(z(0).getLong(0) == 4L && z(0).getDouble(1) == 0.0)
    assert(z(1).getLong(0) == 2L && z(1).getDouble(1) == 1.0)
  }

  test("dedup eval: planted pairs dominate, rates within (0, 1]") {
    val r = graft.queries.PipelineQueries
      .queries("p39_dedup_eval")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r.length == 1)
    val (nc, nv) = (r(0).getLong(0), r(0).getLong(1))
    val (np, nf) = (r(0).getLong(3), r(0).getLong(4))
    assert(nc >= nv && nv > 0)
    assert(np >= nf && nf > 0)
    // every planted perturbed-copy pair is a verified near-dup, so
    // found-planted pairs can't outnumber the verified set
    assert(nv >= nf)
    assert(r(0).getDouble(2) > 0.0 && r(0).getDouble(2) <= 1.0)
    assert(r(0).getDouble(5) > 0.0 && r(0).getDouble(5) <= 1.0)
  }

  test("unigram nll: positive, bounded by the rarest-word ceiling") {
    val rows = graft.queries.PipelineQueries
      .queries("p40_unigram_nll")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    // every token occurs at least once in its own corpus, so
    // 0 < avg_nll <= ln(total corpus tokens)
    val totalTok = rows.map(_.getLong(1)).sum
    val ceil = math.log(totalTok.toDouble) + 1e-6
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      val nll = r.getDouble(2)
      assert(nll > 0.0 && nll <= ceil)
    }
  }

  test("token budget: greedy prefix fills but never exceeds budget") {
    val rows = graft.queries.PipelineQueries
      .queries("p41_token_budget")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    // recompute the budget independently from the source table
    import spark.implicits._
    val total = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(size(words(col("text"))).cast("long").as("n"))
      .as[Long].collect().sum
    val budget = math.floor(total * 0.6).toLong
    val maxCum = rows.map(_.getLong(3)).max
    assert(maxCum <= budget)
    // cum_tok is consistent: the kept set's tokens sum to the max
    assert(rows.map(_.getLong(1)).sum == maxCum)
    // greedy: the prefix is full — the budget gap is smaller than
    // the largest document (nothing obviously skippable-in)
    val maxDoc = rows.map(_.getLong(1)).max
    assert(budget - maxCum < math.max(maxDoc, 500L))
    // kept docs are the quality prefix: every kept quality >= the
    // cutoff implied by the last kept row
    val sorted = rows.sortBy(r => (-r.getDouble(2), r.getLong(0)))
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a.getLong(3) < b.getLong(3))
    }
  }

  test("dsir: target-slice docs score a higher mean weight") {
    val dir = "/root/testdata/sf0.001"
    val w = graft.queries.PipelineQueries
      .queries("p49_dsir_resample")(spark, dir)
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source") === "src0")
      .agg(avg("weight").as("mw"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the weight IS log-likelihood-ratio toward the src0 unigram
    // distribution — if target docs don't outscore the rest on
    // average, the feature hashing or smoothing is broken
    assert(w(true) > w(false))
  }

  test("int8 quant: codes within [-127,127], mse bounded by step^2") {
    val rows = graft.queries.PipelineQueries
      .queries("p53_int8_quant")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(2)
      assert(r.getInt(3) >= -127 && r.getInt(4) <= 127)
      // worst-case per-dim error is half a quantization step
      val step = scale / 127.0
      assert(r.getDouble(5) <= step * step / 4.0 + 1e-12)
    }
  }

  test("simhash near-dup pairs every perturbed copy with its base") {
    val out = graft.queries.PipelineQueries
      .queries("p52_simhash_neardup")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // corpus() pairs doc k with doc k+1000000 (same text + 3 words):
    // a 3-word tail on a ~150-word doc moves few simhash bits, so at
    // least half the planted pairs must survive banding + hamming<=3
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val caught = base.count(id => out.contains((id, id + 1000000L)))
    assert(caught * 2 >= base.length,
      s"only $caught of ${base.length} planted near-dup pairs found")
  }

  test("ngram novelty: values in [0,1]; the earliest doc scores 1.0") {
    val rows = graft.queries.PipelineQueries
      .queries("p54_ngram_novelty")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nov = r.getDouble(2)
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // every shingle of the minimum doc_id is first-seen there
    val minDoc = rows.map(_.getLong(0)).min
    val novMin = rows.find(_.getLong(0) == minDoc).get.getDouble(2)
    assert(novMin == 1.0)
  }

  test("NearDup.canonicalIds keeps one id per near-dup component") {
    val dir = "/root/testdata/sf0.001"
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // plant near-dups: each doc + a tailed copy at id+1e6
    val corpus = d.unionByName(d.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzz extra tail qq")).as("text")))
    val kept = NearDup.canonicalIds(corpus).as[Long].collect().toSet
    val nBase = d.count()
    // survivors are ids of the corpus, and the planted copies must
    // collapse substantially (>= half of them lose to their base;
    // short docs can legitimately fall under Jaccard 0.5, and
    // near-dup BASES can merge with each other, so exact-set claims
    // don't hold — the collapse volume does)
    val allIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(allIds) && kept.nonEmpty)
    assert(kept.size <= nBase * 3 / 2,
      s"only ${2 * nBase - kept.size} of $nBase planted copies collapsed")
    // the exact pair relation is driver-checked (p02/p16 oracles);
    // here: every eliminated id must have a smaller surviving partner
    // transitively, so the minimum id overall always survives
    assert(kept.contains(allIds.min))
    graft.core.CacheRegistry.releaseAll()
  }

  test("size-ratio prefilter drops no qualifying pair (vs brute force)") {
    import spark.implicits._
    val t = 0.5
    // varied-length corpus so the prefilter actively fires: each doc
    // plus a DOUBLED-text copy (sizes far apart) and a tailed copy
    // (sizes close — must still verify)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = d
      .unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz tail qq")).as("text")))
      .unionByName(d.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("text"), lit(" "), col("text"),
          lit(" pad padd paddd")).as("text")))
    val (sh, cand, pairs) = NearDup.lshPairs(corpus, t)
    // brute force: exact jaccard over the UNFILTERED candidate set
    val brute = cand
      .join(sh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        Seq("doc_id_a"))
      .join(sh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        Seq("doc_id_b"))
      .withColumn("jaccard", graft.functions.GraftFunctions
        .jaccardLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= t)
      .select("doc_id_a", "doc_id_b", "jaccard")
    val got = pairs.as[(Long, Long, Double)].collect().toSet
    val want = brute.as[(Long, Long, Double)].collect().toSet
    assert(got == want,
      s"prefilter changed the verified pairs: missing ${want -- got}, " +
        s"extra ${got -- want}")
    assert(want.nonEmpty)
    // the fixture must actually exercise the filter: some candidates
    // fail the ratio (doc vs its 3x-length copy shares a band via
    // identical leading shingles but cannot reach jaccard 0.5)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val cut = cand
      .join(sizes.select(col("doc_id").as("doc_id_a"), col("n").as("na")),
        Seq("doc_id_a"))
      .join(sizes.select(col("doc_id").as("doc_id_b"), col("n").as("nb")),
        Seq("doc_id_b"))
      .filter(least(col("na"), col("nb")).cast("double") <
        lit(t) * greatest(col("na"), col("nb")))
      .count()
    assert(cut > 0, "fixture produced no ratio-failing candidates — " +
      "the prefilter path was not exercised")
    graft.core.CacheRegistry.releaseAll()
  }

  test("corpus report: shares sum to one, rates within [0, 1]") {
    val rows = graft.queries.PipelineQueries
      .queries("p35_corpus_report")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val share = rows.map(_.getDouble(3)).sum
    assert(math.abs(share - 1.0) < 1e-4)
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) > 0.0)
    }
  }

  test("quality classifier: prob is sigmoid(score); keep = score>=0") {
    val rows = graft.queries.PipelineQueries
      .queries("p70_quality_classifier")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (score, prob, keep) =
        (r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(prob > 0.0 && prob < 1.0)
      assert(math.abs(prob - 1.0 / (1.0 + math.exp(-score))) < 1e-4)
      // keep is decided on the EXACT integer sum, score on the
      // rounded double — they must agree in sign
      assert(keep == (score >= 0.0) || math.abs(score) < 1e-6)
    }
  }

  test("pca power iteration: unit loading vector, positive eigval") {
    val rows = graft.queries.PipelineQueries
      .queries("p72_pca_power_iteration")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 64)
    val norm2 = rows.map(r => r.getDouble(2) * r.getDouble(2)).sum
    // loadings are a normalized vector (round-6 per component)
    assert(math.abs(norm2 - 1.0) < 1e-4, s"||v||^2 = $norm2")
    val eig = rows.map(_.getDouble(3)).distinct
    assert(eig.length == 1 && eig.head > 0.0)
    graft.core.CacheRegistry.releaseAll()
  }

  test("crossmodal agreement: buckets within [-5,4], stats bounded") {
    val rows = graft.queries.PipelineQueries
      .queries("p73_crossmodal_agreement")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getLong(0)
      // floor(cos*5) for cos in [-1,1]; bucket 5 IS reachable at
      // cos = 1.0 exactly (duplicate embeddings)
      assert(b >= -5 && b <= 5)
      assert(r.getLong(1) > 0)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(4) <= r.getLong(1))
      // mean cosine must actually fall in its own bucket
      val mc = r.getDouble(2)
      assert(mc >= b / 5.0 - 1e-4 && mc < (b + 1) / 5.0 + 1e-4)
    }
  }

  test("temperature mixture: tail sources upweighted, rates in (0,1]") {
    val rows = graft.queries.PipelineQueries
      .queries("p74_temperature_mixture")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val byShare = rows.sortBy(_.getDouble(3)) // ascending p
    byShare.foreach { r =>
      val (p, q, rate) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(p > 0 && q > 0 && rate > 0 && rate <= 1.0)
      assert(r.getLong(6) <= r.getLong(1)) // sampled <= docs
    }
    // alpha=0.5 flattens the distribution: q/p grows as p shrinks
    val ratios = byShare.map(r => r.getDouble(4) / r.getDouble(3))
    assert(ratios.head >= ratios.last,
      "smallest source must get the largest relative upweight")
    graft.core.CacheRegistry.releaseAll()
  }

  test("ann index report: imbalance >= 1, bucket domains bounded") {
    val rows = graft.queries.PipelineQueries
      .queries("p75_ann_index_report")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("ivf_argmax", "lsh_hyperplane"))
    val nVec = rows.values.map(_.getLong(1)).toSet
    assert(nVec.size == 1, "both indexes must cover every vector")
    rows.values.foreach { r =>
      val (buckets, maxB, mean, imb) =
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(buckets > 0 && maxB >= 1)
      assert(imb >= 1.0 - 1e-9) // max/mean can never be below 1
      assert(math.abs(mean * buckets - r.getLong(1)) < 1e-2)
    }
    assert(rows("ivf_argmax").getLong(2) <= 64)    // dim-bounded
    assert(rows("lsh_hyperplane").getLong(2) <= 16) // 2^4 planes
  }

  test("kl drift: smoothed probabilities positive, each sums to one") {
    val rows = graft.queries.PipelineQueries
      .queries("p71_token_kl_drift")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val (sumOld, sumNew) =
      (rows.map(_.getDouble(3)).sum, rows.map(_.getDouble(4)).sum)
    // add-1 smoothing leaves (V_unseen)/(n+V) unclaimed only for
    // words absent from BOTH snapshots — every vocab word appears in
    // at least one, so each side's mass is <= 1 and close to it
    assert(sumOld > 0.5 && sumOld <= 1.0 + 1e-6)
    assert(sumNew > 0.5 && sumNew <= 1.0 + 1e-6)
    rows.foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(4) > 0.0)
      // kl_term sign matches which snapshot the word leans toward
      val lean = r.getDouble(4) - r.getDouble(3)
      if (math.abs(r.getDouble(5)) > 1e-9)
        assert((r.getDouble(5) > 0) == (lean > 0))
    }
  }
}

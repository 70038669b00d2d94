package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 curation-filter operators: semantic decontamination
  * (p86), line-level boilerplate removal (p87), perplexity-band
  * filtering (p88). Structural + planted-ground-truth checks; exact
  * values are pinned by the DuckDB oracles.
  */
class CurationFilterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"
  private def run(name: String) = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val rows = df.collect()
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    (df, rows)
  }

  test("p86: every planted copy is flagged, no natural vector is") {
    val (df, rows) = run("p86_semantic_decontamination")
    val id = df.columns.indexOf("vec_id")
    val cont = df.columns.indexOf("contaminated")
    val nc = df.columns.indexOf("n_candidates")
    val planted = rows.filter(_.getLong(id) >= 1000000L)
    val natural = rows.filter(_.getLong(id) < 1000000L)
    // the fixture plants one x1.1 direction-preserving copy per suite
    // vector; every one must SURFACE (same sign-bucket as its source,
    // so candidate-less disappearance is a probe bug) AND be flagged
    val suiteN = {
      import graft.pipeline.PipelineOps.h64
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(h64(col("text"), 13) % 100 >= 90).count()
    }
    assert(suiteN > 0)
    assert(planted.length == suiteN,
      s"expected all $suiteN planted copies in the output, " +
        s"got ${planted.length}")
    assert(planted.forall(_.getBoolean(cont)),
      "a planted suite copy escaped the cosine threshold")
    assert(natural.forall(r => !r.getBoolean(cont)),
      "a natural vector was falsely flagged")
    assert(rows.forall(_.getLong(nc) >= 1L))
    // planted copies share their source's sign-bucket, so each sees
    // at least its own source among the candidates
    val mc = df.columns.indexOf("max_cos")
    assert(planted.forall(_.getDouble(mc) > 0.99))
  }

  test("p86 recall boundary, measured: a sign-flipping paraphrase is missed " +
    "by single-bucket probing and found by Hamming-1 multi-probe") {
    import graft.pipeline.PipelineOps._
    import spark.implicits._
    val planes = hyperplanes(4, 8)
    // a suite vector and a paraphrase perturbed JUST enough to flip
    // exactly one plane sign: still high-cosine, different bucket —
    // the miss the p86 comment documents, measured here
    val base = Seq.fill(8)(0.5f)
    def d(a: Seq[Float], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    def sig(v: Seq[Float]): Int =
      planes.zipWithIndex.map { case (p, i) =>
        if (d(v, p) >= 0) 1 << i else 0 }.sum
    def cosd(a: Seq[Float], b: Seq[Float]): Double = {
      def n(x: Seq[Float]) = math.sqrt(x.map(v => v.toDouble * v).sum)
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum / (n(a) * n(b))
    }
    val flip = (0 until 8).flatMap { i =>
      Seq(-1.2f, 1.2f).map(dv => base.updated(i, base(i) + dv))
    }.find { v =>
      Integer.bitCount(sig(v) ^ sig(base)) == 1 && cosd(v, base) > 0.8
    }.getOrElse(fail("no single-flip high-cosine nudge exists"))
    val suite = Seq((1L, base)).toDF("suite_id", "sv")
      .select(col("suite_id"), hyperplaneSig(col("sv"), planes).as("sig"))
    val probe = Seq((2L, flip)).toDF("vec_id", "v")
      .select(col("vec_id"), hyperplaneSig(col("v"), planes).as("sig"))
    // Spark's signature math agrees with the local search...
    assert(probe.select(col("sig")).as[Int].head() == sig(flip))
    assert(suite.select(col("sig")).as[Int].head() == sig(base))
    // ...single-bucket probing (p86's equi-join) misses the pair:
    assert(probe.join(suite, Seq("sig")).count() == 0,
      "expected the sign-flipped paraphrase to land in another bucket")
    // ...and Hamming-1 multi-probe (p18's rule) finds it:
    val probeKeys = probe.select(col("vec_id"), explode(
        array((lit(0) +: (0 until 4).map(p => lit(1 << p))): _*)).as("m"),
        col("sig"))
      .select(col("vec_id"), col("sig").bitwiseXOR(col("m")).as("sig"))
    assert(probeKeys.join(suite, Seq("sig")).count() == 1)
  }

  test("p89: suite-index probe is row-identical to the in-session probe, " +
    "index reuses across batches, wrong table fails fast") {
    import spark.implicits._
    val direct = run("p86_semantic_decontamination")._2
      .map(_.toSeq).toSet
    val indexed = run("p89_semantic_decon_index")._2
      .map(_.toSeq).toSet
    assert(direct == indexed)
    // one stored index serves a different batch: probe a subset and
    // check against a direct probe of the same subset
    val idx = graft.core.Scratch.path("graft_semdecon_spec_idx")
    val suite = Seq((1L, Seq.fill(64)(0.5f))).toDF("suite_id", "sv")
    SemDecon.writeSuiteIndex(suite, idx)
    val batch = Seq(
      (10L, Seq.fill(64)(0.55f)),      // same direction-ish: flagged
      (11L, Seq.tabulate(64)(i => if (i % 2 == 0) 1f else -1f)))
      .toDF("vec_id", "v")
    val viaIndex = SemDecon
      .decontaminateAgainstIndex(spark, idx, batch).collect()
    val viaDirect = SemDecon
      .probe(SemDecon.suiteTable(suite), batch).collect()
    assert(viaIndex.map(_.toSeq).toSet == viaDirect.map(_.toSeq).toSet)
    // the probe is per vector: a 3x replica of the batch gives 3x the rows
    val replica = (0 until 3).map(k => batch.select(
      (col("vec_id") + k * 1000L).as("vec_id"), col("v"))).reduce(_ unionByName _)
    assert(SemDecon.decontaminateAgainstIndex(spark, idx, replica).count() ==
      3 * viaIndex.length)
    assert(viaIndex.exists(r => r.getLong(0) == 10L && r.getBoolean(3)))
    // fail fast on a non-index table instead of mis-joining
    val junk = graft.core.Scratch.path("graft_semdecon_spec_junk")
    Seq((1L, "x")).toDF("a", "b").write.mode("overwrite").parquet(junk)
    val e = intercept[IllegalArgumentException] {
      SemDecon.decontaminateAgainstIndex(spark, junk, batch)
    }
    assert(e.getMessage.contains("not a SemDecon suite index"))
    // fail fast on a plane-set mismatch too: sigs carry no trace of
    // their planes, so without the stored fingerprint a mismatched
    // probe would silently pass contaminated vectors as clean
    val idx5 = graft.core.Scratch.path("graft_semdecon_spec_idx5")
    SemDecon.writeSuiteIndex(suite, idx5,
      graft.pipeline.PipelineOps.hyperplanes(5, 64))
    val e2 = intercept[IllegalArgumentException] {
      SemDecon.decontaminateAgainstIndex(spark, idx5, batch)
    }
    assert(e2.getMessage.contains("different plane set"))
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
  }

  test("p87: original text always survives; junk-only injections decide doc_keep") {
    val (df, rows) = run("p87_line_quality_filter")
    val id = df.columns.indexOf("doc_id")
    val nl = df.columns.indexOf("n_lines")
    val nk = df.columns.indexOf("n_kept")
    val keep = df.columns.indexOf("doc_keep")
    val md = df.columns.indexOf("clean_md5")
    assert(rows.length ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    // on this fixture every injected line is junk, so exactly the
    // original text survives — clean_md5 must equal md5(text)
    val expect = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      assert(r.getInt(nk) == 1)
      assert(r.getString(md) == expect(r.getLong(id)),
        s"doc ${r.getLong(id)}: cleaned text is not the original")
      val injected = Seq(3, 5, 4).count(m => r.getLong(id) % m == 0)
      assert(r.getInt(nl) == 1 + injected)
      assert(r.getBoolean(keep) == (2 >= r.getInt(nl)))
    }
  }

  test("p88: thirds per language, keep = not tail, bands ordered by NLL") {
    val (df, rows) = run("p88_perplexity_filter")
    val lang = df.columns.indexOf("lang")
    val bucket = df.columns.indexOf("ppl_bucket")
    val keep = df.columns.indexOf("keep")
    val nll = df.columns.indexOf("avg_nll")
    assert(rows.length ==
      spark.read.parquet(s"$dir/documents.parquet").count())
    rows.foreach { r =>
      assert(r.getBoolean(keep) == (r.getString(bucket) != "tail"))
      assert(r.getDouble(nll) > 0.0)
    }
    rows.groupBy(_.getString(lang)).foreach { case (l, rs) =>
      val bands = rs.groupBy(_.getString(bucket))
        .map { case (b, xs) => b -> xs.length }
      assert(bands.keySet == Set("head", "middle", "tail"),
        s"$l missing a band: $bands")
      // percentile cuts at 0.33/0.67 give thirds within rounding
      val n = rs.length
      bands.values.foreach(c =>
        assert(math.abs(c - n / 3.0) <= n / 6.0 + 1,
          s"$l band sizes far from thirds: $bands"))
      // every head NLL <= every tail NLL within a language
      val maxHead = rs.filter(_.getString(bucket) == "head")
        .map(_.getDouble(nll)).max
      val minTail = rs.filter(_.getString(bucket) == "tail")
        .map(_.getDouble(nll)).min
      assert(maxHead <= minTail)
    }
  }
}

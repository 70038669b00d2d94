package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps.{dot, hyperplaneSig, hyperplanes, norm}

/** Semantic (embedding-space) decontamination — the shared core of
  * p86 (in-session suite) and p89 (precomputed suite index). A
  * training vector is contaminated when any held-out-suite vector in
  * its hyperplane sign-bucket clears the cosine threshold; the suite
  * side is a benchmark battery — small at ANY corpus scale — so it
  * rides a broadcast and the train side is probed at scan bandwidth.
  *
  * Continuous-build posture (the p84/p85 pattern, applied to decon):
  * a benchmark battery changes rarely while corpus batches arrive
  * continuously, so `writeSuiteIndex` pays the signature/norm pass
  * once and every batch probes the stored table. Unlike
  * [[AnnIndex]], the index here does NOT need a partition layout —
  * the whole suite is broadcast at probe time, so what the index
  * saves is the per-batch sig/norm recompute and the suite's source
  * scan, not per-bucket read pruning.
  *
  * Single-bucket probing measures the THRESHOLD, not bucket recall:
  * a paraphrase perturbed enough to flip one plane sign lands in a
  * neighboring bucket (CurationFilterSpec constructs and measures
  * that miss); the recall lever is p18-style Hamming-1 multi-probe
  * or more planes with banding.
  */
object SemDecon {

  /** The canonical plane set both query twins embed as literals. */
  val DefaultPlanes: Seq[Seq[Double]] = hyperplanes(4, 64)

  /** Deterministic fingerprint of a plane set. Stored per row in the
    * suite index and re-derived at probe time: sig values carry no
    * trace of the planes that produced them, so without this a probe
    * whose plane set differs from the build's would silently
    * mis-join (near-empty candidate sets → missed contamination).
    */
  def planesFingerprint(planes: Seq[Seq[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bytes = md.digest(
      planes.map(_.mkString(",")).mkString(";").getBytes("UTF-8"))
    bytes.map("%02x".format(_)).mkString
  }

  /** Suite table shape: (suite_id, sv, sn, sig) from (suite_id, sv). */
  def suiteTable(suite: DataFrame,
                 planes: Seq[Seq[Double]] = DefaultPlanes): DataFrame =
    suite.select(col("suite_id"), col("sv"),
      norm(col("sv")).as("sn"),
      hyperplaneSig(col("sv"), planes).as("sig"))

  private def indexTable(suite: DataFrame,
                         planes: Seq[Seq[Double]]): DataFrame =
    suiteTable(suite, planes)
      .withColumn("planes_md5", lit(planesFingerprint(planes)))

  /** Persist the suite once (signature + norm precomputed; the plane
    * fingerprint rides along so a mismatched probe fails fast).
    */
  def writeSuiteIndex(suite: DataFrame, path: String,
                      planes: Seq[Seq[Double]] = DefaultPlanes): Unit =
    indexTable(suite, planes).write.mode("overwrite").parquet(path)

  /** Probe: flag every train vector whose sign-bucket holds a suite
    * vector above the cosine threshold. Output: (vec_id,
    * n_candidates, max_cos, contaminated) — one row per train vector
    * with at least one bucket-shared suite candidate. The suite is
    * explicitly broadcast; the per-vector aggregate is the plan's
    * ONE exchange.
    */
  def probe(suite: DataFrame, train: DataFrame,
            threshold: Double = 0.98,
            planes: Seq[Seq[Double]] = DefaultPlanes): DataFrame = {
    val t = train
      .withColumn("sig", hyperplaneSig(col("v"), planes))
      .withColumn("nrm", norm(col("v")))
    // exactly the four columns the probe uses — a suite table
    // carrying extra columns named vec_id/v/nrm would otherwise
    // turn the join into an ambiguous-reference error downstream
    t.join(broadcast(suite.select("sig", "suite_id", "sv", "sn")),
        Seq("sig"))
      .withColumn("cos",
        dot(col("v"), col("sv")) / (col("nrm") * col("sn")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_candidates"), max(col("cos")).as("mc"))
      .select(col("vec_id"), col("n_candidates"),
        round(col("mc"), 6).as("max_cos"),
        (col("mc") >= threshold).as("contaminated"))
  }

  /** The index-backed probe: [[probe]] against a [[writeSuiteIndex]]
    * table. Fails fast on a wrong table OR a plane-set mismatch
    * (stored fingerprint vs the probe's planes) rather than
    * mis-joining — sig values carry no trace of their plane set, so
    * a mismatch would otherwise pass every vector as clean.
    */
  def decontaminateAgainstIndex(spark: SparkSession, indexPath: String,
                                train: DataFrame,
                                threshold: Double = 0.98,
                                planes: Seq[Seq[Double]] = DefaultPlanes)
      : DataFrame = {
    val suite = spark.read.parquet(indexPath)
    val need = Set("suite_id", "sv", "sn", "sig", "planes_md5")
    require(need.subsetOf(suite.columns.toSet),
      s"not a SemDecon suite index at $indexPath: has " +
        s"${suite.columns.mkString(",")}, needs ${need.mkString(",")}")
    val stored = suite.select("planes_md5").distinct()
      .collect().map(_.getString(0)).toSeq
    // a zero-row suite collects to an empty fingerprint Seq; without
    // this case it would fall through to the plane-set-mismatch
    // message ("stored <nothing>"), pointing the user at the wrong
    // cause entirely
    require(stored.nonEmpty,
      s"suite index at $indexPath is empty (zero rows): build it " +
        "with writeSuiteIndex over a non-empty suite before probing")
    val expect = planesFingerprint(planes)
    require(stored == Seq(expect),
      s"suite index at $indexPath was built with a different plane " +
        s"set (stored ${stored.mkString(",")}, probe expects $expect)")
    probe(suite, train, threshold, planes)
  }
}

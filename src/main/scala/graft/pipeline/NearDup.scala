package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps.{LshBucketCap, LshRankBlock}

/** Where an LSH index ([[NearDup.writeIndex]]) keeps its band table.
  * The layout is chosen once, when the index is written, and recorded
  * beside it; every later append, compaction, probe and dedup on that
  * path reads it back, so no call can append one layout's bands and
  * probe the other's. Only [[NearDup]] dispatches on it.
  *
  * WHEN TO PREFER WHICH — measured, not asserted (INDEXSOAK_r12.log
  * phases 5–7, re-measured at production batch sizes in
  * INDEXSOAK_r13.log). Probe-only, against the compacted serving state
  * (one sorted file per bucket, under the outputOrdering conf that
  * [[graft.GraftSession]] sets): bucketed is faster than plain at
  * EVERY measured corpus scale — wall ratio 0.84–0.89 at 1x/4x/16x/64x
  * corpus (40 k → 2.56 M band rows, fixed 200-doc batch; 0.66–0.80
  * with a 5.3k-doc batch). Its append premium is ~0.5 s/append at
  * 5.3k-doc batches against a probe saving of ~0.1–0.5 s/probe:
  * break-even ~4–7 probes per append (16x/64x corpus). Choose
  * [[IndexLayout.Bucketed]] for any mixed or read-leaning workload,
  * with a compaction cadence keeping buckets one-file
  * (`Api.continuousBuild(compactEvery)` or the data-driven
  * `compactAdvice`); [[IndexLayout.Plain]] still wins for write-only
  * loops that probe rarely (<~4 probes/append), where its shuffle-free
  * file-add increments are cheapest.
  */
sealed abstract class IndexLayout(val bandsDir: String)

object IndexLayout {

  /** `path/bands`: plain parquet; appends are file adds. */
  case object Plain extends IndexLayout("bands")

  /** `path/bands_table`: the external catalog table `table`, bucketed
    * and per-bucket sorted on the probe's window spec
    * (`bucketBy(numBuckets, band, bkey)` + `sortBy(band, bkey, nsh_c,
    * corpus_id)`), so the probe's keep-rule window reads the scan's own
    * hash partitioning (no index-side Exchange) and, when each bucket
    * holds one file, its sort order (no Sort either). The data lives
    * under the index path, so losing the session catalog never loses
    * the index ([[NearDup.registerBucketedIndex]] restores the entry).
    * Signatures stay plain parquet in both layouts (the verify join is
    * a doc_id hash join; bucketing buys it nothing). `numBuckets` is
    * the probe's bucket-pruning grain and the bands writers' task
    * count: size it to the corpus, not to the batch.
    */
  final case class Bucketed(table: String, numBuckets: Int = 32)
      extends IndexLayout("bands_table") {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  }
}

/** Public MinHash-LSH near-duplicate API over any (doc_id, text)
  * DataFrame — the machinery behind the p02/p16/p33/p39/p43/p46/p47
  * driver queries, exposed so a pipeline owner can call it directly.
  *
  * Scale shape (100 TB posture): the signature table is persisted and
  * materialized once (every plan branch re-explodes from it; at
  * cluster scale the same reuse is a checkpoint), candidates shuffle
  * on band keys with a per-bucket cap riding that same exchange, an
  * exact size-ratio prefilter drops candidates that provably cannot
  * verify before any shingle array is shuffled, and verification is
  * a native primitive-hash Jaccard in the join condition — the
  * corpus is never all-paired.
  */
object NearDup {

  /** The full LSH chain: returns (signatures, candidates, pairs).
    *
    *  - `signatures`: doc_id, sh (hashed shingle set), bks (band
    *    keys) — persisted AND materialized (see below).
    *  - `candidates`: distinct (doc_id_a < doc_id_b) sharing >= 1
    *    band bucket; buckets over [[LshBucketCap]] contribute their
    *    size-rank-adjacent pairs only (rank blocks of
    *    [[LshRankBlock]] — see the guard comment below).
    *  - `pairs`: candidates with exact Jaccard >= `threshold`.
    */
  def lshPairs(source: DataFrame, threshold: Double = 0.5)
      : (DataFrame, DataFrame, DataFrame) = {
    // fused native kernel (graft.functions.ShingleSig): bit-identical
    // to hashedShingles(shingles(words(text))) + bandKeys, one
    // codegen'd call per row instead of five HOFs. Materialized BEFORE
    // fan-out: four plan branches (band explode x2, verify join x2)
    // scan this cache; if the first job races two branches through the
    // uncached plan, the shingle/minhash chain — the dominant per-row
    // cost — executes twice
    val sh = cachedSignatures(source)
    val (cand, pairs) = lshPairsFromSignatures(sh, threshold)
    (sh, cand, pairs)
  }

  /** [[lshPairs]] over ALREADY-PREPARED signatures (persisted +
    * materialized (doc_id, sh, bks) — the caller owns that contract):
    * the chain from band explode to verified pairs, shingling
    * nothing. This is how [[dedupAgainstIndex]]'s within-batch
    * election reuses the probe's signature cache instead of
    * re-running the shingle kernel — the dominant per-row cost —
    * over the batch a second time.
    */
  private def lshPairsFromSignatures(sh: DataFrame, threshold: Double)
      : (DataFrame, DataFrame) = {
    // shingle-set size rides the band rows (4 bytes each): it feeds
    // the exact size-ratio prefilter on the verify path below AND
    // orders the over-cap rank blocks (near-dup pairs at threshold τ
    // have size ratio >= τ, so size-adjacent ranks are exactly where
    // qualifying pairs live)
    val bands0 = sh.select(col("doc_id"), size(col("sh")).as("nsh"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    // degenerate-bucket guard (LshBucketCap): the bucket self-join
    // below is quadratic in bucket size. Round 8: an over-cap bucket
    // is SUB-BUCKETED into rank blocks of LshRankBlock = cap/2
    // (order by shingle-set size, ties by doc_id; pair within a
    // block and with the adjacent block — p42's scheme, see
    // PipelineOps.rankBlockProbes' contract) instead of skipped
    // whole: per-join-key population stays <= cap so the quadratic
    // step keeps its cap² bound, candidate volume from a hot bucket
    // is <= 2·cap·bucketSize (LINEAR in bucket size, was zero —
    // round 7 dropped the bucket and lost every pair whose only
    // collision it was), and the residual trade shrinks to "pairs
    // >1 rank block apart in size". The bucket-size count rides the
    // (band, bkey) exchange the self-join needs anyway; the
    // rank-number window re-shuffles ONLY the over-cap rows (a few
    // % of band rows even on the planted soak fixture), and its
    // one-task-per-bucket sort is the same documented backstop cost
    // as p42's (paid only by pathological buckets).
    // ONE window pipeline, not an in-cap/over-cap union: both the
    // bucket count and the size rank share the (band, bkey)
    // partitioning, so they stack on a single exchange + sort (the
    // count alone would sort on the partition keys anyway — the
    // rank's (nsh, doc_id) suffix is free ordering, and a union
    // shape was measured to cost a SECOND full band-table exchange
    // per self-join side, the expensive resource at scale). In-cap
    // rows take blk = 0 and ONE probe key; over-cap rows take their
    // rank block and probe {blk, blk+1}.
    // both windows declare the SAME (partition, order) so they share
    // one exchange AND one sort (the count takes the whole-partition
    // frame explicitly; an unordered count window would otherwise
    // plan its own partition-key sort next to the rank's)
    // r13 optimization (guide §2.4; the semanticCanonicals census
    // precedent): the rank-block guard below only DOES anything when
    // some band bucket exceeds the cap — on natural corpora none does,
    // yet every self-join side paid the window's sort on top of the
    // (band, bkey) exchange. One cheap driver census over the (cached)
    // signature table decides the shape: no over-cap bucket -> the
    // band table keeps constant blk/jk columns (byte-identical pairs,
    // the predicate is vacuously true) and the self-join plans
    // exchange-only, no sort; any over-cap bucket -> the exact
    // window pipeline below, unchanged.
    val anyOverCap = !bands0
      .groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > lit(LshBucketCap)).isEmpty
    val w = Window.partitionBy("band", "bkey").orderBy("nsh", "doc_id")
    val bands =
      if (!anyOverCap)
        bands0.select(col("doc_id"), col("nsh"), col("band"),
          col("bkey"), lit(0L).as("blk"), lit(0L).as("jk"))
      else bands0
      .withColumn("bn", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("rk", row_number().over(w))
      .withColumn("blk", when(col("bn") <= lit(LshBucketCap), lit(0L))
        .otherwise(floor((col("rk") - 1) / lit(LshRankBlock))))
      .select(col("doc_id"), col("nsh"), col("band"), col("bkey"),
        col("blk"),
        explode(when(col("bn") <= lit(LshBucketCap),
            array(col("blk")))
          .otherwise(array(col("blk"), col("blk") + 1))).as("jk"))
    // `cand` (the returned LSH candidate set) stays the NARROW
    // 2-column distinct: candidate-only consumers (the recall/eval
    // queries) must not pay for size columns they never use. The
    // verify path below builds its own sized variant — `cand` and
    // `pairs` are separate plan branches off the persisted signature
    // cache either way (uncached subplans are not shared across
    // branches), so dual consumers pay the same as before.
    // same-block pairs meet at jk = blk (their duplicate match at
    // jk = blk+1 is dropped by the blk predicate); adjacent-block
    // pairs meet at jk = max(blk); in-cap rows sit at the constant
    // key 0 and the predicate is vacuously true for them
    def selfJoin(extra: Seq[(String, String)]): DataFrame = bands
      .alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") &&
          col("a.jk") === col("b.jk") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.blk") =!= col("b.blk") ||
            col("a.jk") === col("a.blk")))
      .select(col("a.doc_id").as("doc_id_a") +:
        col("b.doc_id").as("doc_id_b") +:
        extra.map { case (c, n) => col(c).as(n) }: _*)
      .distinct()
    val cand = selfJoin(Nil)
    // one row per candidate pair: nsh_a/nsh_b are functions of the
    // doc ids, so this distinct has exactly the 2-column cardinality
    val candS = selfJoin(Seq("a.nsh" -> "nsh_a", "b.nsh" -> "nsh_b"))
    // size-ratio prefilter, EXACT (no false negatives): jaccard =
    // |∩|/|∪| <= min(|A|,|B|)/max(|A|,|B|), so a pair whose sizes
    // are further apart than the threshold ratio cannot verify —
    // dropping it here skips the only expensive step, the two joins
    // that shuffle full shingle arrays per candidate. `cand` itself
    // stays unfiltered: it IS the LSH candidate set (the recall/eval
    // queries count it), only the verify path narrows. The 1e-9
    // slack removes any 1-ulp corner between threshold*max here and
    // the verify filter's own double jaccard for non-dyadic
    // thresholds — slack can only KEEP more candidates, never drop
    // a qualifying one.
    // local cost of the size ride + this filter: NEUTRAL, measured
    // with a paired same-JVM A/B against the round-6 no-prefilter
    // shape (graft.AbProfile, 5 alternating rounds at sf0.1 —
    // p16 median 4.53 s with vs 4.83 s without, p67 3.71 vs 3.53,
    // per-round deltas mixed-sign; DESIGN.md round 8), so the
    // soak-measured ~30% verify-exchange cut decides — keep it
    val pairs = candS
      .filter(least(col("nsh_a"), col("nsh_b")).cast("double") >=
        lit(threshold) * greatest(col("nsh_a"), col("nsh_b")) - lit(1e-9))
      .join(sh.select(col("doc_id").as("doc_id_a"),
        col("sh").as("sh_a")), Seq("doc_id_a"))
      .join(sh.select(col("doc_id").as("doc_id_b"),
        col("sh").as("sh_b")), Seq("doc_id_b"))
      .withColumn("jaccard", graft.functions.GraftFunctions
        .jaccardLong(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
    (cand, pairs)
  }

  /** Canonical-survivor set: connected components over the near-dup
    * pairs, keeping each component's minimum doc_id (the p16 -> p47
    * composition as one call). Returns the surviving doc_ids.
    */
  def canonicalIds(source: DataFrame, threshold: Double = 0.5)
      : DataFrame = {
    val (_, _, pairs) = lshPairs(source, threshold)
    canonicalFromPairs(source.select(col("doc_id").as("id")), pairs)
  }

  /** [[canonicalIds]] over prepared signatures (see
    * [[lshPairsFromSignatures]]' contract). `ids` is the FULL doc-id
    * set including docs too short to shingle — they have no pairs,
    * sit as isolated CC nodes, and survive, exactly as in
    * [[canonicalIds]].
    */
  private def canonicalIdsFromSignatures(ids: DataFrame, sh: DataFrame,
                                         threshold: Double): DataFrame = {
    val (_, pairs) = lshPairsFromSignatures(sh, threshold)
    canonicalFromPairs(ids, pairs)
  }

  private def canonicalFromPairs(ids: DataFrame,
                                 pairs: DataFrame): DataFrame =
    Clusters.connectedComponents(
      ids,
      pairs.select(col("doc_id_a").as("a"), col("doc_id_b").as("b")),
      // pairs are a self-join of exactly this doc set
      trustedEndpoints = true)
      .filter(col("id") === col("label"))
      .select(col("id").as("doc_id"))

  private def shingleify(df: DataFrame): DataFrame = df
    .withColumn("sig",
      graft.functions.GraftFunctions.shingleSig(col("text")))
    .select(col("doc_id"), col("sig.sh").as("sh"),
      col("sig.bks").as("bks"))
    .filter(size(col("sh")) > 0)

  /** `df`'s signatures, persisted through [[graft.core.CacheRegistry]]
    * (the caller releases) and materialized before they fan out into
    * several plan branches.
    */
  private def cachedSignatures(df: DataFrame): DataFrame = {
    val sh = shingleify(df).transform(graft.core.CacheRegistry.persist(_))
    sh.count()
    sh
  }

  /** Asymmetric batch-vs-corpus matching — the production shape for
    * CONTINUOUS corpus builds: the incoming batch's band keys probe
    * the corpus band table (the corpus NEVER self-joins), candidates
    * verify by exact Jaccard, and each new doc reports its best match
    * (max jaccard, ties to the smallest corpus id). Returns one row
    * per incoming doc with a non-empty shingle set:
    * (new_id, matched, match_id, jaccard).
    *
    * Scale posture: an over-cap corpus band bucket keeps a
    * SIZE-STRATIFIED subset of <= [[LshBucketCap]] members (every
    * ceil(bn/cap)-th by shingle-set-size rank, PLUS the first and
    * last member of each power-of-two size window — see the inline
    * guard comment) instead of being dropped whole — a probe's
    * fanout per bucket stays <= cap + O(log maxNsh), but a
    * hot-boilerplate batch still finds a size-similar match
    * (qualifying matches have size ratio >= threshold, so a
    * size-stratified subset preserves coverage, and a size-isolated
    * qualifier is pinned by its window endpoints; a DROPPED bucket
    * made every hot near-dup look novel and append — corpus
    * pollution, the worst failure for a continuous build). At
    * cluster scale the corpus signature/band tables are the
    * precomputed index a stream job joins against each micro-batch.
    *
    * Caching contract: both signature tables persist through
    * [[graft.core.CacheRegistry]] and stay pinned until the caller
    * releases them — a per-micro-batch loop MUST call
    * `CacheRegistry.releaseAll()` after consuming each batch's
    * result, or N batches pin N re-shingled corpus caches.
    */
  def matchesAgainst(corpus: DataFrame, incoming: DataFrame,
                     threshold: Double = 0.5,
                     bucketCap: Int = LshBucketCap): DataFrame = {
    val corpusSh = cachedSignatures(corpus)
    probe(corpusSh, bandRows(corpusSh), cachedSignatures(incoming),
      threshold, bucketCap)
  }

  /** The batch-vs-corpus probe over prepared tables: `corpusSh` =
    * (doc_id, sh) for the verify join, `cb0` = (corpus_id, nsh_c,
    * band, bkey) — the UNFILTERED corpus band table (the over-cap
    * keep is applied here, at probe time, so one stored index serves
    * any bucketCap), `incSh` = the incoming batch's signatures.
    * Shared verbatim by [[matchesAgainst]] (tables built in-session)
    * and [[matchesAgainstIndex]] (tables read from a precomputed index
    * of either [[IndexLayout]]; a bucketed table arrives co-located
    * with the window's partitioning). The probe's
    * first move is a broadcast left-semi filter of `cb0` down to the
    * batch's touched (band, bkey) buckets, so per-call cost is
    * bounded by the TOUCHED-BUCKET POPULATION — a function of the
    * batch's collision footprint, never corpus row count (see the
    * inline comment for the honest fine print: for a fixed batch the
    * touched population still scales with corpus dup-density, i.e.
    * with how full the touched buckets are; the bucketed + compacted
    * layout is what removes the residual per-bucket sort cost).
    */
  private def probe(corpusSh: DataFrame, cb0: DataFrame,
                    incSh: DataFrame, threshold: Double,
                    bucketCap: Int): DataFrame = {
    val ib = incSh.select(col("doc_id").as("new_id"),
      size(col("sh")).as("nsh_n"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    // TOUCHED-BUCKET prefilter (round 11): the keep-rule window
    // below partitions by (band, bkey) and the candidate join only
    // ever reads buckets the incoming batch touches, so left-semi-
    // filtering the corpus band table to the batch's distinct
    // (band, bkey) set FIRST is semantically free — it removes whole
    // untouched buckets, never a row within a kept bucket, so every
    // bn/rk/keep decision inside surviving buckets is unchanged.
    // Without it the window exchanges + sorts the FULL band table —
    // O(corpus x bands) rows — per probe call, which re-pays a
    // corpus-proportional cost per daily batch and defeats the whole
    // point of a precomputed index. With it the window's input is
    // the touched-bucket POPULATION: <= batch_size x bands keys,
    // each carrying that bucket's full corpus membership. Honest
    // bound (round 12 wording): for a FIXED batch this is a roughly
    // constant FRACTION of the band table (INDEXSOAK_r11.log phase 2
    // measured ~2.6% across a 1x -> 16x corpus replication that
    // grows every touched bucket), i.e. still linear in corpus
    // dup-density — "batch-proportional" holds only under bounded
    // per-bucket populations. What scales with the batch itself is
    // the number of touched buckets (the soak's batch-scaling phase,
    // INDEXSOAK_r12.log, measured window input tracking batch size);
    // the residual per-bucket sort cost on hot buckets is what the
    // bucketed + compacted layout eliminates.
    // The touched-key set is broadcast: it is tiny next to the
    // corpus (a 10M-doc daily batch x 8 bands ~ 80M 12-byte keys,
    // within Spark's broadcast range), so the index side is filtered
    // at scan time with NO index-side exchange; a deployment whose
    // batches outgrow broadcast can drop the hint and still keeps
    // the window input bucket-bounded via a shuffled semi-join.
    val touched = ib.select("band", "bkey").distinct()
    val cbT = cb0.join(broadcast(touched), Seq("band", "bkey"),
      "left_semi")
    // size-stratified keep (see scaladoc): stride = ceil(bn/cap) is
    // 1 for in-cap buckets (keeps everything, branchless) and thins
    // an over-cap bucket to <= cap members evenly spaced by size
    // rank; count and rank share one exchange + sort (same
    // single-window-pipeline shape as lshPairs). On top of the
    // stride, the FIRST and LAST member of every power-of-two SIZE
    // WINDOW (win = bit length of nsh — exact integer arithmetic,
    // identical in the SQL twin via length(bin(n))) are always kept
    // (round 10; subsumes round 9's keep-largest, which closed the
    // one-sided endpoint misses). Guarantee: a member whose
    // shingle-set size is unique within its factor-2 window — the
    // adversarial shape STRIDE_r11.log constructs, a lone qualifier
    // whose size must differ from the hot mass by > 1/threshold to
    // defeat the probe's size-ratio prefilter — is BOTH endpoints of
    // its window and always kept, closing the measured mid-gap
    // residual (the stride rule was 2/6, the endpoint keep is 6/6). The remaining residual requires the unique qualifier to
    // be strictly INTERIOR to its size window — >= 2 other
    // band-invisible members within factor 2 of its size bracketing
    // it — in EVERY band bucket it shares with the probe; then
    // survival is stride luck (~cap/bn), measured in STRIDE_r11.log
    // phase 3. QUANTIFIED multi-band bound (round 11):
    // the keep decision runs independently per (band, bkey) bucket,
    // and one surviving bucket suffices (the candidate join is a
    // union over bands). Per shared band, the qualifier survives
    // with p = 1 when that band's bucket is NOT bracketed (it is
    // then its size window's endpoint — the phase-2 guarantee) and
    // with p >= cap/bn when it is. A miss therefore needs the
    // bracketing construction to hold in ALL B shared bands
    // simultaneously. The B band keys come from disjoint minhash
    // rows, so for any corpus whose would-be bracketing docs are not
    // adversarially grown to preserve every band minimum (the stride
    // fixture grows its junk with a greedy per-band search — nature does
    // not), membership of a junk doc in the qualifier's bucket is
    // independent across bands and P(miss) <= prod_b max(0,
    // 1 - cap/bn_b) <= (1 - cap/bn_max)^B — at cap 64, B = 8 and
    // even a 10x-over-cap bucket (bn = 640) that is bracketed in
    // every band, P(miss) <= (1 - 0.1)^8 ~ 0.43 per ADVERSARIAL
    // qualifier, and vanishes when any band is clean. The sharpest
    // testable corollary — junk invisible in only 7 of 8 bands must
    // restore recall to 1.0 because the one clean band pins the
    // qualifier as its window endpoint — measured 6/6 in
    // STRIDE_r11.log phase 4. PipelineSpec "over-cap keep: a
    // band-invisible qualifier at every stride phase" asserts all four
    // phases at cap 4 for K = 8..13. Cost: <= 2 rows per non-empty window, and
    // window count is <= bit length of the largest shingle set
    // (~2·log2(maxNsh) extra rows per over-cap bucket vs cap kept by
    // the stride); the lag/lead markers share the existing
    // exchange + sort (same window spec), so no new shuffle.
    val wc = Window.partitionBy("band", "bkey")
      .orderBy("nsh_c", "corpus_id")
    val cb = cbT
      .withColumn("bn", count(lit(1)).over(
        wc.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("rk", row_number().over(wc))
      .withColumn("win", length(bin(col("nsh_c").cast("long"))))
      .withColumn("pwin", lag("win", 1).over(wc))
      .withColumn("nwin", lead("win", 1).over(wc))
      .filter(pmod((col("rk") - 1).cast("long"),
        ceil(col("bn") / lit(bucketCap))) === 0L ||
        col("pwin").isNull || col("pwin") =!= col("win") ||
        col("nwin").isNull || col("nwin") =!= col("win"))
      .drop("bn", "rk", "win", "pwin", "nwin")
    val cand = ib.join(cb, Seq("band", "bkey"))
      .select("new_id", "corpus_id", "nsh_n", "nsh_c").distinct()
    // exact size-ratio prefilter (see lshPairs, incl. the 1e-9 ulp
    // slack): a candidate whose set sizes are further apart than the
    // threshold ratio cannot reach `jaccard >= threshold`, so
    // skipping its array fetch cannot change any doc's best
    // qualifying match
    val best = cand
      .filter(least(col("nsh_n"), col("nsh_c")).cast("double") >=
        lit(threshold) * greatest(col("nsh_n"), col("nsh_c")) - lit(1e-9))
      .join(incSh.select(col("doc_id").as("new_id"),
        col("sh").as("sh_n")), Seq("new_id"))
      .join(corpusSh.select(col("doc_id").as("corpus_id"),
        col("sh").as("sh_c")), Seq("corpus_id"))
      .withColumn("jaccard", graft.functions.GraftFunctions
        .jaccardLong(col("sh_n"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .groupBy("new_id")
      .agg(max(struct(col("jaccard"),
        (-col("corpus_id")).as("nid"))).as("m"))
      .select(col("new_id"), (-col("m.nid")).as("match_id"),
        col("m.jaccard").as("jaccard"))
    incSh.select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .select(col("new_id"), col("match_id").isNotNull.as("matched"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
  }

  /** Build the PRECOMPUTED corpus LSH index a continuous build reuses
    * across micro-batches: `path/signatures` = (doc_id, sh) parquet
    * and the band table (corpus_id, nsh_c, band, bkey) in `layout`.
    * The corpus is shingled ONCE here; every subsequent
    * [[matchesAgainstIndex]] call reads these tables instead of
    * re-computing the corpus's shingles and minhashes per batch —
    * at 100 TB the shingle/minhash scan IS the dominant corpus cost,
    * and it must not be paid per daily batch. The band table is
    * stored unfiltered (the over-cap keep is applied at probe time),
    * so one index serves any bucketCap. The signature table is
    * written first and bands derive from reading it back, so the
    * expensive shingle pass over the corpus text runs exactly once.
    *
    * This is the only call that takes a layout ([[IndexLayout]] has
    * the measured trade between the two). A bucketed write records its
    * layout beside the index; [[appendIndex]], [[compactIndex]],
    * [[matchesAgainstIndex]] and [[dedupAgainstIndex]] read it back
    * from `path`. A full rebuild starts with a clean slate: stale
    * tombstones from the path's previous life would silently delete
    * freshly indexed docs, stale __old/__compact leftovers from an
    * interrupted compaction would make every later append and
    * compaction refuse with a false mid-swap error (the rebuild
    * supersedes any interrupted swap), and the previous life's bands
    * table, of either layout, would be read by no probe but still
    * counted by [[compactionAdvice]] — all of it is deleted first.
    */
  def writeIndex(corpus: DataFrame, path: String,
                 layout: IndexLayout = IndexLayout.Plain): Unit = {
    val spark = corpus.sparkSession
    val stale = Seq("signatures", "bands", "bands_table")
      .flatMap(d => Seq(d, s"${d}__old", s"${d}__compact"))
    delete(spark, (stale :+ "tombstones" :+ LayoutMarker)
      .map(d => s"$path/$d"): _*)
    shingleify(corpus).write.parquet(s"$path/signatures")
    val rows = bandRows(spark.read.parquet(s"$path/signatures"))
    layout match {
      case IndexLayout.Plain => rows.write.parquet(s"$path/bands")
      case b @ IndexLayout.Bucketed(t, nb) =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        // born in the compacted serving state: one sorted file per
        // bucket (see bucketedBands)
        bucketedBands(rows, nb, "overwrite")
          .option("path", s"$path/${b.bandsDir}").saveAsTable(t)
        writeLayout(spark, path, b)
    }
  }

  /** The file a bucketed write leaves beside its index, holding
    * `bucketed <table> <numBuckets>`. The session catalog does not
    * survive a new SparkSession with an in-memory catalog; this marker
    * does, and it is what lets [[registerBucketedIndex]] re-register
    * the table with the CORRECT bucket count (a guessed count would
    * silently mis-declare the files' hash partitioning and corrupt
    * every probe's keep-rule window). A plain index has no marker.
    */
  private val LayoutMarker = "bands_layout"

  private def recordedLayout(spark: SparkSession,
                             path: String): IndexLayout = {
    val m = new Path(s"$path/$LayoutMarker")
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) IndexLayout.Plain
    else {
      val in = fs.open(m)
      val text = try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      text.trim.split("\\s+") match {
        case Array("bucketed", t, n) if n.forall(_.isDigit) =>
          IndexLayout.Bucketed(t, n.toInt)
        case _ => throw new IllegalStateException(
          s"unreadable index layout marker $m: '${text.trim}'")
      }
    }
  }

  private def writeLayout(spark: SparkSession, path: String,
                          layout: IndexLayout.Bucketed): Unit = {
    val m = new Path(s"$path/$LayoutMarker")
    val out = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(m, true)
    try out.write(s"bucketed ${layout.table} ${layout.numBuckets}\n"
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The layout recorded at `path`, refusing a bucketed index whose
    * table is missing from the session catalog while its files live
    * on (a new session's in-memory catalog, or a manual DROP): a probe
    * would die on an unresolved table, and an append would silently
    * CREATE a fresh table and fork every probe away from the
    * surviving index — truncated to one batch with no error.
    */
  private[graft] def openIndex(spark: SparkSession, path: String,
                               op: String): IndexLayout = {
    val layout = recordedLayout(spark, path)
    layout match {
      case IndexLayout.Bucketed(t, _) =>
        require(spark.catalog.tableExists(t),
          s"$op: table $t of the bucketed index at $path is not in " +
            "the session catalog, but its data survives. Re-register " +
            s"it first: NearDup.registerBucketedIndex(spark, \"$path\")")
      case IndexLayout.Plain =>
    }
    layout
  }

  /** Re-register the catalog entry of a bucketed index over its
    * surviving external data — the recovery call for the two ways a
    * bucketed index loses its catalog entry while the files at
    * `path/bands_table` live on: a NEW SparkSession with an in-memory
    * catalog (external data survives, catalog entries don't), or a
    * manual/accidental `DROP TABLE`. Schema comes from the parquet
    * files; the table name and bucket count come from the layout the
    * write recorded at `path`. Every index operation refuses to run
    * while the entry is missing and names this call as the recipe.
    */
  def registerBucketedIndex(spark: SparkSession, path: String): Unit = {
    val b = recordedLayout(spark, path) match {
      case b: IndexLayout.Bucketed => b
      case IndexLayout.Plain => throw new IllegalArgumentException(
        s"register_bucketed_index: $path records no bucketed layout — " +
          "bootstrap with writeIndex(corpus, path, " +
          "IndexLayout.Bucketed(table))")
    }
    val bdir = new Path(s"$path/${b.bandsDir}")
    require(bdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(bdir), s"register_bucketed_index: no index data at $bdir")
    val ddl = spark.read.parquet(bdir.toString).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS ${b.table}")
    spark.sql(
      s"""CREATE TABLE ${b.table}
         |($ddl)
         |USING PARQUET
         |CLUSTERED BY (band, bkey)
         |SORTED BY (band, bkey, nsh_c, corpus_id)
         |INTO ${b.numBuckets} BUCKETS
         |LOCATION '${bdir.toString}'""".stripMargin)
  }

  /** A signature table's band rows: (corpus_id, nsh_c, band, bkey). */
  private def bandRows(sh: DataFrame): DataFrame =
    sh.select(col("doc_id").as("corpus_id"), size(col("sh")).as("nsh_c"),
      posexplode(col("bks")).as(Seq("band", "bkey")))

  /** A writer of band rows into a table bucketed and per-bucket sorted
    * on exactly the probe's window spec, with `nb` buckets and ONE task
    * per bucket. The repartition is on the COMPUTED bucket id
    * (pmod(murmur3(band, bkey), nb) — identical to the bucketed
    * writer's file assignment): the writer otherwise emits one file per
    * (input task x non-empty bucket), measured at ~1000 files PER
    * APPEND on a 32-partition batch (INDEXSOAK_r13), nearly all of the
    * old append premium, and probes then paid a 1000-file listing and
    * sort until the next compaction. Repartitioning on the raw
    * (band, bkey) columns instead gets ELIDED as redundant against a
    * bucketed scan's own partitioning and leaves multi-bucket tasks —
    * measured, not hypothetical. The trade: write parallelism equals
    * `nb`, so size it to the corpus, not to the batch.
    */
  private def bucketedBands(rows: DataFrame, nb: Int, mode: String) =
    rows.repartition(nb, pmod(hash(col("band"), col("bkey")), lit(nb)))
      .write.mode(mode)
      .bucketBy(nb, "band", "bkey")
      .sortBy("band", "bkey", "nsh_c", "corpus_id")
      .format("parquet")

  private def delete(spark: SparkSession, paths: String*): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    paths.foreach { p =>
      val hp = new Path(p)
      hp.getFileSystem(hconf).delete(hp, true)
    }
  }

  /** Append NEW documents to an existing [[writeIndex]] — the
    * continuous-build increment: once a batch's survivors are
    * decided, append them so the NEXT batch probes the grown corpus.
    * The band rows go where the recorded layout keeps them: file adds
    * under `path/bands`, or an append INTO the bucketed table (Spark
    * validates that the bucket spec matches, so the zero-exchange
    * probe contract survives; each append adds at most numBuckets
    * sorted files). Only the new docs are shingled, into a cache
    * local to this call that both appends read and that is
    * unpersisted before it returns. At cluster scale both appends are
    * file adds — no read, no shuffle of the existing index.
    *
    * Contract: `newDocs` ids must not be live-tombstoned (see
    * [[removeFromIndex]] — ID-REUSE-FORBIDDEN); the guard fails the
    * append loudly instead of letting the tombstone silently swallow
    * the new rows. A mid-swap index (see [[graft.core.Swaps]]: a
    * replayed append into the missing live dir is how an interrupted
    * compaction becomes silent truncation) and a bucketed index
    * missing from the catalog ([[openIndex]]) are refused too.
    */
  def appendIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    val layout = openIndex(spark, path, "append_index")
    Seq("signatures", layout.bandsDir).foreach(d =>
      graft.core.Swaps.guard(spark, s"$path/$d", "append_index"))
    requireNotTombstoned(newDocs, "doc_id", path, "append_index")
    val sh = shingleify(newDocs).persist()
    try {
      sh.write.mode("append").parquet(s"$path/signatures")
      val rows = bandRows(sh)
      layout match {
        case IndexLayout.Plain =>
          rows.write.mode("append").parquet(s"$path/bands")
        case IndexLayout.Bucketed(t, nb) =>
          bucketedBands(rows, nb, "append").saveAsTable(t)
      }
    } finally sh.unpersist()
  }

  /** Logically REMOVE documents from a [[writeIndex]] — the takedown
    * / PII-purge path a continuous build cannot live without: a
    * removal must take effect on the NEXT probe (a removed doc may
    * no longer claim matches or occupy a keep-rule slot), but
    * rewriting a 100 TB index per takedown batch is not an option.
    * So removals are TOMBSTONES: `ids` (a doc_id column) appends to
    * `path/tombstones` as a partition-local file add — the same
    * zero-read increment as [[appendIndex]] — and every index probe
    * broadcast-ANTI-joins the tombstone set out of both tables
    * before doing anything else (tombstone sets are takedown-sized,
    * not corpus-sized; a deployment whose tombstones outgrow
    * broadcast should compact instead, which is also the cure for
    * accumulated tombstone cost). [[compactIndex]] applies
    * tombstones PHYSICALLY and clears them, so the logical-delete
    * debt is bounded by the compaction cadence.
    *
    * ID-REUSE-FORBIDDEN contract (round 12): tombstones are a bare
    * id set with no ordering, so "remove X, later append a NEW doc
    * under id X" cannot be expressed — the tombstone would hide the
    * re-added rows from every probe and the next compaction would
    * physically delete them. Both appends therefore `require` that
    * no incoming id is live-tombstoned and fail loudly with the
    * recovery recipe (IndexMaintenanceSpec pins the lifecycle). The
    * supported upsert path is: removeFromIndex(X) ->
    * compactIndex(...) (applies + clears tombstones) ->
    * appendIndex(X'); or ingest corrections under fresh ids
    * (content-hash ids get this for free — a corrected text IS a new
    * id). Chosen over timestamp-versioned tombstones deliberately:
    * versioning buys in-place upsert but puts a wall-clock order on
    * every append/remove (replayed streaming batches would need
    * stable timestamps to stay deterministic) — a loud error plus a
    * cheap documented recipe is the safer contract for an
    * at-least-once pipeline.
    */
  def removeFromIndex(ids: DataFrame, path: String): Unit = {
    graft.core.Checks.requireColumns(ids, "remove_from_index",
      "doc_id")
    ids.select("doc_id").write.mode("append")
      .parquet(s"$path/tombstones")
  }

  /** The live tombstone set at `path` (mechanics shared with the ANN
    * index through [[graft.core.Tombstones]]).
    */
  private def tombstonesAt(spark: org.apache.spark.sql.SparkSession,
                           path: String): Option[DataFrame] =
    graft.core.Tombstones.at(spark, s"$path/tombstones")

  /** Anti-join `df` against the tombstones (if any) on `idCol`. */
  private def dropTombstoned(df: DataFrame, idCol: String,
                             tomb: Option[DataFrame]): DataFrame =
    graft.core.Tombstones.drop(df, idCol, "doc_id", tomb)

  /** [[dropTombstoned]] against the LIVE set at `path`, for callers
    * outside this object that implement takedown semantics on top of
    * the probe (e.g. `Api.continuousBuild`, whose election must treat
    * a tombstoned id as inadmissible rather than crash on the
    * append-side reuse guard).
    */
  private[graft] def dropLiveTombstoned(df: DataFrame,
                                        path: String): DataFrame =
    dropTombstoned(df, "doc_id",
      tombstonesAt(df.sparkSession, path))

  /** The id-reuse guard behind the ID-REUSE-FORBIDDEN contract (see
    * [[removeFromIndex]] and [[graft.core.Tombstones.requireAbsent]]).
    */
  private def requireNotTombstoned(ids: DataFrame, idCol: String,
                                   path: String, op: String): Unit =
    graft.core.Tombstones.requireAbsent(ids, idCol, "doc_id",
      s"$path/tombstones", op, "compactIndex")

  /** The LSH index's maintenance advisor (see
    * [[graft.pipeline.Maintenance]]): measure the small-files debt
    * (parquet data files across signatures and whichever bands layout
    * the path carries) and the tombstone debt, and say whether either
    * crossed its threshold — the data-driven alternative to a fixed
    * `compactEvery` cadence, consumable directly by a maintenance
    * scheduler or via `Api.continuousBuild(compactAdvice = ...)`.
    * Control-plane cheap: one fs listing + one takedown-sized count;
    * never reads index data.
    */
  def compactionAdvice(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       thresholds: Maintenance.Thresholds =
                         Maintenance.Thresholds())
      : Maintenance.Advice =
    Maintenance.advise(
      Maintenance.countParquetFiles(spark, Seq(
        s"$path/signatures", s"$path/bands", s"$path/bands_table")),
      Maintenance.tombstoneRows(spark, s"$path/tombstones"),
      thresholds)

  /** Compact an index after many [[appendIndex]] / [[removeFromIndex]]
    * increments: each daily append is a file ADD (by design — no read,
    * no shuffle), so after months the index is a small-files catalog
    * problem — every probe pays file-listing and per-file open cost
    * proportional to APPEND COUNT, not data size (the same failure
    * S8's FstWriter.compact exists for on the FST side). This rewrites
    * both tables, APPLIES any tombstones physically (the rewrite
    * filters them out, then the tombstone dir is deleted — probes stop
    * paying the anti-join), and swaps each table in with
    * [[graft.core.Swaps.swap]]; probe output is bit-identical
    * (IndexMaintenanceSpec asserts it) because the probe never
    * depends on file layout and tombstoned rows were already
    * invisible logically. The rewrite also collapses EXACT duplicate
    * rows — the artifact a replayed at-least-once append leaves when
    * it crashed between the signatures and bands writes (same contract
    * as AnnIndex.compact): duplicates are invisible to probe OUTPUT
    * (cand is distinct, the best-match agg is max) but waste
    * verify-join work and, in the bands table, inflate bn counts
    * toward the over-cap keep rule. Run it off the serving path (the
    * rewrite reads the whole index once — amortized over the appends
    * it absorbs).
    *
    * `targetFiles` is the file count of the signatures and of plain
    * bands. A bucketed bands table is rewritten with its own bucket
    * count, one file per bucket, which buys the probe's LAST plan
    * node: Spark elides the keep window's SORT whenever every bucket
    * has one file (the scan's outputOrdering is only trusted then), so
    * the probe's index side is pure scan bandwidth — no exchange, no
    * sort (IndexMaintenanceSpec asserts the Sort count drops). The
    * elision needs `spark.sql.legacy.bucketedTableScan.outputOrdering
    * =true` (off by default since Spark 3.0; [[graft.GraftSession]]
    * sets it); without it the probe keeps a per-task sort and still
    * has no exchange.
    */
  def compactIndex(spark: SparkSession, path: String,
                   targetFiles: Int = 32): Unit = {
    val layout = openIndex(spark, path, "compact_index")
    Seq("signatures", layout.bandsDir).foreach(d =>
      graft.core.Swaps.guard(spark, s"$path/$d", "compact_index"))
    val tomb = tombstonesAt(spark, path)
    def rewrite(df: DataFrame, idCol: String): DataFrame =
      dropTombstoned(df, idCol, tomb).distinct()
    // each table is rewritten BESIDE the live one (reads are lazy —
    // overwriting in place would read-under-write), then swapped in
    val sig = s"$path/signatures"
    rewrite(spark.read.parquet(sig), "doc_id").repartition(targetFiles)
      .write.mode("overwrite").parquet(s"${sig}__compact")
    graft.core.Swaps.swap(spark, sig, "compactIndex")
    val bands = s"$path/${layout.bandsDir}"
    layout match {
      case IndexLayout.Plain =>
        rewrite(spark.read.parquet(bands), "corpus_id")
          .repartition(targetFiles)
          .write.mode("overwrite").parquet(s"${bands}__compact")
        graft.core.Swaps.swap(spark, bands, "compactIndex")
      case IndexLayout.Bucketed(t, nb) =>
        // the bucketed writer names files by bucket id, so the rewrite
        // goes through a temp TABLE. The swap changes NOTHING the live
        // entry records — location, schema and bucket spec (the
        // rewrite preserves types, so an INT-id corpus stays INT) — so
        // a REFRESH of its cached file listing is all the catalog
        // needs, and the entry never disappears (a DROP -> CREATE
        // would open a window where a crash loses the entry and a
        // replayed append recreates the table away from the
        // compacted data)
        val tmpTable = s"${t}__compact"
        spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
        delete(spark, s"${bands}__compact")
        bucketedBands(rewrite(spark.table(t), "corpus_id"), nb,
          "overwrite")
          .option("path", s"${bands}__compact").saveAsTable(tmpTable)
        spark.sql(s"DROP TABLE $tmpTable")
        graft.core.Swaps.swap(spark, bands, "compactIndex")
        spark.sql(s"REFRESH TABLE $t")
    }
    // tombstones are now physical — clear them AFTER both tables
    // swapped (a crash before this point leaves them applied
    // logically AND physically, which is harmless: the anti-join of
    // an already-absent id is a no-op)
    delete(spark, s"$path/tombstones")
  }

  /** The index-backed [[dedupAgainst]]: survivors of the incoming
    * batch vs the PRECOMPUTED corpus index, then deduped within the
    * batch. The foreachBatch body of an index-backed streaming
    * corpus build is: survivors = dedupAgainstIndex(...);
    * appendIndex(survivors, path); CacheRegistry.releaseAll(). The two
    * layouts elect identical survivors, across a mid-loop compaction
    * too (ApiSpec "bucketed layout + compactEvery cadence";
    * INDEXSOAK_r12.log phase 5 ran both loops in lockstep for 10
    * batches).
    */
  def dedupAgainstIndex(spark: SparkSession, indexPath: String,
                        incoming: DataFrame, threshold: Double = 0.5,
                        bucketCap: Int = LshBucketCap): DataFrame = {
    val (probed, incSh) = probeIndex(spark, indexPath, incoming,
      threshold, bucketCap)
    electSurvivors(incoming, incSh,
      probed.filter(col("matched")).select(col("new_id")), threshold)
  }

  /** The shared back half of the dedupAgainst* family: drop the
    * corpus-matched docs, then run the within-batch canonical
    * election over the SAME cached signatures the probe used —
    * the batch is shingled exactly once per micro-batch (round-12
    * review: the election previously re-shingled the survivors from
    * raw text, paying the dominant per-row cost twice). The
    * survivors' signature subset is persisted + materialized because
    * the election fans out over four plan branches — same contract
    * as lshPairs' own cache.
    */
  private def electSurvivors(incoming: DataFrame, incSh: DataFrame,
                             matched: DataFrame,
                             threshold: Double): DataFrame = {
    val vsCorpus = incoming.join(matched,
      incoming("doc_id") === matched("new_id"), "left_anti")
    val vsSh = incSh.join(matched,
      incSh("doc_id") === matched("new_id"), "left_anti")
      .transform(graft.core.CacheRegistry.persist(_))
    vsSh.count()
    vsCorpus.join(
      canonicalIdsFromSignatures(
        vsCorpus.select(col("doc_id").as("id")), vsSh, threshold),
      Seq("doc_id"), "left_semi")
  }

  /** [[matchesAgainst]] against a [[writeIndex]]-precomputed corpus:
    * identical output (same probe core, same keep rule, same
    * verify), but the per-batch cost is ONLY the incoming batch's
    * shingling plus the band join — the corpus-side scan work was
    * paid once at index-build time. Caching contract: only the
    * incoming batch's signatures are pinned (corpus tables stream
    * from parquet); the caller still releases per batch.
    */
  def matchesAgainstIndex(spark: SparkSession, indexPath: String,
                          incoming: DataFrame, threshold: Double = 0.5,
                          bucketCap: Int = LshBucketCap): DataFrame =
    probeIndex(spark, indexPath, incoming, threshold, bucketCap)._1

  /** The index probe and the batch signatures it cached — shared by
    * [[matchesAgainstIndex]] and [[dedupAgainstIndex]] so the latter
    * shingles the batch exactly once for both the probe and the
    * within-batch election. The index is checked before the batch is
    * shingled. The bands come from the recorded layout. A bucketed
    * table's scan
    * arrives already partitioned on the keep-rule window's keys, so
    * that probe plan has NO index-side Exchange (IndexMaintenanceSpec
    * asserts it on the physical plan).
    */
  private def probeIndex(spark: SparkSession, indexPath: String,
                         incoming: DataFrame, threshold: Double,
                         bucketCap: Int): (DataFrame, DataFrame) = {
    val layout = openIndex(spark, indexPath, "matches_against_index")
    // fail fast with a named error if the path is not an index — a
    // wrong path would otherwise surface as an unresolved column
    // three joins deep
    val corpusSh0 = spark.read.parquet(s"$indexPath/signatures")
    graft.core.Checks.requireColumns(corpusSh0,
      "matches_against_index(signatures)", "doc_id", "sh", "bks")
    val cb00 = layout match {
      case IndexLayout.Plain => spark.read.parquet(s"$indexPath/bands")
      case IndexLayout.Bucketed(t, _) => spark.table(t)
    }
    graft.core.Checks.requireColumns(cb00,
      "matches_against_index(bands)", "corpus_id", "nsh_c", "band",
      "bkey")
    // logical deletes first: a tombstoned doc may neither claim a
    // match nor occupy a keep-rule slot (see removeFromIndex); the
    // broadcast anti-join preserves a bucketed scan's partitioning,
    // so the zero-exchange window plan survives tombstones
    val tomb = tombstonesAt(spark, indexPath)
    val incSh = cachedSignatures(incoming)
    (probe(dropTombstoned(corpusSh0, "doc_id", tomb),
      dropTombstoned(cb00, "corpus_id", tomb), incSh, threshold,
      bucketCap), incSh)
  }

  /** The survivors of [[matchesAgainst]], additionally deduped
    * WITHIN the batch (canonical-min-id election over the survivors'
    * own near-dup components) — two mutual near-dups arriving in one
    * micro-batch must not both append, or the corpus stops being
    * near-dup-free. Docs too short to shingle have nothing to match
    * and survive. The foreachBatch body of a streaming corpus build:
    * append these, skip the rest (and release the batch's caches —
    * see [[matchesAgainst]]).
    */
  def dedupAgainst(corpus: DataFrame, incoming: DataFrame,
                   threshold: Double = 0.5,
                   bucketCap: Int = LshBucketCap): DataFrame = {
    val corpusSh = cachedSignatures(corpus)
    val incSh = cachedSignatures(incoming)
    val matched = probe(corpusSh, bandRows(corpusSh), incSh, threshold,
      bucketCap)
      .filter(col("matched")).select(col("new_id"))
    electSurvivors(incoming, incSh, matched, threshold)
  }
}

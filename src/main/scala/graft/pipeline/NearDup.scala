package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps.{LshBucketCap, LshRankBlock}

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
    // codegen'd call per row instead of five HOFs
    val sh = shingleify(source)
      .transform(graft.core.CacheRegistry.persist(_))
    // materialize BEFORE fan-out: four plan branches (band explode x2,
    // verify join x2) scan this cache; if the first job races two
    // branches through the uncached plan, the shingle/minhash chain —
    // the dominant per-row cost — executes twice
    sh.count()
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
    val corpusSh = shingleify(corpus)
      .transform(graft.core.CacheRegistry.persist(_))
    val incSh = shingleify(incoming)
      .transform(graft.core.CacheRegistry.persist(_))
    // materialize before fan-out (each cache feeds 2 plan branches)
    corpusSh.count(); incSh.count()
    val cb0 = corpusSh.select(col("doc_id").as("corpus_id"),
      size(col("sh")).as("nsh_c"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    probe(corpusSh, cb0, incSh, threshold, bucketCap)
  }

  /** The batch-vs-corpus probe over prepared tables: `corpusSh` =
    * (doc_id, sh) for the verify join, `cb0` = (corpus_id, nsh_c,
    * band, bkey) — the UNFILTERED corpus band table (the over-cap
    * keep is applied here, at probe time, so one stored index serves
    * any bucketCap), `incSh` = the incoming batch's signatures.
    * Shared verbatim by [[matchesAgainst]] (tables built in-session),
    * [[matchesAgainstIndex]] (tables read from a precomputed index)
    * and [[matchesAgainstBucketedIndex]] (bands read from a bucketed
    * table, co-located with the window's partitioning). The probe's
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
    * across micro-batches: `path/signatures` = (doc_id, sh) and
    * `path/bands` = (corpus_id, nsh_c, band, bkey), both parquet.
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
    * For probe-dominated serving, [[writeIndexBucketed]] is the
    * faster layout once compacted (the bands table bucketed + sorted
    * on the probe's exact window spec — zero index-side exchange,
    * zero sort); see its scaladoc for the measured trade against
    * this path layout's cheaper appends. The path-based parquet
    * layout here keeps the API storage-agnostic.
    */
  def writeIndex(corpus: DataFrame, path: String): Unit = {
    val spark = corpus.sparkSession
    // a full rebuild starts with a clean slate: stale tombstones
    // from the path's previous life would silently delete freshly
    // indexed docs, and stale __old/__compact leftovers from an
    // interrupted compaction would make every subsequent append and
    // compaction refuse with a false mid-swap error even though the
    // rebuilt live dirs are now authoritative — a rebuild SUPERSEDES
    // any interrupted swap (advisor r12)
    val tdir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tdir, true)
    clearSwapLeftovers(spark, s"$path/signatures", s"$path/bands")
    shingleify(corpus)
      .write.mode("overwrite").parquet(s"$path/signatures")
    spark.read.parquet(s"$path/signatures")
      .select(col("doc_id").as("corpus_id"),
        size(col("sh")).as("nsh_c"),
        posexplode(col("bks")).as(Seq("band", "bkey")))
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** [[writeIndex]] with the bands table stored as a BUCKETED,
    * per-bucket-SORTED catalog table. The bucketing spec is exactly
    * the probe's window spec (`bucketBy(numBuckets, band, bkey)` +
    * `sortBy(band, bkey, nsh_c, corpus_id)`), so a
    * [[matchesAgainstBucketedIndex]] probe's keep-rule window reads
    * the scan's own hash partitioning (no index-side Exchange) and,
    * when each bucket holds one file (the state
    * [[compactIndexBucketed]] restores), the scan's own sort order
    * (no index-side Sort either) — the per-batch plan touches only
    * the batch's buckets at scan bandwidth. Signatures stay
    * path-based parquet (the verify join is a doc_id hash join;
    * bucketing buys it nothing a broadcast of batch candidates
    * doesn't). The table's data lives under `path/bands_table`
    * (external), so dropping the session catalog never loses the
    * index.
    *
    * WHEN TO PREFER WHICH LAYOUT — measured, not asserted
    * (INDEXSOAK_r12.log phases 5–7, re-measured at production batch
    * sizes in INDEXSOAK_r13.log). Probe-only, against the compacted
    * serving state (one sorted file per bucket, under the documented
    * outputOrdering conf): bucketed is consistently faster than the
    * plain layout at EVERY measured corpus scale — bucketed/plain
    * wall ratio 0.84–0.89 at 1x/4x/16x/64x corpus (40 k → 2.56 M
    * band rows, fixed 200-doc batch; 0.66–0.80 with a 5.3k-doc
    * batch). The r12-measured increment premium (~1 s/append at
    * 200-doc batches, 3.5–10.7 s at 5.3k-doc batches) turned out to
    * be mostly a WRITER PATHOLOGY, not the layout: the bucketed
    * append emitted one file per (input task x non-empty bucket) —
    * ~1000 files per 32-partition append — fixed in r13 by the same
    * computed-bucket-id repartition the compaction already used.
    * With the fix, an append adds at most numBuckets sorted files
    * and the steady-window premium at 5.3k-doc batches is
    * ~0.5 s/append against a probe saving of ~0.1-0.5 s/probe:
    * break-even ~4-7 probes per append (INDEXSOAK_r13 breakeven
    * mode, 16x/64x corpus). Rule: choose bucketed for any mixed or
    * read-leaning workload — with a compaction cadence keeping
    * buckets one-file (`Api.continuousBuild(compactEvery)` or the
    * data-driven `compactAdvice`) it serves probes with ZERO
    * index-side exchange; plain [[writeIndex]] still wins for
    * write-only loops that probe rarely (<~4 probes/append), where
    * its shuffle-free file-add increments are cheapest.
    */
  def writeIndexBucketed(corpus: DataFrame, path: String,
                         table: String, numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    // a full rebuild starts with a clean slate, same as writeIndex:
    // stale tombstones from the path's previous life would silently
    // delete freshly indexed docs on the very next probe, and stale
    // swap leftovers would false-refuse every later append/compact
    // (advisor r12 — the rebuild supersedes any interrupted swap)
    val tdir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tdir, true)
    clearSwapLeftovers(spark, s"$path/signatures", s"$path/bands_table")
    shingleify(corpus)
      .write.mode("overwrite").parquet(s"$path/signatures")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.read.parquet(s"$path/signatures")
      .select(col("doc_id").as("corpus_id"),
        size(col("sh")).as("nsh_c"),
        posexplode(col("bks")).as(Seq("band", "bkey")))
      // one task per bucket (the compaction's computed-bucket-id
      // repartition): without it the bootstrap writes one file per
      // (scan task x bucket) — at cluster scale thousands of tasks
      // x nb buckets — and the fresh index pays the multi-file
      // window sort until its first compaction. With it the index
      // is BORN in the compacted serving state (one sorted file per
      // bucket). The trade: bootstrap write parallelism equals
      // numBuckets, so size numBuckets to the corpus (it is also
      // the probe's bucket-pruning grain), not to the batch
      .repartition(numBuckets,
        pmod(hash(col("band"), col("bkey")), lit(numBuckets)))
      .write.mode("overwrite")
      .option("path", s"$path/bands_table")
      .bucketBy(numBuckets, "band", "bkey")
      .sortBy("band", "bkey", "nsh_c", "corpus_id")
      .format("parquet")
      .saveAsTable(table)
    writeNumBucketsMarker(spark, path, numBuckets)
  }

  /** Delete `${dir}__old` / `${dir}__compact` leftovers for each
    * given dir — called ONLY by the full-rebuild write* paths, whose
    * fresh write supersedes whatever an interrupted swap left behind
    * (every other mutation must go through [[graft.core.Swaps.guard]]
    * and refuse instead).
    */
  private def clearSwapLeftovers(spark: org.apache.spark.sql.SparkSession,
                                 dirs: String*): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    dirs.flatMap(d => Seq(s"${d}__old", s"${d}__compact")).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).delete(hp, true)
    }
  }

  /** Persist the bands table's bucket count BESIDE the data
    * (`path/bands_numbuckets`): the session catalog is the runtime
    * source of truth ([[tableNumBuckets]]), but it does not survive a
    * new SparkSession with an in-memory catalog — this marker is what
    * lets [[registerBucketedIndex]] re-register the table over the
    * surviving external files with the CORRECT bucket count (a
    * guessed count would silently mis-declare the files' hash
    * partitioning and corrupt every probe's keep-rule window).
    */
  private def writeNumBucketsMarker(
      spark: org.apache.spark.sql.SparkSession, path: String,
      numBuckets: Int): Unit = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/bands_numbuckets")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(mp, true)
    try out.write(s"$numBuckets\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def readNumBucketsMarker(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[Int] = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/bands_numbuckets")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, n, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  /** Re-register the catalog entry of a [[writeIndexBucketed]] index
    * over its surviving external data — the recovery call for the two
    * ways a bucketed index loses its catalog entry while the files at
    * `path/bands_table` live on: a NEW SparkSession with an in-memory
    * catalog (external data survives, catalog entries don't), or a
    * manual/accidental `DROP TABLE`. Schema comes from the parquet
    * files; the bucket count comes from the durable
    * `path/bands_numbuckets` marker (pass `numBuckets` explicitly
    * only for a pre-marker index, where YOU are asserting the count
    * the files were written with — a wrong value silently corrupts
    * every probe). [[appendIndexBucketed]] refuses to run while the
    * entry is missing and names this call as the recipe.
    */
  def registerBucketedIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, table: String,
                            numBuckets: Option[Int] = None): Unit = {
    val bdir = new org.apache.hadoop.fs.Path(s"$path/bands_table")
    val fs = bdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(bdir),
      s"register_bucketed_index: no index data at $bdir — bootstrap " +
        "with writeIndexBucketed instead")
    val nb = numBuckets.orElse(readNumBucketsMarker(spark, path))
      .getOrElse(throw new IllegalArgumentException(
        s"register_bucketed_index: $path/bands_numbuckets is missing " +
          "(pre-marker index) — pass numBuckets explicitly, asserting " +
          "the count the files were written with"))
    val ddl = spark.read.parquet(bdir.toString).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table
         |($ddl)
         |USING PARQUET
         |CLUSTERED BY (band, bkey)
         |SORTED BY (band, bkey, nsh_c, corpus_id)
         |INTO $nb BUCKETS
         |LOCATION '${bdir.toString}'""".stripMargin)
    writeNumBucketsMarker(spark, path, nb)
  }

  /** [[matchesAgainstIndex]] over a [[writeIndexBucketed]] layout:
    * identical output (same probe core), but the bands scan arrives
    * already partitioned on the keep-rule window's keys — the probe
    * plan has NO index-side Exchange (BucketedIndexSpec asserts it
    * on the physical plan).
    */
  def matchesAgainstBucketedIndex(spark: org.apache.spark.sql.SparkSession,
                                  path: String, table: String,
                                  incoming: DataFrame,
                                  threshold: Double = 0.5,
                                  bucketCap: Int = LshBucketCap)
      : DataFrame = {
    val incSh = shingleify(incoming)
      .transform(graft.core.CacheRegistry.persist(_))
    incSh.count() // materialize before fan-out (2 plan branches)
    probeBucketedWithSignatures(spark, path, table, incSh, threshold,
      bucketCap)
  }

  /** The bucketed-layout probe over prepared batch signatures — see
    * [[probeIndexWithSignatures]].
    */
  private def probeBucketedWithSignatures(
      spark: org.apache.spark.sql.SparkSession, path: String,
      table: String, incSh: DataFrame, threshold: Double,
      bucketCap: Int): DataFrame = {
    val corpusSh0 = spark.read.parquet(s"$path/signatures")
    graft.core.Checks.requireColumns(corpusSh0,
      "matches_against_bucketed_index(signatures)", "doc_id", "sh",
      "bks")
    val cb00 = spark.table(table)
    graft.core.Checks.requireColumns(cb00,
      "matches_against_bucketed_index(bands)", "corpus_id", "nsh_c",
      "band", "bkey")
    // same logical-delete contract as matchesAgainstIndex; the
    // broadcast anti-join preserves the bucketed scan's partitioning
    // so the zero-exchange window plan survives tombstones
    val tomb = tombstonesAt(spark, path)
    val corpusSh = dropTombstoned(corpusSh0, "doc_id", tomb)
    val cb0 = dropTombstoned(cb00, "corpus_id", tomb)
    probe(corpusSh, cb0, incSh, threshold, bucketCap)
  }

  /** [[appendIndex]] for a [[writeIndexBucketed]] layout: the new
    * docs' band rows append INTO the bucketed catalog table (Spark
    * validates the bucket spec matches, so the table's
    * zero-exchange probe contract survives the append; each append
    * adds one file per non-empty bucket — compaction cadence
    * applies, same as the path layout). Using plain [[appendIndex]]
    * on a bucketed index would write to `path/bands`, which the
    * bucketed probe never reads — this is the correct increment.
    * Same ID-REUSE-FORBIDDEN guard as [[appendIndex]].
    */
  def appendIndexBucketed(newDocs: DataFrame, path: String,
                          table: String,
                          numBuckets: Int = 32): Unit = {
    val spark = newDocs.sparkSession
    graft.core.Swaps.guard(spark, s"$path/signatures",
      "append_index_bucketed")
    graft.core.Swaps.guard(spark, s"$path/bands_table",
      "append_index_bucketed")
    // refuse the orphaned-data state: index files exist at
    // path/bands_table but the catalog entry is gone (a new session's
    // in-memory catalog, or a manual DROP). Proceeding would let
    // saveAsTable(append) silently CREATE a fresh table and fork
    // every probe away from the surviving index — the data is never
    // lost, but the index is effectively truncated to this batch with
    // no error (advisor r12, medium). registerBucketedIndex is the
    // one-call recovery.
    val creating = !spark.catalog.tableExists(table)
    if (creating) {
      val bdir = new org.apache.hadoop.fs.Path(s"$path/bands_table")
      val fs = bdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(bdir),
        s"append_index_bucketed: table $table is not in the session " +
          s"catalog but index data exists at $bdir — appending now " +
          "would create a NEW table and fork probes away from the " +
          "surviving index. Re-register it first: " +
          s"NearDup.registerBucketedIndex(spark, \"$path\", \"$table\")")
    }
    requireNotTombstoned(newDocs, "doc_id", path,
      "append_index_bucketed")
    val sh = shingleify(newDocs)
      .transform(graft.core.CacheRegistry.persist(_))
    sh.count()
    sh.write.mode("append").parquet(s"$path/signatures")
    // the CATALOG owns the bucket count once the table exists —
    // trusting the parameter instead would fail the append on a
    // bucket-spec mismatch (numBuckets is only the initial count
    // when this append creates the table)
    val nb = tableNumBuckets(spark, table).getOrElse(numBuckets)
    val w0 = sh.select(col("doc_id").as("corpus_id"),
        size(col("sh")).as("nsh_c"),
        posexplode(col("bks")).as(Seq("band", "bkey")))
      // group each bucket into ONE task (same computed-bucket-id
      // repartition as compactIndexBucketed): the bucketed writer
      // otherwise emits one file per (input task x non-empty bucket)
      // — measured at ~1000 files PER APPEND on a 32-partition batch
      // (INDEXSOAK_r13), which was nearly all of the append premium
      // and left probes paying a 1000-file listing+sort until the
      // next compaction. With the repartition an append adds at most
      // nb files, each sorted, so the small-files debt grows by the
      // bucket count, not by batch parallelism x bucket count
      .repartition(nb, pmod(hash(col("band"), col("bkey")), lit(nb)))
      .write.mode("append")
      .bucketBy(nb, "band", "bkey")
      .sortBy("band", "bkey", "nsh_c", "corpus_id")
      .format("parquet")
    // a bootstrap-by-append creates the table EXTERNAL under
    // path/bands_table, matching writeIndexBucketed — dropping the
    // session catalog never loses the index (the option is only legal
    // at creation; an existing table already owns its location)
    val w = if (creating) w0.option("path", s"$path/bands_table") else w0
    w.saveAsTable(table)
    if (creating) writeNumBucketsMarker(spark, path, numBuckets)
  }

  /** The bucket count the session catalog records for `table`, None
    * when the table doesn't exist or isn't bucketed — the layout's
    * single source of truth for appends and compactions (a must-match
    * parameter would fail only at write time, and a mismatched
    * compaction would silently relay the table).
    */
  private def tableNumBuckets(spark: org.apache.spark.sql.SparkSession,
                              table: String): Option[Int] =
    if (!spark.catalog.tableExists(table)) None
    else spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter(col("col_name") === "Num Buckets")
      .select("data_type").collect()
      .headOption.map(_.getString(0).trim.toInt)

  /** Append NEW documents to an existing [[writeIndex]] — the
    * continuous-build increment: once a batch's survivors are
    * decided, append them so the NEXT batch probes the grown corpus.
    * Only the new docs are shingled (persisted + materialized once;
    * both table appends consume the same cache, released here since
    * nothing lazy escapes). At cluster scale both appends are
    * partition-local file adds — no read, no shuffle, no compaction
    * of the existing index.
    *
    * Contract: `newDocs` ids must not be live-tombstoned (see
    * [[removeFromIndex]] — ID-REUSE-FORBIDDEN); the guard fails the
    * append loudly instead of letting the tombstone silently swallow
    * the new rows.
    */
  def appendIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    // refuse to write into a mid-swap table (see core.Swaps: a
    // replayed append into the missing live dir is how an
    // interrupted compaction becomes silent truncation)
    graft.core.Swaps.guard(spark, s"$path/signatures", "append_index")
    graft.core.Swaps.guard(spark, s"$path/bands", "append_index")
    requireNotTombstoned(newDocs, "doc_id", path, "append_index")
    val sh = shingleify(newDocs)
      .transform(graft.core.CacheRegistry.persist(_))
    sh.count()
    sh.write.mode("append").parquet(s"$path/signatures")
    sh.select(col("doc_id").as("corpus_id"),
        size(col("sh")).as("nsh_c"),
        posexplode(col("bks")).as(Seq("band", "bkey")))
      .write.mode("append").parquet(s"$path/bands")
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

  /** Compact a [[writeIndex]] layout after many [[appendIndex]] /
    * [[removeFromIndex]] increments: each daily append is a
    * partition-local file ADD (by design — no read, no shuffle), so
    * after months the index is a small-files catalog problem — every
    * probe pays file-listing and per-file open cost proportional to
    * APPEND COUNT, not data size (the same failure S8's
    * FstWriter.compact exists for on the FST side). This rewrites
    * both tables into ~`targetFiles` large files each, APPLIES any
    * tombstones physically (the rewrite filters them out, then the
    * tombstone dir is deleted — probes stop paying the anti-join),
    * and swaps with directory renames; probe output is bit-identical
    * (IndexMaintenanceSpec asserts it) because the probe never
    * depends on file layout and tombstoned rows were already
    * invisible logically. Run it off the serving path (the rewrite
    * reads the whole index once — amortized over the appends it
    * absorbs).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String, targetFiles: Int = 32): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tomb = tombstonesAt(spark, path)
    Seq("signatures" -> "doc_id", "bands" -> "corpus_id").foreach {
      case (sub, idCol) =>
        graft.core.Swaps.guard(spark, s"$path/$sub", "compact_index")
        val dir = new org.apache.hadoop.fs.Path(s"$path/$sub")
        val fs = dir.getFileSystem(hconf)
        val tmp = new org.apache.hadoop.fs.Path(s"$path/${sub}__compact")
        val old = new org.apache.hadoop.fs.Path(s"$path/${sub}__old")
        // write the compacted copy BESIDE the live table (reads are
        // lazy — overwriting in place would read-under-write), then
        // swap with two renames; __old survives until the end of the
        // loop body so a crash between renames leaves the data
        // recoverable under one of the three names. The rewrite also
        // collapses EXACT duplicate rows — the artifact a replayed
        // at-least-once append leaves when it crashed between the
        // signatures and bands writes (same contract as
        // AnnIndex.compact): duplicates are invisible to probe
        // OUTPUT (cand is distinct, the best-match agg is max) but
        // waste verify-join work and, in the bands table, inflate bn
        // counts toward the over-cap keep rule.
        dropTombstoned(spark.read.parquet(dir.toString), idCol, tomb)
          .distinct()
          .repartition(targetFiles)
          .write.mode("overwrite").parquet(tmp.toString)
        fs.delete(old, true)
        require(fs.rename(dir, old), s"compactIndex: cannot move $dir")
        require(fs.rename(tmp, dir), s"compactIndex: cannot move $tmp")
        fs.delete(old, true)
    }
    // tombstones are now physical — clear them AFTER both tables
    // swapped (a crash before this point leaves them applied
    // logically AND physically, which is harmless: the anti-join of
    // an already-absent id is a no-op)
    val tdir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    tdir.getFileSystem(hconf).delete(tdir, true)
  }

  /** [[compactIndex]] for a [[writeIndexBucketed]] layout. Beyond the
    * small-files cure, this buys the LAST plan node: the rewrite
    * hash-repartitions on the bucket columns with the table's own
    * bucket count, so each task holds exactly one bucket and writes
    * exactly ONE per-bucket-sorted file — and Spark elides the
    * probe's window SORT whenever every bucket has one file (the
    * scan's outputOrdering is only trusted then). Post-compaction the
    * probe's index side is pure scan bandwidth: no exchange (the
    * bucketed scan's partitioning), no sort (the files' own order) —
    * IndexMaintenanceSpec asserts the Sort node count drops and the
    * output is bit-identical. Tombstones apply physically and clear,
    * same contract as [[compactIndex]].
    *
    * The sort elision needs
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (off
    * by default since Spark 3.0; Spark still self-guards by ONLY
    * exposing the order when every bucket has exactly one file —
    * the state this compaction establishes). Without the conf the
    * probe keeps a per-task sort (no exchange either way); with it,
    * post-compaction probes read the index at scan bandwidth.
    */
  def compactIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                           path: String, table: String,
                           numBuckets: Int = 32): Unit = {
    graft.core.Swaps.guard(spark, s"$path/signatures",
      "compact_index_bucketed")
    graft.core.Swaps.guard(spark, s"$path/bands_table",
      "compact_index_bucketed")
    require(spark.catalog.tableExists(table),
      s"compact_index_bucketed: table $table is not in the session " +
        "catalog — restore a lost entry with " +
        s"NearDup.registerBucketedIndex(spark, \"$path\", \"$table\")")
    val hconf = spark.sparkContext.hadoopConfiguration
    val tomb = tombstonesAt(spark, path)
    // the live table's OWN layout drives the rewrite (see
    // tableNumBuckets — the parameter is only a fallback for a table
    // the catalog has lost)
    val nb = tableNumBuckets(spark, table).getOrElse(numBuckets)
    // signatures: same rewrite as the path layout (incl. the exact-
    // duplicate collapse — see compactIndex)
    val sdir = new org.apache.hadoop.fs.Path(s"$path/signatures")
    val sfs = sdir.getFileSystem(hconf)
    val stmp = new org.apache.hadoop.fs.Path(s"$path/signatures__compact")
    val sold = new org.apache.hadoop.fs.Path(s"$path/signatures__old")
    dropTombstoned(spark.read.parquet(sdir.toString), "doc_id", tomb)
      .distinct()
      .repartition(nb)
      .write.mode("overwrite").parquet(stmp.toString)
    sfs.delete(sold, true)
    require(sfs.rename(sdir, sold), s"compact: cannot move $sdir")
    require(sfs.rename(stmp, sdir), s"compact: cannot move $stmp")
    sfs.delete(sold, true)
    // bands: rewrite through a temp TABLE (bucket-id file names are
    // assigned by the bucketed writer), then swap directories and
    // REFRESH the live catalog entry — its location/schema/bucket
    // spec are untouched by the swap, only the files changed
    val bdir = new org.apache.hadoop.fs.Path(s"$path/bands_table")
    val bfs = bdir.getFileSystem(hconf)
    val btmp = new org.apache.hadoop.fs.Path(s"$path/bands_table__compact")
    val bold = new org.apache.hadoop.fs.Path(s"$path/bands_table__old")
    val tmpTable = s"${table}__compact"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    bfs.delete(btmp, true)
    dropTombstoned(spark.table(table), "corpus_id", tomb)
      .distinct()
      // group each bucket into ONE task by repartitioning on the
      // COMPUTED bucket id (pmod(murmur3(band,bkey), n) — verified
      // identical to the bucketed writer's file assignment): all of
      // a bucket's rows share the value, so the writer emits exactly
      // one file per bucket. Repartitioning on the raw (band, bkey)
      // columns instead gets ELIDED as redundant against the
      // bucketed scan's own partitioning and leaves multi-bucket
      // tasks — measured, not hypothetical
      .repartition(nb,
        pmod(hash(col("band"), col("bkey")), lit(nb)))
      .write.mode("overwrite")
      .option("path", btmp.toString)
      .bucketBy(nb, "band", "bkey")
      .sortBy("band", "bkey", "nsh_c", "corpus_id")
      .format("parquet")
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE $tmpTable")
    bfs.delete(bold, true)
    require(bfs.rename(bdir, bold), s"compact: cannot move $bdir")
    require(bfs.rename(btmp, bdir), s"compact: cannot move $btmp")
    bfs.delete(bold, true)
    // the swap changes NOTHING the catalog records — location, schema
    // and bucket spec are all identical (nb came FROM the table; the
    // rewrite preserves types, so an INT-id corpus stays INT) — so a
    // REFRESH of the cached file listing is all the catalog needs.
    // (An earlier DROP -> CREATE re-registration here had an
    // unguarded window: a crash between the two left no catalog
    // entry and no __old marker, and a replayed appendIndexBucketed
    // would then silently recreate the table away from the compacted
    // data — advisor r12, medium. REFRESH is atomic from the catalog
    // reader's point of view: the entry never disappears.)
    spark.sql(s"REFRESH TABLE $table")
    // refresh the durable bucket-count marker too — pre-marker
    // indexes gain it at their first compaction, making
    // registerBucketedIndex's recovery self-sufficient from then on
    writeNumBucketsMarker(spark, path, nb)
    val tdir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    tdir.getFileSystem(hconf).delete(tdir, true)
  }

  /** The index-backed [[dedupAgainst]]: survivors of the incoming
    * batch vs the PRECOMPUTED corpus index, then deduped within the
    * batch. The foreachBatch body of an index-backed streaming
    * corpus build is: survivors = dedupAgainstIndex(...);
    * appendIndex(survivors, path); CacheRegistry.releaseAll().
    */
  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, incoming: DataFrame,
                        threshold: Double = 0.5,
                        bucketCap: Int = LshBucketCap): DataFrame = {
    val incSh = shingleify(incoming)
      .transform(graft.core.CacheRegistry.persist(_))
    incSh.count()
    val matched = probeIndexWithSignatures(spark, indexPath, incSh,
      threshold, bucketCap)
      .filter(col("matched")).select(col("new_id"))
    electSurvivors(incoming, incSh, matched, threshold)
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

  /** [[dedupAgainstIndex]] for a [[writeIndexBucketed]] layout — the
    * foreachBatch body of a bucketed-index streaming build:
    * survivors = dedupAgainstBucketedIndex(...);
    * appendIndexBucketed(survivors, path, table);
    * CacheRegistry.releaseAll(). Its survivors equal the plain-layout
    * loop's, across a mid-loop compaction too (ApiSpec "bucketed
    * layout + compactEvery cadence"; INDEXSOAK_r12.log phase 5 ran
    * both loops in lockstep for 10 batches).
    */
  def dedupAgainstBucketedIndex(spark: org.apache.spark.sql.SparkSession,
                                path: String, table: String,
                                incoming: DataFrame,
                                threshold: Double = 0.5,
                                bucketCap: Int = LshBucketCap)
      : DataFrame = {
    val incSh = shingleify(incoming)
      .transform(graft.core.CacheRegistry.persist(_))
    incSh.count()
    val matched = probeBucketedWithSignatures(spark, path, table,
      incSh, threshold, bucketCap)
      .filter(col("matched")).select(col("new_id"))
    electSurvivors(incoming, incSh, matched, threshold)
  }

  /** [[matchesAgainst]] against a [[writeIndex]]-precomputed corpus:
    * identical output (same probe core, same keep rule, same
    * verify), but the per-batch cost is ONLY the incoming batch's
    * shingling plus the band join — the corpus-side scan work was
    * paid once at index-build time. Caching contract: only the
    * incoming batch's signatures are pinned (corpus tables stream
    * from parquet); the caller still releases per batch.
    */
  def matchesAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, incoming: DataFrame,
                          threshold: Double = 0.5,
                          bucketCap: Int = LshBucketCap): DataFrame = {
    val incSh = shingleify(incoming)
      .transform(graft.core.CacheRegistry.persist(_))
    incSh.count() // materialize before fan-out (2 plan branches)
    probeIndexWithSignatures(spark, indexPath, incSh, threshold,
      bucketCap)
  }

  /** The path-layout index probe over PREPARED batch signatures
    * (persisted + materialized by the caller) — shared by
    * [[matchesAgainstIndex]] and [[dedupAgainstIndex]] so the latter
    * shingles the batch exactly once for both the probe and the
    * within-batch election.
    */
  private def probeIndexWithSignatures(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      incSh: DataFrame, threshold: Double, bucketCap: Int)
      : DataFrame = {
    // fail fast with a named error if the path is not a writeIndex
    // layout — a wrong path would otherwise surface as an unresolved
    // column three joins deep
    val corpusSh0 = spark.read.parquet(s"$indexPath/signatures")
    graft.core.Checks.requireColumns(corpusSh0,
      "matches_against_index(signatures)", "doc_id", "sh", "bks")
    val cb00 = spark.read.parquet(s"$indexPath/bands")
    graft.core.Checks.requireColumns(cb00,
      "matches_against_index(bands)", "corpus_id", "nsh_c", "band",
      "bkey")
    // logical deletes first: a tombstoned doc may neither claim a
    // match nor occupy a keep-rule slot (see removeFromIndex)
    val tomb = tombstonesAt(spark, indexPath)
    val corpusSh = dropTombstoned(corpusSh0, "doc_id", tomb)
    val cb0 = dropTombstoned(cb00, "corpus_id", tomb)
    probe(corpusSh, cb0, incSh, threshold, bucketCap)
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
    val corpusSh = shingleify(corpus)
      .transform(graft.core.CacheRegistry.persist(_))
    val incSh = shingleify(incoming)
      .transform(graft.core.CacheRegistry.persist(_))
    corpusSh.count(); incSh.count()
    val cb0 = corpusSh.select(col("doc_id").as("corpus_id"),
      size(col("sh")).as("nsh_c"),
      posexplode(col("bks")).as(Seq("band", "bkey")))
    val matched = probe(corpusSh, cb0, incSh, threshold, bucketCap)
      .filter(col("matched")).select(col("new_id"))
    electSurvivors(incoming, incSh, matched, threshold)
  }
}

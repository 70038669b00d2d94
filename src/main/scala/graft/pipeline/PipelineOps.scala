package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Building blocks for the large-scale training-data pipeline
  * operators: tokenization, seeded 48-bit hashes, shingles, MinHash,
  * SimHash, cosine similarity — each with a DuckDB SQL twin generated
  * from the same constants (md5 is identical across engines, so seeded
  * hashes agree bit-for-bit).
  *
  * Scale shape: everything here is per-row expression work (no
  * shuffles); the dedup/similarity pipelines built on top shuffle only
  * on band keys / bucket ids — never all-pairs.
  */
object PipelineOps {

  // ---- tokenization ----

  def words(text: Column): Column = split(trim(text), "\\s+")
  def wordsSql(text: String): String =
    s"regexp_split_to_array(trim($text), '\\s+')"

  /** Seeded 48-bit hash from md5 (engine-portable). */
  def h64(e: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit("|"), e)), 1, 12),
      16, 10).cast("long")
  def h64Sql(e: String, seed: Int): String =
    s"CAST('0x' || substring(md5('$seed' || '|' || $e), 1, 12) AS BIGINT)"

  // ---- shingles ----

  /** Distinct word n-gram shingles (default 3). The word array is
    * let-bound so the tokenizing split runs once per row, not once per
    * element reference (inlining would make it quadratic).
    */
  def shingles(w: Column, n: Int = 3): Column =
    bind(w) { wb =>
      when(size(wb) >= n, array_distinct(
        transform(sequence(lit(1), size(wb) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(wb, i + lit(k))): _*))))
        .otherwise(array().cast("array<string>"))
    }

  def shinglesSql(w: String, n: Int = 3): String = {
    val parts = (0 until n).map(k => s"$w[CAST(i + $k AS INT)]")
      .mkString(" || ' ' || ")
    s"(CASE WHEN len($w) >= $n THEN list_distinct(" +
      s"list_transform(range(1, len($w) - ${n - 2}), i -> $parts)) " +
      "ELSE [] END)"
  }

  /** Hashed shingle set: ONE md5 per shingle; all downstream MinHash
    * functions derive from it arithmetically (16x fewer digests).
    */
  def hashedShingles(sh: Column): Column =
    array_distinct(transform(sh, s => h64(s, 0)))
  def hashedShinglesSql(sh: String): String =
    s"list_distinct(list_transform($sh, s -> ${h64Sql("s", 0)}))"

  // ---- MinHash + banded LSH (over hashed shingles) ----

  val MinHashFns = 16
  val LshBands = 8 // 2 rows per band

  /** Degenerate-bucket guard: a band bucket larger than this is
    * SUB-BUCKETED into [[LshRankBlock]] rank blocks before the
    * candidate self-join (round 8; round 7 skipped it whole).
    * Boilerplate-heavy corpora put thousands of near-identical docs
    * in one bucket, and the bucket self-join is quadratic in bucket
    * size; rank-blocking keeps the per-join-key population <= Cap
    * (so the worst key stays at Cap² pairs) while a hot bucket still
    * contributes its rank-adjacent candidates — recall additionally
    * survives via the other B-1 bands (exact duplicates belong to
    * exact dedup, p01). The asymmetric corpus probe
    * ([[NearDup.matchesAgainst]]) instead keeps a SIZE-STRATIFIED
    * subset of an over-cap bucket (<= Cap stride keeps plus the
    * endpoints of each power-of-two size window; it never
    * self-joins, so thinning the probed side preserves the fanout
    * bound while a hot batch still finds a size-similar match and a
    * size-isolated qualifier is always kept); only the 16-bit
    * SimHash fixture (p52) keeps the plain drop, documenting that
    * production signatures widen instead.
    */
  val LshBucketCap = 64

  /** Rank-block size for sub-bucketing over-cap BAND buckets
    * (NearDup.lshPairs): cap/2, the text twin of [[EmbRankBlock]].
    * Over-cap buckets order by shingle-set size (near-dup pairs at
    * threshold τ have size ratio >= τ — the prefilter's exact
    * necessary condition — so size-adjacent ranks are where
    * qualifying pairs live), chunk into blocks of this many, and
    * pair within a block and with the adjacent block.
    */
  val LshRankBlock: Int = LshBucketCap / 2

  /** Hot-shingle guard for the explode-join intersection counter: a
    * shingle hash appearing in more than this many documents of one
    * source is dropped before the pair join (the classic stop-shingle
    * rule). An ultra-common shingle — boilerplate, licence headers —
    * is a skewed join key producing df² pairs on one shuffle
    * partition; capping bounds the hottest key at Cap² while leaving
    * discriminative shingles (the ones that define similarity) intact.
    */
  val ShingleDfCap = 64

  /** Degenerate-bucket guards for the EMBEDDING-side bucket joins,
    * the cosine analog of [[LshBucketCap]]:
    *
    *  - `EmbClusterCap` backstops the SemDeDup pair join (p42) AFTER
    *    its exact-vector class collapse: a coarse cluster still
    *    holding more than this many DISTINCT representative vectors
    *    (mass near-identical but not identical content) is
    *    SUB-BUCKETED into projection-rank blocks of [[EmbRankBlock]]
    *    reps (pairing within a block and across adjacent blocks)
    *    instead of entering the pair join whole — identical mass
    *    already collapsed to one rep per class, the quadratic step
    *    stays <= (2·EmbRankBlock)² per block boundary at any corpus
    *    size, and the residual recall trade is "pairs more than one
    *    block apart in projection rank" rather than round 7's "the
    *    whole hot cluster escapes dedup" (index-health reporting,
    *    p75, still flags the hot bucket).
    *  - `EmbBucketCap` bounds the DIAGNOSTIC bucket self-joins (p65
    *    k-NN purity, p73 cross-modal agreement): each bucket
    *    contributes at most this many members, chosen by seeded-hash
    *    order (a deterministic uniform audit sample), so the pair
    *    volume is ≤ buckets·Cap² at any corpus size while the
    *    diagnostic statistics stay unbiased.
    *
    * Both are far above every bucket/cluster size the test scales
    * produce (dormant locally — the oracles mirror the guards, so
    * this is checked); the 10× hot-vector soak exercised them
    * (EMBSOAK_r08.log) and PipelineSpec fires them at cap 4.
    */
  val EmbClusterCap = 4096
  val EmbBucketCap = 4096

  /** Rank-block size for sub-bucketing over-cap embedding clusters
    * (p42): reps of an over-cap cluster order by [[rankProj]] (ties
    * by vec_id) and chunk into blocks of this many; candidates pair
    * within a block and with the adjacent block. cap/2, so the
    * largest per-join-key population (two adjacent blocks) is exactly
    * EmbClusterCap — the same worst-case quadratic bound the cap
    * already allowed for an in-cap cluster.
    */
  val EmbRankBlock: Int = EmbClusterCap / 2

  /** Deterministic projection direction for the over-cap rank
    * blocks: dot(v, s) with s_i = +1 when the Knuth multiplicative
    * hash of the index keeps its high bit clear, -1 otherwise. Why
    * rank blocks and not a second hyperplane SIGN quantization: the
    * over-cap pathology is a near-identical mass (EMBSOAK's planted
    * cluster spans ~1e-6 rad), and a data-INDEPENDENT plane splits a
    * mass of angular spread θ with probability ~θ/π — i.e. never —
    * so sign bits would re-produce one over-cap bucket and the skip.
    * Rank blocks are hyperplane quantization with data-ADAPTIVE
    * boundaries: ordering by the same projection, the mass splits by
    * COUNT regardless of its geometry. The sign pattern and the
    * left-to-right fold use exact integer arithmetic and the
    * fixed-order sum, so the DuckDB oracle reproduces the projection
    * bit for bit.
    */
  def rankProj(v: Column): Column = {
    // sign sequence sized from the vector itself (the hash is
    // index-keyed, so any prefix is the same signs): a hardcoded
    // width would make zip_with null-pad on any other embedding
    // width and silently NULL the projection for every row,
    // degrading rank-block ordering to vec_id order with no error.
    val signs = transform(sequence(lit(0), size(v) - lit(1)), i =>
      when((i.cast("long") * lit(2654435761L)) % lit(4294967296L) <
        lit(2147483648L), lit(1.0)).otherwise(lit(-1.0)))
    aggregate(zip_with(v, signs, (x, s) => x * s),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Rank-block probe table for a capped within-group pair join: the
    * reusable core of p42's over-cap sub-bucketing, parameterized so
    * a unit test can exercise the block topology at a tiny cap.
    *
    * Input: one row per element with a group column `cluster`, an
    * ordering column `proj` (ties broken by the id column `vec_id`),
    * and any payload columns. Output: the same rows plus `blk` (rank
    * block of size `block` within over-cap clusters; constant 0 for
    * in-cap clusters) and `jk` (probe key — over-cap rows appear
    * TWICE, at jk = blk and jk = blk+1, in-cap rows once at 0), such
    * that a self-join on (cluster, jk) with
    * `a.vec_id < b.vec_id && (blka != blkb || jk == blka)` yields
    * every same-block and adjacent-block pair exactly once, with at
    * most 2·block rows per join key.
    */
  def rankBlockProbes(reps: org.apache.spark.sql.DataFrame,
                      cap: Int, block: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = reps.columns.filterNot(c =>
      c == "cluster" || c == "vec_id" || c == "proj").toSeq
    val overCap = reps.groupBy("cluster")
      .agg(count(lit(1)).as("nreps"))
      .filter(col("nreps") > lit(cap))
      .select("cluster")
    val base = Seq(col("cluster"), col("vec_id")) ++ payload.map(col)
    val oc = reps.join(broadcast(overCap), Seq("cluster"))
      .withColumn("blk", floor(
        (row_number().over(Window.partitionBy("cluster")
          .orderBy("proj", "vec_id")) - 1) / lit(block)))
      .select(base ++ Seq(col("blk"),
        explode(array(col("blk"), col("blk") + 1)).as("jk")): _*)
    val ic = reps.join(broadcast(overCap), Seq("cluster"), "left_anti")
      .select(base ++ Seq(lit(0L).as("blk"), lit(0L).as("jk")): _*)
    oc.unionByName(ic)
  }

  /** Census-gated within-group pair probe over (cluster, vec_id, v,
    * nrm) rows — p12's live path, factored (round 10) so the SAME
    * code runs guarded (cap = [[EmbBucketCap]]) and as its own
    * unguarded oracle (cap = Int.MaxValue, census finds nothing,
    * plain self-join); PipelineSpec cross-checks the two. With no over-cap group (natural data) the
    * plan is the plain bucket self-join, unchanged from round 8;
    * otherwise over-cap groups sub-bucket through
    * [[rankBlockProbes]]. Returns one row per candidate pair with
    * (cluster, a, va, na_, b, vb, nb_) — cosine scoring stays with
    * the caller.
    */
  def bucketPairs(e: org.apache.spark.sql.DataFrame,
                  cap: Int, block: Int)
      : org.apache.spark.sql.DataFrame = {
    val oc = e.groupBy("cluster").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > lit(cap)).select("cluster")
    // both branches end on the same select so the output schema is
    // the documented (cluster, a, va, na_, b, vb, nb_) regardless of
    // which branch the census picks — a caller doing schema-dependent
    // work (select(*), unionByName across corpora) must not break the
    // first time a bucket exceeds the cap
    val shape = Seq(col("cluster"), col("a"), col("va"), col("na_"),
      col("b"), col("vb"), col("nb_"))
    if (oc.isEmpty) {
      val a = e.select(col("vec_id").as("a"), col("v").as("va"),
        col("cluster"), col("nrm").as("na_"))
      val b = e.select(col("vec_id").as("b"), col("v").as("vb"),
        col("cluster"), col("nrm").as("nb_"))
      a.join(b, Seq("cluster")).filter(col("a") < col("b"))
        .select(shape: _*)
    } else {
      val rpx = rankBlockProbes(
        e.select(col("cluster"), col("vec_id"), col("v"), col("nrm"),
          rankProj(transform(col("v"), x => x.cast("double")))
            .as("proj")),
        cap, block)
      val a = rpx.select(col("cluster"), col("jk"),
        col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na_"), col("blk").as("blka"))
      val b = rpx.select(col("cluster"), col("jk"),
        col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb_"), col("blk").as("blkb"))
      a.join(b, Seq("cluster", "jk"))
        .filter(col("a") < col("b") &&
          (col("blka") =!= col("blkb") || col("jk") === col("blka")))
        .select(shape: _*)
    }
  }

  /** Two-pass canonical election over per-cluster rep vectors — the
    * core of p42's semantic dedup, factored so a unit test can
    * exercise the chain collapse at a tiny cap.
    *
    * Input: one row per rep with `cluster`, `vec_id`, `v`
    * (double array) and `nrm` (its L2 norm). Output: one row per rep
    * with (vec_id, cluster, canonical).
    *
    * Pass 1 pairs reps within [[rankBlockProbes]] blocks (all-pairs
    * for in-cap clusters) and elects the one-hop min-id partner at
    * cosine >= minCos. That leaves over-cap clusters with ~1
    * canonical per rank block (EMBSOAK_r08: 18,870 members -> 158
    * canonicals where the true answer is ~the exact-class count),
    * because block k's canonical maps one hop to block k-1's min but
    * the mapping never composes. Pass 2 re-runs the SAME pairing over
    * just the canonicals of OVER-CAP clusters — they number
    * ~reps/block, so they fit one block (all-pairs -> the chain
    * collapses to the cluster min) or, in the extreme, rank-block
    * again for a further block-factor reduction. In-cap clusters are
    * untouched by pass 2: their pass-1 election was already all-pairs,
    * so their one-hop semantics are final and byte-identical to the
    * single-pass version.
    */
  def semanticCanonicals(reps: org.apache.spark.sql.DataFrame,
                         cap: Int, block: Int, minCos: Double)
      : org.apache.spark.sql.DataFrame = {
    def pairDups(in: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      // The pair join carries the vectors through the exchange. The
      // id-only alternative README's "vector-carrying pair joins"
      // section discusses (build the pair topology with NO payload
      // columns, then join v/nrm back by id for the cosine) was
      // measured (DESIGN.md round 10): NEUTRAL on natural sf0.1
      // (1.86 s vs 1.86 s median) and STRICTLY WORSE on the over-cap
      // soak fixture (4.86 s vs 6.13 s, +26%, slower in every paired
      // round) — the two re-attach joins cost more than carrying
      // vectors through the exchange, because Spark STREAMS the pair
      // rows (SMJ) instead of materializing them. The id-only rule
      // applies at PERSISTENCE boundaries, not inside streamed joins.
      val rpx = rankBlockProbes(
        in.select(col("cluster"), col("vec_id"), col("v"), col("nrm"),
          rankProj(col("v")).as("proj")), cap, block)
      val a = rpx.select(col("cluster"), col("jk"),
        col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na_"), col("blk").as("blka"))
      val b = rpx.select(col("cluster"), col("jk"),
        col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb_"), col("blk").as("blkb"))
      a.join(b, Seq("cluster", "jk"))
        .filter(col("a") < col("b") &&
          (col("blka") =!= col("blkb") || col("jk") === col("blka")))
        .withColumn("cos", aggregate(
          zip_with(col("va"), col("vb"), (x, y) => x * y),
          lit(0.0), (p, x) => p + x) / (col("na_") * col("nb_")))
        .filter(col("cos") >= lit(minCos))
        .groupBy(col("b").as("vec_id")).agg(min("a").as("dup"))
    }
    val rc1 = reps.select("cluster", "vec_id")
      .join(pairDups(reps), Seq("vec_id"), "left")
      .withColumn("canon1", coalesce(col("dup"), col("vec_id")))
      .drop("dup")
    val oc = reps.groupBy("cluster").agg(count(lit(1)).as("n"))
      .filter(col("n") > lit(cap)).select("cluster")
    // driver-side census (a scalar action, same class as the CC
    // convergence probe): pass 2 exists only for over-cap clusters,
    // so when none exists — the common, natural-data shape — return
    // the single-pass plan UNCHANGED. The alternative, an always-on
    // pass-2 subtree that is merely empty at runtime, chains several
    // tiny broadcast jobs (oc, pass-2 over-cap census, the c1
    // re-attach) onto every action and measured 4-12 s vs 1.2 s on
    // natural sf0.1 data. One cheap agg over the (caller-persisted)
    // rep table buys the clean plan back.
    if (oc.isEmpty)
      return rc1.select(col("vec_id"), col("cluster"),
        col("canon1").as("canonical"))
    // over-cap path: rc1 embeds the full pass-1 pair join and is
    // consumed twice below (the final mapping and pass 2's canonical
    // set), so the cosine work runs twice per action. Deliberately
    // NOT persisted: caching rc1 moves the skewed (cluster, jk) pair
    // join into an InMemoryRelation fill plan where AQE's skew-join
    // split no longer applies, and the over-cap cluster's block
    // products serialize onto single tasks — measured 80 s vs 9 s on
    // the 10× hot-vector soak. Twice-with-AQE beats once-without.
    val rc1c = rc1
    val c1 = rc1c.join(broadcast(oc), Seq("cluster"))
      .select("cluster", "canon1").distinct()
      .join(reps.select(col("vec_id").as("canon1"),
        col("v"), col("nrm")), Seq("canon1"))
      .select(col("cluster"), col("canon1").as("vec_id"),
        col("v"), col("nrm"))
    val d2 = pairDups(c1)
      .select(col("vec_id").as("canon1"), col("dup").as("dup2"))
    rc1c.join(d2, Seq("canon1"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup2"), col("canon1")).as("canonical"))
  }

  /** Span width (words) for exact span-level dedup (p30). */
  val SpanDedupWords = 8

  /** Per-source document cap for the domain-balancing selection
    * (p37): at most this many docs survive per source.
    */
  val SourceCap = 15

  /** Fixed stopword set for the Gopher-style quality rule (p31):
    * "contains at least 2 distinct stopwords" (Rae et al. 2021 §A1.1).
    */
  val GopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** i-th MinHash from the 48-bit base hashes:
    * min over ((2i+1)·h + i·99991) mod (2^31 − 1).
    *
    * The mod-Mersenne-prime reduction is what makes the 16 functions
    * INDEPENDENT: a plain affine map (2i+1)·h + c is order-preserving,
    * so every i would elect the SAME argmin element and the 16
    * "signatures" would collapse to 16 relabelings of one minhash —
    * band agreement becomes all-or-nothing and LSH recall drops to
    * single-hash levels (a tail-perturbed near-dup whose new shingle
    * hashes below the shared minimum misses on EVERY band). With the
    * mod, each multiplier wraps the key space differently and argmins
    * decorrelate. Products stay < 31·2^48 < 2^53 — exact and
    * overflow-free in the JVM, DuckDB BIGINT, and the fused kernel.
    */
  val MinHashP = 2147483647L // 2^31 - 1
  def minhash(hs: Column, i: Int): Column =
    array_min(transform(hs,
      h => (h * lit(2L * i + 1) + lit(i * 99991L)) % lit(MinHashP)))
  def minhashSql(hs: String, i: Int): String =
    s"list_min(list_transform($hs, h -> " +
      s"(h * ${2 * i + 1} + ${i * 99991}) % $MinHashP))"

  /** Let-binding: evaluate `e` ONCE and feed it to `f` as a lambda
    * variable. Defeats CollapseProject's alias inlining, which would
    * otherwise duplicate an expensive expression into every use site.
    */
  def bind(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Band keys over each band's two row signatures. The shingle-hash
    * expression is bound once per row (not inlined 16x).
    */
  def bandKeys(hs: Column): Column =
    bind(hs) { h =>
      array((0 until LshBands).map { b =>
        md5(concat_ws(",",
          minhash(h, 2 * b).cast("string"),
          minhash(h, 2 * b + 1).cast("string")))
      }: _*)
    }

  def bandKeysSql(hs: String): String =
    "[" + (0 until LshBands).map { b =>
      s"md5(CAST(${minhashSql(hs, 2 * b)} AS VARCHAR) || ',' || " +
        s"CAST(${minhashSql(hs, 2 * b + 1)} AS VARCHAR))"
    }.mkString(", ") + "]"

  /** Exact Jaccard over two distinct-element arrays: one intersect,
    * union size derived as |A|+|B|-|A∩B|.
    */
  def jaccard(a: Column, b: Column): Column =
    bind(size(array_intersect(a, b))) { i =>
      i.cast("double") / (size(a) + size(b) - i).cast("double")
    }
  def jaccardSql(a: String, b: String): String = {
    val i = s"len(list_intersect($a, $b))"
    s"(CAST($i AS DOUBLE) / CAST(len($a) + len($b) - $i AS DOUBLE))"
  }

  // ---- SimHash (16-bit) ----

  def simhash16(w: Column): Column =
    // let-bind the hashed-word array: inlining it into the 16 bit
    // filters would run the md5 transform 16x per row
    bind(transform(w, x => h64(x, 99))) { wh =>
      (0 until 16).map { k =>
        when(size(filter(wh,
          h => shiftright(h, k).bitwiseAND(lit(1L)) === 1L)) * 2
          > size(wh), lit(1 << k)).otherwise(lit(0))
      }.reduce(_ + _)
    }

  def simhash16Sql(w: String): String = {
    val wh = s"list_transform($w, x -> ${h64Sql("x", 99)})"
    "(" + (0 until 16).map { k =>
      s"(CASE WHEN len(list_filter($wh, h -> (h >> $k) & 1 = 1)) * 2 " +
        s"> len($wh) THEN ${1 << k} ELSE 0 END)"
    }.mkString(" + ") + ")"
  }

  // ---- cosine similarity ----

  /** Dot product — the native codegen kernel
    * ([[graft.functions.DotProductExpr]]), bit-identical to the HOF
    * form `aggregate(zip_with(a, b, (x, y) => x.cast(double) *
    * y.cast(double)), 0.0, _ + _)` it replaces (per-element double
    * cast, left-to-right accumulation) and to `dotSql`.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot(a, b)
  def norm(a: Column): Column = sqrt(dot(a, a))
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Round to 9 decimals and cast DECIMAL(18,9) — the exact,
    * order-independent accumulator both engines sum identically
    * before a mean/ratio is taken. SQL twin: [[d9Sql]].
    *
    * Portability caveat: this rounds a DOUBLE, so it is only
    * engine-exact for inputs whose shortest decimal representation
    * cannot land on a 9-decimal half-way point (Spark rounds the
    * shortest repr, DuckDB the binary value — the divergence class
    * DESIGN.md documents at scale 6). At 9 decimals a half-way
    * shortest repr requires >=10 significant trailing digits and has
    * not been observed at any tested sf; if an input family can
    * produce them, cast to a wider DECIMAL first and round the
    * DECIMAL instead.
    */
  def d9(c: Column): Column = round(c, 9).cast("decimal(18,9)")
  def d9Sql(c: String): String =
    s"CAST(round($c, 9) AS DECIMAL(18,9))"

  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> " +
      s"CAST($a[CAST(i AS INT)] AS DOUBLE) * " +
      s"CAST($b[CAST(i AS INT)] AS DOUBLE)), (x, y) -> x + y)"
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  // ---- random-hyperplane LSH (signed projections) ----

  /** Deterministic hyperplane components in [-1, 1]: Knuth MMIX LCG
    * from a fixed seed. Computed once in Scala and embedded as
    * LITERALS in both the Spark plan and the SQL twin, so the two
    * engines agree bit-for-bit without portable hashing tricks.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 33) % 2001) - 1000) / 1000.0
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** Bucket signature: bit p set iff the embedding's projection onto
    * plane p is non-negative. 2^nPlanes buckets.
    */
  def hyperplaneSig(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (pl, p) =>
      when(dot(v, array(pl.map(lit): _*)) >= 0, lit(1 << p))
        .otherwise(lit(0))
    }.reduce(_ + _)

  def hyperplaneSigSql(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (pl, p) =>
      val lst = pl.mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(v, lst)} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** IVF-lite bucket id: index (1-based) of the max-|x| component —
    * a deterministic, engine-portable coarse quantizer.
    */
  def argmaxBucket(a: Column): Column = {
    val absd = transform(a, x => abs(x))
    array_position(absd, array_max(absd)).cast("int")
  }
  def argmaxBucketSql(a: String): String = {
    val absd = s"list_transform($a, x -> abs(x))"
    s"CAST(list_position($absd, list_max($absd)) AS INT)"
  }

  /** The `n` strongest coarse buckets (1-based indices of the
    * largest-|x| components, strongest first, ties to the smaller
    * index) — the IVF multi-probe expansion of [[argmaxBucket]]:
    * element 0 is exactly argmaxBucket (same first-max tie rule), so
    * a 1-probe search through this is bit-identical to the
    * single-probe path. Expression-only (zip_with + comparator
    * array_sort + slice): no explode, no shuffle — per-row scan work
    * like the quantizer itself.
    */
  def topNBuckets(a: Column, n: Int): Column = {
    val absd = transform(a, x => abs(x))
    val paired = zip_with(absd, sequence(lit(1), size(a)),
      (v, i) => struct(v.as("v"), i.as("i")))
    val sorted = array_sort(paired, (l, r) =>
      when(l.getField("v") > r.getField("v"), lit(-1))
        .when(l.getField("v") < r.getField("v"), lit(1))
        .otherwise((l.getField("i") - r.getField("i")).cast("int")))
    slice(transform(sorted, s => s.getField("i").cast("int")), 1, n)
  }

  // ---- character entropy (p38) ----

  /** Fixed alphabet for the character-entropy score. Counting each
    * char as a length difference after translate() keeps the whole
    * metric expression-only scan work — no explode, no per-char
    * shuffle — and both engines implement translate identically.
    */
  val EntropyAlphabet: Seq[String] =
    ("abcdefghijklmnopqrstuvwxyz" + " ").map(_.toString)

  /** Shannon entropy (bits) of the in-alphabet character distribution
    * plus the in-alphabet char count, as a struct(n_alpha, entropy).
    * The count array and its total are let-bound so the 27 translate
    * passes run once per row; log2 ULP differences across engines are
    * absorbed by round(,9) (the same treatment as the tf-idf ln).
    */
  def charEntropy(t: Column): Column = {
    val counts = array(EntropyAlphabet.map(c =>
      (length(t) - length(translate(t, c, ""))).cast("double")): _*)
    bind(counts) { cs =>
      bind(aggregate(cs, lit(0.0), _ + _)) { tot =>
        struct(
          tot.cast("long").as("n_alpha"),
          round(lit(0.0) - aggregate(cs, lit(0.0), (acc, n) =>
            acc + when(n > 0, n / tot * log2(n / tot)).otherwise(lit(0.0))),
            9).as("entropy"))
      }
    }
  }

  /** DuckDB twin of [[charEntropy]]'s count list (same order, same
    * casts); the CTE arithmetic around it lives in the p38 oracle.
    */
  def entropyCountsSql(t: String): String =
    EntropyAlphabet.map { c =>
      val l = s"'$c'"
      s"CAST(length($t) - length(translate($t, $l, '')) AS DOUBLE)"
    }.mkString("[", ", ", "]")

  // ---- language ID / quality heuristics ----

  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "von"),
    "es" -> Seq("el", "los", "las", "de", "y", "en", "un", "que"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有"))

  def stopRatio(w: Column, lang: String): Column = {
    val list = Stopwords.toMap.apply(lang)
    size(filter(w, x => x.isin(list: _*))).cast("double") /
      size(w).cast("double")
  }
  def stopRatioSql(w: String, lang: String): String = {
    val list = Stopwords.toMap.apply(lang)
      .map(s => s"'$s'").mkString(", ")
    s"(CAST(len(list_filter($w, x -> x IN ($list))) AS DOUBLE) / " +
      s"CAST(len($w) AS DOUBLE))"
  }
}

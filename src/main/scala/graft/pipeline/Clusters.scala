package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Duplicate-cluster assembly: connected components over a near-dup
  * pair set, so every document maps to the canonical (minimum) id of
  * its duplicate group — the standard final step of corpus dedup after
  * MinHash-LSH pair generation.
  *
  * Algorithm: iterative min-label propagation with label-edge doubling
  * (hash-to-min). Each round a node adopts the smallest label among
  * its neighbors' labels and its current label's label; the label-edge
  * term doubles the propagation distance per round, so convergence is
  * O(log component diameter) rounds rather than O(diameter).
  *
  * Scale shape (100 TB posture):
  *  - ONLY nodes incident to at least one pair enter the loop — in a
  *    real corpus dedup the overwhelming majority of documents are
  *    isolated (no near-dup pair) and must not be shuffled once per
  *    round; they self-label through the final left join's null
  *    branch.
  *  - Each round is one shuffle join on the node id plus a partial
  *    (map-side combining) min-aggregation — no all-pairs step, no
  *    driver-side collection of nodes or edges.
  *  - Each round's label table is CHECKPOINTED, not cached: the
  *    round's plan collapses to an RDD leaf, so plan size and
  *    Catalyst analysis cost stay CONSTANT per round, and an
  *    iterative chain of cached plans never builds up in the cache
  *    manager (unpersisting an ancestor there invalidates every
  *    dependent cached round — an O(rounds^2) recompile storm this
  *    design structurally avoids). Superseded rounds' blocks are
  *    dropped by the context cleaner once unreferenced. Checkpoint
  *    KIND follows the session: when `setCheckpointDir` is
  *    configured the rounds checkpoint RELIABLY (HDFS/object store
  *    — an executor loss recovers from the last round, the right
  *    trade on a 1000-executor cluster), otherwise they
  *    localCheckpoint (executor-local blocks — fast, but lineage is
  *    truncated, so on a multi-executor cluster WITHOUT a
  *    checkpoint dir an executor loss fails the job; single-JVM
  *    local[*] runs have no such loss mode and keep the cheap
  *    path). NOTE: reliable checkpoint FILES of superseded rounds
  *    are only reclaimed by the context cleaner when
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  *    (Spark's default is false) — long-running services calling
  *    this repeatedly should set that conf, or point the checkpoint
  *    dir at storage with a TTL/lifecycle rule.
  *  - The single action per round both materializes the checkpoint
  *    and returns the convergence probe (labels are monotonically
  *    non-increasing, so an unchanged label sum means a fixpoint).
  *    Label sums accumulate in DECIMAL(38,0) so the probe cannot
  *    overflow at any realistic node-id range.
  */
object Clusters {

  /** Per-phase wall-clock of the LAST [[connectedComponents]] call in
    * this JVM, as a compact JSON fragment — consumed by
    * [[graft.Bench]] so the committed bench artifact itself carries
    * the loop's breakdown (pairs materialization, label init, each
    * round) on WHATEVER box ran it: r11/r12 showed p16 ~3x slower on
    * the driver than locally with no way to tell per-round latency
    * from environment without this.
    */
  @volatile private[graft] var lastStats: Option[String] = None

  /** Connected components of the undirected graph over `nodes`
    * (column `id`) induced by `pairs` (columns `a`, `b`). Returns
    * one row per node: (id, label) with label = minimum id
    * reachable. Nodes absent from every pair keep their own id as
    * label. Endpoints outside `nodes` are ignored COMPLETELY: the
    * symmetrized edge set is semi-joined against `nodes` on BOTH
    * sides, so a stray id never enters the label table — it cannot
    * become a returned label (neither via the b-side of the fused
    * seed's min(b) nor via relay), and (crucially) it cannot act
    * as a BRIDGE that merges two components that are only connected
    * through out-of-set ids. (Guarding just the label seed is not
    * enough: a seeded-then-relayed stray would conduct labels across
    * itself in two rounds.)
    *
    * `trustedEndpoints = true` skips the stray-endpoint semi-join
    * guard — for callers whose pairs are DERIVED from `nodes` by
    * construction (the LSH pipelines: pairs come from a self-join of
    * the very doc set passed as nodes), the guard can only be a
    * no-op, and skipping it saves one shuffle of the symmetrized
    * edge set per call. The default stays safe for external pair
    * sources.
    *
    * Non-convergence is never silent: label-edge doubling converges
    * in ceil(log2(diameter)) rounds, so the default maxIter = 25
    * covers any component of diameter <= 2^25 — but if `maxIter`
    * trips first this THROWS under `strict = true` (the default:
    * partial labels silently under-merge duplicate clusters, the
    * worst failure shape for a dedup pipeline) and logs a loud
    * warning and returns the partial labels under `strict = false`
    * (for diagnostic callers that want to inspect how far
    * propagation got).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
                          maxIter: Int = 25,
                          trustedEndpoints: Boolean = false,
                          strict: Boolean = true): DataFrame = {
    graft.core.Checks.requireColumns(nodes, "connected_components", "id")
    graft.core.Checks.requireColumns(pairs, "connected_components",
      "a", "b")
    val tA = System.nanoTime()
    def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    // the symmetrized edge view scans `pairs` twice (a->b and b->a):
    // persist the pair set so an expensive upstream pair generator
    // (LSH candidate join + verify) runs once, not twice. The count()
    // MATERIALIZES the cache before the union below ever scans it —
    // otherwise the union's two branches race through the uncached
    // plan in one job and the LSH chain executes twice.
    val p = pairs.select(col("a"), col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = p.count()
    val pairsSec = secsSince(tA)
    // size the LOOP's fan-out to the ACTIVE set, not the session
    // default: edge-incident nodes are a sliver of a real corpus
    // (most docs have no near-dup pair), so a loop partitioned at
    // corpus-scale parallelism pays rounds x stages x near-empty
    // tasks of pure scheduling overhead — the measured driver-side
    // amplification of r11/r12's p16. ~250k edge rows per task keeps
    // single-task rounds for test-scale graphs while a 100 TB pair
    // set still fans out to full cluster parallelism.
    val loopParts = math.max(1L, math.min(
      nodes.sparkSession.sparkContext.defaultParallelism.toLong,
      2L * nPairs / 250000L + 1L)).toInt
    // Stray-endpoint guard: semi-join the SYMMETRIZED edges against
    // `nodes` on BOTH sides. The a-side guard removes (stray, *)
    // rows — and it alone is load-bearing for label flow: labels
    // only ever enter the table via groupBy(a) over these edges
    // (plus node-seeded jumps), so a stray id can never be labeled,
    // and guarding only the label SEED would not suffice (round 1's
    // groupBy(a) would label the stray from its node neighbors and
    // round 2 would relay that label across it, silently merging
    // components connected only through out-of-set ids). The b-side
    // guard removes the (node, stray) rows: they are inert in every
    // ROUND's b-side label join (stray never labeled), but the r13
    // fused seed below takes min(b) straight over these edges, and
    // an unguarded b smaller than a node's in-set neighbors would
    // become a seed label that is not a label-table key — labels
    // could land on out-of-set ids and a component could converge
    // with no id==label member (r13 ADVICE, high). Dropping the
    // rows also stops shuffling them once per round.
    val edges0 = p
      .unionByName(p.select(col("b").as("a"), col("a").as("b")))
    val edges1 = (if (trustedEndpoints) edges0
      else edges0
        .join(nodes.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(nodes.select(col("id").as("b")), Seq("b"), "left_semi"))
    val edges = edges1.repartition(loopParts)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // only edge-incident nodes iterate (lazy localCheckpoint: the
    // first labelSum action below materializes the blocks); after
    // the guard every `a` is a real node, so the active set needs no
    // second filter.
    // reliable checkpoints when the session has a checkpoint dir
    // (cluster deployments), executor-local otherwise — see the
    // object scaladoc for the fault-tolerance trade. The reliable
    // path persists the round first and checkpoints EAGERLY: Spark
    // writes reliable checkpoints by re-running the RDD, so without
    // the short-lived cache every round's join+agg would compute
    // twice; with it, the write pass reads cached blocks. (The
    // local path stays lazy — there the probe below is the one
    // action that materializes.)
    val ckpt: DataFrame => DataFrame =
      if (nodes.sparkSession.sparkContext.getCheckpointDir.isDefined) {
        df =>
          val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
          val out = cached.checkpoint(true)
          cached.unpersist(false)
          out
      } else df => df.localCheckpoint(false)
    val tB = System.nanoTime()
    // r13 optimization (guide §2.4, one shuffle round removed): seed
    // each active node with least(id, min neighbor id) instead of the
    // identity label. This is EXACTLY the label table round 1 used to
    // produce from identity labels (round 1 computes min over
    // {neighbors' labels ∪ own label} = least(id, min neighbor id)),
    // computed here inside the same exchange the old distinct() paid —
    // a groupBy(a) with a min aggregate instead of a distinct — so the
    // loop starts one round ahead: a near-dup pair graph (diameter-2
    // components, the dominant real shape) now converges in ONE
    // confirming round instead of change+confirm. The loop invariants
    // are unchanged (labels are component ids, monotonically
    // non-increasing; hash-to-min from any such seeding converges to
    // the component min), so the returned labels are identical.
    var labels = ckpt(
      edges.groupBy(col("a").as("id")).agg(min(col("b")).as("mb"))
        .select(col("id"), least(col("id"), col("mb")).as("label")))
    def labelSum(df: org.apache.spark.sql.DataFrame)
        : java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty graph -> 0
    var prevSum = labelSum(labels)
    val initSec = secsSince(tB)

    var iter = 0
    var converged = false
    val roundSecs = scala.collection.mutable.ArrayBuffer[Double]()
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      // pointer-jumping edges: every node also "neighbors" its label.
      // Because every active node x contributes jump edge
      // (x, label(x)) and label(label(x)) <= label(x) <= x (labels
      // are ids within x's component and non-increasing), the min
      // below already covers x's own label — no second join with the
      // previous labels is needed to keep monotonicity or coverage.
      val jump = labels.select(col("id").as("a"), col("label").as("b"))
      val next = ckpt(edges.unionByName(jump)
        .join(labels.select(col("id").as("b"),
          col("label").as("blab")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min("blab").as("label")))
      // local path: ONE action per round — this agg materializes
      // the lazy localCheckpoint AND returns the convergence probe.
      // Reliable path: ckpt already ran the eager checkpoint job
      // (one computation, cache-backed write) and this probe is a
      // second, cheap action reading the checkpoint files.
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
      roundSecs += secsSince(t0)
    }
    def f3(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.US, v)
    lastStats = Some(
      s"""{"pairs":$nPairs,"loop_parts":$loopParts,""" +
        s""""pairs_sec":${f3(pairsSec)},"init_sec":${f3(initSec)},""" +
        s""""rounds":[${roundSecs.map(f3).mkString(",")}]}""")
    if (!converged) {
      // surfacing contract (see scaladoc): a tripped maxIter means the
      // labels are PARTIAL — some components still carry >1 label —
      // and a dedup built on them silently keeps extra duplicates
      val msg = s"connected_components did not converge within " +
        s"maxIter=$maxIter rounds (label-edge doubling covers diameter " +
        s"2^$maxIter; a trip means a pathologically deep component or " +
        s"maxIter set too low) — labels are partial and under-merged"
      if (strict) {
        p.unpersist(); edges.unpersist()
        throw new IllegalStateException(msg)
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // isolated nodes (the bulk of a deduped corpus) self-label via
    // the left join's null branch; restricting to `nodes` also keeps
    // stray pair endpoints outside the node set out of the output.
    // `labels` is an RDD leaf here, so releasing p/edges cannot
    // invalidate the result the caller is about to scan.
    //
    // The label table has at most 2*nPairs rows (edge-incident nodes
    // only) but sits behind an RDD leaf with UNKNOWN stats, so
    // without a hint Spark plans a shuffle join that exchanges the
    // ENTIRE corpus-sized node set to meet it — the one avoidable
    // full-corpus shuffle in the whole operator. Broadcast the label
    // side whenever the known pair count bounds it small enough
    // (~2M rows ≈ 32 MB of (id,label)); past that, the shuffle join
    // is the right plan and the hint stays off.
    val labelsOut = labels.withColumnRenamed("label", "alab")
    val labelSide =
      if (2L * nPairs <= 2000000L) broadcast(labelsOut) else labelsOut
    val out = nodes.select(col("id"))
      .join(labelSide, Seq("id"), "left")
      .select(col("id"), coalesce(col("alab"), col("id")).as("label"))
    p.unpersist()
    edges.unpersist()
    out
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SemDeDup-style semantic-dedup building blocks behind the p42
  * driver query, plus [[uncappedCanonicals]], a brute-force
  * no-cap/no-block oracle for [[PipelineOps.semanticCanonicals]]'
  * census-gated two-pass election — the Spark-internal second
  * computation of the over-cap live path that DuckDB cannot host
  * (the minimal over-cap fixture defeated it twice with >92 GB of
  * join spill; see DESIGN.md "p42 live-parity attempts"). PipelineSpec
  * checks the election against it where pass 2 fires; EMBSOAK_r10.log
  * records the same check on the 5x soak fixture.
  *
  * Scale shape: identical to p42's — assignment is a broadcast
  * cross-join against k centroid rows, the class collapse is one
  * window over (cluster, v), and only REPS (one per exact-vector
  * class) ever reach a pair join.
  */
object SemDeDup {

  /** p42's corpus doubling: each vector gains a +0.01-per-component
    * near-copy at vec_id + 1e6 (the planted near-dups the collapse
    * must find), then everything is cast to double for exact,
    * engine-portable arithmetic.
    */
  def doubled(base: DataFrame): DataFrame = {
    val near = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        x => (x + lit(0.01f)).cast("float")).as("embedding"))
    base.unionByName(near)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
  }

  /** Deterministic k-means-style assignment (seed centroids = the
    * first k vec_ids) plus the exact-vector class collapse: returns
    * (withRep, reps) where `withRep` is every member with its class
    * rep and `reps` is the min-id member of each (cluster, v) class
    * — the only rows that enter the pair election. Caching contract:
    * `assigned` (the upstream both outputs share) and `reps` are
    * [[graft.core.CacheRegistry]]-persisted, and `assigned` is
    * materialized here; `withRep` is NOT persisted — it is one
    * window on top of the pinned `assigned`, so consuming it from
    * several branches re-runs only that window (the census action
    * inside the election materializes `reps`). The caller owns the
    * release of the registry entries.
    */
  def memberReps(e: DataFrame, k: Int = 8): (DataFrame, DataFrame) = {
    val cent = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cluster"), col("v").as("c"))
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("dist", aggregate(
        zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, x) => a + x))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"))
      .join(e, Seq("vec_id"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .transform(graft.core.CacheRegistry.persist(_))
    assigned.count() // materialize before the class/pair branches
    val withRep = assigned.withColumn("rep",
      min(col("vec_id")).over(
        Window.partitionBy(col("cluster"), col("v"))))
    val reps = withRep.filter(col("vec_id") === col("rep"))
      .select("cluster", "vec_id", "v", "nrm")
      .transform(graft.core.CacheRegistry.persist(_))
    (withRep, reps)
  }

  /** Brute-force single-pass canonical election with NO cap and NO
    * rank blocks: every same-cluster rep pair is scored (quadratic —
    * a dev ORACLE, never a production path) and each rep elects its
    * min-id partner at cosine >= minCos. On a fixture whose over-cap
    * mass is MUTUALLY similar (every pair of mass members clears
    * minCos — the planted masses by construction), the two-pass
    * rank-block election is provably row-identical to this: in-cap
    * clusters run the same all-pairs election by construction, and
    * an over-cap mutual mass collapses to its min id under both (the
    * one-hop min of a complete similarity graph IS the global min;
    * pass 2's all-pairs over pass-1 canonicals composes the
    * per-block chains to exactly that). PipelineSpec asserts the
    * equality on seeded reps where pass 2 fires.
    */
  def uncappedCanonicals(reps: DataFrame, minCos: Double): DataFrame = {
    val a = reps.select(col("cluster"), col("vec_id").as("a"),
      col("v").as("va"), col("nrm").as("na_"))
    val b = reps.select(col("cluster"), col("vec_id").as("b"),
      col("v").as("vb"), col("nrm").as("nb_"))
    val dup = a.join(b, Seq("cluster"))
      .filter(col("a") < col("b"))
      .withColumn("cos", aggregate(
        zip_with(col("va"), col("vb"), (x, y) => x * y),
        lit(0.0), (p, x) => p + x) / (col("na_") * col("nb_")))
      .filter(col("cos") >= lit(minCos))
      .groupBy(col("b").as("vec_id")).agg(min("a").as("dup"))
    reps.select("cluster", "vec_id")
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dup"), col("vec_id")).as("canonical"))
  }
}

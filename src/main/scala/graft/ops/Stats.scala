package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Per-record payload statistics (fststat / compute_stats,
  * /root/reference/fstpy/dataframe_utils.py:147-182) and the voir
  * listing projection (:117-140).
  *
  * All stats are per-row, with no shuffle. fststat reads each payload
  * once, in the codegen'd kernel `graft_fststat` (min, max, the sum
  * and the sum of squares, both left folds in DOUBLE from 0.0, and the
  * extrema positions), so the result is deterministic and
  * oracle-reproducible. argmin/argmax positions are 1-based (i,j) on
  * the (ni,nj) field; first occurrence in Fortran storage order breaks
  * ties.
  */
object Stats {

  /** A1/M17 fststat: min/max/mean/std + (i,j) extrema positions, set in
    * one projection (an existing column of the same name is replaced).
    */
  def fststat(df: DataFrame): DataFrame = {
    graft.core.Checks.requireColumns(df, "fststat", "d", "ni", "nj")
    val st = GraftFunctions.fstStat(col("d"))
    val n = size(col("d")).cast("double")
    val mean = st("sum") / n
    val ni = col("ni").cast("long")
    def i(pos: Column) = (pmod(pos - 1, ni) + 1).cast("int")
    def j(pos: Column) = (floor((pos - 1) / ni) + 1).cast("int")
    Decode.setColumns(df, Seq(
      "min" -> st("min"),
      "max" -> st("max"),
      "mean" -> mean,
      "std" -> sqrt(greatest(lit(0.0), st("sumsq") / n - mean * mean)),
      "min_pos_i" -> i(st("min_pos")),
      "min_pos_j" -> j(st("min_pos")),
      "max_pos_i" -> i(st("max_pos")),
      "max_pos_j" -> j(st("max_pos"))))
  }

  /** DuckDB twins of the fststat columns as (expr, alias) pairs. */
  def fststatSql: Seq[(String, String)] = {
    val dd = "list_transform(d, x -> CAST(x AS DOUBLE))"
    val sum = s"list_reduce($dd, (a, x) -> a + x)"
    val sumSq = s"list_reduce(list_transform(d, x -> " +
      "CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, x) -> a + x)"
    val n = "CAST(len(d) AS DOUBLE)"
    val mean = s"($sum / $n)"
    val posMin = s"list_position(d, list_aggregate(d, 'min'))"
    val posMax = s"list_position(d, list_aggregate(d, 'max'))"
    Seq(
      "list_aggregate(d, 'min')" -> "min",
      "list_aggregate(d, 'max')" -> "max",
      mean -> "mean",
      s"sqrt(greatest(0.0, $sumSq / $n - $mean * $mean))" -> "std",
      s"CAST(($posMin - 1) % ni + 1 AS INT)" -> "min_pos_i",
      s"CAST(($posMin - 1) // ni + 1 AS INT)" -> "min_pos_j",
      s"CAST(($posMax - 1) % ni + 1 AS INT)" -> "max_pos_i",
      s"CAST(($posMax - 1) // ni + 1 AS INT)" -> "max_pos_j")
  }

  /** Catalog comparison (the fstcomp workflow shape): full-outer join
    * of two record catalogs on an identity key set + per-record payload
    * diff statistics. One keyed shuffle; the element math is per-row
    * higher-order functions in DOUBLE (left fold — deterministic and
    * oracle-reproducible), so payloads never cross an exchange twice.
    * Records present on one side only are reported with status
    * `only_a`/`only_b`; records whose payload LENGTHS differ (a
    * re-encoded field — a structural difference) get status
    * `shape_mismatch`. Element stats are computed only for matching
    * shapes (null otherwise).
    */
  def catalogDiff(a: DataFrame, b: DataFrame,
                  keys: Seq[String], eps: Double = 1e-9): DataFrame = {
    graft.core.Checks.requireColumns(a, "catalog_diff", keys :+ "d": _*)
    graft.core.Checks.requireColumns(b, "catalog_diff", keys :+ "d": _*)
    // presence markers: only_a/only_b must reflect JOIN-side absence,
    // not payload nullability (a matched record with a null payload is
    // present — it is a shape mismatch, not a missing record)
    val la = a.select((keys.map(col) :+ col("d").as("d_a")) :+
      lit(true).as("in_a"): _*)
    val lb = b.select((keys.map(col) :+ col("d").as("d_b")) :+
      lit(true).as("in_b"): _*)
    val diff = zip_with(col("d_a"), col("d_b"),
      (x, y) => abs(x.cast("double") - y.cast("double")))
    val signed = zip_with(col("d_a"), col("d_b"),
      (x, y) => x.cast("double") - y.cast("double"))
    val n = size(col("d_a")).cast("double")
    val both = col("in_a") && col("in_b")
    val same = both && col("d_a").isNotNull && col("d_b").isNotNull &&
      size(col("d_a")) === size(col("d_b"))
    la.join(lb, keys, "full_outer")
      .withColumn("in_a", coalesce(col("in_a"), lit(false)))
      .withColumn("in_b", coalesce(col("in_b"), lit(false)))
      .withColumn("status",
        when(same, "both").when(both, "shape_mismatch")
          .when(col("in_a"), "only_a")
          .otherwise("only_b"))
      .withColumn("n_elems",
        when(same, size(col("d_a"))).cast("int"))
      .withColumn("n_diff", when(same,
        size(filter(diff, x => x > lit(eps)))).cast("int"))
      .withColumn("max_abs_diff",
        when(same, round(array_max(diff), 6)))
      .withColumn("mean_abs_diff",
        when(same, round(aggregate(diff, lit(0.0), _ + _) / n, 6)))
      .withColumn("bias",
        when(same, round(aggregate(signed, lit(0.0), _ + _) / n, 6)))
      .drop("d_a", "d_b", "in_a", "in_b")
  }

  /** M19/O2 voir: decoded listing sorted by (nomvar asc, level desc). */
  def voir(df: DataFrame): DataFrame = {
    val decoded = Decode.addIpInfo(Decode.addDataTypeStr(df))
    decoded.select(
      col("nomvar"), col("typvar"), col("etiket"), col("ni"), col("nj"),
      col("nk"),
      IpColumns.stampToTimestamp(col("dateo")).as("dateo"),
      col("ip1"), col("level"), col("ip2"), col("ip3"), col("deet"),
      col("npas"), col("data_type_str").as("datyp"), col("nbits"),
      col("grtyp"), col("ig1"), col("ig2"), col("ig3"), col("ig4"))
      .orderBy(asc("nomvar"), desc("level"))
  }
}

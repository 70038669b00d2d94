package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Per-record payload statistics (fststat / compute_stats,
  * /root/reference/fstpy/dataframe_utils.py:147-182) and the voir
  * listing projection (:117-140).
  *
  * All stats are per-row, with no shuffle. The two sums run in the
  * codegen'd primitive kernels `graft_array_sum` and `graft_dot(d, d)`
  * (Spark's `aggregate` is `CodegenFallback`, which would box every
  * element through an interpreted lambda); both fold left in DOUBLE
  * from 0.0, so the result is deterministic and oracle-reproducible.
  * argmin/argmax positions are 1-based (i,j) on the (ni,nj) field;
  * first occurrence in Fortran storage order breaks ties.
  */
object Stats {

  /** A1/M17 fststat: min/max/mean/std + (i,j) extrema positions. */
  def fststat(df: DataFrame): DataFrame = {
    graft.core.Checks.requireColumns(df, "fststat", "d", "ni", "nj")
    val d = col("d")
    val n = size(d).cast("double")
    val mean = GraftFunctions.arraySum(d) / n
    val posMin = array_position(d, array_min(d))
    val posMax = array_position(d, array_max(d))
    df.withColumn("min", array_min(d))
      .withColumn("max", array_max(d))
      .withColumn("mean", mean)
      .withColumn("std", sqrt(greatest(lit(0.0),
        GraftFunctions.dot(d, d) / n - mean * mean)))
      .withColumn("min_pos_i",
        (pmod(posMin - 1, col("ni").cast("long")) + 1).cast("int"))
      .withColumn("min_pos_j",
        (floor((posMin - 1) / col("ni").cast("long")) + 1).cast("int"))
      .withColumn("max_pos_i",
        (pmod(posMax - 1, col("ni").cast("long")) + 1).cast("int"))
      .withColumn("max_pos_j",
        (floor((posMax - 1) / col("ni").cast("long")) + 1).cast("int"))
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

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Element-type and precision rules of the record catalog.
  *
  * C13 `get_field_dtype` (/root/reference/fstpy/std_io.py:633-644):
  * (datyp, nbits) -> payload element dtype name.
  *
  * C14 `FstPrecision.max` (/root/reference/fstpy/utils.py:206-218):
  * precision ranking over (datyp, nbits) pairs — componentwise max of
  * the datyp priority rank and nbits. Used when merging records of
  * mixed packing into one output precision.
  *
  * Both are pure literal lookups / when-chains, fully codegen'd; the
  * group-wise max is a partial aggregation (map-side combine) on
  * whatever keys the caller groups by.
  */
object Precision {

  /** datyp -> priority rank (utils.py:208). */
  val DatypPriority: Seq[(Int, Int)] = Seq(
    -1 -> -1, 0 -> 0, 1 -> 5, 2 -> 1, 4 -> 3, 5 -> 7, 6 -> 4, 7 -> 0,
    8 -> 9, 130 -> 2, 133 -> 8, 134 -> 6)

  def datypPriority(datyp: Column): Column =
    DatypPriority.foldLeft(lit(null).cast("int"): Column) {
      case (acc, (k, v)) => when(datyp === k, lit(v)).otherwise(acc)
    }

  def datypPrioritySql(c: String): String =
    "(CASE " + DatypPriority.map { case (k, v) =>
      s"WHEN $c = $k THEN $v"
    }.mkString(" ") + " END)"

  /** C14: per-group precision max = (max priority rank, max nbits). */
  def precisionMax(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      max(datypPriority(col("datyp"))).as("datyp_priority"),
      max(col("nbits")).as("max_nbits"))

  /** C13: (datyp, nbits) -> element dtype name
    * (get_field_dtype, /root/reference/fstpy/std_io.py:633-644).
    */
  def fieldDtype(datyp: Column, nbits: Column): Column = {
    val fl = datyp.isin(1, 5, 6, 133, 134)
    when(fl && nbits <= 32, "float32")
      .when(fl && nbits > 32, "float64")
      .when(datyp.isin(2, 130) && nbits > 1, "int32")
      .when(datyp.isin(2, 130) && nbits === 1, "uint32")
      .otherwise("float32")
  }

  def fieldDtypeSql(d: String, n: String): String =
    s"""(CASE
      WHEN $d IN (1, 5, 6, 133, 134) AND $n <= 32 THEN 'float32'
      WHEN $d IN (1, 5, 6, 133, 134) AND $n > 32 THEN 'float64'
      WHEN $d IN (2, 130) AND $n > 1 THEN 'int32'
      WHEN $d IN (2, 130) AND $n = 1 THEN 'uint32'
      ELSE 'float32' END)"""

  /** A4 `set_rewrite` (/root/reference/fstpy/std_writer.py:158-168):
    * the writer's rewrite flag stays true only when no two records
    * share the 6-column write identity.
    */
  val RewriteIdentity: Seq[String] =
    Seq("nomvar", "typvar", "etiket", "ip1", "ip2", "ip3")

  def setRewrite(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_records"),
      count_distinct(struct(RewriteIdentity.map(col): _*))
        .as("n_distinct"))
      .select(col("n_records"), col("n_distinct"),
        (col("n_records") === col("n_distinct")).as("rewrite"))

  def setRewriteSql(from: String): String =
    s"""SELECT n_records, n_distinct, n_records = n_distinct AS rewrite
      FROM (SELECT count(*) AS n_records,
        count(DISTINCT (${RewriteIdentity.mkString(", ")})) AS n_distinct
      FROM $from)"""
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.meta.Lookups

/** M1 unit_convert (/root/reference/fstpy/unit.py:193-313): per-record
  * affine payload conversion with temperature special cases
  * (/root/reference/fstpy/unit.py:15-190). Meta records pass through
  * untouched; converted records get `unit = toUnit` and
  * `unit_converted = true` (the typvar modifier flag semantics of
  * /root/reference/fstpy/std_enc.py:133-161).
  *
  * Element math runs in DOUBLE with a single float32 cast — identical
  * rounding to the reference's single-op numpy float32 arithmetic for
  * the affine forms used here, and bit-reproducible in the oracle.
  * [[unitConvert]] runs it in the codegen'd `graft_unit_convert`
  * kernel, one primitive loop per record (Spark's `transform` is
  * `CodegenFallback` and would box every element).
  */
object UnitConvert {

  /** DuckDB twin of the per-element conversion the engine runs in the
    * `graft_unit_convert` kernel ([[graft.functions.UnitKernel]]):
    * from `fu_name`/`fu_factor` (columns) to the fixed target.
    */
  def formulaSql(x: String, toName: String, toFactor: Double): String = {
    val v = s"CAST($x AS DOUBLE)"
    val temp = toName match {
      case "kelvin" =>
        s"CASE WHEN fu_name = 'celsius' THEN $v + 273.15 " +
          s"WHEN fu_name = 'fahrenheit' THEN ($v - 32) * 5 / 9 + 273.15 " +
          s"WHEN fu_name = 'rankine' THEN $v * fu_factor END"
      case "celsius" =>
        s"CASE WHEN fu_name = 'kelvin' THEN $v - 273.15 " +
          s"WHEN fu_name = 'fahrenheit' THEN ($v - 32) * 5 / 9 " +
          s"WHEN fu_name = 'rankine' THEN $v * fu_factor - 273.15 END"
      case "fahrenheit" =>
        s"CASE WHEN fu_name = 'kelvin' THEN ($v - 273.15) * 9 / 5 + 32 " +
          s"WHEN fu_name = 'celsius' THEN $v * 9 / 5 + 32 " +
          s"WHEN fu_name = 'rankine' " +
          s"THEN ($v * fu_factor - 273.15) * 9 / 5 + 32 END"
      case "rankine" =>
        s"CASE WHEN fu_name = 'kelvin' THEN $v / $toFactor " +
          s"WHEN fu_name = 'celsius' THEN ($v + 273.15) / $toFactor " +
          s"WHEN fu_name = 'fahrenheit' " +
          s"THEN (($v - 32) * 5 / 9 + 273.15) / $toFactor END"
      case _ => "NULL"
    }
    s"coalesce($temp, $v * (fu_factor / $toFactor))"
  }

  /** Units rows as a SQL VALUES list (fu_name, fu_expression,
    * fu_factor) for the oracle join.
    */
  def unitsValuesSql: String = Lookups.Units.map { case (n, _, e, _, f) =>
    s"('$n', '$e', $f)"
  }.mkString(", ")

  /** Units rows with bias (name, expression, bias, factor), doubles
    * forced so the oracle arithmetic runs in DOUBLE like the engine's.
    */
  def unitsFullValuesSql: String = Lookups.Units.map {
    case (n, _, e, b, f) =>
      s"('$n', '$e', CAST($b AS DOUBLE), CAST($f AS DOUBLE))"
  }.mkString(", ")

  /** Convert all convertible records to `toUnit`. Records whose unit is
    * the target, 'scalar', or a different SI family pass through
    * unchanged (strict mode raises on family mismatch in the reference;
    * pass-through matches `standard_unit` mode and keeps the operator
    * total).
    */
  def unitConvert(df: DataFrame, toUnit: String): DataFrame = {
    graft.core.Checks.requireColumns(df, "unit_convert", "nomvar", "d")
    val (toName, _, toExpr, _, toFactor) =
      Lookups.Units.find(_._1 == toUnit).getOrElse(
        throw new IllegalArgumentException(s"unknown unit $toUnit"))
    val g = if (df.columns.contains("unit")) df
            else Decode.addUnitAndDescription(df)

    val units = broadcast(Lookups.unitsDf(g.sparkSession).select(
      col("unit_name").as("fu_name"),
      col("unit_expression").as("fu_expr"),
      col("unit_factor").as("fu_factor")))

    // one pass over the input: meta records are never convertible
    val convertible = !col("nomvar").isin(VCoord.VcMeta: _*) &&
      col("fu_name").isNotNull &&
      col("unit") =!= toUnit && col("unit") =!= "scalar" &&
      lit(toUnit) =!= "scalar" && col("fu_expr") === toExpr
    g.join(units, col("unit") === col("fu_name"), "left")
      .withColumn("d",
        when(convertible, GraftFunctions.unitConvert(col("d"),
          col("fu_name"), col("fu_factor"), toName, toFactor))
          .otherwise(col("d")))
      .withColumn("unit_converted", convertible)
      .withColumn("unit",
        when(convertible, lit(toUnit)).otherwise(col("unit")))
      .drop("fu_name", "fu_expr", "fu_factor")
  }

  /** `standard_unit=True` mode (/root/reference/fstpy/unit.py:258-313):
    * each record converts back to ITS OWN dictionary unit (STDVAR
    * lookup by nomvar), so a previously-converted catalog returns to
    * standard-file units. The per-row target makes the generic affine
    * form the natural formula: every unit in the table is
    * `base = (v + bias) * factor`, so
    * `out = ((v + from_bias) * from_factor) / to_factor - to_bias`
    * covers temperatures and linear families uniformly.
    */
  def unitConvertStandard(df: DataFrame): DataFrame = {
    graft.core.Checks.requireColumns(df, "unit_convert_standard",
      "nomvar", "d")
    val g = if (df.columns.contains("unit")) df
            else Decode.addUnitAndDescription(df)

    def u(prefix: String) = broadcast(
      Lookups.unitsDf(g.sparkSession).select(
        col("unit_name").as(s"${prefix}_name"),
        col("unit_expression").as(s"${prefix}_expr"),
        col("unit_bias").as(s"${prefix}_bias"),
        col("unit_factor").as(s"${prefix}_factor")))
    val std = broadcast(Lookups.stdvarDf(g.sparkSession).select(
      col("nomvar").as("sv_nomvar"), col("unit").as("sv_unit")))

    val joined = g
      .join(u("fu"), col("unit") === col("fu_name"), "left")
      .join(std, col("nomvar") === col("sv_nomvar"), "left")
      .join(u("tu"), col("sv_unit") === col("tu_name"), "left")
    // one pass over the input: meta records are never convertible
    val convertible = !col("nomvar").isin(VCoord.VcMeta: _*) &&
      col("fu_name").isNotNull &&
      col("tu_name").isNotNull && col("unit") =!= col("tu_name") &&
      col("unit") =!= "scalar" && col("tu_name") =!= "scalar" &&
      col("fu_expr") === col("tu_expr")
    joined
      .withColumn("d",
        when(convertible, transform(col("d"), x =>
          (((x.cast("double") + col("fu_bias")) * col("fu_factor"))
            / col("tu_factor") - col("tu_bias")).cast("float")))
          .otherwise(col("d")))
      .withColumn("unit_converted", convertible)
      .withColumn("unit",
        when(convertible, col("tu_name")).otherwise(col("unit")))
      .drop("fu_name", "fu_expr", "fu_bias", "fu_factor",
        "sv_nomvar", "sv_unit",
        "tu_name", "tu_expr", "tu_bias", "tu_factor")
  }
}

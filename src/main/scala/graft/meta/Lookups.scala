package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bundled lookup dimension tables, used as broadcast joins.
  *
  * The full dimension-table data ships as bundled CSV resources
  * (src/main/resources/graft) mirroring the reference's public
  * CMC dictionary CSVs (/root/reference/fstpy/csv/stdvar.csv 928
  * rows, units.csv 158, leveltype.csv, thermo_constants.csv; loaded
  * at /root/reference/fstpy/__init__.py:137-304). Unknown nomvars
  * still fall back to ('scalar', '') exactly like the reference
  * (/root/reference/fstpy/std_dec.py:159-167).
  */
object Lookups {

  /** Parse a bundled headered CSV (the dictionary files contain no
    * quoting or embedded separators — verified column-count-clean).
    */
  private def resourceCsv(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing bundled resource graft/$name")
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      src.getLines().drop(1).filter(_.nonEmpty)
        .map(_.split(",", -1)).toList
    } finally in.close()
  }

  /** nomvar -> (unit, English description) — full 928-row dictionary
    * (columns nomvar, description_fr, description_en, unit; the
    * English description keeps the file's verbatim spacing).
    */
  val StdVar: Seq[(String, String, String)] =
    resourceCsv("stdvar.csv").map(f => (f(0), f(3), f(2)))

  private val unitsRows = resourceCsv("units.csv")

  /** unit name -> (symbol, SI family expression, bias, factor) — full
    * 158-row table. The trailing SI-dimension exponent columns ride
    * in [[UnitsDims]] (both views parse the resource once).
    */
  val Units: Seq[(String, String, String, Double, Double)] =
    unitsRows.map(f => (f(0), f(1), f(2), f(3).toDouble, f(4).toDouble))

  /** unit name -> the 7 SI dimension exponents (mass, length, time,
    * electric current, temperature, amount of substance, luminous
    * intensity) — the units.csv tail columns.
    */
  val UnitsDims: Map[String, Seq[Int]] =
    unitsRows.map(f => f(0) -> (5 until 12).map(i => f(i).toInt)).toMap

  /** Level-type rows: (label, kind, follow_topography, surface-rule
    * string — "np.nan", a float, or "lo@hi").
    */
  val LevelTypes: Seq[(String, Int, Boolean, String)] =
    resourceCsv("leveltype.csv").map(f =>
      (f(0), f(1).toInt, f(2) == "1", f(3)))

  /** Thermodynamic constants; names keep the file's literal quoting
    * (the reference indexes them verbatim, __init__.py:330-331).
    */
  val ThermoConstants: Seq[(String, Double)] =
    resourceCsv("thermo_constants.csv").map(f => (f(0), f(1).toDouble))

  /** get_constant_by_name (__init__.py:330-331): None when absent. */
  def getConstantByName(name: String): Option[Double] =
    ThermoConstants.find(_._1 == name).map(_._2)

  /** FB stations (STATIONSFB, __init__.py:161-180): (intl id, alpha
    * id, region code, name — file-verbatim incl quoting, lat, lon).
    */
  val StationsFb: Seq[(Int, String, String, String, Double, Double)] =
    resourceCsv("stationsfb.csv").map(f =>
      (f(0).toInt, f(1), f(2), f(3), f(4).toDouble, f(5).toDouble))

  /** get_unit_by_name (__init__.py:317-323): falls back to scalar. */
  def getUnitByName(name: String)
      : (String, String, String, Double, Double) =
    Units.find(_._1 == name)
      .orElse(Units.find(_._1 == "scalar"))
      .getOrElse(("scalar", "", "", 0.0, 1.0))

  /** Vertical-coordinate detection rules:
    * (ip1_kind, toctoc, P0, E1, PT, HY, SF, vcode) -> vctype.
    */
  val VcTypes: Seq[(Int, Boolean, Boolean, Boolean, Boolean, Boolean,
      Boolean, Int, String)] = Seq(
    (5, true, true, false, false, false, false, 5002, "HYBRID_5002"),
    (5, true, true, false, false, false, false, 5003, "HYBRID_5003"),
    (5, true, true, false, false, false, false, 5004, "HYBRID_5004"),
    (5, true, true, false, false, false, false, 5001, "HYBRID_5001"),
    (5, false, true, false, false, false, false, -1, "HYBRID_5001"),
    (5, false, true, false, false, true, false, -1, "HYBRID_5001"),
    (5, true, true, false, false, false, true, -1, "OLD_HYBRID_STAGGERED"),
    (5, true, true, false, false, false, false, 5005, "HYBRID_5005"),
    (2, true, true, false, false, false, false, 5005, "HYBRID_5005"),
    (2, true, false, false, false, false, false, 5005, "HYBRID_5005"),
    (5, true, false, false, false, false, false, 5005, "HYBRID_5005"),
    (4, true, false, false, false, false, false, 5005, "HYBRID_5005"),
    (4, true, true, false, false, false, false, 5005, "HYBRID_5005"),
    (4, false, false, false, false, false, false, -1, "METER_GROUND_LEVEL"),
    (2, true, true, false, false, false, false, 2001, "PRESSURE_2001"),
    (2, false, false, false, false, false, false, -1, "PRESSURE_2001"),
    (1, true, true, false, false, false, false, 1002, "ETA_1002"),
    (1, true, true, false, true, false, false, 1002, "ETA_1002"),
    (1, false, true, false, true, false, false, -1, "ETA_1002"),
    (1, false, true, false, true, true, false, -1, "ETA_1002"),
    (1, true, true, false, false, false, false, 1001, "SIGMA_1001"),
    (1, false, true, false, false, false, false, -1, "SIGMA_1001"),
    (1, false, true, true, true, false, false, -1, "ETA_SEF"),
    (1, false, true, false, false, true, false, -1, "HYBRID_NORMALIZED_1003"),
    (7, false, false, false, false, false, false, -1, "PRESSURE_2001"),
    (0, false, false, false, false, false, false, -1, "METER_SEA_LEVEL"))

  /** Vcode families used by metadata_cleanup's `!!` filtering
    * (/root/reference/fstpy/dataframe_utils.py:265-289).
    */
  val HybridVcodes: Seq[Int] =
    Seq(1003, 5001, 5002, 5003, 5004, 5005, 5100, 5999, 21001, 21002)
  val SigmaVcodes: Seq[Int] = Seq(1001, 1002)
  val PressureVcodes: Seq[Int] = Seq(2001)

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  def stdvarDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("nomvar", StringType, false),
      StructField("unit", StringType, false),
      StructField("description", StringType, false)))
    spark.createDataFrame(
      StdVar.map { case (n, u, d) => Row(n, u, d) }.asJava, schema)
  }

  def unitsDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("unit_name", StringType, false),
      StructField("unit_symbol", StringType, false),
      StructField("unit_expression", StringType, false),
      StructField("unit_bias", DoubleType, false),
      StructField("unit_factor", DoubleType, false)))
    spark.createDataFrame(
      Units.map { case (n, s, e, b, f) => Row(n, s, e, b, f) }.asJava, schema)
  }

  def vctypesDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("ip1_kind", IntegerType, false),
      StructField("toctoc", BooleanType, false),
      StructField("P0", BooleanType, false),
      StructField("E1", BooleanType, false),
      StructField("PT", BooleanType, false),
      StructField("HY", BooleanType, false),
      StructField("SF", BooleanType, false),
      StructField("vcode", IntegerType, false),
      StructField("vctype", StringType, false)))
    spark.createDataFrame(
      VcTypes.map(t => Row(t._1, t._2, t._3, t._4, t._5, t._6, t._7,
        t._8, t._9)).asJava, schema)
  }

  def levelTypesDf(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("level_label", StringType, false),
      StructField("kind", IntegerType, false),
      StructField("lt_follow_topography", BooleanType, false),
      StructField("lt_surface", StringType, false)))
    spark.createDataFrame(
      LevelTypes.map { case (l, k, f, s) => Row(l, k, f, s) }.asJava,
      schema)
  }
}

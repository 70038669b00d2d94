package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.meta.Lookups

/** The decode as it was built before it became one projection: a chain
  * of `withColumn`s, one per decoded column. Kept as the oracle of
  * [[Decode.decodeMetadata]] and the `add_*` transformers.
  */
object ChainedDecode {

  import graft.core.Constants._
  import Decode.FlagChars

  def addGrid(df: DataFrame): DataFrame =
    df.withColumn("grid",
      when(col("nomvar").isin(GridFromIpNomvars: _*),
        concat(col("ip1").cast("string"), col("ip2").cast("string")))
        .when(col("nomvar") === "HY", lit("None"))
        .otherwise(
          concat(col("ig1").cast("string"), col("ig2").cast("string"))))

  def addFlags(df: DataFrame): DataFrame = {
    val t2 = when(length(col("typvar")) === 2, substring(col("typvar"), 2, 1))
      .otherwise(lit(""))
    FlagChars.foldLeft(df) { case (acc, (name, ch)) =>
      acc.withColumn(name, t2 === ch)
    }
  }

  def addParsedEtiket(df: DataFrame): DataFrame = {
    val e = col("etiket")
    val run = "[RGPEAIMWNC_][0-9RLHMEA_]"
    val w = "[A-Za-z0-9_]"
    val impl = "[NPX]"
    val cmcNo = s"^$run$w{5}$impl$$"
    val cmcEns = s"^$run$w{5}$impl$w{3}$$"
    val spNo = s"^$run$w{6}$impl$$"
    val spEns = s"^$run$w{6}$impl$w{3}$$"
    df.withColumn("label",
        when(e.rlike(cmcNo) || e.rlike(cmcEns), substring(e, 3, 5))
          .when(e.rlike(spNo) || e.rlike(spEns), substring(e, 3, 6))
          .otherwise(e))
      .withColumn("run",
        when(e.rlike(cmcNo) || e.rlike(cmcEns) || e.rlike(spNo) ||
          e.rlike(spEns), substring(e, 1, 2)).otherwise(lit("")))
      .withColumn("implementation",
        when(e.rlike(cmcNo) || e.rlike(cmcEns), substring(e, 8, 1))
          .when(e.rlike(spNo) || e.rlike(spEns), substring(e, 9, 1))
          .otherwise(lit("")))
      .withColumn("ensemble_member",
        when(e.rlike(cmcEns), substring(e, 9, 3))
          .when(e.rlike(spEns), substring(e, 10, 3))
          .otherwise(lit("")))
  }

  def addUnitAndDescription(df: DataFrame): DataFrame = {
    val dims = broadcast(Lookups.stdvarDf(df.sparkSession)
      .withColumnRenamed("unit", "u_unit")
      .withColumnRenamed("description", "u_desc"))
    df.join(dims, df("nomvar") === dims("nomvar"), "left")
      .drop(dims("nomvar"))
      .withColumn("unit", coalesce(col("u_unit"), lit("scalar")))
      .withColumn("description", coalesce(col("u_desc"), lit("")))
      .drop("u_unit", "u_desc")
  }

  def addDecodedDates(df: DataFrame): DataFrame =
    df.withColumn("date_of_observation",
        IpColumns.stampToTimestamp(col("dateo")))
      .withColumn("date_of_validity",
        IpColumns.stampToTimestamp(col("datev")))

  def addForecastHour(df: DataFrame): DataFrame =
    df.withColumn("forecast_hour",
      (col("deet").cast("long") * col("npas").cast("long")))

  def addDataTypeStr(df: DataFrame): DataFrame = {
    val m = DatypDict.foldLeft(lit(""): Column) { case (acc, (k, v)) =>
      when(col("datyp") === k, lit(v)).otherwise(acc)
    }
    df.withColumn("data_type_str", m)
  }

  def addIpInfo(df: DataFrame): DataFrame = {
    val rawIp = col("nomvar").isin(RawIpNomvars: _*)
    val noInterval = col("nomvar").isin(NoIntervalNomvars: _*)

    val v1 = when(rawIp, col("ip1").cast("float"))
      .otherwise(IpColumns.decodeValue(col("ip1")))
    val k1 = when(rawIp, lit(100))
      .otherwise(IpColumns.decodeKind(col("ip1")))
    val v2 = when(rawIp, col("ip2").cast("float"))
      .otherwise(IpColumns.decodeValue(col("ip2")))
    val k2 = when(rawIp, lit(100))
      .when(col("ip2") >= 32768, IpColumns.decodeKind(col("ip2")))
      .otherwise(lit(10))
    val v3 = when(rawIp, col("ip3").cast("float"))
      .otherwise(IpColumns.decodeValue(col("ip3")))
    val k3 = when(rawIp, lit(100))
      .when(col("ip3") >= 32768, IpColumns.decodeKind(col("ip3")))
      .otherwise(lit(100))

    // interval recognition (time interval swaps into ip2, height into ip1)
    val timeInterval = !noInterval && col("ip3") >= 32768 && (k3 === k2)
    val heightInterval = !noInterval && col("ip3") >= 32768 &&
      !(k3 === k2) && (k3 === k1)

    df.withColumn("level", v1)
      .withColumn("ip1_kind", k1)
      .withColumn("ip1_pkind", IpColumns.kindToString(k1))
      .withColumn("ip2_dec", when(timeInterval, v3).otherwise(v2))
      .withColumn("ip2_kind", k2)
      .withColumn("ip2_pkind", IpColumns.kindToString(k2))
      .withColumn("ip3_dec", v3)
      .withColumn("ip3_kind", k3)
      .withColumn("ip3_pkind", IpColumns.kindToString(k3))
      .withColumn("surface", IpColumns.isSurface(k1, v1))
      .withColumn("follow_topography", IpColumns.followsTopography(k1))
      .withColumn("ascending", IpColumns.ascending(k1))
      .withColumn("interval_low",
        when(timeInterval, v3).when(heightInterval, v1).otherwise(lit(null)))
      .withColumn("interval_high",
        when(timeInterval, v2).when(heightInterval, v3).otherwise(lit(null)))
      .withColumn("interval_kind",
        when(timeInterval, k2).when(heightInterval, k1).otherwise(lit(null)))
  }

  def decodeMetadata(df: DataFrame): DataFrame = {
    val steps: Seq[DataFrame => DataFrame] = Seq(
      addGrid, addFlags, addParsedEtiket, addUnitAndDescription,
      addDecodedDates, addForecastHour, addDataTypeStr, addIpInfo)
    steps.foldLeft(df)((d, f) => f(d))
  }
}

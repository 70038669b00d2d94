package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.meta.Lookups

/** The `add_*` decode-transformer family: each is a
  * `DataFrame => DataFrame` widening the record catalog with decoded
  * metadata columns, composed by [[decodeMetadata]]
  * (reference: /root/reference/fstpy/dataframe.py:20-629).
  *
  * All transformers are Column expressions (whole-stage codegen, no
  * UDFs; the ip decode is the native `graft_decode_ip_*` pair) and
  * recompute unconditionally — Catalyst prunes unused columns, so
  * recomputation is free when a column is dropped later. Each one is a
  * list of named columns set in one projection, so
  * [[decodeMetadata]] is one `select` after the unit join: a chain of
  * `withColumn`s re-analyzes the growing plan at every step.
  */
object Decode {

  import graft.core.Constants._

  private[ops] type Named = Seq[(String, Column)]

  /** `from` projected to `df`'s columns with `cols` set, in one
    * `select`, as a chain of `withColumn`s over `df` sets them: a name
    * `df` already has (by the session's resolver) is replaced in
    * place, a new one is appended in order. `from` is `df` or a join
    * of it.
    */
  private def setColumns(df: DataFrame, cols: Named,
                         from: DataFrame): DataFrame = {
    val same = df.sparkSession.sessionState.conf.resolver
    val kept = df.columns.toSeq.map(c => cols.find(x => same(c, x._1))
      .fold(df.col("`" + c.replace("`", "``") + "`"))(x => x._2.as(x._1)))
    val added = cols.filterNot(x => df.columns.exists(same(_, x._1)))
      .map(x => x._2.as(x._1))
    from.select(kept ++ added: _*)
  }

  private[ops] def setColumns(df: DataFrame, cols: Named): DataFrame =
    setColumns(df, cols, df)

  /** P1 add_grid_column (/root/reference/fstpy/dataframe.py:20-46):
    * coordinate records key their grid by (ip1,ip2); HY is grid-less;
    * data records key by (ig1,ig2).
    */
  def addGrid(df: DataFrame): DataFrame = setColumns(df, gridCols)

  private def gridCols: Named = Seq("grid" ->
    when(col("nomvar").isin(GridFromIpNomvars: _*),
      concat(col("ip1").cast("string"), col("ip2").cast("string")))
      .when(col("nomvar") === "HY", lit("None"))
      .otherwise(
        concat(col("ig1").cast("string"), col("ig2").cast("string"))))

  def gridSql: String =
    "CASE WHEN nomvar IN ('^>', '>>', '^^', '!!', '!!SF') THEN " +
      "CAST(ip1 AS VARCHAR) || CAST(ip2 AS VARCHAR) " +
      "WHEN nomvar = 'HY' THEN 'None' " +
      "ELSE CAST(ig1 AS VARCHAR) || CAST(ig2 AS VARCHAR) END"

  /** P3 typvar modifier flags
    * (/root/reference/fstpy/dataframe.py:104-141).
    */
  val FlagChars: Seq[(String, String)] = Seq(
    "multiple_modifications" -> "M", "zapped" -> "Z", "filtered" -> "F",
    "interpolated" -> "I", "unit_converted" -> "U", "bounded" -> "B",
    "missing_data" -> "?", "ensemble_extra_info" -> "!")

  def addFlags(df: DataFrame): DataFrame = setColumns(df, flagCols)

  private def flagCols: Named = {
    val t2 = when(length(col("typvar")) === 2, substring(col("typvar"), 2, 1))
      .otherwise(lit(""))
    FlagChars.map { case (name, ch) => name -> (t2 === ch) }
  }

  def flagSql(name: String): String = {
    val ch = FlagChars.toMap.apply(name)
    val esc = if (ch == "'") "''" else ch
    s"(CASE WHEN length(typvar) = 2 THEN substring(typvar, 2, 1) ELSE '' END) = '$esc'"
  }

  /** P4 etiket parse (/root/reference/fstpy/std_dec.py:268-323).
    * Absent pieces are empty strings (the reference uses None; we keep
    * the columns non-null strings for clean relational behavior).
    */
  def addParsedEtiket(df: DataFrame): DataFrame =
    setColumns(df, etiketCols)

  private def etiketCols: Named = {
    val e = col("etiket")
    val run = "[RGPEAIMWNC_][0-9RLHMEA_]"
    val w = "[A-Za-z0-9_]"
    val impl = "[NPX]"
    val cmcNo = s"^$run$w{5}$impl$$"
    val cmcEns = s"^$run$w{5}$impl$w{3}$$"
    val spNo = s"^$run$w{6}$impl$$"
    val spEns = s"^$run$w{6}$impl$w{3}$$"
    Seq(
      "label" ->
        when(e.rlike(cmcNo) || e.rlike(cmcEns), substring(e, 3, 5))
          .when(e.rlike(spNo) || e.rlike(spEns), substring(e, 3, 6))
          .otherwise(e),
      "run" ->
        when(e.rlike(cmcNo) || e.rlike(cmcEns) || e.rlike(spNo) ||
          e.rlike(spEns), substring(e, 1, 2)).otherwise(lit("")),
      "implementation" ->
        when(e.rlike(cmcNo) || e.rlike(cmcEns), substring(e, 8, 1))
          .when(e.rlike(spNo) || e.rlike(spEns), substring(e, 9, 1))
          .otherwise(lit("")),
      "ensemble_member" ->
        when(e.rlike(cmcEns), substring(e, 9, 3))
          .when(e.rlike(spEns), substring(e, 10, 3))
          .otherwise(lit("")))
  }

  /** DuckDB twin of [[addParsedEtiket]] as (expr, alias) pairs. */
  def etiketSql: Seq[(String, String)] = {
    val run = "[RGPEAIMWNC_][0-9RLHMEA_]"
    val w = "[A-Za-z0-9_]"
    val cmcNo = s"^$run$w{5}[NPX]$$"
    val cmcEns = s"^$run$w{5}[NPX]$w{3}$$"
    val spNo = s"^$run$w{6}[NPX]$$"
    val spEns = s"^$run$w{6}[NPX]$w{3}$$"
    def m(p: String) = s"regexp_matches(etiket, '$p')"
    Seq(
      (s"CASE WHEN ${m(cmcNo)} OR ${m(cmcEns)} THEN substring(etiket, 3, 5) " +
        s"WHEN ${m(spNo)} OR ${m(spEns)} THEN substring(etiket, 3, 6) " +
        "ELSE etiket END") -> "label",
      (s"CASE WHEN ${m(cmcNo)} OR ${m(cmcEns)} OR ${m(spNo)} OR ${m(spEns)} " +
        "THEN substring(etiket, 1, 2) ELSE '' END") -> "run",
      (s"CASE WHEN ${m(cmcNo)} OR ${m(cmcEns)} THEN substring(etiket, 8, 1) " +
        s"WHEN ${m(spNo)} OR ${m(spEns)} THEN substring(etiket, 9, 1) " +
        "ELSE '' END") -> "implementation",
      (s"CASE WHEN ${m(cmcEns)} THEN substring(etiket, 9, 3) " +
        s"WHEN ${m(spEns)} THEN substring(etiket, 10, 3) " +
        "ELSE '' END") -> "ensemble_member")
  }

  /** P5 unit/description broadcast lookup with ('scalar','') default
    * (/root/reference/fstpy/dataframe.py:358-388).
    */
  def addUnitAndDescription(df: DataFrame): DataFrame = {
    val (joined, cols) = unitJoin(df)
    setColumns(df, cols, joined)
  }

  /** `df` left-joined to the broadcast unit table, and the unit and
    * description columns over that join.
    */
  private def unitJoin(df: DataFrame): (DataFrame, Named) = {
    // renamed apart, so the decoded columns' `col(...)`s resolve over
    // the join
    val dims = broadcast(Lookups.stdvarDf(df.sparkSession)
      .withColumnRenamed("nomvar", "u_nomvar")
      .withColumnRenamed("unit", "u_unit")
      .withColumnRenamed("description", "u_desc"))
    (df.join(dims, df("nomvar") === dims("u_nomvar"), "left"), Seq(
      "unit" -> coalesce(dims("u_unit"), lit("scalar")),
      "description" -> coalesce(dims("u_desc"), lit(""))))
  }

  /** P6 decoded dates (/root/reference/fstpy/dataframe.py:390-436). */
  def addDecodedDates(df: DataFrame): DataFrame = setColumns(df, dateCols)

  private def dateCols: Named = Seq(
    "date_of_observation" -> IpColumns.stampToTimestamp(col("dateo")),
    "date_of_validity" -> IpColumns.stampToTimestamp(col("datev")))

  /** P7 forecast_hour = deet*npas seconds
    * (/root/reference/fstpy/std_dec.py:89-103). Stored as whole
    * seconds (long) rather than an interval type for clean parquet
    * round-trips and oracle comparison.
    */
  def addForecastHour(df: DataFrame): DataFrame =
    setColumns(df, forecastCols)

  private def forecastCols: Named = Seq("forecast_hour" ->
    (col("deet").cast("long") * col("npas").cast("long")))

  /** P8 datyp -> letter (/root/reference/fstpy/dataframe.py:471-496). */
  def addDataTypeStr(df: DataFrame): DataFrame = setColumns(df, datypCols)

  private def datypCols: Named = Seq("data_type_str" ->
    DatypDict.foldLeft(lit(""): Column) { case (acc, (k, v)) =>
      when(col("datyp") === k, lit(v)).otherwise(acc)
    })

  def datypStrSql: String =
    "(CASE " + DatypDict.toSeq.sortBy(_._1).map { case (k, v) =>
      s"WHEN datyp = $k THEN '$v' "
    }.mkString + "ELSE '' END)"

  /** P9 ip decode columns (/root/reference/fstpy/dataframe.py:500-578
    * + decode_ip123 /root/reference/fstpy/std_io.py:814-872):
    * level/ip1_kind/ip1_pkind, ip2_dec/kind/pkind, ip3_dec/kind/pkind,
    * surface, follow_topography, ascending, and interval bounds. The
    * decode_ip123 special cases live here and nowhere else:
    *  - coordinate records (>>,^^,^>,!!): raw values, kind 100;
    *  - ip2 < 32768 is old-style forecast hours -> kind forced to 10;
    *  - ip3 < 32768 -> kind forced to 100 (arbitrary user code);
    *  - an encoded ip3 whose kind matches ip2's is a time interval
    *    (ip3 swaps into ip2_dec); else one matching ip1's is a height
    *    interval.
    */
  def addIpInfo(df: DataFrame): DataFrame = setColumns(df, ipCols)

  /** Only `level` and `ip1_kind` of [[addIpInfo]], for operators that
    * need no other ip column (the cube assembly).
    */
  private[ops] def addLevelAndKind(df: DataFrame): DataFrame =
    setColumns(df, Seq("level" -> level, "ip1_kind" -> ip1Kind))

  private def rawIp: Column = col("nomvar").isin(RawIpNomvars: _*)

  private def level: Column = when(rawIp, col("ip1").cast("float"))
    .otherwise(IpColumns.decodeValue(col("ip1")))

  private def ip1Kind: Column = when(rawIp, lit(100))
    .otherwise(IpColumns.decodeKind(col("ip1")))

  private def ipCols: Named = {
    val noInterval = col("nomvar").isin(NoIntervalNomvars: _*)

    val v1 = level
    val k1 = ip1Kind
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

    Seq(
      "level" -> v1,
      "ip1_kind" -> k1,
      "ip1_pkind" -> IpColumns.kindToString(k1),
      "ip2_dec" -> when(timeInterval, v3).otherwise(v2),
      "ip2_kind" -> k2,
      "ip2_pkind" -> IpColumns.kindToString(k2),
      "ip3_dec" -> v3,
      "ip3_kind" -> k3,
      "ip3_pkind" -> IpColumns.kindToString(k3),
      "surface" -> IpColumns.isSurface(k1, v1),
      "follow_topography" -> IpColumns.followsTopography(k1),
      "ascending" -> IpColumns.ascending(k1),
      "interval_low" ->
        when(timeInterval, v3).when(heightInterval, v1).otherwise(lit(null)),
      "interval_high" ->
        when(timeInterval, v2).when(heightInterval, v3).otherwise(lit(null)),
      "interval_kind" ->
        when(timeInterval, k2).when(heightInterval, k1).otherwise(lit(null)))
  }

  /** P10 add_timezone_column
    * (/root/reference/fstpy/dataframe.py:174-205).
    */
  def addTimezone(df: DataFrame, srcCol: String, tz: String): DataFrame =
    df.withColumn(s"${srcCol}_${tz.toLowerCase.replace('/', '_')}",
      from_utc_timestamp(col(srcCol), tz))

  /** P11 shape (/root/reference/fstpy/dataframe.py:291-313). */
  def addShape(df: DataFrame): DataFrame =
    df.withColumn("shape", struct(col("ni"), col("nj")))

  /** P12 add_columns orchestrator
    * (/root/reference/fstpy/dataframe.py:582-629): the columns of
    * addGrid, addFlags, addParsedEtiket, addUnitAndDescription,
    * addDecodedDates, addForecastHour, addDataTypeStr and addIpInfo,
    * in that order, set in one projection over the unit join.
    */
  def decodeMetadata(df: DataFrame): DataFrame = {
    val (joined, unitCols) = unitJoin(df)
    setColumns(df, gridCols ++ flagCols ++ etiketCols ++ unitCols ++
      dateCols ++ forecastCols ++ datypCols ++ ipCols, joined)
  }
}

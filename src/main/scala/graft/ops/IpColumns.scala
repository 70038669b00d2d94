package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.{Constants, IpCodec, RmnDate}
import graft.functions.GraftFunctions

/** Column forms of the ip and date codecs, each with a DuckDB `*Sql`
  * twin for the oracle. The ip decode is the codegen'd native
  * expression over [[IpCodec]] (`graft_decode_ip_value` /
  * `graft_decode_ip_kind`); the `*Sql` twins restate its arithmetic
  * independently, so the gate compares two implementations. Everything
  * else here is a plain Column formula (no UDF) built from the same
  * constants as its twin. Decode semantics:
  * /root/reference/fstpy/std_io.py:814-872.
  */
object IpColumns {

  private def p10Sql(idxExpr: String): String =
    s"list_extract([${IpCodec.Pow10Literals.mkString(", ")}], $idxExpr)"

  // ---- single-ip decode ----

  /** Decoded value of an int ip column (native [[IpCodec.decodeValue]]). */
  def decodeValue(ip: Column): Column = GraftFunctions.decodeIpValue(ip)

  /** Kind of an int ip column (native [[IpCodec.decodeKind]]). */
  def decodeKind(ip: Column): Column = GraftFunctions.decodeIpKind(ip)

  def decodeValueSql(ip: String): String = {
    val mant = s"($ip & 1048575)"
    val exp = s"(($ip >> 20) & 15)"
    val raw = s"(CASE WHEN $mant > 1000000 THEN -($mant - 1000000) ELSE $mant END)"
    val newStyle = s"(CAST($raw AS DOUBLE) * ${p10Sql(s"16 - $exp")})"
    val oldStyle =
      s"(CASE WHEN $ip BETWEEN 2000 AND 3000 THEN CAST($ip - 2000 AS DOUBLE) / 1000 " +
      s"WHEN $ip <= 12000 THEN CAST($ip AS DOUBLE) " +
      s"WHEN $ip <= 32000 THEN 5.0 * ($ip - 12001) - 20000.0 " +
      s"ELSE CAST($ip AS DOUBLE) END)"
    s"CAST(CASE WHEN $ip < 0 THEN CAST($ip AS DOUBLE) " +
      s"WHEN $ip <= 32767 THEN $oldStyle ELSE $newStyle END AS FLOAT)"
  }

  def decodeKindSql(ip: String): String =
    s"(CASE WHEN $ip < 0 THEN -1 WHEN $ip <= 32767 THEN " +
      s"(CASE WHEN $ip BETWEEN 2000 AND 3000 THEN 1 " +
      s"WHEN $ip <= 12000 THEN 2 WHEN $ip <= 32000 THEN 0 ELSE 3 END) " +
      s"ELSE (($ip >> 24) & 31) END)"

  // ---- kind -> printable suffix (KIND_DICT) ----

  def kindToString(kind: Column): Column =
    Constants.KindDict.foldLeft(lit(""): Column) { case (acc, (k, s)) =>
      when(kind === k, lit(s)).otherwise(acc)
    }

  def kindToStringSql(kind: String): String =
    "(CASE " + Constants.KindDict.map { case (k, s) =>
      s"WHEN $kind = $k THEN '$s' "
    }.mkString + "ELSE '' END)"

  // ---- RMN date stamp -> timestamp ----

  import RmnDate.{EpochSeconds, StampOffset}

  /** Stamps that decode to null (/root/reference/fstpy/std_dec.py:183-184). */
  private val DummyStamps = Seq(0, 10101011)

  def stampToTimestamp(stamp: Column): Column = {
    val s = stamp.cast("long") - lit(StampOffset)
    val sDiv10 = ((s - pmod(s, lit(10))) / lit(10)).cast("long")
    val t = sDiv10 * lit(8) + pmod(s, lit(10))
    val secs = lit(EpochSeconds) + t * lit(5)
    when(stamp.isin(DummyStamps: _*) || stamp < StampOffset, lit(null))
      .otherwise(timestamp_seconds(secs))
  }

  def stampToTimestampSql(stamp: String): String = {
    val s = s"(CAST($stamp AS BIGINT) - $StampOffset)"
    val t = s"(($s // 10) * 8 + ($s % 10))"
    s"(CASE WHEN $stamp IN (${DummyStamps.mkString(", ")}) OR " +
      s"$stamp < $StampOffset THEN NULL " +
      s"ELSE make_timestamp(($EpochSeconds + $t * 5) * 1000000) END)"
  }

  // ---- surface / topography / ascending rules ----

  def isSurface(kind: Column, level: Column): Column = {
    val meterLevel = level >= 0f && level <= 10f &&
      (level * 2f === floor(level * 2f))
    (kind === 5 && level === 1f) ||
      (kind === 4 && meterLevel) ||
      (kind === 1 && level === 1f)
  }

  def isSurfaceSql(kind: String, level: String): String =
    s"((($kind = 5 OR $kind = 1) AND $level = 1) OR ($kind = 4 AND " +
      s"$level >= 0 AND $level <= 10 AND $level * 2 = floor($level * 2)))"

  def followsTopography(kind: Column): Column = kind.isin(1, 4, 5)
  def followsTopographySql(kind: String): String = s"($kind IN (1, 4, 5))"

  def ascending(kind: Column): Column = kind.isin(0, 3, 4, 21, 100)
  def ascendingSql(kind: String): String = s"($kind IN (0, 3, 4, 21, 100))"
}

package graft.core

/** ip1/ip2/ip3 "convip" codec: the one JVM implementation, run by the
  * codegen'd `graft_encode_ip` / `graft_decode_ip_value` /
  * `graft_decode_ip_kind` expressions ([[graft.functions.EncodeIpExpr]])
  * and by the fixture generators. Its DuckDB twins
  * (`IpColumns.decodeValueSql` / `decodeKindSql`) are the gate's oracle.
  *
  * The reference delegates to librmn's `convertIp`
  * (/root/reference/fstpy/std_io.py:841-851,
  * /root/reference/fstpy/std_enc.py:68-79); this is a reimplementation
  * of the publicly documented encoding:
  *
  * New style (ip > 32767): `ip = kind<<24 | exp<<20 | mantissa` with
  * `value = mantissa * 10^(4-exp)`, mantissa normalized to
  * [100000, 1000000) and exp clamped to [0, 15]. Verified against the
  * well-known encodings 500 mb (kind 2) -> 41394464 and hybrid 1.0
  * (kind 5) -> 93423264. Negative values are stored with a 4-digit
  * mantissa offset by 1000000 (decode: mantissa > 1000000 means
  * negative) — an approximation of librmn's negative handling, kept
  * self-consistent under encode∘decode.
  *
  * Old style (0 <= ip <= 32767), per the historical CONVIP table:
  * pressure in mb for [0,12000] except the sigma carve-out
  * [2000,3000] (sigma = (ip-2000)/1000), and height
  * `5*(ip-12001) - 20000` metres for (12000, 32000].
  *
  * The per-ip special cases of decode_ip123 (coordinate records, ip2
  * hours, ip3 user codes, intervals) live in `Decode.addIpInfo`.
  */
object IpCodec {

  /** 10^-11 .. 10^4 as parsed literals, so 10^(4-exp) is
    * `Pow10Literals(15 - exp)`. The JVM decode and the DuckDB twin
    * read the same parsed doubles (no libm pow() 1-ulp divergence
    * between engines).
    */
  val Pow10Literals: IndexedSeq[String] = (-11 to 4).map(e => s"1e$e")
  private val Pow10: Array[Double] = Pow10Literals.map(_.toDouble).toArray

  /** Decoded value of one ip. */
  def decodeValue(ip: Int): Float =
    if (ip < 0) ip.toFloat
    else if (ip <= 32767) {
      if (ip >= 2000 && ip <= 3000) ((ip - 2000) / 1000.0).toFloat
      else if (ip <= 12000) ip.toFloat
      else if (ip <= 32000) (5.0 * (ip - 12001) - 20000.0).toFloat
      else ip.toFloat
    } else {
      val mantissa = ip & 0xFFFFF
      val signed = if (mantissa > 1000000) -(mantissa - 1000000) else mantissa
      (signed * Pow10(15 - ((ip >> 20) & 15))).toFloat
    }

  /** Kind of one ip (-1 for a negative ip). */
  def decodeKind(ip: Int): Int =
    if (ip < 0) -1
    else if (ip <= 32767) {
      if (ip >= 2000 && ip <= 3000) 1
      else if (ip <= 12000) 2
      else if (ip <= 32000) 0
      else 3
    } else (ip >> 24) & 31

  /** Encode (value, kind) -> new-style ip. Returns -1 on overflow. */
  def encode(value: Float, kind: Int): Int = {
    val neg = value < 0
    var temp: Double = math.abs(value.toDouble)
    if (temp < 1e-17) temp = 0.0
    val (lo, hi) = if (neg) (1000.0, 10000.0) else (100000.0, 1000000.0)
    var iexp = 4
    while ((temp >= hi || temp < lo) &&
           (if (temp >= hi) iexp > 0 else iexp < 15)) {
      if (temp >= hi) { temp /= 10.0; iexp -= 1 }
      else { temp *= 10.0; iexp += 1 }
    }
    if (temp >= hi && iexp == 0) return -1 // overflow
    var mantissa = math.round(temp)
    if (mantissa == hi.toLong && iexp > 0) { mantissa = lo.toLong; iexp -= 1 }
    val field = if (neg) 1000000L + mantissa else mantissa
    (((kind & 31) << 24) | (iexp << 20) | field.toInt)
  }
}

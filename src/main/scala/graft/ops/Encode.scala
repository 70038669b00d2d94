package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.core.{Constants, IpCodec}

/** Encode layer (C4-C11): inverses of the decode transformers
  * (/root/reference/fstpy/std_enc.py), and the only implementation of
  * each encode.
  *
  * The ip encoder needs a normalization loop, so it is a compact Scala
  * native expression over [[IpCodec.encode]]
  * ([[graft.functions.EncodeIpExpr]]); everything else is plain
  * Columns. `CodecSpec` / `CodecPropertySpec` pin these against the
  * decode transformers (build∘parse identities and goldens), and the
  * gate checks re-encode round-trips against the original columns.
  */
object Encode {

  /** C4/C5: (value, kind) -> new-style ip, as the native codegen'd
    * [[graft.functions.EncodeIpExpr]] expression.
    */
  def encodeIp(value: Column, kind: Column): Column =
    graft.functions.GraftFunctions.encodeIp(value, kind)

  /** C5 ip_from_value_and_kind (/root/reference/fstpy/utils.py:79-108):
    * the printable kind letter, inverted through [[Constants.KindDict]],
    * picks the kind; an unknown letter gives kind -1.
    */
  def ipFromValueAndKind(value: Column, pkind: Column): Column = {
    val p = trim(pkind)
    encodeIp(value, Constants.KindDict.foldLeft(lit(-1)) {
      case (acc, (k, l)) => when(p === l, lit(k)).otherwise(acc)
    })
  }

  /** C6: timestamp -> CMC stamp (inverse of stampToTimestamp). */
  def stampFromTimestamp(ts: Column): Column = {
    val secs = ts.cast("long") - lit(RmnEpoch)
    val t = ((secs - pmod(secs, lit(5L))) / lit(5)).cast("long")
    (((t - pmod(t, lit(8L))) / lit(8)).cast("long") * lit(10) +
      pmod(t, lit(8L)) + lit(123200000L)).cast("long")
  }

  private val RmnEpoch = 315532800L

  /** C7: npas back from forecast seconds and deet. */
  def npasFromForecast(forecastSeconds: Column, deet: Column): Column =
    when(deet =!= 0, (forecastSeconds / deet).cast("int")).otherwise(lit(0))

  /** C8: rebuild etiket from parsed pieces (empty pieces drop out). */
  def etiketFromParts(label: Column, run: Column, implementation: Column,
                      ensembleMember: Column): Column = {
    // std_enc.py:25-31: label kept unconditionally (even a literal
    // 'None'); run/implementation/ensemble dropped when 'None'
    val nz = (c: Column) => {
      val v = coalesce(c, lit(""))
      when(v === "None", lit("")).otherwise(v)
    }
    concat(nz(run), coalesce(label, lit("")),
      nz(implementation), nz(ensembleMember))
  }

  /** C9: modifier flags -> second typvar char; >1 modification = M
    * (/root/reference/fstpy/std_enc.py:133-161).
    */
  def typvar2FromFlags(zapped: Column, filtered: Column,
                       interpolated: Column, unitConverted: Column,
                       bounded: Column, ensembleExtraInfo: Column,
                       multipleModifications: Column): Column = {
    val flags = Seq(zapped -> "Z", filtered -> "F", interpolated -> "I",
      unitConverted -> "U", bounded -> "B", ensembleExtraInfo -> "!",
      multipleModifications -> "M")
    val n = flags.map { case (f, _) => when(f, 1).otherwise(0) }
      .reduce(_ + _)
    val single = flags.foldLeft(lit(""): Column) { case (acc, (f, c)) =>
      when(f, lit(c)).otherwise(acc)
    }
    when(n > 1, lit("M")).otherwise(single)
  }

  /** C10: data-type letter -> datyp int. */
  def datypFromStr(s: Column): Column =
    Constants.DatypInverse.foldLeft(lit(-1).cast(IntegerType): Column) {
      case (acc, (letter, code)) => when(s === letter, lit(code))
        .otherwise(acc)
    }

  /** C11: plain-hour (ip2, ip3) -> encoded time-interval pair
    * (high = ip2 hours, low = ip3 hours; coordinate/descriptor records
    * pass through, /root/reference/fstpy/std_enc.py:163-175). librmn's
    * EncodeIp treats rp2=(ip2, ip3) as a time range and stores the two
    * endpoints directly — ip2' = enc(ip2), ip3' = enc(ip3); the rp3
    * argument is ignored for range rp2.
    */
  def encodeTimeInterval(nomvar: Column, ip2: Column, ip3: Column)
      : (Column, Column) = {
    val skip = nomvar.isin(">>", "^^", "^>", "!!", "P0", "PT")
    (when(skip, ip2).otherwise(encodeIp(ip2.cast("float"), lit(10))),
     when(skip, ip3).otherwise(encodeIp(ip3.cast("float"), lit(10))))
  }
}

package graft.ops

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IpCodec

/** Golden values for the precision/dtype rules and the C5 printable
  * kind encode (/root/reference/fstpy/utils.py:79-108, 206-218).
  */
class PrecisionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession(2)

  override def afterAll(): Unit = spark.stop()

  test("datyp priority ranking matches the reference table") {
    val m = Precision.DatypPriority.toMap
    assert(m(5) == 7)    // IEEE float outranks
    assert(m(1) == 5)
    assert(m(134) == 6)
    assert(m(8) == 9)    // complex is highest
    assert(m(2) == 1)
  }

  test("precision max is componentwise: rank and nbits independently") {
    // (datyp 1 @ 64 bits) vs (datyp 5 @ 32 bits):
    // max rank = rank(5) = 7, max nbits = 64
    val m = Precision.DatypPriority.toMap
    assert(math.max(m(1), m(5)) == 7)
    assert(math.max(64, 32) == 64)
  }

  test("ip_from_value_and_kind letter map") {
    val enc = (v: Float, p: String) => Encode.ipFromValueAndKind(lit(v), lit(p))
    val r = spark.range(1).select(enc(500f, "mb"), enc(1.0f, " hy "),
      enc(12f, "H"), enc(0.85f, "sg")).head()
    assert(r == Row(IpCodec.encode(500f, 2), IpCodec.encode(1.0f, 5),
      IpCodec.encode(12f, 10), IpCodec.encode(0.85f, 1)), r)
  }
}

package graft.core

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.ops.{Decode, Encode, IpColumns, Precision}
import graft.sources.CsvRecords

/** Golden-value tests pinned by the reference docstrings
  * (/root/reference/fstpy/std_dec.py) and well-known public FST
  * encodings. Every golden runs the codec the catalog runs: the Column
  * transformers of `Decode` / `Encode` / `IpColumns`, the native ip
  * expressions, and `CsvRecords.parsePayload`.
  */
class CodecSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession(2)

  override def afterAll(): Unit = spark.stop()

  /** One row of `cols` over a one-row frame. */
  private def eval(cols: Column*): Row =
    spark.range(1).select(cols: _*).head()

  private def stamp(s: Long): Column = IpColumns.stampToTimestamp(lit(s))

  /** `Decode.addIpInfo` over one record. */
  private def ipInfo(nomvar: String, ip1: Int, ip2: Int, ip3: Int): Row = {
    import spark.implicits._
    Decode.addIpInfo(Seq((nomvar, ip1, ip2, ip3))
      .toDF("nomvar", "ip1", "ip2", "ip3")).head()
  }

  /** `Decode.addParsedEtiket` -> (label, run, implementation, ensemble). */
  private def parsed(etikets: String*): Seq[(String, String, String, String)] = {
    import spark.implicits._
    Decode.addParsedEtiket(etikets.toDF("etiket"))
      .select("label", "run", "implementation", "ensemble_member")
      .as[(String, String, String, String)].collect().toSeq
  }

  test("RmnDate golden: 442998800 -> 2020-07-14T12:00") {
    assert(eval(stamp(442998800L)).getTimestamp(0).toInstant ==
      Instant.parse("2020-07-14T12:00:00Z"))
  }

  test("RmnDate dummy stamps decode to None") {
    val r = eval(stamp(0L), stamp(10101011L), stamp(123199999L))
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), r)
  }

  test("RmnDate encode inverts decode") {
    val ts = lit(java.sql.Timestamp.from(Instant.parse("2020-07-14T12:00:00Z")))
    val r = eval(Encode.stampFromTimestamp(ts),
      Encode.stampFromTimestamp(stamp(442998800L)))
    assert(r.getLong(0) == 442998800L && r.getLong(1) == 442998800L, r)
  }

  test("RmnDate dateo reconstruction: deet*npas shift") {
    // 6 h = deet 300 * npas 72 = 21600 s = 4320 ticks
    val datev = 442998800L
    val dateo = RmnDate.dateoFromDatev(datev, 300, 72)
    assert(eval(unix_seconds(stamp(datev)) - unix_seconds(stamp(dateo)))
      .getLong(0) == 21600L)
  }

  test("IpCodec new-style known encodings: 500 mb and hybrid 1.0") {
    assert(IpCodec.encode(500f, 2) == 41394464)
    assert(IpCodec.encode(1.0f, 5) == 93423264)
    val r = eval(Encode.encodeIp(lit(500f), lit(2)),
      IpColumns.decodeValue(lit(41394464)), IpColumns.decodeKind(lit(41394464)),
      IpColumns.decodeValue(lit(93423264)), IpColumns.decodeKind(lit(93423264)))
    assert(r == Row(41394464, 500f, 2, 1.0f, 5), r)
  }

  test("IpCodec old-style decode rules") {
    import spark.implicits._
    val got = Seq(500, 2500, 12001, 16001, -7).toDF("ip")
      .select(IpColumns.decodeValue(col("ip")), IpColumns.decodeKind(col("ip")))
      .as[(Float, Int)].collect().toSeq
    assert(got == Seq(
      (500f, 2),      // pressure mb
      (0.5f, 1),      // sigma carve-out
      (-20000f, 0),   // height base
      (0f, 0),        // sea level
      (-7f, -1)), got)
  }

  test("decodeIp123 coordinate records are raw with kind 100") {
    val r = ipInfo(">>", 33792, 77761, 0)
    assert(r.getAs[Float]("level") == 33792f && r.getAs[Int]("ip1_kind") == 100 &&
      r.getAs[String]("ip1_pkind") == "")
    assert(r.getAs[Float]("ip2_dec") == 77761f && r.getAs[Int]("ip2_kind") == 100)
    assert(r.getAs[Float]("ip3_dec") == 0f && r.getAs[Int]("ip3_kind") == 100)
    assert(r.isNullAt(r.fieldIndex("interval_kind")))
  }

  test("decodeIp123 ip2 old-style hours and ip3 user code") {
    val r = ipInfo("TT", IpCodec.encode(850f, 2), 6, 0)
    assert(r.getAs[Float]("level") == 850f && r.getAs[Int]("ip1_kind") == 2 &&
      r.getAs[String]("ip1_pkind") == "mb")
    assert(r.getAs[Float]("ip2_dec") == 6f && r.getAs[Int]("ip2_kind") == 10 &&
      r.getAs[String]("ip2_pkind") == "H")
    assert(r.getAs[Int]("ip3_kind") == 100 && r.getAs[String]("ip3_pkind") == "")
  }

  test("decodeIp123 time-interval swap (ip2/ip3 same kind)") {
    val r = ipInfo("PR", IpCodec.encode(0f, 0), IpCodec.encode(6f, 10),
      IpCodec.encode(0f, 10))
    assert(r.getAs[Float]("ip2_dec") == 0f && r.getAs[Int]("ip2_kind") == 10)
    assert(r.getAs[Float]("interval_low") == 0f &&
      r.getAs[Float]("interval_high") == 6f &&
      r.getAs[Int]("interval_kind") == 10, r)
  }

  test("surface/topography/sort-order rules") {
    def rules(ip1: Int): (Boolean, Boolean, Boolean) = {
      val r = ipInfo("TT", ip1, 0, 0)
      (r.getAs[Boolean]("surface"), r.getAs[Boolean]("follow_topography"),
        r.getAs[Boolean]("ascending"))
    }
    assert(!rules(IpCodec.encode(0.36116f, 5))._1)
    assert(rules(IpCodec.encode(1f, 5))._1)
    assert(rules(IpCodec.encode(1.5f, 4))._1)
    assert(rules(IpCodec.encode(0.5f, 5))._2)
    assert(!rules(IpCodec.encode(500f, 2))._2)
    assert(rules(IpCodec.encode(10f, 0))._3)
    assert(!rules(IpCodec.encode(500f, 2))._3)
  }

  test("Etiket golden: R1_V710_N and empty") {
    assert(parsed("R1_V710_N", "", "G133K80P", "G133K80P001") == Seq(
      ("_V710_", "R1", "N", ""),
      ("", "", "", ""),
      ("33K80", "G1", "P", ""),
      ("33K80", "G1", "P", "001")))
  }

  test("etiketFromParts null-guards every piece") {
    val none = lit(null).cast("string")
    val r = eval(
      Encode.etiketFromParts(none, lit("R1"), lit("N"), lit("")),
      Encode.etiketFromParts(lit("_V710_"), lit("R1"), lit("N"), none),
      Encode.etiketFromParts(none, none, none, none),
      Encode.etiketFromParts(lit("None"), lit("None"), lit("N"), lit("None")))
    assert(r == Row("R1N", "R1_V710_N", "", "NoneN"), r)
  }

  test("parsePayload fails on a null or blank payload, naming d and the nomvar") {
    import org.scalatest.concurrent.TimeLimits._
    import org.scalatest.time.SpanSugar._
    val dir = java.nio.file.Files.createTempDirectory("graft_codec_csv")
    // an empty cell reads as null; the good row of the same nomvar used
    // to let the null record through the group dimension check
    val cases = Seq(
      "empty" -> "nomvar,level,d\nUU,500,\"1,2;3,4\"\nUU,850,\n",
      "blank" -> "nomvar,level,d\nVV,500,\"  \"\n")
    cases.foreach { case (name, text) =>
      val f = dir.resolve(s"$name.csv")
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      failAfter(30.seconds) {
        val err = intercept[Exception] {
          CsvRecords.read(spark, f.toString).collect()
        }
        val msgs = Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
        val nomvar = if (name == "empty") "UU" else "VV"
        assert(msgs.exists(m => m.contains("column d") &&
          m.contains(s"nomvar '$nomvar'")), msgs.mkString("\n"))
      }
    }
  }

  test("parsePayload fails on a ragged row or a non-numeric element, naming d and the nomvar") {
    import org.scalatest.concurrent.TimeLimits._
    import org.scalatest.time.SpanSugar._
    val dir = java.nio.file.Files.createTempDirectory("graft_codec_csv_bad")
    // these used to fail as INVALID_ARRAY_INDEX_IN_ELEMENT_AT and
    // CAST_INVALID_INPUT, naming neither the column nor the record
    val cases = Seq(
      ("ragged", "UU", "ragged payload rows",
        "nomvar,level,d\nTT,500,\"1,2;3,4\"\nUU,500,\"1,2;3\"\n"),
      ("longer", "VV", "ragged payload rows",
        "nomvar,level,d\nVV,500,\"1,2;3,4,5\"\n"),
      ("numeric", "WW", "non-numeric payload element",
        "nomvar,level,d\nWW,500,\"1,x\"\n"))
    cases.foreach { case (name, nomvar, what, text) =>
      val f = dir.resolve(s"$name.csv")
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      failAfter(30.seconds) {
        val err = intercept[Exception] {
          CsvRecords.read(spark, f.toString).collect()
        }
        val msgs = Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
        assert(msgs.exists(m => m.contains(s"csv: $what in column d") &&
          m.contains(s"nomvar '$nomvar'")), msgs.mkString("\n"))
      }
    }
  }

  test("Typvar flags parse/build") {
    import spark.implicits._
    // every settable letter survives parse (addFlags) then build
    // (typvar2FromFlags); none, or more than one, builds "" / "M"
    val letters = Seq("Z", "F", "I", "U", "B", "!", "M")
    val flags = Decode.addFlags((letters.map("P" + _) :+ "P").toDF("typvar"))
    val t2 = flags.select(col("typvar"), Encode.typvar2FromFlags(
      col("zapped"), col("filtered"), col("interpolated"),
      col("unit_converted"), col("bounded"), col("ensemble_extra_info"),
      col("multiple_modifications"))).as[(String, String)].collect().toMap
    assert(t2 == (letters.map(l => ("P" + l) -> l) :+ ("P" -> "")).toMap, t2)
    val r = flags.filter(col("typvar") === "PU").head()
    assert(r.getAs[Boolean]("unit_converted") && !r.getAs[Boolean]("zapped"))
    assert(eval(Encode.typvar2FromFlags(lit(true), lit(true), lit(false),
      lit(false), lit(false), lit(false), lit(false))).getString(0) == "M")
  }

  test("parsePayload/write round-trip with Fortran layout") {
    import spark.implicits._
    val df: DataFrame = CsvRecords.parsePayload(
      Seq(("TT", "11.5,22;33,44.5;55,66")).toDF("nomvar", "d"))
    val r = df.select("ni", "nj", "d").as[(Int, Int, Seq[Float])].head()
    // element (i, j) of the 3 x 2 field lives at Fortran index i + j*3
    assert(r == ((3, 2, Seq(11.5f, 33f, 55f, 22f, 44.5f, 66f))), r)
    val path = java.nio.file.Files.createTempDirectory("graft_codec_rt")
      .resolve("csv").toString
    CsvRecords.write(df.withColumn("ip1", lit(1)), path)
    val back = CsvRecords.read(spark, path).select("ni", "nj", "d")
      .as[(Int, Int, Seq[Float])].head()
    assert(back == r, back)
  }

  test("Constants datyp aliases") {
    assert(Constants.DatypDict(5) == "E")
    assert(Constants.DatypInverse("f") == 134)
    val dtype = (d: Int, n: Int) => Precision.fieldDtype(lit(d), lit(n))
    assert(eval(dtype(5, 32), dtype(1, 64), dtype(2, 1), dtype(2, 16)) ==
      Row("float32", "float64", "uint32", "int32"))
  }
}

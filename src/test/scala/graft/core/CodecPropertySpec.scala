package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession
import graft.ops.{Decode, Encode, IpColumns}
import graft.sources.CsvRecords

/** Round-trip property tests per SURVEY.md §5 / FIXTURES.md §7, over
  * the codecs the catalog runs (Column transformers and native
  * expressions). Uses raw ScalaCheck Gen with deterministic seeded
  * sampling (the scalatest-plus bridge is not on the offline
  * classpath). Each property evaluates all its samples in one frame,
  * repartitioned so the codecs run in generated code rather than being
  * folded into the local relation.
  */
class CodecPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession(2)

  override def afterAll(): Unit = spark.stop()

  private def samples[T](g: Gen[T], n: Int = 300): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private def relErr(a: Float, b: Float): Double =
    if (a == 0f) math.abs(b.toDouble)
    else math.abs((a - b).toDouble) / math.abs(a.toDouble)

  test("encode∘decode ip round-trip per kind domain") {
    import spark.implicits._
    val cases: Gen[(Float, Int)] = Gen.oneOf(
      Gen.choose(0f, 1100f).map((_, 2)),        // pressure mb
      Gen.choose(0f, 1f).map((_, 1)),           // sigma
      Gen.choose(0f, 1f).map((_, 5)),           // hybrid
      Gen.choose(-500f, 80000f).map((_, 0)),    // metres asl
      Gen.choose(0f, 384f).map((_, 10)))        // hours
    val got = samples(cases).toDF("v", "k").repartition(2)
      .withColumn("ip", Encode.encodeIp(col("v"), col("k")))
      .select(col("v"), col("k"), col("ip"), IpColumns.decodeValue(col("ip")),
        IpColumns.decodeKind(col("ip")))
      .as[(Float, Int, Int, Float, Int)].collect()
    assert(got.length == 300)
    got.foreach { case (v, k, ip, v2, k2) =>
      assert(ip == IpCodec.encode(v, k))
      assert(k2 == k, s"kind mismatch for ($v, $k) -> $ip -> ($v2, $k2)")
      // 6 significant digits positive, 4 negative
      assert(relErr(v, v2) < (if (v < 0) 5e-4 else 5e-6),
        s"value mismatch for ($v, $k) -> $ip -> $v2")
    }
  }

  test("RmnDate decode∘encode identity on the 5 s grid") {
    import spark.implicits._
    val ts = samples(Gen.choose(0L, 3_000_000_000L))
      .map(secs => (secs / 5) * 5 + RmnDate.EpochSeconds)
    val back = ts.map(RmnDate.fromEpochSeconds).toDF("stamp").repartition(2)
      .select(unix_seconds(IpColumns.stampToTimestamp(col("stamp"))))
      .as[Long].collect()
    assert(back.sorted.toSeq == ts.sorted)
  }

  test("Etiket build∘parse identity on generated etikets") {
    import spark.implicits._
    val run = for {
      a <- Gen.oneOf("RGPEAIMWNC_".toSeq)
      b <- Gen.oneOf("0123456789RLHMEA_".toSeq)
    } yield s"$a$b"
    val wchar = Gen.oneOf(('A' to 'Z') ++ ('0' to '9') :+ '_')
    def wstr(n: Int) = Gen.listOfN(n, wchar).map(_.mkString)
    val gen = for {
      r <- run
      lbl <- Gen.oneOf(5, 6).flatMap(wstr)
      imp <- Gen.oneOf("N", "P", "X")
      ens <- Gen.oneOf(Gen.const(""), wstr(3))
    } yield (lbl, r, imp, ens)
    val parts = samples(gen)
    val pieces = Seq("label", "run", "implementation", "ensemble_member")
    val built = parts.toDF(pieces: _*).repartition(2)
      .select(pieces.map(col) :+ Encode.etiketFromParts(col("label"),
        col("run"), col("implementation"), col("ensemble_member"))
        .as("etiket"): _*)
    val back = Decode.addParsedEtiket(
      built.withColumnsRenamed(pieces.map(p => p -> s"in_$p").toMap))
      .select((pieces.map(p => col(s"in_$p")) ++ pieces.map(col)): _*)
      .as[(String, String, String, String, String, String, String, String)]
      .collect()
    assert(back.length == parts.length)
    back.foreach { case (l, r, i, e, l2, r2, i2, e2) =>
      assert((l2, r2, i2, e2) == ((l, r, i, e)),
        s"etiket round-trip failed for ($l, $r, $i, $e)")
    }
  }

  test("CsvArray string round-trip on random dims") {
    import spark.implicits._
    val gen = for {
      ni <- Gen.choose(1, 8)
      nj <- Gen.choose(1, 8)
      vals <- Gen.listOfN(ni * nj, Gen.choose(-1000, 1000).map(_ / 2f))
    } yield (vals, ni, nj)
    val fields = samples(gen).zipWithIndex.map { case ((d, ni, nj), i) =>
      (i, ni, nj, d) }
    val path = java.nio.file.Files.createTempDirectory("graft_codec_prop")
      .resolve("csv").toString
    CsvRecords.write(fields.toDF("ip1", "ni", "nj", "d")
      .withColumn("nomvar", lit("TT")), path)
    val back = CsvRecords.read(spark, path, validateDims = false)
      .select("ip1", "ni", "nj", "d").as[(Int, Int, Int, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    assert(back == fields)
  }

  test("RmnDate consistency: datev - dateo = deet*npas seconds") {
    import spark.implicits._
    val gen = for {
      t <- Gen.choose(100_000_000L, 2_000_000_000L).map(s => (s / 5) * 5)
      deet <- Gen.oneOf(60L, 300L, 450L, 3600L)
      npas <- Gen.choose(0L, 500L)
    } yield (t, deet, npas)
    val rows = samples(gen).collect { case (t, deet, npas)
        if deet * npas % 5 == 0 =>
      val datev = RmnDate.fromEpochSeconds(t + RmnDate.EpochSeconds)
      (datev, RmnDate.dateoFromDatev(datev, deet, npas), deet * npas)
    }
    val bad = rows.toDF("datev", "dateo", "fh").repartition(2)
      .filter(unix_seconds(IpColumns.stampToTimestamp(col("datev"))) -
        unix_seconds(IpColumns.stampToTimestamp(col("dateo"))) =!= col("fh"))
      .count()
    assert(rows.nonEmpty && bad == 0)
  }
}

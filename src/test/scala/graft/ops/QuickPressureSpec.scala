package graft.ops

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IpCodec
import graft.meta.Lookups

/** `VCoord.setVerticalCoordinateType` and `VCoord.quickPressure` decide
  * their output on the driver. The Spark plans they replaced stay here
  * as the oracle (without their persists, which do not change a
  * result), and the operators must return the same rows, with `d` equal
  * bit for bit: on a hand-made catalog of every regime QuickPressure
  * emits (pressure, sigma, eta, hybrid 5001 through HY, hybrid 5005
  * through a `!!` table) and of the cases it drops (a `!!` grid without
  * P0, UNKNOWN levels, a missing PT, a level outside the `!!` table), on
  * seeded random subsets of it with exact duplicate records, on a
  * seeded fixture catalog and its written-and-read-back copy; each
  * identified by `rid`, by `(path, key)` over two files, and by both.
  */
class QuickPressureSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val tmp = Files.createTempDirectory("graft_qp").toFile

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  // ---- the oracle: the Spark plans the operators replaced ----

  private def ip1KindCol =
    when(col("nomvar").isin(graft.core.Constants.RawIpNomvars: _*), lit(100))
      .otherwise(IpColumns.decodeKind(col("ip1")))

  private def oracleVc(df: DataFrame): DataFrame = {
    import VCoord.VcMeta
    val g0 = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    val g1 = if (g0.columns.contains("ip1_kind")) g0
             else g0.withColumn("ip1_kind", ip1KindCol)
    if (g1.columns.contains("vctype")) {
      val missing = g1.filter(col("vctype").isNull).drop("vctype")
      val correct = g1.filter(col("vctype").isNotNull)
      return oracleVc(missing).unionByName(correct)
    }
    val g = g1
    val meta = g.filter(col("nomvar").isin(VcMeta: _*))
    val noMeta = g.filter(!col("nomvar").isin(VcMeta: _*))
    val flags = meta.groupBy("grid").agg(
      max(col("nomvar") === "!!").as("f_toctoc"),
      max(col("nomvar") === "P0").as("f_p0"),
      max(col("nomvar") === "E1").as("f_e1"),
      max(col("nomvar") === "PT").as("f_pt"),
      max(col("nomvar") === "HY").as("f_hy"),
      max(col("nomvar") === "!!SF").as("f_sf"))
    val vcodes = meta.filter(col("nomvar") === "!!")
      .groupBy("grid").agg(sort_array(collect_set(col("ig1"))).as("vcodes"))
    val rules = Lookups.vctypesDf(g.sparkSession)
      .withColumnRenamed("ip1_kind", "r_kind")
      .withColumnRenamed("vctype", "r_vctype")
    val gk = noMeta.select("grid", "ip1_kind").distinct()
      .join(flags, Seq("grid"), "left")
      .join(vcodes, Seq("grid"), "left")
      .na.fill(false,
        Seq("f_toctoc", "f_p0", "f_e1", "f_pt", "f_hy", "f_sf"))
      .withColumn("vcodes", coalesce(col("vcodes"), array(lit(-1))))
      .withColumn("this_vcode",
        when(size(col("vcodes")) > 1,
          coalesce(element_at(
            filter(col("vcodes"),
              v => floor(v / lit(1000)).cast("int") === col("ip1_kind")),
            1), lit(-1)))
          .otherwise(element_at(col("vcodes"), 1)))
      .join(broadcast(rules),
        col("ip1_kind") === col("r_kind") &&
          col("f_toctoc") === col("toctoc") &&
          col("f_p0") === col("P0") && col("f_e1") === col("E1") &&
          col("f_pt") === col("PT") && col("f_hy") === col("HY") &&
          col("f_sf") === col("SF") &&
          col("this_vcode") === col("vcode"), "left")
      .select(col("grid").as("vg_grid"), col("ip1_kind").as("vg_kind"),
        coalesce(col("r_vctype"), lit("UNKNOWN")).as("vctype"))
    val dataTagged = noMeta
      .join(broadcast(gk),
        col("grid") === col("vg_grid") && col("ip1_kind") === col("vg_kind"),
        "left")
      .drop("vg_grid", "vg_kind")
      .withColumn("vctype", coalesce(col("vctype"), lit("UNKNOWN")))
    dataTagged.unionByName(meta.withColumn("vctype", lit("UNKNOWN")))
  }

  private def oracleQp(df: DataFrame, standardAtmosphere: Boolean)
      : DataFrame = {
    import VCoord.{StandardAtmosphere, VcMeta}
    val df0 =
      if (df.columns.contains("rid")) df
      else if (df.columns.contains("path"))
        df.withColumn("rid", struct(col("path"), col("key").cast("long")))
      else df.withColumn("rid", col("key").cast("long"))
    val vc = oracleVc(df0)
    val meta = vc.filter(col("nomvar").isin(VcMeta: _*))
    val data = vc.filter(!col("nomvar").isin(VcMeta: _*))
      .filter(col("ip1") =!= 0 && col("vctype") =!= "UNKNOWN" &&
        !col("nomvar").isin("PX", "PXSA"))
    val repCols = Seq("typvar", "ni", "nj", "nk", "dateo", "ip2", "ip3",
      "deet", "npas", "grtyp", "ig1", "ig2", "ig3", "ig4")
    val perLevel = data
      .groupBy("grid", "vctype", "datev", "ip1").agg(
        min("rid").as("lrid"),
        min_by(struct(repCols.map(col): _*), col("rid")).as("lrep"))
    val reps = perLevel.groupBy("grid", "vctype", "datev").agg(
      min_by(col("lrep"), col("lrid")).as("rep"))
      .select(col("grid"), col("vctype"), col("datev"), col("rep.*"))
    val levels = perLevel.select("grid", "vctype", "datev", "ip1")
      .withColumn("level", IpColumns.decodeValue(col("ip1")))
    val p0s = meta.filter(col("nomvar") === "P0")
      .groupBy(col("grid").as("p_grid"), col("datev").as("p_datev"))
      .agg(min_by(struct(col("d"), col("nbits"), col("datyp")),
        col("rid")).as("r"))
      .select(col("p_grid"), col("p_datev"), col("r.d").as("p0_d"),
        col("r.nbits").as("p0_nbits"), col("r.datyp").as("p0_datyp"))
    val pts = meta.filter(col("nomvar") === "PT")
      .groupBy(col("grid").as("t_grid"), col("datev").as("t_datev"))
      .agg(min_by(col("d"), col("rid")).as("pt_d"))
    val tts = meta.filter(col("nomvar") === "!!")
      .groupBy(col("grid").as("g_tt"))
      .agg(min_by(struct(col("d"), col("nj")), col("rid")).as("r"))
      .select(col("g_tt"), col("r.d").as("tt_d"),
        col("r.nj").as("tt_nj"))
    val hyAgg = meta.filter(col("nomvar") === "HY").agg(
      min(element_at(col("d"), 1)).as("hy_ptop"),
      min(col("ig1")).as("hy_pref"),
      min(col("ig2")).as("hy_rc"))
    val HybridToctoc =
      Seq("HYBRID_5002", "HYBRID_5003", "HYBRID_5004", "HYBRID_5005")
    val joined = levels
      .join(reps, Seq("grid", "vctype", "datev"))
      .join(p0s, col("grid") === col("p_grid") &&
        col("datev") === col("p_datev"), "left")
      .join(pts, col("grid") === col("t_grid") &&
        col("datev") === col("t_datev"), "left")
      .join(tts, col("grid") === col("g_tt"), "left")
      .crossJoin(broadcast(hyAgg))
      .withColumn("jidx", coalesce(array_position(
        transform(sequence(lit(0), col("tt_nj") - 1),
          j => element_at(col("tt_d"), (j * 3 + 1).cast("int"))
            .cast("int")),
        col("ip1")), lit(0L)))
      .filter(
        (col("vctype") === "SIGMA_1001" && col("p0_d").isNotNull) ||
        (col("vctype") === "ETA_1002" && col("p0_d").isNotNull &&
          col("pt_d").isNotNull) ||
        (col("vctype") === "HYBRID_5001" && col("p0_d").isNotNull &&
          col("hy_pref").isNotNull) ||
        (col("vctype").isin(HybridToctoc: _*) &&
          col("p0_d").isNotNull && col("tt_d").isNotNull &&
          col("jidx") > 0) ||
        (col("vctype") === "PRESSURE_2001"))
    val lvlD = col("level").cast("double")
    val etatop = col("hy_ptop").cast("double") / col("hy_pref")
    val rcoef = col("hy_rc").cast("double") / lit(1000.0)
    val bb5001 = pow((lvlD - etatop) / (lit(1.0) - etatop), rcoef)
    val aa5001 = col("hy_pref") * (lvlD - bb5001)
    val aTab = element_at(col("tt_d"),
      ((col("jidx") - 1) * 3 + 2).cast("int")).cast("double")
    val bTab = element_at(col("tt_d"),
      ((col("jidx") - 1) * 3 + 3).cast("int")).cast("double")
    val prefTab = element_at(col("tt_d"), 5).cast("double")
    val dCol =
      if (!standardAtmosphere)
        when(col("vctype") === "SIGMA_1001",
          transform(col("p0_d"),
            x => (lvlD * x.cast("double")).cast("float")))
        .when(col("vctype") === "ETA_1002",
          zip_with(col("p0_d"), col("pt_d"), (a, b) =>
            (lvlD * (a.cast("double") - b.cast("double")) +
              b.cast("double")).cast("float")))
        .when(col("vctype") === "HYBRID_5001",
          transform(col("p0_d"),
            x => (aa5001 + bb5001 * x.cast("double")).cast("float")))
        .when(col("vctype").isin(HybridToctoc: _*),
          transform(col("p0_d"), x =>
            (exp(aTab + bTab * log(x.cast("double") * 100 / prefTab))
              / 100).cast("float")))
        .otherwise(array_repeat(col("level"),
          (col("ni") * col("nj")).cast("int")))
      else {
        val term0 = etatop
        val term4 = lvlD - term0
        val term6 = pow(
          when(term4 < 0, lit(0.0)).otherwise(term4) *
            (lit(1.0) / (lit(1.0) - term0)), rcoef)
        when(col("vctype") === "SIGMA_1001",
          transform(col("p0_d"),
            _ => (lvlD * lit(StandardAtmosphere)).cast("float")))
        .when(col("vctype") === "ETA_1002",
          zip_with(col("p0_d"), col("pt_d"), (_, b) =>
            (b.cast("double") * (lit(1.0) - lvlD) +
              lvlD * lit(StandardAtmosphere)).cast("float")))
        .when(col("vctype") === "HYBRID_5001",
          transform(col("p0_d"), _ =>
            (col("hy_pref") * (lvlD - term6) +
              term6 * lit(StandardAtmosphere)).cast("float")))
        .when(col("vctype").isin(HybridToctoc: _*),
          transform(col("p0_d"), _ =>
            (exp(aTab + bTab *
              log(lit(StandardAtmosphere * 100.0) / prefTab))
              / 100).cast("float")))
        .otherwise(array_repeat(col("level"),
          (col("ni") * col("nj")).cast("int")))
      }
    joined.select(
      lit(if (standardAtmosphere) "PXSA" else "PX").as("nomvar"),
      col("typvar"), lit("PRESSR").as("etiket"),
      col("ni"), col("nj"), col("nk"), col("dateo"), col("ip1"),
      col("ip2"), col("ip3"), col("deet"), col("npas"),
      when(col("vctype") === "PRESSURE_2001", lit(5))
        .otherwise(col("p0_datyp")).as("datyp"),
      when(col("vctype") === "PRESSURE_2001", lit(32))
        .otherwise(col("p0_nbits")).as("nbits"),
      col("grtyp"), col("ig1"), col("ig2"), col("ig3"), col("ig4"),
      col("datev"), col("grid"), col("vctype"), col("level"),
      dCol.as("d"))
  }

  // ---- the comparison ----

  /** A row with every float as its raw bits, so `==` is bit equality. */
  private def canon(v: Any): Any = v match {
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case f: Float => ("f", java.lang.Float.floatToRawIntBits(f))
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case x => x
  }

  private def bag(df: DataFrame): Map[Any, Int] =
    df.collect().toSeq.map(canon).groupMapReduce(identity)(_ => 1)(_ + _)

  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => f.name -> f.dataType.simpleString)

  private def same(want: DataFrame, got: DataFrame, clue: String)
      : Map[Any, Int] = {
    val w = bag(want)
    withClue(clue) {
      assert(shape(got) == shape(want))
      assert(bag(got) == w)
    }
    w
  }

  /** Both operators against the oracle; returns the oracle's PX rows. */
  private def parity(in: DataFrame, clue: String): Map[Any, Int] = {
    same(oracleVc(in), VCoord.setVerticalCoordinateType(in), s"$clue, vc")
    def f17(vc: DataFrame) = vc.filter(!col("nomvar").isin(VCoord.VcMeta: _*))
      .select("grid", "ip1_kind", "vctype").distinct()
    same(f17(oracleVc(in)), f17(VCoord.setVerticalCoordinateType(in)),
      s"$clue, f17")
    same(oracleQp(in, standardAtmosphere = true),
      VCoord.quickPressure(in, standardAtmosphere = true), s"$clue, PXSA")
    same(oracleQp(in, standardAtmosphere = false),
      VCoord.quickPressure(in), s"$clue, PX")
  }

  // ---- the hand-made catalog ----

  private val schema = StructType(Seq(
    StructField("rid", LongType), StructField("nomvar", StringType),
    StructField("typvar", StringType), StructField("etiket", StringType),
    StructField("ni", IntegerType), StructField("nj", IntegerType),
    StructField("nk", IntegerType), StructField("dateo", LongType),
    StructField("ip1", IntegerType), StructField("ip2", IntegerType),
    StructField("ip3", IntegerType), StructField("deet", IntegerType),
    StructField("npas", IntegerType), StructField("datyp", IntegerType),
    StructField("nbits", IntegerType), StructField("grtyp", StringType),
    StructField("ig1", IntegerType), StructField("ig2", IntegerType),
    StructField("ig3", IntegerType), StructField("ig4", IntegerType),
    StructField("datev", LongType), StructField("path", StringType),
    StructField("key", IntegerType),
    StructField("d", ArrayType(FloatType))))

  /** nomvar, ip1, ip2, ig1, ig2, datev, d (of a 2 x 2 field unless the
    * record is a `!!` table); the rest is filled in by [[frame]].
    */
  private type Rec = (String, Int, Int, Int, Int, Long, Seq[Float])

  private val D1 = 1000L
  private val D2 = 4600L

  /** An ip1 whose value a float32 `!!` table holds exactly. */
  private def hyb(level: Float): Int = {
    val ip = IpCodec.encode(level, 5)
    require(ip.toFloat.toInt == ip, s"$level: $ip is not float-exact")
    ip
  }
  private val sig = Seq(0.25f, 0.5f, 1.0f).map(IpCodec.encode(_, 1))
  private val prs = Seq(1000f, 500f, 250f).map(IpCodec.encode(_, 2))
  private val hyl = Seq(0.25f, 0.5f, 0.75f).map(hyb)

  private def field(base: Float) = Seq(base, base + 1.5f, base - 2.25f,
    base + 0.125f)

  /** A `!!` table over `ip1s` (column j = ip1, A, B; pref is d(5)). */
  private def table(ip1s: Seq[Int], scale: Float): Seq[Float] =
    ip1s.zipWithIndex.flatMap { case (ip, j) =>
      Seq(ip.toFloat, (10.5f + 0.25f * j) * scale,
        if (j == 1) 100000f else 0.4f + 0.1f * j)
    }

  /** Every record of the hand-made catalog: grid ig1 (ig2 7) 10
    * pressure, 11 sigma + P0, 12 eta + P0 + PT (PT only at D1), 13
    * hybrid 5001 + P0 (the grid-less HY), 14 hybrid 5005 + P0 + `!!`
    * (one level outside the table), 15 hybrid + `!!` without P0, 16
    * sigma levels with no coordinate record (UNKNOWN), 17 two `!!`
    * vcodes + P0 over hybrid and pressure levels. Duplicated P0, PT and
    * `!!` records differ in payload, so the lowest-rid pick shows.
    */
  private val pool: Seq[Rec] = {
    val data = for {
      (ig1, ips) <- Seq(10 -> prs, 11 -> sig, 12 -> sig, 13 -> hyl,
        14 -> (hyl :+ hyb(1.0f)), 15 -> hyl, 16 -> sig,
        17 -> (hyl.take(2) ++ prs.take(2)))
      datev <- Seq(D1, D2)
      nomvar <- Seq("TT", "UU")
      ip1 <- ips
    } yield (nomvar, ip1, 0, ig1, 7, datev, field(ig1 + ip1 % 97))
    val p0 = for {
      ig1 <- Seq(11, 12, 13, 14, 17); datev <- Seq(D1, D2)
    } yield ("P0", 0, 0, ig1, 7, datev, field(990f + ig1))
    val extra: Seq[Rec] = Seq(
      // duplicates with another payload
      ("P0", 0, 0, 11, 7, D1, field(880f)),
      ("P0", 0, 0, 14, 7, D2, field(870f)),
      ("PT", 0, 0, 12, 7, D1, field(10f)),
      ("PT", 0, 0, 12, 7, D1, field(20f)),
      ("!!", 14, 7, 5005, 0, 0L, table(hyl, 1f)),
      ("!!", 14, 7, 5005, 0, 0L, table(hyl, 1.1f)),
      ("!!", 15, 7, 5005, 0, 0L, table(hyl, 1f)),
      ("!!", 17, 7, 5005, 0, 0L, table(hyl.take(2) ++ prs.take(2), 0.9f)),
      ("!!", 17, 7, 2001, 0, 0L, table(hyl.take(2) ++ prs.take(2), 1f)),
      ("HY", 0, 0, 80000, 1600, D1, Seq(1000f)),
      ("HY", 0, 0, 95000, 1000, D1, Seq(500f)),
      (">>", 10, 7, 0, 0, 0L, Seq(1f, 2f)),
      ("^^", 11, 7, 0, 0, 0L, Seq(3f, 4f)),
      // a surface field, a PX record already present, an unknown kind
      ("MX", 0, 0, 11, 7, D1, field(1f)),
      ("PX", sig.head, 0, 11, 7, D1, field(2f)),
      ("TT", IpCodec.encode(3f, 6), 0, 11, 7, D1, field(3f)))
    data ++ p0 ++ extra
  }

  /** Rows for `recs` with rids 1..n in the order of `order`; `path`
    * and `key` split them over two files with colliding keys.
    */
  private def frame(recs: Seq[Rec], order: Seq[Int]): DataFrame = {
    val rows = recs.zip(order).map {
      case ((nomvar, ip1, ip2, ig1, ig2, datev, d), o) =>
        val rid = o + 1L
        val meta = VCoord.VcMeta.contains(nomvar)
        val nj = if (nomvar == "!!") d.size / 3 else 2
        val ni = if (nomvar == "!!") 3 else 2
        Row(rid, nomvar, if (rid % 3 == 0) "A" else "P", "E", ni, nj, 1,
          D1, ip1, if (meta) ip2 else ((datev - D1) / 3600).toInt,
          (rid % 5).toInt, 300, rid.toInt, 5, 32,
          if (meta) "X" else "Z", ig1, ig2, 0, 0, datev,
          s"f${rid % 2}", (rid / 2).toInt, d)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def modes(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "rid" -> df.drop("path", "key"),
    "path,key" -> df.drop("rid"),
    "rid,path,key" -> df)

  private def shuffled(seed: Long, n: Int): Seq[Int] =
    new scala.util.Random(seed).shuffle((0 until n).toList)

  test("every regime, duplicates and dropped levels: same rows as the " +
      "Spark-plan oracle") {
    val base = frame(pool, shuffled(7L, pool.size))
    modes(base).foreach { case (mode, df) =>
      val px = parity(df, mode)
      // what the oracle emits here: all five regimes, once per level
      val vctypes = px.keys.toSeq.map(_.asInstanceOf[Seq[Any]](21))
      assert(vctypes.toSet == Set("PRESSURE_2001", "SIGMA_1001",
        "ETA_1002", "HYBRID_5001", "HYBRID_5005"), mode)
      // 10: 2x3, 11: 2x3, 12: 1x3 (no PT at D2), 13: 2x3, 14: 2x3 (the
      // fourth level is not in the table), 15: none (no P0), 16: none
      // (UNKNOWN), 17: 2x2 hybrid + 2x2 pressure
      assert(px.values.sum == 6 + 6 + 3 + 6 + 6 + 8, mode)
    }
  }

  test("seeded random subsets with exact duplicate records") {
    (1L to 4L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val kept = pool.filter(_ => rnd.nextInt(5) != 0)
      val recs = kept ++ kept.filter(_ => rnd.nextInt(6) == 0)
      modes(frame(recs, shuffled(seed, recs.size))).foreach {
        case (mode, df) => parity(df, s"seed $seed, $mode")
      }
    }
  }

  test("inputs that already carry vctype, grid or ip1_kind") {
    val base = frame(pool, shuffled(8L, pool.size)).drop("path", "key")
    // the NaN-repair path: preset values pass, nulls are re-classified
    // from the meta records whose vctype is null too
    val tagged = base.withColumn("vctype",
      when(col("rid") % 7 === 0, lit("PRESSURE_2001"))
        .when(col("rid") % 7 === 1, lit("SIGMA_1001"))
        .when(col("rid") % 7 === 2, lit("UNKNOWN")))
    parity(tagged, "tagged")
    parity(Decode.decodeMetadata(base), "decoded")
  }

  test("seeded fixture catalog, read back by (path, key) too") {
    import spark.implicits._
    val dir = new java.io.File(tmp, "sf21").getPath
    new scala.util.Random(21L).shuffle((1L to 6000L).toList).take(400)
      .toDF("o_orderkey").write.parquet(s"$dir/orders.parquet")
    val cat = graft.fixtures.SyntheticCatalog.catalog(spark, dir)
    assert(parity(cat, "fixture").nonEmpty)
    val path = s"$dir/records"
    graft.sources.fst.FstWriter.write(cat, path, cleanup = false,
      maxRecordsPerFile = 128)
    assert(parity(spark.read.format("fstrec").load(path), "read back")
      .nonEmpty)
  }

  test("a streaming input fails with a named error") {
    val dir = new java.io.File(tmp, "stream").getPath
    frame(pool.take(4), 0 until 4).write.parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    Seq[DataFrame => DataFrame](
      VCoord.quickPressure(_), VCoord.setVerticalCoordinateType
    ).foreach { op =>
      val e = intercept[IllegalArgumentException](op(stream))
      assert(e.getMessage.contains("batch frame"), e.getMessage)
    }
  }

  test("repeated calls persist nothing and need no release") {
    // frames other suites left registered are not these operators'
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val df = frame(pool, shuffled(9L, pool.size))
    (1 to 20).foreach { i =>
      Seq(VCoord.quickPressure(df), VCoord.setVerticalCoordinateType(df))
        .foreach(_.write.format("noop").mode("overwrite").save())
      assert(graft.core.CacheRegistry.size == 0, s"call $i")
      val cached = spark.sparkContext.getRDDStorageInfo
        .filterNot(r => before(r.id))
      assert(cached.isEmpty, s"call $i: ${cached.mkString(", ")}")
    }
  }
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IpCodec

/** Spark-level operator tests on a tiny in-memory catalog (the driver
  * oracle covers these at scale; these pin semantics in `sbt test`).
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mkCatalog(): DataFrame = {
    import spark.implicits._
    val ipSigma = IpCodec.encode(0.5f, 1)
    val ipSfc = IpCodec.encode(1.0f, 1)
    Seq(
      // rid, nomvar, typvar, etiket, ni, nj, ip1, ig1, d
      (1L, "TT", "P", "R1_V710_N", 2, 2, ipSigma, 100,
        Seq(1f, 2f, 3f, 4f)),
      (2L, "TT", "P", "R1_V710_N", 2, 2, ipSfc, 100,
        Seq(5f, 6f, 7f, 8f)),
      (3L, "P0", "P", "R1_V710_N", 2, 2, 0, 100,
        Seq(1000f, 1001f, 1002f, 1003f)),
      (4L, ">>", "X", "GRID", 2, 1, 100, 900, Seq(10f, 20f)),
      (5L, "^^", "X", "GRID", 1, 2, 100, 900, Seq(45f, 46f)))
      .toDF("rid", "nomvar", "typvar", "etiket", "ni", "nj", "ip1",
        "ig1", "d")
      .withColumn("nk", lit(1))
      .withColumn("dateo", lit(442998800L))
      .withColumn("datev", lit(442998800L))
      .withColumn("ip2", when(col("nomvar") === ">>", 200)
        .when(col("nomvar") === "^^", 200).otherwise(0))
      .withColumn("ip3", lit(0))
      .withColumn("deet", lit(0)).withColumn("npas", lit(0))
      .withColumn("datyp", lit(5)).withColumn("nbits", lit(32))
      .withColumn("grtyp", when(col("nomvar").isin(">>", "^^"), "E")
        .otherwise("Z"))
      .withColumn("ig2", lit(200))
      .withColumn("ig3", lit(0)).withColumn("ig4", lit(0))
      // data rows grid = ig1..ig2 = "100200"; coord rows ip1,ip2 ->
      // ">>" has ip1=100, ip2=200 -> "100200" too
      .withColumn("ip1", when(col("nomvar").isin(">>", "^^"), 100)
        .otherwise(col("ip1")))
  }

  test("decodeMetadata widens the catalog with decoded columns") {
    val d = Decode.decodeMetadata(mkCatalog())
    val tt = d.filter(col("rid") === 1).head()
    assert(tt.getAs[String]("unit") == "celsius")
    assert(math.abs(tt.getAs[Float]("level") - 0.5f) < 1e-6)
    assert(tt.getAs[Int]("ip1_kind") == 1)
    assert(tt.getAs[String]("label") == "_V710_")
    assert(tt.getAs[String]("grid") == "100200")
    assert(d.filter(col("rid") === 4).head()
      .getAs[Int]("ip1_kind") == 100)
  }

  test("decodeMetadata and each add_* equal their withColumn chain") {
    import spark.implicits._
    val hours = IpCodec.encode(6f, 10)
    val span = IpCodec.encode(12f, 10)
    val metres = IpCodec.encode(10f, 0)
    val varied = Seq(
      // rid, nomvar, typvar, etiket, ip1, ip2, ip3, datyp
      (11L, "TT", "PM", "R1_V710_N001", IpCodec.encode(850f, 2), hours,
        span, 1),
      (12L, "UU", "PZ", "G1ABCDEFX", IpCodec.encode(2f, 0), 6, metres, 5),
      (13L, "ZZ", "P?", "G1ABCDEFX123", 12000, 30000, 7, 133),
      (14L, "HY", "X", "", 0, 0, 0, 134),
      (15L, ">>", "X", "GRID", 100, 200, 0, 5))
      .toDF("rid", "nomvar", "typvar", "etiket", "ip1", "ip2", "ip3",
        "datyp")
      .withColumn("ni", lit(2)).withColumn("nj", lit(1))
      .withColumn("nk", lit(1)).withColumn("dateo", lit(442998800L))
      .withColumn("datev", lit(443020400L)).withColumn("deet", lit(300))
      .withColumn("npas", col("rid").cast("int"))
      .withColumn("nbits", lit(16)).withColumn("grtyp", lit("Z"))
      .withColumn("ig1", lit(7)).withColumn("ig2", lit(8))
      .withColumn("ig3", lit(0)).withColumn("ig4", lit(0))
      .withColumn("d", array(lit(1f)))
    // columns the decode sets already present: replaced in place, a
    // differently cased one renamed
    val predecoded = mkCatalog().withColumn("grid", lit("stale"))
      .withColumn("Level", lit(-1f)).withColumn("unit", lit("stale"))
    def same(got: DataFrame, want: DataFrame, what: String): Unit = {
      assert(got.schema == want.schema, what)
      def rows(df: DataFrame) = df.orderBy("rid").collect().map(_.toSeq)
        .toSeq
      assert(rows(got) == rows(want), what)
    }
    val pairs: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] =
      Seq(("decodeMetadata", Decode.decodeMetadata, ChainedDecode.decodeMetadata),
        ("addGrid", Decode.addGrid, ChainedDecode.addGrid),
        ("addFlags", Decode.addFlags, ChainedDecode.addFlags),
        ("addParsedEtiket", Decode.addParsedEtiket,
          ChainedDecode.addParsedEtiket),
        ("addUnitAndDescription", Decode.addUnitAndDescription,
          ChainedDecode.addUnitAndDescription),
        ("addDecodedDates", Decode.addDecodedDates,
          ChainedDecode.addDecodedDates),
        ("addForecastHour", Decode.addForecastHour,
          ChainedDecode.addForecastHour),
        ("addDataTypeStr", Decode.addDataTypeStr, ChainedDecode.addDataTypeStr),
        ("addIpInfo", Decode.addIpInfo, ChainedDecode.addIpInfo))
    for {
      (name, input) <- Seq("mkCatalog" -> mkCatalog(), "varied" -> varied,
        "predecoded" -> predecoded)
      (op, got, want) <- pairs
    } same(got(input), want(input), s"$op on $name")
    assert(Decode.decodeMetadata(predecoded).columns
      .count(_.equalsIgnoreCase("level")) == 1)
  }

  test("grid identifier goldens (std_dec.py:254-256)") {
    import spark.implicits._
    // get_grid_identifier('TT', 94733000, 6, 33792, 77761)
    //   -> '3379277761' (ig1||ig2 for data records)
    val rows = Seq(
      ("TT", 94733000, 6, 33792, 77761),
      (">>", 94733000, 6, 33792, 77761), // coord record: ip1||ip2
      ("HY", 94733000, 6, 33792, 77761)) // grid-less: None
      .toDF("nomvar", "ip1", "ip2", "ig1", "ig2")
    val got = Decode.addGrid(rows).select("nomvar", "grid").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("TT") == "3379277761")
    assert(got(">>") == "947330006")
    assert(got("HY") == "None")
  }

  test("selectWithMeta keeps data + justified meta only") {
    val out = Select.selectWithMeta(mkCatalog(), Seq("TT"))
    val names = out.select("nomvar").collect().map(_.getString(0))
    assert(names.count(_ == "TT") == 2)
    assert(names.contains(">>") && names.contains("^^"))
    assert(names.contains("P0")) // sigma levels justify P0
  }

  test("vctype classification: sigma grid with P0 -> SIGMA_1001") {
    val vc = VCoord.setVerticalCoordinateType(mkCatalog())
    val types = vc.filter(col("nomvar") === "TT")
      .select("vctype").distinct().collect().map(_.getString(0))
    assert(types.sameElements(Array("SIGMA_1001")))
  }

  test("vctype NaN repair re-classifies only missing rows") {
    val tagged = mkCatalog().withColumn("vctype",
      when(col("rid") === 2L, lit("PRESET")))
    val vc = VCoord.setVerticalCoordinateType(tagged)
    val byRid = vc.filter(col("nomvar") === "TT")
      .select("rid", "vctype").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byRid(2L) == "PRESET")      // untouched
    assert(byRid(1L) == "SIGMA_1001")  // re-classified
    // pass-through rows must carry the same enrichment as the
    // re-classified rows: grid/ip1_kind may not be null on either
    // branch (downstream groupBy(grid) would silently misgroup)
    assert(vc.filter(col("grid").isNull || col("ip1_kind").isNull)
      .count() == 0)
  }

  test("recoverMask raises on >2-row identity groups (reference " +
      "recover_mask.py:65), passes 2-row groups unchanged") {
    val base = mkCatalog().filter(col("rid") === 1)
    val vars = base.withColumn("typvar", lit("P@"))
    val masks = base.withColumn("typvar", lit("@@"))
      .withColumn("datyp", lit(2)).withColumn("nbits", lit(1))
      .withColumn("d", typedLit(Seq(1f, 0f, 1f, 0f)))
    // complete pair passes through unchanged
    val pair = Masks.recoverMask(Decode.addGrid(vars.unionByName(masks)))
    assert(pair.count() == 2)
    assert(pair.filter(col("typvar") === "@@").count() == 1)
    // duplicate-identity catalog: 2 data rows + 1 mask = pair_n 3 ->
    // the reference raises instead of multiplying or passing through
    val trip = vars.unionByName(vars).unionByName(masks)
    val e = intercept[Exception] {
      Masks.recoverMask(Decode.addGrid(trip)).collect()
    }
    assert(e.getMessage.contains("1 row per group") ||
      Option(e.getCause).exists(_.getMessage.contains("1 row per group")))
  }

  test("applyMask raises on orphan masks and duplicate-identity groups") {
    val base = mkCatalog().filter(col("rid") === 1)
    val vars = base.withColumn("typvar", lit("P@"))
    val masks = base.withColumn("typvar", lit("@@"))
      .withColumn("d", typedLit(Seq(1f, 0f, 1f, 0f)))
    // orphan mask (no data partner): reference apply_mask.py:63 raises
    val orphan = intercept[Exception] {
      Masks.applyMask(Decode.addGrid(masks)).collect()
    }
    assert(orphan.getMessage.contains("2 rows") ||
      Option(orphan.getCause).exists(_.getMessage.contains("2 rows")))
    // 2 data rows + 1 mask: must raise, not fan the data rows out
    val trip = vars.unionByName(vars).unionByName(masks)
    val fan = intercept[Exception] {
      Masks.applyMask(Decode.addGrid(trip)).collect()
    }
    assert(fan.getMessage.contains("2 rows") ||
      Option(fan.getCause).exists(_.getMessage.contains("2 rows")))
  }

  test("memoizer keeps null-key rows (null-safe rejoin)") {
    import spark.implicits._
    val df = Seq(Some(1.0f), None, Some(2.0f), Some(1.0f))
      .toDF("level")
    val out = graft.ops.Memoize.viaDistinctJoin(df, Seq("level"),
      col("level") * 2, "dbl")
    assert(out.count() == 4) // the null-key row survives
    assert(out.filter(col("level").isNull).count() == 1)
    assert(out.filter(col("dbl") === 4.0f).count() == 1)
  }

  test("encodeTimeInterval stores the pair endpoints (librmn EncodeIp)") {
    import spark.implicits._
    val df = Seq(("TT", 24, 6)).toDF("nomvar", "ip2", "ip3")
    val (e2, e3) = graft.ops.Encode.encodeTimeInterval(
      col("nomvar"), col("ip2"), col("ip3"))
    val r = df.select(e2.as("ip2e"), e3.as("ip3e")).head()
    assert(r.getInt(0) == graft.core.IpCodec.encode(24f, 10))
    assert(r.getInt(1) == graft.core.IpCodec.encode(6f, 10))
  }

  test("quickPressure sigma: p = level * P0") {
    val px = VCoord.quickPressure(mkCatalog())
    val rows = px.filter(col("nomvar") === "PX").collect()
    assert(rows.length == 2) // two sigma levels
    val half = rows.find(r =>
      math.abs(r.getAs[Float]("level") - 0.5f) < 1e-6).get
    assert(half.getSeq[Float](half.fieldIndex("d")) == Seq(500f, 500.5f, 501f, 501.5f))
  }

  test("quickPressure rid fallback is unique across files (path, key)") {
    // two files whose record handles (key) collide: the clone
    // tiebreak must still be deterministic and globally unique
    val base = mkCatalog().withColumnRenamed("rid", "key")
      .withColumn("key", col("key").cast("int"))
    // second file re-uses the same record handles for its data rows
    // (keys collide across files by construction)
    val twoFiles = base.withColumn("path", lit("/data/a.fst"))
      .unionByName(base.filter(col("nomvar") === "TT")
        .withColumn("path", lit("/data/b.fst")))
    val px = VCoord.quickPressure(twoFiles)
      .filter(col("nomvar") === "PX")
    // same grids/levels/datev in both files -> still 2 distinct PX
    // rows (one per level), derived deterministically
    assert(px.count() == 2)
  }

  test("applyMask/recoverMask round-trip") {
    val base = mkCatalog().filter(col("nomvar") === "TT")
    val vars = base.withColumn("typvar", lit("P@"))
    val masks = base.withColumn("typvar", lit("@@"))
      .withColumn("d", typedLit(Seq(1f, 0f, 1f, 0f)))
    val rec = Masks.recoverMask(Masks.applyMask(
      Decode.addGrid(vars.unionByName(masks))))
    val dataRow = rec.filter(col("typvar") === "P@" && col("rid") === 1)
      .head()
    assert(dataRow.getSeq[Float](dataRow.fieldIndex("d"))
      == Seq(1f, 0f, 3f, 0f)) // masked positions zeroed
    val maskRow = rec.filter(col("typvar") === "@@" && col("rid") === 1)
      .head()
    assert(maskRow.getSeq[Float](maskRow.fieldIndex("d"))
      == Seq(1f, 0f, 1f, 0f))
  }

  test("unitConvert celsius -> kelvin adds 273.15 and flags rows") {
    val out = UnitConvert.unitConvert(mkCatalog(), "kelvin")
    val tt = out.filter(col("rid") === 1).head()
    assert(tt.getAs[String]("unit") == "kelvin")
    assert(tt.getAs[Boolean]("unit_converted"))
    assert(math.abs(tt.getSeq[Float](tt.fieldIndex("d")).head - 274.15f) < 1e-4)
    // P0 (millibar family) untouched by a temperature target
    val p0 = out.filter(col("rid") === 3).head()
    assert(p0.getAs[String]("unit") == "millibar")
    assert(!p0.getAs[Boolean]("unit_converted"))
  }

  test("fststat positions are 1-based Fortran (i,j)") {
    val st = Stats.fststat(mkCatalog().filter(col("rid") === 1)).head()
    // d = [1,2,3,4] on (2,2): min at flat 0 -> (1,1); max flat 3 -> (2,2)
    assert(st.getAs[Int]("min_pos_i") == 1 &&
      st.getAs[Int]("min_pos_j") == 1)
    assert(st.getAs[Int]("max_pos_i") == 2 &&
      st.getAs[Int]("max_pos_j") == 2)
    assert(st.getAs[Float]("min") == 1f && st.getAs[Float]("max") == 4f)
    assert(math.abs(st.getAs[Double]("mean") - 2.5) < 1e-12)
  }

  test("README walkthrough chain composes end-to-end") {
    // read -> decode -> select_with_meta -> unit_convert ->
    // quick_pressure -> write -> re-read (SURVEY.md §5 item 4;
    // reference README.md:66-84 acceptance shape). Catalogs.stage
    // truncates lineage between operators — without it the composed
    // plan grows multiplicatively (each operator re-references its
    // input) and driver-side planning OOMs.
    val selected = Catalogs.stage(Select.selectWithMeta(
      Decode.decodeMetadata(mkCatalog()), Seq("TT")))
    val converted = Catalogs.stage(
      UnitConvert.unitConvert(selected, "kelvin"))
    val px = VCoord.quickPressure(converted)
    assert(px.filter(col("nomvar") === "PX").count() == 2)
    val out = converted.select(
      col("nomvar"), col("typvar"), col("etiket"), col("ni"), col("nj"),
      col("nk"), col("dateo"), col("ip1"), col("ip2"),
      col("rid").cast("int").as("ip3"), col("deet"), col("npas"),
      col("datyp"), col("nbits"), col("grtyp"), col("ig1"), col("ig2"),
      col("ig3"), col("ig4"), col("datev"), col("d"))
    val path = "/tmp/graft_opsspec_walkthrough"
    graft.sources.fst.FstWriter.write(out, path, cleanup = false)
    val back = spark.read.format("fstrec").load(path)
    assert(back.count() == out.count())
    // payload fidelity through write + re-read: converted TT (rid 1)
    val tt = back.filter(col("nomvar") === "TT" && col("ip3") === 1)
      .head()
    assert(math.abs(tt.getSeq[Float](tt.fieldIndex("d")).head
      - 274.15f) < 1e-4)
    val st = Stats.fststat(Decode.addGrid(back))
    assert(st.count() == back.count())
  }

  test("operators fail fast with named missing-column errors") {
    import spark.implicits._
    val bad = Seq((1L, "TT")).toDF("rid", "nomvar")
    val e = intercept[graft.core.Checks.MissingColumnsError] {
      Select.selectWithMeta(bad, Seq("TT"))
    }
    assert(e.getMessage.contains("select_with_meta"))
    assert(e.getMessage.contains("ip1"))
    intercept[graft.core.Checks.MissingColumnsError] {
      Masks.applyMask(bad)
    }
    intercept[graft.core.Checks.MissingColumnsError] {
      Stats.fststat(bad)
    }
  }

  test("cube assembly stacks levels in the kind's order (sigma desc)") {
    // sigma (kind 1) is a DESCENDING kind: the surface level (1.0)
    // stacks first, like the reference's ascending-flag level sort
    val cube = Cubes.toCube(mkCatalog())
      .filter(col("nomvar") === "TT").head()
    assert(cube.getAs[Int]("n_levels") == 2)
    assert(cube.getSeq[Float](cube.fieldIndex("levels")) == Seq(1.0f, 0.5f))
    assert(cube.getSeq[Float](cube.fieldIndex("cube")) ==
      Seq(5f, 6f, 7f, 8f, 1f, 2f, 3f, 4f))
  }

  test("cube pick keeps the min-rid record of a duplicated level") {
    // later copies of both TT levels, with other payloads, spread over
    // partitions: each level's pick is still its lowest rid
    val dup = mkCatalog().filter(col("nomvar") === "TT")
      .withColumn("rid", col("rid") + 10)
      .withColumn("d", transform(col("d"), x => x + 100f))
    val cat = dup.unionByName(mkCatalog()).repartition(3)
    val cube = Cubes.toCube(cat).filter(col("nomvar") === "TT").head()
    assert(cube.getSeq[Float](cube.fieldIndex("levels")) == Seq(1.0f, 0.5f))
    assert(cube.getSeq[Float](cube.fieldIndex("cube")) ==
      Seq(5f, 6f, 7f, 8f, 1f, 2f, 3f, 4f))
  }

  test("cube pick fails loudly on a null rid") {
    // min_by skips a null rid, which would leave a group of null rids
    // with a null `d`; the pick rejects it instead
    val nullable = mkCatalog().withColumn("rid",
      when(col("rid") === 2, lit(null).cast("long")).otherwise(col("rid")))
    val e = intercept[Exception](Cubes.toCube(nullable).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("null rid"))),
      e.toString)
    // a nullable rid column holding no null still assembles
    val ok = mkCatalog().withColumn("rid",
      when(col("rid") > 0, col("rid")))
    assert(Cubes.toCube(ok).filter(col("nomvar") === "TT").head()
      .getAs[Int]("n_levels") == 2)
  }

  test("asof join matches same-instant rows and nulls with no prior") {
    import spark.implicits._
    val clicks = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("user_id", "ts_us", "click_id")
    val views = Seq((1L, 10L, 900L), (1L, 15L, 901L), (3L, 1L, 902L))
      .toDF("user_id", "ts_us", "view_id")
    val got = Temporal.asofJoin(clicks, views, Seq("user_id"),
      "ts_us", Seq("view_id")).collect()
      .map(r => (r.getLong(2),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // click@10 ties view@10 (<= matches); click@20 takes view@15;
    // user 2 has no views at all -> null
    assert(got == Map(100L -> 900L, 101L -> 901L, 102L -> -1L))
  }

  test("range join start is inclusive and end exclusive") {
    import spark.implicits._
    val rows = Seq((1L, 100L, 1L), (1L, 199L, 2L), (1L, 200L, 3L),
      (1L, 99L, 4L)).toDF("user_id", "ts_us", "click_id")
    val iv = Seq((1L, 100L, 200L, 7L))
      .toDF("user_id", "start_us", "end_us", "interval_id")
    val got = Temporal.rangeJoin(rows, iv, Seq("user_id"), "ts_us",
      "start_us", "end_us", binWidth = 50L)
      .select("click_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L)) // 200 excluded (end), 99 before start
  }

  test("catalogDiff reports statuses and per-record payload stats") {
    import spark.implicits._
    val a = Seq((1L, Seq(1f, 2f, 3f, 4f)), (2L, Seq(5f, 6f, 7f, 8f)),
      (3L, Seq(9f, 9f, 9f, 9f))).toDF("rid", "d")
    val b = Seq((1L, Seq(1f, 2f, 3f, 4f)), // identical
      (2L, Seq(5f, 6.5f, 7f, 7f)),          // two elements differ
      (4L, Seq(0f, 0f, 0f, 0f)))            // only in b
      .toDF("rid", "d")
    val out = Stats.catalogDiff(a, b, Seq("rid"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "both" && out(1L).getInt(3) == 0 &&
      out(1L).getDouble(4) == 0.0)
    assert(out(2L).getInt(3) == 2 && out(2L).getDouble(4) == 1.0 &&
      out(2L).getDouble(5) == 0.375 && out(2L).getDouble(6) == 0.125)
    assert(out(3L).getString(1) == "only_a" && out(3L).isNullAt(3))
    assert(out(4L).getString(1) == "only_b" && out(4L).isNullAt(3))
  }

  test("catalogDiff flags payload-length differences as shape_mismatch") {
    import spark.implicits._
    val a = Seq((1L, Seq(1f, 2f, 3f, 4f))).toDF("rid", "d")
    val b = Seq((1L, Seq(1f, 2f, 3f))).toDF("rid", "d")
    val row = Stats.catalogDiff(a, b, Seq("rid")).collect().head
    assert(row.getString(1) == "shape_mismatch")
    assert(row.isNullAt(2) && row.isNullAt(3) && row.isNullAt(4))
  }

  test("cube export attaches the grid's lon/lat coordinate axes") {
    val cube = Cubes.toCubeWithCoords(mkCatalog())
      .filter(col("nomvar") === "TT").head()
    assert(cube.getSeq[Float](cube.fieldIndex("lon")) == Seq(10f, 20f))
    assert(cube.getSeq[Float](cube.fieldIndex("lat")) == Seq(45f, 46f))
    // a grid without deformation records still exports (null axes)
    val noCoords = Cubes.toCubeWithCoords(
      mkCatalog().filter(!col("nomvar").isin(">>", "^^")))
      .filter(col("nomvar") === "TT").head()
    assert(noCoords.isNullAt(noCoords.fieldIndex("lon")))
  }
}

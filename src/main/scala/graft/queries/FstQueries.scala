package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.SyntheticCatalog
import graft.ops.{Decode, Encode, IpColumns, Masks, Select, Stats, UnitConvert, VCoord}
import graft.meta.Lookups

/** FST-domain operator queries over the deterministic synthetic record
  * catalog (SyntheticCatalog derives it from the driver's orders
  * parquet; the oracle rebuilds the identical catalog in DuckDB via
  * [[SyntheticCatalog.sqlCte]]). Each entry exercises one operator of
  * SURVEY.md §2 and is hash-compared by the driver.
  */
object FstQueries {
  type Q = (SparkSession, String) => DataFrame

  private def cat(s: SparkSession, dir: String): DataFrame =
    SyntheticCatalog.catalog(s, dir)

  private def W(sel: String) = s"WITH ${SyntheticCatalog.sqlCte}\n$sel"

  // SQL twins of the decode_ip123 kind/value overrides
  private val RawSql = "nomvar IN ('>>', '^^', '^>', '!!')"
  private def k1Sql =
    s"(CASE WHEN $RawSql THEN 100 ELSE ${IpColumns.decodeKindSql("ip1")} END)"
  private def v1Sql =
    s"(CASE WHEN $RawSql THEN CAST(ip1 AS FLOAT) ELSE ${IpColumns.decodeValueSql("ip1")} END)"
  private def k2Sql =
    s"(CASE WHEN $RawSql THEN 100 WHEN ip2 >= 32768 THEN ${IpColumns.decodeKindSql("ip2")} ELSE 10 END)"
  private def v2Sql =
    s"(CASE WHEN $RawSql THEN CAST(ip2 AS FLOAT) ELSE ${IpColumns.decodeValueSql("ip2")} END)"
  private def k3Sql =
    s"(CASE WHEN $RawSql THEN 100 WHEN ip3 >= 32768 THEN ${IpColumns.decodeKindSql("ip3")} ELSE 100 END)"
  private def v3Sql =
    s"(CASE WHEN $RawSql THEN CAST(ip3 AS FLOAT) ELSE ${IpColumns.decodeValueSql("ip3")} END)"

  private def stdvarValuesSql: String = Lookups.StdVar.map {
    case (n, u, d) => s"('$n', '$u', '${d.replace("'", "''")}')"
  }.mkString(", ")

  private def levelTypeValuesSql: String = Lookups.LevelTypes.map {
    case (l, k, f, _) => s"('$l', $k, ${if (f) "TRUE" else "FALSE"})"
  }.mkString(", ")

  val queries: Map[String, Q] = Map(
    // P1 grid identity (coord records via ip1/ip2, HY -> 'None')
    "f01_grid_column" -> ((s, dir) =>
      Decode.addGrid(cat(s, dir)).select("rid", "nomvar", "grid")),

    // P3 typvar modifier flags
    "f02_typvar_flags" -> ((s, dir) =>
      Decode.addFlags(cat(s, dir)).select(
        col("rid"), col("typvar"), col("multiple_modifications"),
        col("zapped"), col("filtered"), col("interpolated"),
        col("unit_converted"), col("bounded"), col("missing_data"),
        col("ensemble_extra_info"))),

    // P4 etiket parse
    "f03_etiket_parse" -> ((s, dir) =>
      Decode.addParsedEtiket(cat(s, dir)).select(
        "rid", "etiket", "label", "run", "implementation",
        "ensemble_member")),

    // P5 unit/description broadcast lookup
    "f04_unit_desc" -> ((s, dir) =>
      Decode.addUnitAndDescription(cat(s, dir)).select(
        "rid", "nomvar", "unit", "description")),

    // P6 RMN date decode
    "f05_date_decode" -> ((s, dir) =>
      Decode.addDecodedDates(cat(s, dir)).select(
        "rid", "dateo", "datev", "date_of_observation",
        "date_of_validity")),

    // P7 forecast hour
    "f06_forecast_hour" -> ((s, dir) =>
      Decode.addForecastHour(cat(s, dir)).select(
        "rid", "deet", "npas", "forecast_hour")),

    // P8 datyp -> letter
    "f07_datyp_str" -> ((s, dir) =>
      Decode.addDataTypeStr(cat(s, dir)).select(
        "rid", "datyp", "data_type_str")),

    // P9 ip1/ip2/ip3 decode (level, kinds, printable kinds, rules)
    "f08_ip_decode" -> ((s, dir) =>
      Decode.addIpInfo(cat(s, dir)).select(
        col("rid"), col("ip1"), col("level"), col("ip1_kind"),
        col("ip1_pkind"), col("ip2_dec"), col("ip2_kind"),
        col("ip2_pkind"), col("ip3_dec"), col("ip3_kind"),
        col("ip3_pkind"), col("surface"), col("follow_topography"),
        col("ascending"))),

    // P12 full decodeMetadata orchestrator (composition proof)
    "f09_decoded_meta" -> ((s, dir) =>
      Decode.decodeMetadata(cat(s, dir)).select(
        col("rid"), col("nomvar"), col("grid"), col("label"),
        col("unit"), col("date_of_validity"), col("forecast_hour"),
        col("data_type_str"), col("level"), col("ip1_pkind"),
        col("surface"))),

    // F7/A7 per-grid meta-record existence flags
    "f10_meta_exists" -> ((s, dir) => {
      val g = Decode.addGrid(cat(s, dir))
      g.groupBy("grid").agg(
        max(col("nomvar") === "!!").as("toctoc"),
        max(col("nomvar") === "P0").as("p0"),
        max(col("nomvar") === "E1").as("e1"),
        max(col("nomvar") === "PT").as("pt"),
        max(col("nomvar") === "!!SF").as("sf"),
        max(col("nomvar") === "HY").as("hy"))
    }),

    // F3/F4 + M18: select nomvars with accompanying meta, cleaned
    "f11_select_with_meta" -> ((s, dir) =>
      Select.selectWithMeta(Decode.addGrid(cat(s, dir)), Seq("TT", "UU"))
        .select("rid", "nomvar", "grid")),

    // M18 metadata_cleanup over the full catalog
    "f12_metadata_cleanup" -> ((s, dir) =>
      Select.metadataCleanup(Decode.addGrid(cat(s, dir)))
        .select("rid", "nomvar", "grid")),

    // A1/M17 fststat per-record payload statistics
    "f13_fststat" -> ((s, dir) =>
      Stats.fststat(cat(s, dir)).select(
        "rid", "nomvar", "min", "max", "mean", "std",
        "min_pos_i", "min_pos_j", "max_pos_i", "max_pos_j")),

    // M19 voir listing (decoded projection, sorted)
    "f14_voir" -> ((s, dir) => Stats.voir(cat(s, dir))),

    // A2 drop_duplicates on the 19-col identity (input doubled to
    // prove the dedup actually collapses)
    "f15_dedup_identity" -> ((s, dir) => {
      val c = cat(s, dir)
      c.unionByName(c)
        .dropDuplicates(graft.core.Constants.DedupColumns)
        .select(graft.core.Constants.DedupColumns.map(col): _*)
    }),

    // A5 distinct-ip1 bucketing by decoded kind
    "f16_ip_buckets" -> ((s, dir) =>
      cat(s, dir).select("ip1").distinct()
        .withColumn("kind", IpColumns.decodeKind(col("ip1")))
        .filter(col("kind").isin(1, 2, 5))),

    // M8/J7 vertical-coordinate classification per (grid, ip1_kind)
    "f17_vctype" -> ((s, dir) =>
      VCoord.setVerticalCoordinateType(cat(s, dir))
        .filter(!col("nomvar").isin(VCoord.VcMeta: _*))
        .select("grid", "ip1_kind", "vctype").distinct()),

    // M1 unit_convert to kelvin (temperature family converts, others
    // pass through), exploded to scalar rows
    "f18_unit_convert" -> ((s, dir) => {
      val out = UnitConvert.unitConvert(cat(s, dir), "kelvin")
        .filter(!col("nomvar").isin(VCoord.VcMeta: _*))
      out.select(col("rid"), col("nomvar"), col("unit"),
          col("unit_converted"), posexplode(col("d")))
        .select(col("rid"), col("nomvar"), col("unit"),
          col("unit_converted"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // M1 standard_unit mode: per-nomvar dictionary-unit targets
    "f42_unit_std" -> ((s, dir) => {
      val base = cat(s, dir).withColumn("unit",
        when(col("nomvar") === "TT", "kelvin")
          .when(col("nomvar") === "GZ", "meter")
          .when(col("nomvar") === "ES", "fahrenheit")
          .when(col("nomvar") === "HU", "gram_per_kilogram")
          .otherwise("scalar"))
      UnitConvert.unitConvertStandard(base)
        .filter(!col("nomvar").isin(VCoord.VcMeta: _*))
        .select(col("rid"), col("nomvar"), col("unit"),
          col("unit_converted"), posexplode_outer(col("d")))
        .select(col("rid"), col("nomvar"), col("unit"),
          col("unit_converted"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // M2-M5 QuickPressure: PX fields for sigma/eta/pressure coords
    "f19_quick_pressure" -> ((s, dir) => {
      val px = VCoord.quickPressure(cat(s, dir))
      // posexplode_outer: d is non-empty by construction, and the
      // _outer variant skips the implicit size>0/isnotnull predicates
      // that would otherwise duplicate the (large) pressure-formula
      // expression into the join condition
      px.select(col("grid"), col("vctype"), col("datev"), col("ip1"),
          col("level"), col("typvar"), col("dateo"), col("ip2"),
          col("datyp"), col("nbits"), posexplode_outer(col("d")))
        .select(col("grid"), col("vctype"), col("datev"), col("ip1"),
          col("level"), col("typvar"), col("dateo"), col("ip2"),
          col("datyp"), col("nbits"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // M2-M5 standard-atmosphere mode: PXSA payloads from the
    // constant-pressure formulas
    "f46_quick_pressure_sa" -> ((s, dir) => {
      val px = VCoord.quickPressure(cat(s, dir),
        standardAtmosphere = true)
      px.select(col("grid"), col("vctype"), col("datev"), col("ip1"),
          col("level"), col("typvar"), col("dateo"), col("ip2"),
          col("datyp"), col("nbits"), posexplode_outer(col("d")))
        .select(col("grid"), col("vctype"), col("datev"), col("ip1"),
          col("level"), col("typvar"), col("dateo"), col("ip2"),
          col("datyp"), col("nbits"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // S8/S6 partitioned directory layout: write with a nomvar=... dir
    // per variable, read back through the pruned scan (the pushed
    // isin skips non-matching directory branches entirely) — digest
    // must equal the batch filter over the source catalog
    "f47_partitioned_roundtrip" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("rid") > 0 &&
          col("nomvar").isin("TT", "UU", "VV", "GZ"))
        .withColumn("ip3", col("rid").cast("int"))
      val path =
        graft.core.Scratch.path(s"graft_partitioned_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base, path, cleanup = false,
        maxRecordsPerFile = 4096, partitionBy = Seq("nomvar"))
      s.read.format("fstrec").load(path)
        .filter(col("nomvar").isin("TT", "GZ"))
        .groupBy("nomvar")
        .agg(count(lit(1)).as("n_records"),
          sum(col("ip3").cast("long")).as("sum_ip3"),
          round(sum(aggregate(col("d"), lit(0.0),
            (a, x) => a + x.cast("double")).cast("decimal(18,6)")), 3)
            .cast("double").as("payload_sum"))
    }),

    // §2.11 native expressions through the correctness gate: the
    // codegen'd decode/encode SQL functions (graft_decode_ip_value/
    // _kind, graft_encode_ip) must match the DuckDB twins of the
    // decode rules AND round-trip new-style ips
    "f50_native_functions" -> ((s, dir) => {
      graft.functions.GraftFunctions.install(s)
      cat(s, dir).filter(col("rid") > 0)
        .select(col("rid"), col("ip1"),
          expr("graft_decode_ip_value(ip1)").as("level"),
          expr("graft_decode_ip_kind(ip1)").as("kind"),
          expr("graft_encode_ip(graft_decode_ip_value(ip1), " +
            "graft_decode_ip_kind(ip1))").as("ip1_rt"))
    }),

    // Catalog comparison (fstcomp workflow shape): full-outer join on
    // the record identity + per-record payload diff stats; catalog B
    // is A with one element perturbed (rid%7), rows dropped (rid%11)
    // and rows added (rid%13 clones) to exercise all three statuses
    "f48_catalog_diff" -> ((s, dir) => {
      val a = cat(s, dir).filter(col("rid") > 0)
      val b0 = a.filter(col("rid") % 11 =!= 0)
        .withColumn("d", when(col("rid") % 7 === 0,
          transform(col("d"), (x, i) =>
            when(i === 2, x + lit(0.5f)).otherwise(x)))
          .otherwise(col("d")))
      val b = b0.unionByName(a.filter(col("rid") % 13 === 0)
        .withColumn("rid", col("rid") + 1000000L))
      graft.ops.Stats.catalogDiff(a, b, Seq("rid"))
    }),

    // M10/M11 ApplyMask -> RecoverMask round-trip on synthesized pairs
    "f20_mask_roundtrip" -> ((s, dir) => {
      val base = Decode.addGrid(cat(s, dir))
        .filter(col("nomvar") === "TT" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int")) // unique pair identity
      val vars = base.withColumn("typvar", lit("P@"))
      val masks = base.withColumn("typvar", lit("@@"))
        .withColumn("datyp", lit(2)).withColumn("nbits", lit(1))
        .withColumn("d", transform(sequence(lit(0), lit(11)),
          k => pmod(k, lit(2)).cast("float")))
      val recovered = Masks.recoverMask(
        Masks.applyMask(vars.unionByName(masks)))
      recovered.filter(col("typvar").isin("P@", "@@"))
        .select(col("rid"), col("typvar"), posexplode(col("d")))
        .select(col("rid"), col("typvar"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // S7/S9 CSV record sink + source round-trip (level <-> ip1 encode,
    // payload string <-> Fortran array, defaults, dim validation)
    "f21_csv_roundtrip" -> ((s, dir) => {
      // write the level column instead of ip1 (the reader rejects
      // both at once), exercising the level -> ip1 encode path
      val base = cat(s, dir)
        .filter(col("nomvar") === "TT" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
        .withColumn("level", IpColumns.decodeValue(col("ip1")))
        .drop("ip1")
      val path =
        graft.core.Scratch.path(s"graft_csv_roundtrip_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.CsvRecords.write(base, path,
        extraCols = Seq("level"))
      graft.sources.CsvRecords.read(s, path)
        .select(col("ip3").as("rid"), col("nomvar"), col("etiket"),
          IpColumns.decodeValue(col("ip1")).as("level"), col("ni"),
          col("nj"), posexplode(col("d")))
        .select(col("rid"), col("nomvar"), col("etiket"), col("level"),
          col("ni"), col("nj"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // C4/C6-C10 encode layer: re-encoding the decoded catalog must
    // reproduce the original stored columns exactly
    "f22_encode_roundtrip" -> ((s, dir) => {
      val d0 = Decode.decodeMetadata(cat(s, dir)).filter(col("rid") > 0)
      // C17 memoizer analog: the UDF encoder runs once per distinct
      // (level, kind) pair and broadcast-joins back
      val d = graft.ops.Memoize.viaDistinctJoin(d0,
        Seq("level", "ip1_kind"),
        Encode.encodeIp(col("level"), col("ip1_kind")), "ip1_reenc")
      d.select(col("rid"),
        col("ip1_reenc"),
        Encode.stampFromTimestamp(col("date_of_observation"))
          .as("dateo_reenc"),
        Encode.etiketFromParts(col("label"), col("run"),
          col("implementation"), col("ensemble_member"))
          .as("etiket_rebuilt"),
        Encode.datypFromStr(col("data_type_str")).as("datyp_reenc"),
        Encode.typvar2FromFlags(col("zapped"), col("filtered"),
          col("interpolated"), col("unit_converted"), col("bounded"),
          col("ensemble_extra_info"), col("multiple_modifications"))
          .as("typvar2"),
        Encode.npasFromForecast(col("forecast_hour"), col("deet"))
          .as("npas_reenc"))
    }),

    // C1/C2/C11: encoded time-interval ip2/ip3 decode with v1/v2 swap
    "f23_interval_decode" -> ((s, dir) => {
      val ip2Enc = (0 until 5).map(h => graft.core.IpCodec.encode(h * 6f, 10))
      val ip3Enc = (0 until 5).map(h =>
        graft.core.IpCodec.encode(math.max(h * 6 - 6, 0).toFloat, 10))
      val idx = (col("ip2") / 6).cast("int") + 1
      val base = cat(s, dir).filter(col("rid") > 0)
        .withColumn("ip3", element_at(array(ip3Enc.map(lit): _*), idx))
        .withColumn("ip2", element_at(array(ip2Enc.map(lit): _*), idx))
      Decode.addIpInfo(base).select(
        "rid", "ip2", "ip3", "ip2_dec", "ip2_kind", "ip3_dec",
        "ip3_kind", "interval_low", "interval_high", "interval_kind")
    }),

    // P10/P11: timezone projection + shape struct
    "f24_shape_timezone" -> ((s, dir) => {
      val d = Decode.addTimezone(
        Decode.addShape(Decode.addDecodedDates(cat(s, dir))),
        "date_of_validity", "America/New_York")
      d.select(col("rid"), col("shape.ni").as("shape_ni"),
        col("shape.nj").as("shape_nj"),
        col("date_of_validity_america_new_york"))
    }),

    // F1/F2: predicate query + re-attach of accompanying meta records
    "f25_query_with_meta" -> ((s, dir) => {
      val g = Decode.addGrid(cat(s, dir))
      val res = g.filter(col("nomvar") === "GZ")
      // r13 optimization (guide §2.4): the meta subset feeds two
      // branches (grid semi-join + HY re-attach) — persist the
      // metadata-scale rows so the catalog is not re-scanned per
      // branch (the data side keeps its two column-pruned scans:
      // output rows + the distinct-grid probe).
      val meta = Select.selectMeta(g).select("rid", "nomvar", "grid")
        .transform(graft.core.CacheRegistry.persist(_))
      val attached = meta
        .join(res.select("grid").distinct(), Seq("grid"), "left_semi")
        .unionByName(meta.filter(col("nomvar") === "HY"))
        .dropDuplicates("rid")
      res.select("rid", "nomvar", "grid").unionByName(attached)
    }),

    // F5/O5: process_hy — singleton HY stamped with the data's grid
    "f26_process_hy" -> ((s, dir) => {
      val g = Decode.addGrid(cat(s, dir))
      val data = g.filter(col("ig1") === 33793 &&
        !col("nomvar").isin(Select.CleanupMeta: _*))
      val hy = g.filter(col("nomvar") === "HY").limit(1)
      val theGrid = data.agg(min("grid").as("stamped_grid"))
      val hyStamped = hy.drop("grid")
        .crossJoin(broadcast(theGrid))
        .withColumn("grid", col("stamped_grid")).drop("stamped_grid")
      data.unionByName(hyStamped).select("rid", "nomvar", "grid")
    }),

    // S1-S5/S8: binary standard-file write -> DataSource V2 read
    // round-trip (directory-word codec, lazy payload column)
    "f27_fst_roundtrip" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("nomvar") === "UU" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
      val path =
        graft.core.Scratch.path(s"graft_fst_roundtrip_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base, path, cleanup = false)
      s.read.format("fstrec").load(path)
        .select(col("ip3").as("rid"), col("nomvar"), col("typvar"),
          col("etiket"), col("ni"), col("nj"), col("dateo"),
          col("datev"), col("ip1"), col("ip2"), col("deet"),
          col("npas"), col("datyp"), col("nbits"), col("grtyp"),
          col("ig1"), col("ig2"), col("ig3"), col("ig4"),
          posexplode(col("d")))
        .select(col("rid"), col("nomvar"), col("typvar"), col("etiket"),
          col("ni"), col("nj"), col("dateo"), col("datev"), col("ip1"),
          col("ip2"), col("deet"), col("npas"), col("datyp"),
          col("nbits"), col("grtyp"), col("ig1"), col("ig2"),
          col("ig3"), col("ig4"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // F1 pushdown on the binary source: metadata-only projection with
    // a filter evaluated on directory entries before any payload read
    "f28_fst_pushdown" -> ((s, dir) => {
      val path =
        graft.core.Scratch.path(s"graft_fst_roundtrip_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      // reuses the files written by f27 (map ordering guarantees f27
      // runs first); re-write defensively if absent
      if (!new java.io.File(path).exists()) {
        val base = cat(s, dir)
          .filter(col("nomvar") === "UU" && col("rid") > 0)
          .withColumn("ip3", col("rid").cast("int"))
        graft.sources.fst.FstWriter.write(base, path, cleanup = false)
      }
      s.read.format("fstrec").load(path)
        .filter(col("ip2") >= 12 && col("datyp") === 1)
        .select(col("ip3").as("rid"), col("ip1"), col("ip2"),
          col("datyp"))
    }),

    // G5/§1.5: xarray-style cube assembly digest
    "f29_cube_export" -> ((s, dir) => {
      val c = graft.ops.Cubes.toCube(cat(s, dir))
      c.select(col("grid"), col("nomvar"), col("ip1_kind"),
        col("n_levels"), size(col("cube")).as("cube_len"),
        element_at(col("levels"), 1).as("first_level"),
        element_at(col("levels"), -1).as("last_level"),
        aggregate(col("cube"), lit(0.0),
          (a, x) => a + x.cast("double")).as("cube_sum"))
    }),

    // §1.5 cube export with coordinate axes and attrs: lon/lat pulled
    // from the grid's >>/^^ records, unit/description from the STDVAR
    // dictionary (the labeled-DataArray shape incl. attrs)
    "f44_cube_coords" -> ((s, dir) => {
      val c = Decode.addUnitAndDescription(
        graft.ops.Cubes.toCubeWithCoords(Decode.addGrid(cat(s, dir))))
      c.select(col("grid"), col("nomvar"), col("ip1_kind"),
        col("n_levels"), col("unit"), col("description"),
        size(col("lon")).as("lon_n"), size(col("lat")).as("lat_n"),
        element_at(col("lon"), 1).as("lon_first"),
        element_at(col("lon"), -1).as("lon_last"),
        element_at(col("lat"), 1).as("lat_first"),
        element_at(col("lat"), -1).as("lat_last"))
    }),

    // §1.5 timeseries cube: stack along date_of_validity (the
    // xarray timeseries=True branch). The fixture's datev is constant,
    // so the query first spreads it (deterministically, rid-derived)
    // to give each variable a real time axis.
    "f49_cube_timeseries" -> ((s, dir) => {
      // abs(): Spark `div` truncates while DuckDB `//` floors — they
      // agree only for non-negative operands (meta rows have rid < 0)
      val c = cat(s, dir).withColumn("datev",
        col("datev") + pmod(expr("abs(rid) div 5"), lit(4)) * 100)
      graft.ops.Cubes.toCubeTimeseries(c)
        .select(col("grid"), col("nomvar"), col("ip1_kind"),
          col("level"), col("n_times"),
          element_at(col("times"), 1).as("t_first"),
          element_at(col("times"), -1).as("t_last"),
          size(col("cube")).as("cube_len"),
          aggregate(col("cube"), lit(0.0),
            (a, x) => a + x.cast("double")).as("cube_sum"))
    }),

    // M14 (Z-grid path): LA/LO generation from deformation records.
    // cacheCoords: the input is a full catalog scan that would
    // otherwise run once per output branch (r13: 6 scans -> 1); the
    // bench/verify harnesses own the CacheRegistry lifecycle.
    "f30_latlon_2d" -> ((s, dir) =>
      graft.ops.Grids.latLon2d(cat(s, dir), cacheCoords = true)
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          posexplode(col("d")))
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          (col("pos") + 1).as("pos"), col("col").as("value"))),

    // M15/C16: global-grid classification rule table
    "f31_global_grid" -> ((s, dir) => {
      import s.implicits._
      val rows = Seq(
        ("A", 10, 1.0, 0.0, 350.0), ("B", 10, 1.0, 0.0, 350.0),
        ("G", 10, 1.0, 0.0, 350.0), ("Z", 4, 1.0, 10.0, 40.0),
        ("Z", 4, 1.0, 10.0, 10.0), ("L", 360, 1.0, 0.0, 359.0),
        ("L", 361, 1.0, 0.0, 360.0), ("L", 520, 0.7, 0.0, 3.5),
        ("L", 520, 0.7, 0.0, 359.0), ("L", 100, 0.7, 0.0, 69.3))
        .toDF("grtyp", "g_ni", "dlon", "lon_first", "lon_last")
      val (g, r) = graft.ops.Grids.isGlobalGrid(col("grtyp"),
        col("g_ni"), col("dlon"), col("lon_first"), col("lon_last"))
      rows.select(col("grtyp"), col("g_ni"), col("dlon"),
        col("lon_last"), g.as("global_grid"), r.as("repetition"))
    }),

    // S11: re-scan source files for the coordinate records of the
    // catalog's grids (second scan + left-semi join on grid)
    "f32_grid_metadata_rescan" -> ((s, dir) => {
      val path =
        graft.core.Scratch.path(s"graft_fst_meta_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      val full = cat(s, dir)
      val toWrite = full.filter(col("rid") < 0 ||
        (col("nomvar") === "VV" && col("ig1") === 33793))
      graft.sources.fst.FstWriter.write(toWrite, path, cleanup = false)
      val all = s.read.format("fstrec").load(path)
      val meta = Decode.addGrid(all.filter(
        col("nomvar").isin(graft.core.Constants.MetaNomvars: _*)))
      val dataGrids = Decode.addGrid(
        all.filter(col("nomvar") === "VV"))
        .select("grid").distinct()
      meta.join(dataGrids, Seq("grid"), "left_semi")
        .dropDuplicates(Select.MetaSubset)
        .select("nomvar", "grid", "ni", "nj", "ip1", "ip2")
    }),

    // S12 create_empty_dataframe defaults
    "f33_create_empty" -> ((s, dir) =>
      graft.ops.Catalogs.createEmpty(s, 7).drop("d")),

    // M12: record constructors from grid-definition params (>> + ^^
    // rows per Z grid, params re-derived from the catalog's own
    // deformation records)
    "f34_df_from_grid" -> ((s, dir) => {
      val g = Decode.addGrid(cat(s, dir))
      val dims = g.filter(!col("nomvar").isin(Select.CleanupMeta: _*))
        .groupBy("grid").agg(max("ni").as("ni"), max("nj").as("nj"))
      val ax = g.filter(col("nomvar") === ">>").select(
        col("grid"), col("ip1").as("ig1"), col("ip2").as("ig2"),
        col("grtyp").as("grref"), col("ig1").as("ig1ref"),
        col("ig2").as("ig2ref"), col("ig3").as("ig3ref"),
        col("ig4").as("ig4ref"), col("d").as("ax"))
      val ay = g.filter(col("nomvar") === "^^")
        .select(col("grid"), col("d").as("ay"))
      // r13 optimization (guide §2.4): dfFromGrid's >>/^^ branch union
      // consumed this join tree TWICE (six catalog scans per action);
      // params is one row per grid — persist it and materialize before
      // the fan-out so the catalog is scanned once per action.
      val params = dims.join(ax, "grid").join(ay, "grid")
        .withColumn("grtyp", lit("Z"))
        .withColumn("axy", lit(null).cast("array<float>"))
        .transform(graft.core.CacheRegistry.persist(_))
      params.count()
      graft.ops.Grids.dfFromGrid(params)
        .select(col("nomvar"), col("ni"), col("nj"), col("ip1"),
          col("ip2"), col("grtyp"), col("ig1"), col("ig2"), col("ig3"),
          col("ig4"), posexplode(col("d")))
        .select(col("nomvar"), col("ni"), col("nj"), col("ip1"),
          col("ip2"), col("grtyp"), col("ig1"), col("ig2"), col("ig3"),
          col("ig4"), (col("pos") + 1).as("pos"), col("col").as("value"))
    }),

    // M12/M14 U-grid path: grid params -> `^>` record (dfFromGrid U
    // branch) -> 2D LA/LO via the subgrid-concat path
    // (std_grid.py:166-176): each subgrid's field is the usual axis
    // outer product, concatenated along nj (plain array concat in
    // Fortran-flat layout)
    "f57_latlon_u" -> ((s, dir) => {
      import s.implicits._
      val lon1 = Seq(0f, 90f, 180f, 270f)
      val lat1 = Seq(-45f, 0f, 45f)
      val lon2 = Seq(45f, 135f, 225f, 315f)
      val lat2 = Seq(-30f, 0f, 30f)
      val axy = Seq(4f, 3f) ++ lon1 ++ lat1 ++
        Seq(4f, 3f) ++ lon2 ++ lat2
      val params = Seq(("u1", "U", 4, 6, axy))
        .toDF("grid", "grtyp", "ni", "nj", "axy")
        .withColumn("ig1", lit(33800)).withColumn("ig2", lit(77700))
        .withColumn("grref", lit("E"))
        .withColumn("ig1ref", lit(0)).withColumn("ig2ref", lit(0))
        .withColumn("ig3ref", lit(0)).withColumn("ig4ref", lit(0))
        .withColumn("ax", lit(null).cast("array<float>"))
        .withColumn("ay", lit(null).cast("array<float>"))
      val recs = graft.ops.Grids.dfFromGrid(params)
        .withColumn("grid", lit("u1"))
      // NO cacheCoords: the input is a one-row local frame; r13's
      // unconditional persist+count inside latLon2d cost f57 a fixed
      // materialization action it cannot amortize (~1.5x the query,
      // r13 verdict #3).
      graft.ops.Grids.latLon2d(recs, cacheCoords = false)
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          posexplode(col("d")))
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          (col("pos") + 1).as("pos"), col("col").as("value"))
    }),

    // M13 closure: IG word <-> degrees packing round-trip. librmn's
    // exact cigaxg/cxgaig quantization is the external ezscint
    // boundary (std_grid.py:99); this exercises the library's own
    // documented convention — encode params to ig1..ig4, decode back,
    // both sides mirrored in the oracle
    "f58_ig_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val rows = Seq(
        ("L1", "L", -30.0, 300.0, 0.5, 0.25,
          0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
        ("E1", "E", 0.0, 0.0, 0.0, 0.0,
          0.0, 0.0, 0.0, 0.0, 35.0, 250.0, 0.0, 340.0),
        ("N1", "N", 0.0, 0.0, 0.0, 0.0,
          3.0, 2.0, 25000.0, 10.0, 0.0, 0.0, 0.0, 0.0),
        ("S1", "S", 0.0, 0.0, 0.0, 0.0,
          5.5, 4.25, 17500.0, 350.0, 0.0, 0.0, 0.0, 0.0),
        ("G1", "G", 0.0, 0.0, 0.0, 0.0,
          0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
        .toDF("grid", "grtyp", "lat0", "lon0", "dlat", "dlon",
          "pi", "pj", "d60", "dgrw", "lat1", "lon1", "lat2", "lon2")
      val enc = graft.ops.Grids.igEncode(rows)
        .select("grid", "grtyp", "ig1", "ig2", "ig3", "ig4")
      graft.ops.Grids.igDecode(enc)
        .select(col("grid"), col("grtyp"), col("ig1"), col("ig2"),
          col("ig3"), col("ig4"), col("lat0"), col("lon0"),
          col("dlat"), col("dlon"), col("pi"), col("pj"), col("d60"),
          col("dgrw"), col("lat1"), col("lon1"), col("lat2"),
          col("lon2"))
    }),

    // M13/M14 closure for '#' (tile) grids (std_grid.py:74-79): the
    // parent `>>`/`^^` axes cover the full plane; each tile windows
    // into them at 1-based (ig3, ig4) offsets with its own ni x nj
    // extent. Two tiles of one parent, disjoint offsets — the LA/LO
    // fields must be the exact axis slices' outer products.
    "f59_latlon_tile" -> ((s, dir) => {
      import s.implicits._
      val lonAx = (0 until 8).map(i => 10f + i)
      val latAx = (0 until 6).map(j => 40f + j)
      val recs = Seq(
        ("gT", ">>", "L", 8, 1, 0, 0, lonAx),
        ("gT", "^^", "L", 1, 6, 0, 0, latAx),
        ("gT", "TT", "#", 4, 3, 1, 1, Seq.fill(12)(0f)),
        ("gT", "TT", "#", 4, 3, 5, 4, Seq.fill(12)(0f)))
        .toDF("grid", "nomvar", "grtyp", "ni", "nj", "ig3", "ig4", "d")
      graft.ops.Grids.latLonTiles(recs)
        .select(col("grid"), col("nomvar"), col("i0"), col("j0"),
          col("ni"), col("nj"), posexplode(col("d")))
        .select(col("grid"), col("nomvar"), col("i0"), col("j0"),
          col("ni"), col("nj"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // M16: vgrid descriptor -> !! record round-trip (descriptor parsed
    // back out of the catalog's own !! record)
    "f35_df_from_vgrid" -> ((s, dir) => {
      val desc = cat(s, dir).filter(col("nomvar") === "!!").select(
        floor(col("ig1") / 1000).as("kind"),
        pmod(col("ig1"), lit(1000)).as("version"),
        col("ni"), col("nj"), col("d").as("vtbl"), col("ip1"),
        col("ip2"))
      VCoord.dfFromVgrid(desc)
        .select(col("nomvar"), col("typvar"), col("ni"), col("nj"),
          col("ip1"), col("ip2"), col("datyp"), col("nbits"),
          col("grtyp"), col("ig1"), posexplode(col("d")))
        .select(col("nomvar"), col("typvar"), col("ni"), col("nj"),
          col("ip1"), col("ip2"), col("datyp"), col("nbits"),
          col("grtyp"), col("ig1"), (col("pos") + 1).as("pos"),
          col("col").as("value"))
    }),

    // A4: writer duplicate check (rewrite flag) on the raw catalog vs
    // its write-identity dedup
    "f36_set_rewrite" -> ((s, dir) => {
      val c = cat(s, dir)
      graft.ops.Precision.setRewrite(c)
        .withColumn("which", lit("raw"))
        .unionByName(graft.ops.Precision.setRewrite(
          c.dropDuplicates(graft.ops.Precision.RewriteIdentity))
          .withColumn("which", lit("deduped")))
    }),

    // C14: per-variable precision ranking max over (datyp, nbits)
    "f37_precision_max" -> ((s, dir) =>
      graft.ops.Precision.precisionMax(cat(s, dir), Seq("nomvar"))),

    // C13: (datyp, nbits) -> payload element dtype
    "f38_field_dtype" -> ((s, dir) =>
      cat(s, dir).select("datyp", "nbits").distinct()
        .withColumn("dtype", graft.ops.Precision.fieldDtype(
          col("datyp"), col("nbits")))),

    // README walkthrough acceptance chain
    // (/root/reference/README.md:66-84): read -> select_with_meta ->
    // write standard file -> re-read -> voir/fststat digest
    "f41_readme_walkthrough" -> ((s, dir) => {
      val records = cat(s, dir)
      val sel = Select.selectWithMeta(records, Seq("TT", "UU"))
        .withColumn("ip3",
          when(col("rid") > 0, col("rid"))
            .otherwise(lit(1000000) - col("rid")).cast("int"))
      val path =
        graft.core.Scratch.path(s"graft_walkthrough_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      // large record files for the staging write (the reference-default
      // 128-record batching layout is pinned by f27)
      graft.sources.fst.FstWriter.write(sel, path, cleanup = false,
        maxRecordsPerFile = 4096)
      val back = s.read.format("fstrec").load(path)
        .withColumn("rid",
          when(col("ip3") >= 1000000, lit(1000000L) - col("ip3"))
            .otherwise(col("ip3")).cast("long"))
      Stats.fststat(Decode.addGrid(back)).select(
        col("rid"), col("nomvar"), col("grid"), col("ni"), col("nj"),
        col("min"), col("max"), col("mean"), col("std"),
        col("min_pos_i"), col("min_pos_j"), col("max_pos_i"),
        col("max_pos_j"))
    }),

    // M13/M14 regular-grid path: LA/LO generation for A/B/L grids
    "f40_latlon_regular" -> ((s, dir) => {
      import s.implicits._
      val params = Seq(
        ("gA", "A", 8, 4, 0.0, 0.0, 0.0, 0.0),
        ("gB", "B", 9, 5, 0.0, 0.0, 0.0, 0.0),
        ("gL", "L", 6, 3, 10.0, 240.0, 0.5, 0.5))
        .toDF("grid", "grtyp", "ni", "nj", "lat0", "lon0", "dlat",
          "dlon")
      graft.ops.Grids.latLonRegular(params)
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          posexplode(col("d")))
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          (col("pos") + 1).as("pos"), col("col").as("value"))
    }),

    // §2.10 streaming: the fstrec micro-batch source through a grouped
    // aggregation (memory sink, Trigger.AvailableNow) — the streaming
    // plan must converge to the batch aggregation's exact result, so
    // the same DuckDB oracle checks it. Payload sums accumulate in
    // DECIMAL so micro-batch order cannot shift the value.
    "f43_stream_agg" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("rid") > 0 && col("nomvar").isin("TT", "UU", "VV"))
        .withColumn("ip3", col("rid").cast("int"))
      val path =
        graft.core.Scratch.path(s"graft_stream_agg_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      // stage with large record files — the streaming scan bin-packs,
      // but fewer files also means a cheaper staging write
      graft.sources.fst.FstWriter.write(base, path, cleanup = false,
        maxRecordsPerFile = 4096)
      // 3 output groups: a handful of state-store partitions is
      // plenty, and each HDFS-backed store costs checkpoint files
      graft.streaming.StreamDrain.drain(s,
        s.readStream.format("fstrec").load(path)
          .groupBy("nomvar")
          .agg(count(lit(1)).as("n_records"),
            sum(col("ip2").cast("long")).as("sum_ip2"),
            round(sum(aggregate(col("d"), lit(0.0),
              (a, x) => a + x.cast("double")).cast("decimal(18,6)")), 3)
              .cast("double").as("payload_sum")),
        "complete", "stream_agg", shufflePartitions = 4)
    }),

    // §2.10 streaming dedup: the staged input holds every record
    // TWICE; the streaming query drops duplicates on the 19-column
    // record identity (A2) while draining, and the collapsed set must
    // equal the batch-distinct oracle. The memory-sink table is
    // batch-aggregated down to a compact order-insensitive digest.
    "f45_stream_dedup" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("rid") > 0 && col("nomvar").isin("GZ", "HU"))
        .withColumn("ip3", col("rid").cast("int"))
      val path =
        graft.core.Scratch.path(s"graft_stream_dedup_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base.unionByName(base), path,
        cleanup = false, maxRecordsPerFile = 4096)
      // project the payload away BEFORE the memory sink: dedup keys
      // on the 19-column identity only, and the digest reads only
      // (nomvar, ip3) — sinking `d` pinned the full deduped payload
      // set per drain (via StreamDrain's localCheckpoint) and made
      // the drain bimodal under JVM memory pressure; at scale the
      // same rule is "never materialize payloads a sink's consumers
      // don't read"
      graft.streaming.StreamDrain.drain(s,
        s.readStream.format("fstrec").load(path)
          .dropDuplicates(graft.core.Constants.DedupColumns)
          .select("nomvar", "ip3"),
        "append", "stream_dedup", shufflePartitions = 4)
        .groupBy("nomvar")
        .agg(count(lit(1)).as("n_records"),
          sum(col("ip3").cast("long")).as("sum_ip3"))
    }),

    // S8 update mode: metadata-only in-place rewrite, payloads intact
    "f39_fst_update" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("nomvar") === "GZ" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
      val path =
        graft.core.Scratch.path(s"graft_fst_update_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base, path, cleanup = false)
      val patched = s.read.format("fstrec").load(path)
        .withColumn("etiket", lit("UPDATED"))
        .withColumn("ip2", col("ip2") + 100)
      graft.sources.fst.FstWriter.update(patched)
      s.read.format("fstrec").load(path)
        .select(col("ip3").as("rid"), col("nomvar"), col("etiket"),
          col("ip1"), col("ip2"), col("dateo"), col("datev"),
          aggregate(col("d"), lit(0.0),
            (a, x) => a + x.cast("double")).as("payload_sum"))
    }),

    // S1/S2 fidelity: REAL XDF container round-trip — linked 'DIR0'
    // directory pages, 20-word record headers, MAKE_RND_HANDLE keys —
    // with datyp-aware payloads (IEEE float32/float64, bit-packed
    // ints, packed floats) read back both as the float32 `d` surface
    // and the native-precision `d64` column (get_field_dtype
    // semantics, std_io.py:633-644)
    "f51_xdf_roundtrip" -> ((s, dir) => {
      // lv must vary independently of nomvar (rid % 6 == 2 fixes rid's
      // parity): derive it from rid div 6
      val lv = (pmod(expr("rid div 6"), lit(4)) + 1).cast("int")
      val base = cat(s, dir)
        .filter(col("nomvar") === "VV" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
        .withColumn("datyp",
          element_at(array(lit(5), lit(1), lit(2), lit(5)), lv))
        .withColumn("nbits",
          element_at(array(lit(32), lit(12), lit(16), lit(64)), lv))
        // datyp 2 stores unsigned ints: floor the synthetic halves
        .withColumn("d", when(col("datyp") === 2,
          transform(col("d"), x => floor(x).cast("float")))
          .otherwise(col("d")))
      val path =
        graft.core.Scratch.path(s"graft_xdf_roundtrip_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base, path, cleanup = false,
        container = "xdf")
      s.read.format("fstrec")
        .schema(graft.sources.fst.FstTable.ExtendedSchema).load(path)
        .select(col("ip3").as("rid"), col("nomvar"), col("etiket"),
          col("ip1"), col("ip2"), col("datyp"), col("nbits"),
          col("dateo"), col("datev"), col("d64"), posexplode(col("d")))
        .select(col("rid"), col("nomvar"), col("etiket"), col("ip1"),
          col("ip2"), col("datyp"), col("nbits"), col("dateo"),
          col("datev"), (col("pos") + 1).as("pos"),
          col("col").as("value"),
          element_at(col("d64"), (col("pos") + 1).cast("int"))
            .as("value64"))
    }),

    // S4 datyp-6 (float_packer-shaped) payloads through the real XDF
    // container: 3-word 'FLP' header + nbits-token stream of
    // sign-magnitude mantissas aligned to the record's maximum binary
    // exponent (std_io.py:546 call shape). The synthetic half-integer
    // payloads sit on the reference-exponent grid at 16 tokens, so the
    // round-trip is exact on both the float32 `d` surface and the
    // native `d64` column
    // S4 closure: the four turbopack-family compressed datyps
    // (129/130/133/134, std_io.py:548-563) through the XDF container
    // — variable-length payloads carried by the directory lng, token
    // streams via the library's own documented compressor (librmn's
    // armn_compress bitstream stays the declared external boundary;
    // see XdfFormat.scala). Exactness per datyp: 129 = half-integer
    // offsets on the datyp-1 grid; 130 = floor()ed ints < 2^16;
    // 133 = lossless IEEE 32; 134 = f56's step-multiple argument.
    "f60_turbopack_roundtrip" -> ((s, dir) => {
      val base = cat(s, dir).filter(col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
      def pick(nv: String, dt: Int, nb: Int) = base
        .filter(col("nomvar") === nv)
        .withColumn("datyp", lit(dt)).withColumn("nbits", lit(nb))
      val staged = pick("TT", 129, 16)
        .unionByName(pick("UU", 130, 16)
          .withColumn("d", transform(col("d"),
            x => floor(x).cast("float"))))
        .unionByName(pick("VV", 133, 32))
        .unionByName(pick("GZ", 134, 16))
      val path =
        graft.core.Scratch.path(s"graft_xdf_turbo_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(staged, path, cleanup = false,
        container = "xdf")
      s.read.format("fstrec")
        .schema(graft.sources.fst.FstTable.ExtendedSchema).load(path)
        .select(col("ip3").as("rid"), col("nomvar"), col("datyp"),
          col("nbits"), posexplode(col("d")))
        .select(col("rid"), col("nomvar"), col("datyp"), col("nbits"),
          (col("pos") + 1).as("pos"), col("col").as("value"))
    }),

    "f56_xdf_packed_float" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("nomvar") === "UU" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
        .withColumn("datyp", lit(6)).withColumn("nbits", lit(16))
      val path =
        graft.core.Scratch.path(s"graft_xdf_fpack_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base, path, cleanup = false,
        container = "xdf")
      s.read.format("fstrec")
        .schema(graft.sources.fst.FstTable.ExtendedSchema).load(path)
        .select(col("ip3").as("rid"), col("nomvar"), col("datyp"),
          col("nbits"), col("d64"), posexplode(col("d")))
        .select(col("rid"), col("nomvar"), col("datyp"), col("nbits"),
          (col("pos") + 1).as("pos"), col("col").as("value"),
          element_at(col("d64"), (col("pos") + 1).cast("int"))
            .as("value64"))
    }),

    // C5 ip_from_value_and_kind, driver-checked: printable kind
    // letter -> kind -> encoded ip reproduces the stored ip1 exactly
    // (roundtrip identity; letters per utils.py:79-108)
    "f55_ip_from_pkind" -> ((s, dir) => {
      val d = Decode.addIpInfo(cat(s, dir)).filter(col("rid") > 0)
      d.select(col("rid"), col("ip1"), col("ip1_pkind"),
        Encode.ipFromValueAndKind(col("level"), col("ip1_pkind"))
          .as("ip1_reenc"))
    }),

    // P5/J4 over the FULL bundled dictionary (928-nomvar STDVAR,
    // 158-unit UNITS) + leveltype kinds + get_constant_by_name:
    // nomvars far outside the former curated subset resolve to their
    // real units (e.g. O3 -> dobson)
    "f54_lookup_dictionary" -> ((s, dir) => {
      val vars = Seq("1A", "2Z", "AL", "NT", "O3", "ZP")
      val base = cat(s, dir).filter(col("rid") > 0)
        .withColumn("nomvar", element_at(array(vars.map(lit): _*),
          (pmod(col("rid"), lit(6)) + 1).cast("int")))
      val decoded = Decode.addIpInfo(
        Decode.addUnitAndDescription(base))
      val lt = broadcast(Lookups.levelTypesDf(s))
      decoded.join(lt, decoded("ip1_kind") === lt("kind"), "left")
        .select(col("rid"), col("nomvar"), col("unit"),
          col("description"), col("level_label"),
          col("lt_follow_topography"),
          lit(Lookups.getConstantByName("'AEw1'").get).as("aew1"),
          lit(Lookups.getUnitByName("dobson")._5).as("dobson_factor"))
    }),

    // M13/M14 extended: E/G/N/S grid geometry — rotated-pole
    // transform, Gaussian latitudes (Legendre roots via in-plan
    // Newton), polar-stereographic inverse — all Column HOFs, no UDF
    "f53_latlon_geo" -> ((s, dir) => {
      import s.implicits._
      val rows = Seq(
        ("gN", "N", 5, 4, 3.0, 2.0, 25000.0, 10.0, 0.0, 0.0, 0.0, 0.0),
        ("gS", "S", 5, 4, 3.0, 2.0, 25000.0, 350.0, 0.0, 0.0, 0.0, 0.0),
        ("gE", "E", 8, 4, 0.0, 0.0, 0.0, 0.0, 35.0, 250.0, 0.0, 340.0),
        ("gE2", "E", 6, 5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 90.0),
        ("gG", "G", 8, 6, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
        .toDF("grid", "grtyp", "ni", "nj", "pi", "pj", "d60", "dgrw",
          "lat1", "lon1", "lat2", "lon2")
      graft.ops.Grids.latLonGeo(rows)
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          posexplode(col("d")))
        .select(col("grid"), col("nomvar"), col("ni"), col("nj"),
          (col("pos") + 1).as("pos"), col("col").as("value"))
    }),

    // S8 update mode on the real XDF container: the metadata patch
    // lands in the page entry AND the record's own 18-word header
    "f52_xdf_update" -> ((s, dir) => {
      val base = cat(s, dir)
        .filter(col("nomvar") === "ES" && col("rid") > 0)
        .withColumn("ip3", col("rid").cast("int"))
        // the catalog's odd rids carry turbopack datyps (133/134) the
        // XDF writer rightly rejects; update never touches payload
        // encoding, so pin an IEEE payload for the staging write
        .withColumn("datyp", lit(5)).withColumn("nbits", lit(32))
      val path =
        graft.core.Scratch.path(s"graft_xdf_update_${dir.replaceAll("[^0-9a-zA-Z.]", "_")}")
      graft.sources.fst.FstWriter.write(base, path, cleanup = false,
        container = "xdf")
      val patched = s.read.format("fstrec").load(path)
        .withColumn("etiket", lit("XUPDATED"))
        .withColumn("ip2", col("ip2") + 100)
      graft.sources.fst.FstWriter.update(patched)
      s.read.format("fstrec").load(path)
        .select(col("ip3").as("rid"), col("nomvar"), col("etiket"),
          col("ip1"), col("ip2"), col("dateo"), col("datev"),
          aggregate(col("d"), lit(0.0),
            (a, x) => a + x.cast("double")).as("payload_sum"))
    }))

  /** Shared quick-pressure oracle: vctype classification + level/meta
    * CTEs (through px0), with the payload formula CASE chosen by mode
    * (normal PX vs standard-atmosphere PXSA). Formula text mirrors
    * [[VCoord.quickPressure]]'s Column expressions operation-for-
    * operation so the float rounding agrees bit-for-bit.
    */
  private def quickPressureOracle(stdAtm: Boolean): String = {
    val t0 = "(CAST(hy_ptop AS DOUBLE) / hy_pref)"
    val rc = "(CAST(hy_rc AS DOUBLE) / 1000.0)"
    val t6n = s"pow((CAST(level AS DOUBLE) - $t0) / (1.0 - $t0), $rc)"
    val t6s = s"pow(greatest(CAST(level AS DOUBLE) - $t0, 0.0)" +
      s" * (1.0 / (1.0 - $t0)), $rc)"
    val aTab = "CAST(tt_d[CAST((jidx - 1) * 3 + 2 AS INT)] AS DOUBLE)"
    val bTab = "CAST(tt_d[CAST((jidx - 1) * 3 + 3 AS INT)] AS DOUBLE)"
    val pref = "CAST(tt_d[5] AS DOUBLE)"
    val dCase =
      if (!stdAtm)
        s"""CASE WHEN vctype = 'SIGMA_1001' THEN
        list_transform(p0_d, x -> CAST(CAST(level AS DOUBLE)
          * CAST(x AS DOUBLE) AS FLOAT))
      WHEN vctype = 'ETA_1002' THEN
        list_transform(range(1, len(p0_d) + 1), i ->
          CAST(CAST(level AS DOUBLE)
            * (CAST(p0_d[i] AS DOUBLE) - CAST(pt_d[i] AS DOUBLE))
            + CAST(pt_d[i] AS DOUBLE) AS FLOAT))
      WHEN vctype = 'HYBRID_5001' THEN
        list_transform(p0_d, x -> CAST(
          hy_pref * (CAST(level AS DOUBLE) - $t6n)
          + $t6n * CAST(x AS DOUBLE) AS FLOAT))
      WHEN vctype IN ('HYBRID_5002', 'HYBRID_5003', 'HYBRID_5004',
          'HYBRID_5005') THEN
        list_transform(p0_d, x -> CAST(
          exp($aTab + $bTab * ln(CAST(x AS DOUBLE) * 100 / $pref))
            / 100 AS FLOAT))
      ELSE list_transform(range(0, ni * nj), x -> level)
    END"""
      else
        s"""CASE WHEN vctype = 'SIGMA_1001' THEN
        list_transform(p0_d, x -> CAST(CAST(level AS DOUBLE)
          * 1013.25 AS FLOAT))
      WHEN vctype = 'ETA_1002' THEN
        list_transform(range(1, len(p0_d) + 1), i ->
          CAST(CAST(pt_d[i] AS DOUBLE) * (1.0 - CAST(level AS DOUBLE))
            + CAST(level AS DOUBLE) * 1013.25 AS FLOAT))
      WHEN vctype = 'HYBRID_5001' THEN
        list_transform(p0_d, x -> CAST(
          hy_pref * (CAST(level AS DOUBLE) - $t6s)
          + $t6s * 1013.25 AS FLOAT))
      WHEN vctype IN ('HYBRID_5002', 'HYBRID_5003', 'HYBRID_5004',
          'HYBRID_5005') THEN
        list_transform(p0_d, x -> CAST(
          exp($aTab + $bTab * ln(101325.0 / $pref)) / 100 AS FLOAT))
      ELSE list_transform(range(0, ni * nj), x -> level)
    END"""
    W(VCoord.vctypeSql + s"""
, qd AS (SELECT vdata.*, vclass.vctype FROM vdata
    JOIN vclass ON vdata.grid = vclass.grid
      AND vdata.ip1_kind = vclass.ip1_kind
    WHERE vdata.ip1 <> 0 AND vclass.vctype <> 'UNKNOWN'
      AND vdata.nomvar NOT IN ('PX', 'PXSA'))
, reps AS (SELECT grid, vctype, datev,
    arg_min(typvar, rid) AS typvar, arg_min(dateo, rid) AS dateo,
    arg_min(ip2, rid) AS ip2, arg_min(ni, rid) AS ni,
    arg_min(nj, rid) AS nj FROM qd GROUP BY 1, 2, 3)
, lv AS (SELECT DISTINCT grid, vctype, datev, ip1 FROM qd)
, lv2 AS (SELECT *, ${IpColumns.decodeValueSql("ip1")} AS level FROM lv)
, p0 AS (SELECT grid, datev, d AS p0_d, nbits AS p0_nbits,
    datyp AS p0_datyp FROM vmeta WHERE nomvar = 'P0')
, pt AS (SELECT grid, datev, d AS pt_d FROM vmeta WHERE nomvar = 'PT')
, ttm AS (SELECT grid AS g_tt, d AS tt_d, nj AS tt_nj FROM vmeta
    WHERE nomvar = '!!')
, hym AS (SELECT min(d[1]) AS hy_ptop, min(ig1) AS hy_pref,
    min(ig2) AS hy_rc FROM vmeta WHERE nomvar = 'HY')
, px0 AS (SELECT lv2.grid, lv2.vctype, lv2.datev, lv2.ip1, lv2.level,
    reps.typvar, reps.dateo, reps.ip2, reps.ni, reps.nj,
    p0.p0_d, p0.p0_nbits, p0.p0_datyp, pt.pt_d,
    ttm.tt_d, ttm.tt_nj, hym.hy_ptop, hym.hy_pref, hym.hy_rc,
    coalesce(list_position(list_transform(range(0, ttm.tt_nj),
      j -> CAST(ttm.tt_d[CAST(j * 3 + 1 AS INT)] AS INT)), lv2.ip1),
      0) AS jidx
  FROM lv2 JOIN reps ON lv2.grid = reps.grid
    AND lv2.vctype = reps.vctype AND lv2.datev = reps.datev
  LEFT JOIN p0 ON lv2.grid = p0.grid AND lv2.datev = p0.datev
  LEFT JOIN pt ON lv2.grid = pt.grid AND lv2.datev = pt.datev
  LEFT JOIN ttm ON lv2.grid = ttm.g_tt
  CROSS JOIN hym)
, px AS (SELECT grid, vctype, datev, ip1, level, typvar, dateo, ip2,
    CASE WHEN vctype = 'PRESSURE_2001' THEN 5 ELSE p0_datyp END
      AS datyp,
    CASE WHEN vctype = 'PRESSURE_2001' THEN 32 ELSE p0_nbits END
      AS nbits,
    $dCase AS d
  FROM px0
  WHERE (vctype = 'SIGMA_1001' AND p0_d IS NOT NULL)
    OR (vctype = 'ETA_1002' AND p0_d IS NOT NULL
      AND pt_d IS NOT NULL)
    OR (vctype = 'HYBRID_5001' AND p0_d IS NOT NULL
      AND hy_pref IS NOT NULL)
    OR (vctype IN ('HYBRID_5002', 'HYBRID_5003', 'HYBRID_5004',
        'HYBRID_5005') AND p0_d IS NOT NULL AND tt_d IS NOT NULL
      AND jidx > 0)
    OR vctype = 'PRESSURE_2001')
SELECT grid, vctype, datev, ip1, level, typvar, dateo, ip2, datyp,
  nbits, CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value FROM px""")
  }

  val oracles: Map[String, String] = Map(
    "f01_grid_column" -> W(
      s"SELECT rid, nomvar, ${Decode.gridSql} AS grid FROM cat"),

    "f02_typvar_flags" -> W(
      "SELECT rid, typvar, " +
        Decode.FlagChars.map { case (n, _) =>
          s"${Decode.flagSql(n)} AS $n"
        }.mkString(", ") + " FROM cat"),

    "f03_etiket_parse" -> W(
      "SELECT rid, etiket, " +
        Decode.etiketSql.map { case (e, a) => s"$e AS $a" }.mkString(", ") +
        " FROM cat"),

    "f04_unit_desc" -> W(
      s"""SELECT rid, cat.nomvar AS nomvar,
        coalesce(sv.unit, 'scalar') AS unit,
        coalesce(sv.description, '') AS description
      FROM cat LEFT JOIN (VALUES $stdvarValuesSql)
        AS sv(nomvar, unit, description) ON cat.nomvar = sv.nomvar"""),

    "f05_date_decode" -> W(
      s"""SELECT rid, dateo, datev,
        ${IpColumns.stampToTimestampSql("dateo")} AS date_of_observation,
        ${IpColumns.stampToTimestampSql("datev")} AS date_of_validity
      FROM cat"""),

    "f06_forecast_hour" -> W(
      "SELECT rid, deet, npas, " +
        "CAST(deet AS BIGINT) * CAST(npas AS BIGINT) AS forecast_hour " +
        "FROM cat"),

    "f07_datyp_str" -> W(
      s"SELECT rid, datyp, ${Decode.datypStrSql} AS data_type_str FROM cat"),

    "f08_ip_decode" -> W(
      s"""SELECT rid, ip1,
        $v1Sql AS level,
        $k1Sql AS ip1_kind,
        ${IpColumns.kindToStringSql(k1Sql)} AS ip1_pkind,
        $v2Sql AS ip2_dec,
        $k2Sql AS ip2_kind,
        ${IpColumns.kindToStringSql(k2Sql)} AS ip2_pkind,
        $v3Sql AS ip3_dec,
        $k3Sql AS ip3_kind,
        ${IpColumns.kindToStringSql(k3Sql)} AS ip3_pkind,
        ${IpColumns.isSurfaceSql(k1Sql, v1Sql)} AS surface,
        ${IpColumns.followsTopographySql(k1Sql)} AS follow_topography,
        ${IpColumns.ascendingSql(k1Sql)} AS ascending
      FROM cat"""),

    "f09_decoded_meta" -> W(
      s""", base AS (SELECT rid, nomvar,
        ${Decode.gridSql} AS grid,
        ${Decode.etiketSql.head._1} AS label,
        ${IpColumns.stampToTimestampSql("datev")} AS date_of_validity,
        CAST(deet AS BIGINT) * CAST(npas AS BIGINT) AS forecast_hour,
        ${Decode.datypStrSql} AS data_type_str,
        $v1Sql AS level,
        ${IpColumns.kindToStringSql(k1Sql)} AS ip1_pkind,
        ${IpColumns.isSurfaceSql(k1Sql, v1Sql)} AS surface
      FROM cat)
      SELECT base.rid, base.nomvar, base.grid, base.label,
        coalesce(sv.unit, 'scalar') AS unit,
        base.date_of_validity, base.forecast_hour, base.data_type_str,
        base.level, base.ip1_pkind, base.surface
      FROM base LEFT JOIN (VALUES $stdvarValuesSql)
        AS sv(nomvar, unit, description) ON base.nomvar = sv.nomvar"""),

    "f10_meta_exists" -> W(
      s"""SELECT ${Decode.gridSql} AS grid,
        bool_or(nomvar = '!!') AS toctoc,
        bool_or(nomvar = 'P0') AS p0,
        bool_or(nomvar = 'E1') AS e1,
        bool_or(nomvar = 'PT') AS pt,
        bool_or(nomvar = '!!SF') AS sf,
        bool_or(nomvar = 'HY') AS hy
      FROM cat GROUP BY 1"""),

    "f11_select_with_meta" -> W(
      Select.cleanupSql("nomvar IN ('TT', 'UU')")),

    "f12_metadata_cleanup" -> W(Select.cleanupSql("TRUE")),

    "f13_fststat" -> W(
      "SELECT rid, nomvar, " +
        Stats.fststatSql.map { case (e, a) => s"$e AS $a" }.mkString(", ") +
        " FROM cat"),

    "f14_voir" -> W(
      s"""SELECT nomvar, typvar, etiket, ni, nj, nk,
        ${IpColumns.stampToTimestampSql("dateo")} AS dateo,
        ip1, $v1Sql AS level, ip2, ip3, deet, npas,
        ${Decode.datypStrSql} AS datyp, nbits, grtyp, ig1, ig2, ig3, ig4
      FROM cat"""),

    "f15_dedup_identity" -> W(
      s"""SELECT DISTINCT ${graft.core.Constants.DedupColumns.mkString(", ")}
      FROM (SELECT * FROM cat UNION ALL SELECT * FROM cat)"""),

    "f16_ip_buckets" -> W(
      s"""SELECT ip1, kind FROM (
        SELECT DISTINCT ip1, ${IpColumns.decodeKindSql("ip1")} AS kind
        FROM cat) WHERE kind IN (1, 2, 5)"""),

    "f17_vctype" -> W(VCoord.vctypeSql +
      "\nSELECT grid, ip1_kind, vctype FROM vclass"),

    "f18_unit_convert" -> W(
      s""", u AS (SELECT c.*, coalesce(sv.unit, 'scalar') AS unit
    FROM cat c LEFT JOIN (VALUES $stdvarValuesSql)
      AS sv(nomvar, unit, description) ON c.nomvar = sv.nomvar
    WHERE c.nomvar NOT IN ${VCoord.VcMeta.map(s => s"'$s'")
        .mkString("(", ", ", ")")})
, j AS (SELECT u.*, fu.fu_name, fu.fu_expr, fu.fu_factor
    FROM u LEFT JOIN (VALUES ${UnitConvert.unitsValuesSql})
      AS fu(fu_name, fu_expr, fu_factor) ON u.unit = fu.fu_name)
, cv AS (SELECT *, (fu_name IS NOT NULL AND unit <> 'kelvin'
      AND unit <> 'scalar' AND fu_expr = 'K') AS conv FROM j)
, cv2 AS (SELECT rid, nomvar,
    CASE WHEN conv THEN 'kelvin' ELSE unit END AS unit,
    conv AS unit_converted,
    CASE WHEN conv THEN list_transform(d, x ->
      CAST(${UnitConvert.formulaSql("x", "kelvin", 1.0)} AS FLOAT))
      ELSE d END AS dd
    FROM cv)
SELECT rid, nomvar, unit, unit_converted,
  CAST(unnest(range(1, len(dd) + 1)) AS INT) AS pos,
  unnest(dd) AS value FROM cv2"""),

    "f42_unit_std" -> W(
      s""", ub AS (SELECT * FROM (VALUES ${UnitConvert.unitsFullValuesSql})
      AS u(un, ue, ubias, ufac))
, base AS (SELECT cat.*,
    CASE WHEN nomvar = 'TT' THEN 'kelvin'
      WHEN nomvar = 'GZ' THEN 'meter'
      WHEN nomvar = 'ES' THEN 'fahrenheit'
      WHEN nomvar = 'HU' THEN 'gram_per_kilogram'
      ELSE 'scalar' END AS unit0
    FROM cat WHERE nomvar NOT IN ${VCoord.VcMeta.map(s => s"'$s'")
        .mkString("(", ", ", ")")})
, j AS (SELECT base.*, fu.un AS fun, fu.ue AS fue, fu.ubias AS fub,
    fu.ufac AS fuf, tu.un AS tun, tu.ue AS tue, tu.ubias AS tub,
    tu.ufac AS tuf
  FROM base
  LEFT JOIN (VALUES $stdvarValuesSql)
    AS sv(sn, su, sd) ON base.nomvar = sv.sn
  LEFT JOIN ub fu ON base.unit0 = fu.un
  LEFT JOIN ub tu ON sv.su = tu.un)
, cv AS (SELECT *, (fun IS NOT NULL AND tun IS NOT NULL
    AND unit0 <> tun AND unit0 <> 'scalar' AND tun <> 'scalar'
    AND fue = tue) AS conv FROM j)
, cv2 AS (SELECT rid, nomvar,
    CASE WHEN conv THEN tun ELSE unit0 END AS unit,
    conv AS unit_converted,
    CASE WHEN conv THEN list_transform(d, x ->
      CAST(((CAST(x AS DOUBLE) + fub) * fuf / tuf - tub) AS FLOAT))
      ELSE d END AS dd
    FROM cv)
SELECT rid, nomvar, unit, unit_converted,
  CAST(unnest(range(1, len(dd) + 1)) AS INT) AS pos,
  unnest(dd) AS value FROM cv2"""),

    "f19_quick_pressure" -> quickPressureOracle(stdAtm = false),

    // M2-M5 standard-atmosphere mode: PXSA payloads from the
    // constant-pressure formulas (quick_pressure.py PXSA branch)
    "f46_quick_pressure_sa" -> quickPressureOracle(stdAtm = true),

    "f20_mask_roundtrip" -> W(
      s""", tt AS (SELECT rid, d FROM cat
    WHERE nomvar = 'TT' AND rid > 0)
, pairs AS (
  SELECT rid, 'P@' AS typvar,
    list_transform(range(1, len(d) + 1), i ->
      CASE WHEN (i - 1) % 2 = 1 THEN d[i] ELSE CAST(0 AS FLOAT) END)
      AS dd FROM tt
  UNION ALL
  SELECT rid, '@@' AS typvar,
    list_transform(range(1, len(d) + 1), i ->
      CAST((i - 1) % 2 AS FLOAT)) AS dd FROM tt)
SELECT rid, typvar, CAST(unnest(range(1, len(dd) + 1)) AS INT) AS pos,
  unnest(dd) AS value FROM pairs"""),

    "f21_csv_roundtrip" -> W(
      s"""SELECT CAST(rid AS INT) AS rid, nomvar, etiket,
        $v1Sql AS level, ni, nj,
        CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
        unnest(d) AS value
      FROM cat WHERE nomvar = 'TT' AND rid > 0"""),

    "f22_encode_roundtrip" -> W(
      """SELECT rid, ip1 AS ip1_reenc, dateo AS dateo_reenc,
        etiket AS etiket_rebuilt, datyp AS datyp_reenc,
        CASE WHEN length(typvar) = 2 THEN substring(typvar, 2, 1)
          ELSE '' END AS typvar2,
        npas AS npas_reenc
      FROM cat WHERE rid > 0"""),

    "f23_interval_decode" -> {
      val ip2l = (0 until 5).map(h => graft.core.IpCodec.encode(h * 6f, 10))
        .mkString("[", ", ", "]")
      val ip3l = (0 until 5).map(h =>
        graft.core.IpCodec.encode(math.max(h * 6 - 6, 0).toFloat, 10))
        .mkString("[", ", ", "]")
      val noInt = "('>>', '^^', '^>', '!!', 'HY', 'P0', 'PT')"
      val k2 = s"(CASE WHEN $RawSql THEN 100 WHEN ip2 >= 32768 " +
        s"THEN ${IpColumns.decodeKindSql("ip2")} ELSE 10 END)"
      val v2 = s"(CASE WHEN $RawSql THEN CAST(ip2 AS FLOAT) " +
        s"ELSE ${IpColumns.decodeValueSql("ip2")} END)"
      val timeInt = s"(nomvar NOT IN $noInt AND ip3 >= 32768 " +
        s"AND $k3Sql = $k2)"
      val heightInt = s"(nomvar NOT IN $noInt AND ip3 >= 32768 " +
        s"AND NOT ($k3Sql = $k2) AND $k3Sql = $k1Sql)"
      W(s""", cat2 AS (SELECT rid, nomvar, ip1,
        CAST(list_extract($ip2l, (ip2 // 6) + 1) AS INT) AS ip2,
        CAST(list_extract($ip3l, (ip2 // 6) + 1) AS INT) AS ip3
      FROM cat WHERE rid > 0)
SELECT rid, ip2, ip3,
  CASE WHEN $timeInt THEN $v3Sql ELSE $v2 END AS ip2_dec,
  $k2 AS ip2_kind, $v3Sql AS ip3_dec, $k3Sql AS ip3_kind,
  CASE WHEN $timeInt THEN $v3Sql
    WHEN $heightInt THEN $v1Sql END AS interval_low,
  CASE WHEN $timeInt THEN $v2
    WHEN $heightInt THEN $v3Sql END AS interval_high,
  CASE WHEN $timeInt THEN $k2
    WHEN $heightInt THEN $k1Sql END AS interval_kind
FROM cat2""")
    },

    "f24_shape_timezone" -> W(
      s"""SELECT rid, ni AS shape_ni, nj AS shape_nj,
        CAST((${IpColumns.stampToTimestampSql("datev")})
          AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'
          AS TIMESTAMP) AS date_of_validity_america_new_york
      FROM cat"""),

    "f25_query_with_meta" -> W(
      s""", g AS (SELECT rid, nomvar, ${Decode.gridSql} AS grid FROM cat)
, res AS (SELECT * FROM g WHERE nomvar = 'GZ')
, att AS (SELECT DISTINCT rid, nomvar, grid FROM g
    WHERE nomvar IN ${Select.CleanupMetaSqlList}
      AND (grid IN (SELECT grid FROM res) OR nomvar = 'HY'))
SELECT rid, nomvar, grid FROM res
UNION ALL SELECT rid, nomvar, grid FROM att"""),

    "f26_process_hy" -> W(
      s""", g AS (SELECT rid, nomvar, ig1, ${Decode.gridSql} AS grid
    FROM cat)
, d AS (SELECT * FROM g WHERE ig1 = 33793
    AND nomvar NOT IN ${Select.CleanupMetaSqlList})
SELECT rid, nomvar, grid FROM d
UNION ALL SELECT rid, nomvar, (SELECT min(grid) FROM d) AS grid
  FROM g WHERE nomvar = 'HY'"""),

    "f27_fst_roundtrip" -> W(
      """SELECT CAST(rid AS INT) AS rid, nomvar, typvar, etiket, ni, nj,
        dateo, datev, ip1, ip2, deet, npas, datyp, nbits, grtyp,
        ig1, ig2, ig3, ig4,
        CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
        unnest(d) AS value
      FROM cat WHERE nomvar = 'UU' AND rid > 0"""),

    "f28_fst_pushdown" -> W(
      """SELECT CAST(rid AS INT) AS rid, ip1, ip2, datyp
      FROM cat WHERE nomvar = 'UU' AND rid > 0 AND ip2 >= 12
        AND datyp = 1"""),

    "f29_cube_export" -> W(
      s""", g AS (SELECT *, ${Decode.gridSql} AS grid,
        $k1Sql AS ip1_kind, $v1Sql AS level FROM cat)
, dd AS (SELECT * FROM g WHERE nomvar NOT IN
    ${graft.ops.Cubes.CubeSkip.map(x => s"'$x'").mkString("(", ", ", ")")})
, picked AS (SELECT * FROM (SELECT *, row_number() OVER
    (PARTITION BY grid, nomvar, ip1_kind, level ORDER BY rid) AS rn
    FROM dd) t WHERE rn = 1)
SELECT grid, nomvar, ip1_kind,
  CAST(count(*) AS INT) AS n_levels,
  CAST(len(flatten(list(d ORDER BY level))) AS INT) AS cube_len,
  CASE WHEN ${IpColumns.ascendingSql("ip1_kind")} THEN min(level)
    ELSE max(level) END AS first_level,
  CASE WHEN ${IpColumns.ascendingSql("ip1_kind")} THEN max(level)
    ELSE min(level) END AS last_level,
  list_reduce(list_transform(
    CASE WHEN ${IpColumns.ascendingSql("ip1_kind")}
      THEN flatten(list(d ORDER BY level))
      ELSE flatten(list(d ORDER BY level DESC)) END,
    x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS cube_sum
FROM picked GROUP BY 1, 2, 3"""),

    "f49_cube_timeseries" -> W(
      s""", c2 AS (SELECT * REPLACE (datev + (abs(rid) // 5 % 4) * 100
      AS datev) FROM cat)
, g AS (SELECT *, ${Decode.gridSql} AS grid,
    $k1Sql AS ip1_kind, $v1Sql AS level FROM c2)
, dd AS (SELECT * FROM g WHERE nomvar NOT IN
    ${graft.ops.Cubes.CubeSkip.map(x => s"'$x'").mkString("(", ", ", ")")})
, picked AS (SELECT * FROM (SELECT *, row_number() OVER
    (PARTITION BY grid, nomvar, ip1_kind, level, datev ORDER BY rid)
    AS rn FROM dd) t WHERE rn = 1)
SELECT grid, nomvar, ip1_kind, level,
  CAST(count(*) AS INT) AS n_times,
  min(datev) AS t_first, max(datev) AS t_last,
  CAST(len(flatten(list(d ORDER BY datev))) AS INT) AS cube_len,
  list_reduce(list_transform(flatten(list(d ORDER BY datev)),
    x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS cube_sum
FROM picked GROUP BY 1, 2, 3, 4"""),

    "f44_cube_coords" -> W(
      s""", g AS (SELECT *, ${Decode.gridSql} AS grid,
        $k1Sql AS ip1_kind, $v1Sql AS level FROM cat)
, dd AS (SELECT * FROM g WHERE nomvar NOT IN
    ${graft.ops.Cubes.CubeSkip.map(x => s"'$x'").mkString("(", ", ", ")")})
, picked AS (SELECT * FROM (SELECT *, row_number() OVER
    (PARTITION BY grid, nomvar, ip1_kind, level ORDER BY rid) AS rn
    FROM dd) t WHERE rn = 1)
, cubes AS (SELECT grid, nomvar, ip1_kind,
    CAST(count(*) AS INT) AS n_levels FROM picked GROUP BY 1, 2, 3)
, lonx AS (SELECT grid, arg_min(d, rid) AS lon FROM g
    WHERE nomvar = '>>' GROUP BY grid)
, latx AS (SELECT grid, arg_min(d, rid) AS lat FROM g
    WHERE nomvar = '^^' GROUP BY grid)
SELECT c.grid, c.nomvar, c.ip1_kind, c.n_levels,
  coalesce(sv.unit, 'scalar') AS unit,
  coalesce(sv.description, '') AS description,
  CAST(len(l.lon) AS INT) AS lon_n, CAST(len(t.lat) AS INT) AS lat_n,
  l.lon[1] AS lon_first, l.lon[-1] AS lon_last,
  t.lat[1] AS lat_first, t.lat[-1] AS lat_last
FROM cubes c LEFT JOIN lonx l ON c.grid = l.grid
LEFT JOIN latx t ON c.grid = t.grid
LEFT JOIN (VALUES $stdvarValuesSql)
  AS sv(nomvar, unit, description) ON c.nomvar = sv.nomvar"""),

    "f30_latlon_2d" -> W(
      """, lon AS (SELECT CAST(ip1 AS VARCHAR) || CAST(ip2 AS VARCHAR)
      AS grid, d AS lon_ax, ni AS g_ni FROM cat WHERE nomvar = '>>')
, lat AS (SELECT CAST(ip1 AS VARCHAR) || CAST(ip2 AS VARCHAR)
      AS grid2, d AS lat_ax, nj AS g_nj FROM cat WHERE nomvar = '^^')
, r AS (
  SELECT grid, 'LA' AS nomvar, g_ni AS ni, g_nj AS nj,
    list_transform(range(0, g_ni * g_nj),
      k -> lat_ax[CAST(k // g_ni + 1 AS INT)]) AS d
  FROM lon JOIN lat ON grid = grid2
  UNION ALL
  SELECT grid, 'LO' AS nomvar, g_ni AS ni, g_nj AS nj,
    list_transform(range(0, g_ni * g_nj),
      k -> lon_ax[CAST(k % g_ni + 1 AS INT)]) AS d
  FROM lon JOIN lat ON grid = grid2)
SELECT grid, nomvar, ni, nj,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value FROM r"""),

    "f31_global_grid" -> {
      val rows = Seq(
        ("A", 10, 1.0, 0.0, 350.0), ("B", 10, 1.0, 0.0, 350.0),
        ("G", 10, 1.0, 0.0, 350.0), ("Z", 4, 1.0, 10.0, 40.0),
        ("Z", 4, 1.0, 10.0, 10.0), ("L", 360, 1.0, 0.0, 359.0),
        ("L", 361, 1.0, 0.0, 360.0), ("L", 520, 0.7, 0.0, 3.5),
        ("L", 520, 0.7, 0.0, 359.0), ("L", 100, 0.7, 0.0, 69.3))
        .map { case (t, n, dl, lf, ll) =>
          s"('$t', $n, $dl, $lf, $ll)"
        }.mkString(", ")
      val (g, r) = graft.ops.Grids.isGlobalGridSql("grtyp", "g_ni",
        "dlon", "lon_first", "lon_last")
      s"""SELECT grtyp, g_ni, dlon, lon_last,
        $g AS global_grid, $r AS repetition
      FROM (VALUES $rows)
        AS t(grtyp, g_ni, dlon, lon_first, lon_last)"""
    },

    "f32_grid_metadata_rescan" -> W(
      s"""SELECT nomvar, ${Decode.gridSql} AS grid, ni, nj, ip1, ip2
      FROM cat
      WHERE rid < 0
        AND nomvar IN ('^>', '>>', '^^', '!!', '!!SF', 'HY', 'P0',
          'PT', 'E1')
        AND ${Decode.gridSql} = '3379377761'"""),

    "f33_create_empty" ->
      """SELECT CAST(range AS BIGINT) AS rid, ' ' AS nomvar,
        'P' AS typvar, ' ' AS etiket, 1 AS ni, 1 AS nj, 1 AS nk,
        CAST(0 AS BIGINT) AS dateo, 0 AS ip1, 0 AS ip2, 0 AS ip3,
        0 AS deet, 0 AS npas, 133 AS datyp, 16 AS nbits,
        'G' AS grtyp, 0 AS ig1, 0 AS ig2, 0 AS ig3, 0 AS ig4,
        CAST(0 AS BIGINT) AS datev
      FROM range(7)""",

    "f34_df_from_grid" -> W(
      s""", g AS (SELECT *, ${Decode.gridSql} AS grid FROM cat)
, dims AS (SELECT grid, max(ni) AS ni, max(nj) AS nj FROM g
    WHERE nomvar NOT IN ${Select.CleanupMetaSqlList} GROUP BY grid)
, ax AS (SELECT grid, ip1 AS lig1, ip2 AS lig2, grtyp AS grref,
    ig1 AS ig1ref, ig2 AS ig2ref, ig3 AS ig3ref, ig4 AS ig4ref,
    d AS ax FROM g WHERE nomvar = '>>')
, ay AS (SELECT grid, d AS ay FROM g WHERE nomvar = '^^')
, params AS (SELECT * FROM dims JOIN ax USING (grid)
    JOIN ay USING (grid))
, recs AS (
  SELECT '>>' AS nomvar, ni, 1 AS nj, lig1 AS ip1, lig2 AS ip2,
    grref AS grtyp, ig1ref AS ig1, ig2ref AS ig2, ig3ref AS ig3,
    ig4ref AS ig4, ax AS d FROM params
  UNION ALL
  SELECT '^^', 1, nj, lig1, lig2, grref, ig1ref, ig2ref, ig3ref,
    ig4ref, ay FROM params)
SELECT nomvar, ni, nj, ip1, ip2, grtyp, ig1, ig2, ig3, ig4,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value FROM recs"""),

    "f35_df_from_vgrid" -> W(
      """SELECT nomvar, typvar, ni, nj, ip1, ip2, datyp,
        CAST(64 AS INT) AS nbits, grtyp, ig1,
        CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
        unnest(d) AS value
      FROM cat WHERE nomvar = '!!'"""),

    "f36_set_rewrite" -> W(
      s"""SELECT 'raw' AS which, * FROM (${graft.ops.Precision
        .setRewriteSql("cat")})
      UNION ALL
      SELECT 'deduped', * FROM (${graft.ops.Precision.setRewriteSql(
        s"(SELECT DISTINCT ${graft.ops.Precision.RewriteIdentity
          .mkString(", ")} FROM cat)")})"""),

    "f37_precision_max" -> W(
      s"""SELECT nomvar,
        max(${graft.ops.Precision.datypPrioritySql("datyp")})
          AS datyp_priority,
        max(nbits) AS max_nbits
      FROM cat GROUP BY nomvar"""),

    "f38_field_dtype" -> W(
      s"""SELECT DISTINCT datyp, nbits,
        ${graft.ops.Precision.fieldDtypeSql("datyp", "nbits")} AS dtype
      FROM cat"""),

    "f43_stream_agg" -> W(
      """SELECT nomvar, CAST(count(*) AS BIGINT) AS n_records,
        CAST(sum(ip2) AS BIGINT) AS sum_ip2,
        CAST(round(sum(CAST(list_reduce(list_transform(d,
          x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS DECIMAL(18,6))),
          3) AS DOUBLE) AS payload_sum
      FROM cat WHERE rid > 0 AND nomvar IN ('TT', 'UU', 'VV')
      GROUP BY nomvar"""),

    "f47_partitioned_roundtrip" -> W(
      """SELECT nomvar, CAST(count(*) AS BIGINT) AS n_records,
        CAST(sum(rid) AS BIGINT) AS sum_ip3,
        CAST(round(sum(CAST(list_reduce(list_transform(d,
          x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS DECIMAL(18,6))),
          3) AS DOUBLE) AS payload_sum
      FROM cat WHERE rid > 0 AND nomvar IN ('TT', 'GZ')
      GROUP BY nomvar"""),

    // native-expression decode must match the SQL decode rules; the
    // encode round-trip must reproduce the stored (new-style) ip1
    "f50_native_functions" -> W(
      s"""SELECT rid, ip1,
  ${IpColumns.decodeValueSql("ip1")} AS level,
  ${IpColumns.decodeKindSql("ip1")} AS kind,
  ip1 AS ip1_rt
FROM cat WHERE rid > 0"""),

    "f48_catalog_diff" -> W(
      """, a AS (SELECT rid, d FROM cat WHERE rid > 0)
, b0 AS (SELECT rid, CASE WHEN rid % 7 = 0 THEN
    list_transform(range(1, len(d) + 1), i -> CASE WHEN i = 3
      THEN CAST(d[CAST(i AS INT)] + 0.5 AS FLOAT)
      ELSE d[CAST(i AS INT)] END)
    ELSE d END AS d
  FROM a WHERE rid % 11 <> 0)
, b AS (SELECT * FROM b0 UNION ALL
    SELECT rid + 1000000 AS rid, d FROM a WHERE rid % 13 = 0)
, j AS (SELECT coalesce(a.rid, b.rid) AS rid, a.d AS d_a, b.d AS d_b
  FROM a FULL OUTER JOIN b ON a.rid = b.rid)
, st AS (SELECT rid, d_a, d_b,
    (d_a IS NOT NULL AND d_b IS NOT NULL
      AND len(d_a) = len(d_b)) AS in_both,
    (d_a IS NOT NULL AND d_b IS NOT NULL) AS present_both,
    list_transform(range(1, len(d_a) + 1), i ->
      abs(CAST(d_a[CAST(i AS INT)] AS DOUBLE) -
          CAST(d_b[CAST(i AS INT)] AS DOUBLE))) AS adiff,
    list_transform(range(1, len(d_a) + 1), i ->
      CAST(d_a[CAST(i AS INT)] AS DOUBLE) -
      CAST(d_b[CAST(i AS INT)] AS DOUBLE)) AS sdiff
  FROM j)
SELECT rid,
  CASE WHEN in_both THEN 'both'
    WHEN present_both THEN 'shape_mismatch'
    WHEN d_a IS NOT NULL THEN 'only_a'
    ELSE 'only_b' END AS status,
  CASE WHEN in_both THEN CAST(len(d_a) AS INT) END AS n_elems,
  CASE WHEN in_both THEN
    CAST(len(list_filter(adiff, x -> x > 1e-9)) AS INT) END AS n_diff,
  CASE WHEN in_both THEN round(list_max(adiff), 6) END AS max_abs_diff,
  CASE WHEN in_both THEN round(list_reduce(adiff, (x, y) -> x + y)
    / CAST(len(d_a) AS DOUBLE), 6) END AS mean_abs_diff,
  CASE WHEN in_both THEN round(list_reduce(sdiff, (x, y) -> x + y)
    / CAST(len(d_a) AS DOUBLE), 6) END AS bias
FROM st"""),

    // the staged stream holds every record twice; the collapsed set
    // must equal the plain (undoubled) base per-nomvar digest
    "f45_stream_dedup" -> W(
      """SELECT nomvar, CAST(count(*) AS BIGINT) AS n_records,
        CAST(sum(rid) AS BIGINT) AS sum_ip3
      FROM cat WHERE rid > 0 AND nomvar IN ('GZ', 'HU')
      GROUP BY nomvar"""),

    "f39_fst_update" -> W(
      """SELECT CAST(rid AS INT) AS rid, nomvar, 'UPDATED' AS etiket,
        ip1, ip2 + 100 AS ip2, dateo, datev,
        list_reduce(list_transform(d, x -> CAST(x AS DOUBLE)),
          (a, x) -> a + x) AS payload_sum
      FROM cat WHERE nomvar = 'GZ' AND rid > 0"""),

    // the chosen datyps/nbits round-trip bit-exactly: IEEE 32/64
    // verbatim, packed ints are small naturals, and the packed-float
    // grid (power-of-two step) lands every half-integer offset of the
    // synthetic payloads exactly
    "f51_xdf_roundtrip" -> W(
      """, x AS (SELECT rid, nomvar, etiket, ip1, ip2, dateo, datev,
        CAST(list_extract([5, 1, 2, 5],
          CAST((rid // 6) % 4 AS INT) + 1) AS INT) AS datyp,
        CAST(list_extract([32, 12, 16, 64],
          CAST((rid // 6) % 4 AS INT) + 1) AS INT) AS nbits, d
      FROM cat WHERE nomvar = 'VV' AND rid > 0)
SELECT CAST(rid AS INT) AS rid, nomvar, etiket, ip1, ip2, datyp,
  nbits, dateo, datev,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  CASE WHEN datyp = 2 THEN CAST(floor(unnest(d)) AS FLOAT)
    ELSE unnest(d) END AS value,
  CASE WHEN datyp = 2 THEN floor(CAST(unnest(d) AS DOUBLE))
    ELSE CAST(unnest(d) AS DOUBLE) END AS value64
FROM x"""),

    // SQL twin of igEncode/igDecode over the same literal params
    "f58_ig_roundtrip" -> W(
      """, p(grid, grtyp, lat0, lon0, dlat, dlon, pi, pj, d60, dgrw,
     lat1, lon1, lat2, lon2) AS (VALUES
  ('L1', 'L', -30.0, 300.0, 0.5, 0.25, 0.0, 0.0, 0.0, 0.0,
   0.0, 0.0, 0.0, 0.0),
  ('E1', 'E', 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
   35.0, 250.0, 0.0, 340.0),
  ('N1', 'N', 0.0, 0.0, 0.0, 0.0, 3.0, 2.0, 25000.0, 10.0,
   0.0, 0.0, 0.0, 0.0),
  ('S1', 'S', 0.0, 0.0, 0.0, 0.0, 5.5, 4.25, 17500.0, 350.0,
   0.0, 0.0, 0.0, 0.0),
  ('G1', 'G', 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
   0.0, 0.0, 0.0, 0.0)),
e AS (SELECT grid, grtyp,
  CAST(CASE WHEN grtyp = 'L' THEN round((lat0 + 90) * 100)
    WHEN grtyp = 'E' THEN round((lat1 + 90) * 100)
    WHEN grtyp IN ('N', 'S') THEN round(pi * 100)
    ELSE 0 END AS INT) AS ig1,
  CAST(CASE WHEN grtyp = 'L' THEN round(lon0 * 100)
    WHEN grtyp = 'E' THEN round(lon1 * 100)
    WHEN grtyp IN ('N', 'S') THEN round(pj * 100)
    ELSE 0 END AS INT) AS ig2,
  CAST(CASE WHEN grtyp = 'L' THEN round(dlat * 1000)
    WHEN grtyp = 'E' THEN round((lat2 + 90) * 100)
    WHEN grtyp IN ('N', 'S') THEN round(d60 / 10)
    ELSE 0 END AS INT) AS ig3,
  CAST(CASE WHEN grtyp = 'L' THEN round(dlon * 1000)
    WHEN grtyp = 'E' THEN round(lon2 * 100)
    WHEN grtyp IN ('N', 'S') THEN round(dgrw * 100)
    ELSE 0 END AS INT) AS ig4
  FROM p)
SELECT grid, grtyp, ig1, ig2, ig3, ig4,
  CASE WHEN grtyp = 'L' THEN CAST(ig1 AS DOUBLE) / 100 - 90
    ELSE 0.0 END AS lat0,
  CASE WHEN grtyp = 'L' THEN CAST(ig2 AS DOUBLE) / 100
    ELSE 0.0 END AS lon0,
  CASE WHEN grtyp = 'L' THEN CAST(ig3 AS DOUBLE) / 1000
    ELSE 0.0 END AS dlat,
  CASE WHEN grtyp = 'L' THEN CAST(ig4 AS DOUBLE) / 1000
    ELSE 0.0 END AS dlon,
  CASE WHEN grtyp IN ('N', 'S') THEN CAST(ig1 AS DOUBLE) / 100
    ELSE 0.0 END AS pi,
  CASE WHEN grtyp IN ('N', 'S') THEN CAST(ig2 AS DOUBLE) / 100
    ELSE 0.0 END AS pj,
  CASE WHEN grtyp IN ('N', 'S') THEN CAST(ig3 AS DOUBLE) * 10
    ELSE 0.0 END AS d60,
  CASE WHEN grtyp IN ('N', 'S') THEN CAST(ig4 AS DOUBLE) / 100
    ELSE 0.0 END AS dgrw,
  CASE WHEN grtyp = 'E' THEN CAST(ig1 AS DOUBLE) / 100 - 90
    ELSE 0.0 END AS lat1,
  CASE WHEN grtyp = 'E' THEN CAST(ig2 AS DOUBLE) / 100
    ELSE 0.0 END AS lon1,
  CASE WHEN grtyp = 'E' THEN CAST(ig3 AS DOUBLE) / 100 - 90
    ELSE 0.0 END AS lat2,
  CASE WHEN grtyp = 'E' THEN CAST(ig4 AS DOUBLE) / 100
    ELSE 0.0 END AS lon2
FROM e"""),

    // expected flat fields computed by hand from the two subgrids'
    // axes: LA repeats each lat nj-row ni times, LO repeats the lon
    // axis per row; sub2 follows sub1 (concat along nj)
    "f57_latlon_u" -> W(
      """, f(nomvar, vals) AS (VALUES
  ('LA', [-45,-45,-45,-45, 0,0,0,0, 45,45,45,45,
          -30,-30,-30,-30, 0,0,0,0, 30,30,30,30]),
  ('LO', [0,90,180,270, 0,90,180,270, 0,90,180,270,
          45,135,225,315, 45,135,225,315, 45,135,225,315]))
SELECT 'u1' AS grid, nomvar, CAST(4 AS INT) AS ni, CAST(6 AS INT) AS nj,
  CAST(unnest(range(1, len(vals) + 1)) AS INT) AS pos,
  CAST(unnest(vals) AS FLOAT) AS value
FROM f"""),

    // tile windows indexed straight off the parent axes: LA at flat
    // k is lat_ax[j0 + k div ni], LO is lon_ax[i0 + k mod ni]
    // (1-based axes, 0-based k) — identical arithmetic to the
    // slice-then-outer-product the Spark side performs
    "f59_latlon_tile" ->
      """WITH ax(lon_ax, lat_ax) AS (VALUES (
    [10.0,11,12,13,14,15,16,17], [40.0,41,42,43,44,45])),
t(i0, j0, ni, nj) AS (VALUES (1,1,4,3), (5,4,4,3)),
recs AS (
  SELECT 'gT' AS grid, 'LA' AS nomvar, i0, j0, ni, nj,
    list_transform(range(0, ni*nj), k ->
      CAST(lat_ax[j0 + (k // ni)] AS FLOAT)) AS d FROM t, ax
  UNION ALL
  SELECT 'gT', 'LO', i0, j0, ni, nj,
    list_transform(range(0, ni*nj), k ->
      CAST(lon_ax[i0 + (k % ni)] AS FLOAT)) FROM t, ax)
SELECT grid, nomvar, CAST(i0 AS INT) AS i0, CAST(j0 AS INT) AS j0,
  CAST(ni AS INT) AS ni, CAST(nj AS INT) AS nj,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value FROM recs""",

    // round-trip identity for every compressed datyp (the UU branch
    // mirrors the floor() staging the Spark side applies for the
    // integer-domain datyp 130)
    "f60_turbopack_roundtrip" -> W(
      """, src AS (SELECT rid, nomvar,
    CASE nomvar WHEN 'TT' THEN 129 WHEN 'UU' THEN 130
      WHEN 'VV' THEN 133 ELSE 134 END AS datyp,
    CASE WHEN nomvar = 'VV' THEN 32 ELSE 16 END AS nbits,
    CASE WHEN nomvar = 'UU'
      THEN list_transform(d, x -> CAST(floor(x) AS FLOAT))
      ELSE d END AS d
  FROM cat WHERE nomvar IN ('TT', 'UU', 'VV', 'GZ') AND rid > 0)
SELECT CAST(rid AS INT) AS rid, nomvar,
  CAST(datyp AS INT) AS datyp, CAST(nbits AS INT) AS nbits,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value
FROM src"""),

    // exactness argument: payloads are half-integers <= 55.5, so the
    // per-record reference-exponent step at 16 tokens is a power of
    // two <= 2^-9 and every value sits on the quantization grid
    "f56_xdf_packed_float" -> W(
      """SELECT CAST(rid AS INT) AS rid, nomvar,
  CAST(6 AS INT) AS datyp, CAST(16 AS INT) AS nbits,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value,
  CAST(unnest(d) AS DOUBLE) AS value64
FROM cat WHERE nomvar = 'UU' AND rid > 0"""),

    "f52_xdf_update" -> W(
      """SELECT CAST(rid AS INT) AS rid, nomvar, 'XUPDATED' AS etiket,
        ip1, ip2 + 100 AS ip2, dateo, datev,
        list_reduce(list_transform(d, x -> CAST(x AS DOUBLE)),
          (a, x) -> a + x) AS payload_sum
      FROM cat WHERE nomvar = 'ES' AND rid > 0"""),

    "f55_ip_from_pkind" -> W(
      s"""SELECT rid, ip1,
        ${IpColumns.kindToStringSql(k1Sql)} AS ip1_pkind,
        ip1 AS ip1_reenc
      FROM cat WHERE rid > 0"""),

    "f54_lookup_dictionary" -> W(
      s""", sv AS (SELECT * FROM (VALUES $stdvarValuesSql)
    AS s(nomvar, unit, description))
, lt AS (SELECT * FROM (VALUES $levelTypeValuesSql)
    AS l(level_label, kind, lt_follow_topography))
, b AS (SELECT rid,
    list_extract(['1A', '2Z', 'AL', 'NT', 'O3', 'ZP'],
      CAST(rid % 6 AS INT) + 1) AS nomvar,
    $k1Sql AS ip1_kind
  FROM cat WHERE rid > 0)
SELECT b.rid, b.nomvar,
  coalesce(sv.unit, 'scalar') AS unit,
  coalesce(sv.description, '') AS description,
  lt.level_label, lt.lt_follow_topography,
  ${Lookups.getConstantByName("'AEw1'").get} AS aew1,
  ${Lookups.getUnitByName("dobson")._5} AS dobson_factor
FROM b LEFT JOIN sv USING (nomvar)
LEFT JOIN lt ON b.ip1_kind = lt.kind"""),

    // op-for-op double mirror of Grids.latLonGeo; the Gaussian Newton
    // x Legendre iteration is flattened into one recursive CTE
    "f53_latlon_geo" ->
      """WITH RECURSIVE params AS (SELECT * FROM (VALUES
    ('gN', 'N', 5, 4, 3.0, 2.0, 25000.0, 10.0, 0.0, 0.0, 0.0, 0.0),
    ('gS', 'S', 5, 4, 3.0, 2.0, 25000.0, 350.0, 0.0, 0.0, 0.0, 0.0),
    ('gE', 'E', 8, 4, 0.0, 0.0, 0.0, 0.0, 35.0, 250.0, 0.0, 340.0),
    ('gE2', 'E', 6, 5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 90.0),
    ('gG', 'G', 8, 6, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    AS p(grid, grtyp, ni, nj, pi_, pj_, d60, dgrw,
         lat1, lon1, lat2, lon2)),
gseed0 AS (SELECT grid, nj,
    CAST(unnest(range(1, nj + 1)) AS INT) AS i
  FROM params WHERE grtyp = 'G'),
gseed AS (SELECT grid, nj, i,
    cos(pi() * (CAST(i AS DOUBLE) - 0.25)
      / (CAST(nj AS DOUBLE) + 0.5)) AS x
  FROM gseed0),
it(grid, nj, i, itn, k, x, p1, p0) AS (
  -- p0's anchor must be DOUBLE: a bare 1.0 would type the recursive
  -- column DECIMAL(2,1) and truncate every carried P_{k-1}
  SELECT grid, nj, i, 1, 1, x, x, CAST(1.0 AS DOUBLE) FROM gseed
  UNION ALL
  SELECT grid, nj, i,
    CASE WHEN k = nj THEN itn + 1 ELSE itn END,
    CASE WHEN k = nj THEN 1 ELSE k + 1 END,
    CASE WHEN k = nj THEN x - p1 * (x * x - 1.0)
        / (CAST(nj AS DOUBLE) * (x * p1 - p0)) ELSE x END,
    CASE WHEN k = nj THEN x - p1 * (x * x - 1.0)
        / (CAST(nj AS DOUBLE) * (x * p1 - p0))
      ELSE ((2.0 * (k + 1) - 1.0) * x * p1 - CAST(k AS DOUBLE) * p0)
        / (k + 1) END,
    CASE WHEN k = nj THEN CAST(1.0 AS DOUBLE) ELSE p1 END
  FROM it WHERE NOT (k = nj AND itn = 8)),
groots AS (SELECT grid, i,
    x - p1 * (x * x - 1.0)
      / (CAST(nj AS DOUBLE) * (x * p1 - p0)) AS root
  FROM it WHERE k = nj AND itn = 8),
basis AS (SELECT *,
    cos(radians(lat1)) * cos(radians(lon1)) AS ax,
    cos(radians(lat1)) * sin(radians(lon1)) AS ay,
    sin(radians(lat1)) AS az,
    cos(radians(lat2)) * cos(radians(lon2)) AS bx,
    cos(radians(lat2)) * sin(radians(lon2)) AS by,
    sin(radians(lat2)) AS bz
  FROM params),
basis2 AS (SELECT *,
    ay * bz - az * by AS ux, az * bx - ax * bz AS uy,
    ax * by - ay * bx AS uz FROM basis),
basis3 AS (SELECT *,
    CASE WHEN grtyp = 'E'
      THEN sqrt(ux * ux + uy * uy + uz * uz) ELSE 1.0 END AS un
  FROM basis2),
basis4 AS (SELECT *, ux / un AS cx, uy / un AS cy, uz / un AS cz
  FROM basis3),
basis5 AS (SELECT *,
    cy * az - cz * ay AS mx, cz * ax - cx * az AS my,
    cx * ay - cy * ax AS mz FROM basis4),
pts0 AS (SELECT b.*, CAST(unnest(range(0, ni * nj)) AS INT) AS k
  FROM basis5 b),
pts AS (SELECT *,
    CAST(k % ni AS DOUBLE) + 1.0 AS i1,
    floor(CAST(k AS DOUBLE) / ni) + 1.0 AS j1
  FROM pts0),
geo AS (SELECT *,
    (i1 - pi_) * (i1 - pi_) + (j1 - pj_) * (j1 - pj_) AS r2,
    ((1.8660254037844386e0 * 6.371e6) / d60)
      * ((1.8660254037844386e0 * 6.371e6) / d60) AS re2,
    degrees(atan2(j1 - pj_, i1 - pi_)) AS theta,
    radians(-90.0 + (j1 - 0.5) * (180.0 / nj)) AS rphi,
    radians((i1 - 1.0) * (360.0 / ni)) AS rlam
  FROM pts),
geo2 AS (SELECT *,
    cos(rphi) * cos(rlam) AS rux, cos(rphi) * sin(rlam) AS ruy,
    sin(rphi) AS ruz FROM geo),
geo3 AS (SELECT *,
    ax * rux + mx * ruy + cx * ruz AS tx,
    ay * rux + my * ruy + cy * ruz AS ty,
    az * rux + mz * ruy + cz * ruz AS tz,
    degrees(asin((re2 - r2) / (re2 + r2))) AS pslat
  FROM geo2),
vals AS (SELECT g.grid, g.ni, g.nj, g.k,
    CASE g.grtyp
      WHEN 'N' THEN pslat
      WHEN 'S' THEN -pslat
      WHEN 'E' THEN degrees(asin(tz))
      WHEN 'G' THEN -degrees(asin(
        (SELECT root FROM groots r
          WHERE r.grid = g.grid AND r.i = CAST(g.j1 AS INT))))
    END AS la,
    CASE g.grtyp
      WHEN 'N' THEN fmod(fmod(theta + dgrw, 360.0) + 360.0, 360.0)
      WHEN 'S' THEN fmod(fmod(dgrw - theta, 360.0) + 360.0, 360.0)
      WHEN 'E' THEN fmod(fmod(degrees(atan2(ty, tx)), 360.0)
        + 360.0, 360.0)
      WHEN 'G' THEN CAST(g.k % g.ni AS DOUBLE) * 360.0 / g.ni
    END AS lo
  FROM geo3 g)
SELECT grid, 'LA' AS nomvar, ni, nj, k + 1 AS pos,
  CAST(round(la, 6) AS FLOAT) AS value FROM vals
UNION ALL
SELECT grid, 'LO', ni, nj, k + 1,
  CAST(round(lo, 6) AS FLOAT) FROM vals""",

    "f40_latlon_regular" ->
      """WITH params AS (SELECT * FROM (VALUES
    ('gA', 'A', 8, 4, 0.0, 0.0, 0.0, 0.0),
    ('gB', 'B', 9, 5, 0.0, 0.0, 0.0, 0.0),
    ('gL', 'L', 6, 3, 10.0, 240.0, 0.5, 0.5))
    AS p(grid, grtyp, ni, nj, lat0, lon0, dlat, dlon)),
g AS (SELECT *,
    CASE WHEN grtyp = 'A' THEN 180.0 / nj
      WHEN grtyp = 'B' THEN 180.0 / (nj - 1) ELSE dlat END AS rdlat,
    CASE WHEN grtyp = 'A' THEN 360.0 / ni
      WHEN grtyp = 'B' THEN 360.0 / (ni - 1) ELSE dlon END AS rdlon,
    CASE WHEN grtyp = 'A' THEN -90.0 + 90.0 / nj
      WHEN grtyp = 'B' THEN -90.0 ELSE lat0 END AS rlat0,
    CASE WHEN grtyp IN ('A', 'B') THEN 0.0 ELSE lon0 END AS rlon0
  FROM params),
recs AS (
  SELECT grid, 'LA' AS nomvar, ni, nj,
    list_transform(range(0, ni * nj), k ->
      CAST(rlat0 + (k // ni) * rdlat AS FLOAT)) AS d FROM g
  UNION ALL
  SELECT grid, 'LO', ni, nj,
    list_transform(range(0, ni * nj), k ->
      CAST(rlon0 + (k % ni) * rdlon AS FLOAT)) AS d FROM g)
SELECT grid, nomvar, ni, nj,
  CAST(unnest(range(1, len(d) + 1)) AS INT) AS pos,
  unnest(d) AS value FROM recs""",

    "f41_readme_walkthrough" -> W(
      s"""${Select.cleanupCtesSql("nomvar IN ('TT', 'UU')")}
, sel AS (SELECT g.* FROM g WHERE ${Select.keptPredicateSql})
SELECT rid, nomvar, grid, ni, nj,
  ${Stats.fststatSql.map { case (e, a) => s"$e AS $a" }.mkString(",\n  ")}
FROM sel"""))
}

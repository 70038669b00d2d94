package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.IpCodec
import graft.meta.Lookups

/** Vertical-coordinate classification (M8, set_vertical_coordinate_type,
  * /root/reference/fstpy/std_vgrid.py:574-646) and QuickPressure
  * (M2-M5, /root/reference/fstpy/quick_pressure.py:18-83 + pressure
  * formulas /root/reference/fstpy/std_vgrid.py:328-512).
  *
  * Scale shape: like the reference, both operators decide from a few
  * descriptor rows, on the driver. When called they collect the
  * metadata of the `VcMeta` records (QuickPressure with the `!!` tables
  * and HY's first element, and in the same collect the data side's
  * per-(grid, ip1_kind, datev, ip1) groups, each with its min-rid
  * metadata). Plain Scala then classifies the grids and picks the PX
  * levels. The returned plans carry those results as rows of a small
  * local frame, never as literals, so their shape and generated code do
  * not depend on the records, and nothing is persisted. Classification
  * is one projection of the input with one broadcast join; QuickPressure
  * meets its PX rows with the lowest-rid P0/PT payload per (grid,
  * datev) in one aggregation and runs the payload math in Spark. The
  * input must be a deterministic batch frame: the plans read it again
  * when evaluated (DESIGN.md "QuickPressure on the driver").
  */
object VCoord {

  val VcMeta: Seq[String] =
    Seq("^^", ">>", "^>", "!!", "!!SF", "HY", "P0", "PT")

  private def ip1KindCol: Column =
    when(col("nomvar").isin(graft.core.Constants.RawIpNomvars: _*), lit(100))
      .otherwise(IpColumns.decodeKind(col("ip1")))

  /** The input with `grid` and `ip1_kind`, each kept when present. */
  private def enrich(df: DataFrame): DataFrame = {
    val g = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    if (g.columns.contains("ip1_kind")) g
    else g.withColumn("ip1_kind", ip1KindCol)
  }

  /** What the VCTYPES rules read of one grid's meta records: the nomvars
    * present and, when it has `!!` records, their sorted distinct
    * non-null vcodes (ig1).
    */
  private final case class GridMeta(nomvars: Set[String],
                                    vcodes: Option[Seq[Int]])

  private val NoMeta = GridMeta(Set.empty, None)

  /** Per-grid summaries of collected meta rows (their grid, nomvar and
    * ig1). A null grid matches no data record (an equi-join key), so it
    * is left out.
    */
  private def gridMeta(rows: Seq[Row]): Map[Any, GridMeta] =
    rows.filter(_.getAs[Any]("grid") != null).groupBy(_.getAs[Any]("grid"))
      .map { case (grid, rs) =>
        val tt = rs.filter(_.getAs[String]("nomvar") == "!!")
        grid -> GridMeta(rs.map(_.getAs[String]("nomvar")).toSet,
          if (tt.isEmpty) None
          else Some(tt.flatMap(r => Option(r.getAs[Any]("ig1")))
            .map(_.asInstanceOf[Number].intValue).distinct.sorted))
      }

  /** The rule for a data level of kind `kind` on a grid: the grid's
    * flags and vcode against the 26-row rules table. The vcode is the
    * grid's only `!!` vcode, or, among several, the first whose
    * thousands digit is the level's kind (-1 when none is); a grid
    * without `!!` reads -1. A grid whose `!!` records have no vcode has
    * none and stays UNKNOWN. No rule matches: UNKNOWN.
    */
  private def vctypeOf(m: GridMeta, kind: Int): String = {
    val vcodes = m.vcodes.getOrElse(Seq(-1))
    val vcode =
      if (vcodes.size > 1)
        vcodes.find(v => math.floor(v / 1000.0).toInt == kind).orElse(Some(-1))
      else vcodes.headOption
    def has(nomvar: String) = m.nomvars(nomvar)
    Lookups.VcTypes.collectFirst {
      case (k, tt, p0, e1, pt, hy, sf, code, vctype) if k == kind &&
        tt == has("!!") && p0 == has("P0") && e1 == has("E1") &&
        pt == has("PT") && hy == has("HY") && sf == has("!!SF") &&
        vcode.contains(code) => vctype
    }.getOrElse("UNKNOWN")
  }

  private val RuleKinds: Seq[Int] = Lookups.VcTypes.map(_._1).distinct

  /** vctype of a data level on a grid without meta records. It depends
    * on the kind alone, so it is a fixed expression of the rules table.
    */
  private def noMetaVctype(kind: Column): Column =
    RuleKinds.map(k => k -> vctypeOf(NoMeta, k)).filter(_._2 != "UNKNOWN")
      .foldLeft(lit("UNKNOWN")) { case (acc, (k, v)) =>
        when(kind === k, lit(v)).otherwise(acc)
      }

  /** M8: classify each (grid, ip1_kind) data group into a vctype via
    * per-grid meta existence flags + the VCTYPES rules table; meta rows
    * are tagged UNKNOWN. Collects the meta records' (grid, nomvar, ig1)
    * when called.
    */
  def setVerticalCoordinateType(df: DataFrame): DataFrame = {
    graft.core.Checks.requireColumns(df, "set_vertical_coordinate_type",
      "nomvar", "ip1", "ip2", "ig1", "ig2")
    require(!df.isStreaming, "set_vertical_coordinate_type collects the " +
      "meta records and needs a batch frame")
    val g = enrich(df)
    // NaN-repair path (std_vgrid.py:638-646): a vctype already present
    // is kept; the other rows are classified from the meta records that
    // have none
    val preset = g.columns.contains("vctype")
    val unset = if (preset) col("vctype").isNull else lit(true)
    val isMeta = col("nomvar").isin(VcMeta: _*)
    val grids = gridMeta(g.filter(isMeta && unset)
      .select("grid", "nomvar", "ig1").collect().toSeq)
    val table = g.sparkSession.createDataFrame(
      (for ((grid, m) <- grids.toSeq; k <- RuleKinds)
        yield Row(grid, k, vctypeOf(m, k))).asJava,
      StructType(Seq(StructField("vg_grid", g.schema("grid").dataType),
        StructField("vg_kind", IntegerType),
        StructField("vg_vctype", StringType))))
    val classified = when(isMeta || col("grid").isNull, lit("UNKNOWN"))
      .otherwise(coalesce(col("vg_vctype"), noMetaVctype(col("ip1_kind"))))
    g.join(broadcast(table),
        col("grid") === col("vg_grid") && col("ip1_kind") === col("vg_kind"),
        "left")
      .select(g.columns.toSeq.filter(_ != "vctype").map(col) :+
        (if (preset) coalesce(col("vctype"), classified) else classified)
          .as("vctype"): _*)
  }

  /** DuckDB twin: (grid, ip1_kind, vctype) classification rows for the
    * data side. Expects the `cat` CTE in scope.
    */
  def vctypeSql: String = {
    val vcMetaList = VcMeta.map(s => s"'$s'").mkString("(", ", ", ")")
    val rules = Lookups.VcTypes.map { t =>
      s"(${t._1}, ${t._2}, ${t._3}, ${t._4}, ${t._5}, ${t._6}, ${t._7}, " +
        s"${t._8}, '${t._9}')"
    }.mkString(", ")
    val k = IpColumns.decodeKindSql("ip1")
    s""", g AS (SELECT *, ${Decode.gridSql} AS grid,
    CASE WHEN nomvar IN ('>>', '^^', '^>', '!!') THEN 100 ELSE $k END
      AS ip1_kind FROM cat)
, vmeta AS (SELECT * FROM g WHERE nomvar IN $vcMetaList)
, vdata AS (SELECT * FROM g WHERE nomvar NOT IN $vcMetaList)
, vflags AS (SELECT grid, bool_or(nomvar = '!!') AS f_toctoc,
    bool_or(nomvar = 'P0') AS f_p0, bool_or(nomvar = 'E1') AS f_e1,
    bool_or(nomvar = 'PT') AS f_pt, bool_or(nomvar = 'HY') AS f_hy,
    bool_or(nomvar = '!!SF') AS f_sf FROM vmeta GROUP BY grid)
, vvcodes AS (SELECT grid, list_sort(list(DISTINCT ig1)) AS vcodes
    FROM vmeta WHERE nomvar = '!!' GROUP BY grid)
, vgk AS (SELECT d.grid, d.ip1_kind,
    coalesce(f.f_toctoc, FALSE) AS f_toctoc,
    coalesce(f.f_p0, FALSE) AS f_p0, coalesce(f.f_e1, FALSE) AS f_e1,
    coalesce(f.f_pt, FALSE) AS f_pt, coalesce(f.f_hy, FALSE) AS f_hy,
    coalesce(f.f_sf, FALSE) AS f_sf,
    coalesce(v.vcodes, [-1]) AS vcodes
  FROM (SELECT DISTINCT grid, ip1_kind FROM vdata) d
  LEFT JOIN vflags f ON d.grid = f.grid
  LEFT JOIN vvcodes v ON d.grid = v.grid)
, vgk2 AS (SELECT *, CASE WHEN len(vcodes) > 1 THEN
      coalesce(list_extract(list_filter(vcodes,
        x -> CAST(floor(x / 1000) AS INT) = ip1_kind), 1), -1)
      ELSE vcodes[1] END AS this_vcode FROM vgk)
, vclass AS (SELECT vgk2.grid, vgk2.ip1_kind,
    coalesce(r.vctype, 'UNKNOWN') AS vctype
  FROM vgk2 LEFT JOIN (VALUES $rules)
    AS r(ip1_kind, toctoc, P0, E1, PT, HY, SF, vcode, vctype)
    ON vgk2.ip1_kind = r.ip1_kind AND vgk2.f_toctoc = r.toctoc
    AND vgk2.f_p0 = r.P0 AND vgk2.f_e1 = r.E1 AND vgk2.f_pt = r.PT
    AND vgk2.f_hy = r.HY AND vgk2.f_sf = r.SF
    AND vgk2.this_vcode = r.vcode)"""
  }

  val StandardAtmosphere = 1013.25

  private val HybridToctoc =
    Seq("HYBRID_5002", "HYBRID_5003", "HYBRID_5004", "HYBRID_5005")

  /** Metadata cloned into a PX record from its group's min-rid record. */
  private val RepCols = Seq("typvar", "ni", "nj", "nk", "dateo", "ip2",
    "ip3", "deet", "npas", "grtyp", "ig1", "ig2", "ig3", "ig4")

  /** Spark's `element_at` of a collected array, 1-based, negative from
    * the end; null when out of range.
    */
  private def at(xs: Seq[Any], i: Int): Any = {
    val j = if (i > 0) i - 1 else xs.size + i
    if (j >= 0 && j < xs.size) xs(j) else null
  }

  private def toDouble(x: Any): java.lang.Double =
    if (x == null) null else x.asInstanceOf[Number].doubleValue

  /** M2-M5 QuickPressure: one PX record per (grid, vctype, datev,
    * level), payload from the group's P0/PT fields:
    * sigma 1001 `p = lvl*P0`; eta 1002 `p = lvl*(P0-PT)+PT`;
    * pressure 2001 constant `p = lvl`. Element math runs in DOUBLE and
    * casts once to float32 (the reference's numpy float32 stepwise ops
    * round identically for the single-multiply cases).
    * Container metadata is cloned from the group's minimum-rid row
    * (deterministic stand-in for the reference's first-row clone).
    *
    * One small collect runs when it is called: the meta records'
    * metadata with the `!!` tables and HY's first element, together
    * with the data side's level groups without `d`. The P0 and PT
    * payloads are picked in the returned plan, by the lowest rid per
    * (grid, datev), not fetched by a `(path, key)` collected here: an
    * `Api.read` input keeps the same copies on every evaluation, but
    * an input from elsewhere (overlapping files deduplicated by a
    * shuffle, say) need not.
    */
  def quickPressure(df: DataFrame,
                    standardAtmosphere: Boolean = false): DataFrame = {
    graft.core.Checks.requireColumns(df, "quick_pressure", "nomvar",
      "ip1", "datev", "d", "ni", "nj", "nbits", "datyp")
    require(!df.isStreaming,
      "quick_pressure collects its PX levels and needs a batch frame")
    // deterministic clone tiebreak: rid if present, else the FST
    // source's (path, key) pair — key alone is only unique within one
    // file, so a multi-file catalog needs the path in the ordering.
    // A catalog without either gets a named error.
    val df0 =
      if (df.columns.contains("rid")) df
      else {
        graft.core.Checks.requireColumns(df, "quick_pressure", "key")
        if (df.columns.contains("path"))
          df.withColumn("rid",
            struct(col("path"), col("key").cast("long")))
        else df.withColumn("rid", col("key").cast("long"))
      }
    val g = enrich(df0)
    val preset = g.columns.contains("vctype")
    // min_by: the value at the lowest non-null rid, if any
    def minByRid[T](xs: Seq[(Any, T)]): Option[T] = xs.filter(_._1 != null)
      .minByOption(_._1)(Select.ValueOrder).map(_._2)

    // One collect of two parts. The meta records' metadata, with the
    // `!!` tables and HY's first element:
    val metaDf = g.filter(col("nomvar").isin(VcMeta: _*)).select(
      col("grid"), col("nomvar"), col("ig1"), col("ig2"), col("nj"),
      col("rid"),
      (if (preset) col("vctype").isNull else lit(true)).as("unset"),
      when(col("nomvar") === "!!", col("d")).as("tt_d"),
      when(col("nomvar") === "HY", element_at(col("d"), 1)).as("hy_top"))
    // and the data side's levels, one row per group with its min-rid
    // clone (a null nomvar marks them)
    val keys = Seq("grid", "ip1_kind") ++
      (if (preset) Seq("vctype") else Nil) ++ Seq("datev", "ip1")
    val groupDf = g
      .filter(!col("nomvar").isin(VcMeta: _*) && col("ip1") =!= 0 &&
        !col("nomvar").isin("PX", "PXSA"))
      .groupBy(keys.map(col): _*)
      .agg(min_by(struct((col("rid") +: RepCols.map(col)): _*), col("rid"))
        .as("rep"))
    val (meta, groupRows) = metaDf
      .unionByName(groupDf, allowMissingColumns = true).collect().toSeq
      .partition(_.getAs[String]("nomvar") != null)
    def metaOf(nomvar: String) =
      meta.filter(_.getAs[String]("nomvar") == nomvar)
    val grids = gridMeta(meta.filter(_.getAs[Boolean]("unset")))
    // the grid's lowest-rid `!!` table (column j = (ip1, A, B), Fortran
    // (3 x nj); pref lives at d[1][1] — std_vgrid.py:276-282)
    val tables: Map[Any, (Seq[Any], Any)] = metaOf("!!")
      .filter(_.getAs[Any]("grid") != null).groupBy(_.getAs[Any]("grid"))
      .flatMap { case (grid, rs) =>
        minByRid(rs.map(r => r.getAs[Any]("rid") -> r)).map(r => grid -> (
          Option(r.getAs[scala.collection.Seq[Any]]("tt_d")).map(_.toSeq)
            .orNull, r.getAs[Any]("nj")))
      }
    // grid-less HY descriptor: ptop/pref/rcoef (std_vgrid.py:440-445),
    // each the minimum over the HY records
    val hyRow = Seq("hy_top", "ig1", "ig2")
      .map(c => Select.minOf(metaOf("HY").map(_.getAs[Any](c))))
    val hyPref = hyRow(1)

    val repType = groupDf.schema("rep").dataType.asInstanceOf[StructType]
    final case class Level(grid: Any, vctype: String, datev: Any, ip1: Any,
                           rid: Any, rep: Row)
    val groups = groupRows.map { r =>
      val grid = r.getAs[Any]("grid")
      val kind = r.getAs[Any]("ip1_kind")
      val given = if (preset) r.getAs[String]("vctype") else null
      val vctype =
        if (given != null) given
        else if (grid == null || kind == null) "UNKNOWN"
        else vctypeOf(grids.getOrElse(grid, NoMeta),
          kind.asInstanceOf[Number].intValue)
      val rep = r.getAs[Row]("rep")
      Level(grid, vctype, r.getAs[Any]("datev"), r.getAs[Any]("ip1"),
        Option(rep).map(_.get(0)).orNull, rep)
    }.filter(l => l.vctype != "UNKNOWN" && l.grid != null && l.datev != null)
    // a level of two kinds with one vctype is one level; the group of a
    // (grid, vctype, datev) clones its overall min-rid record
    val levels = groups.groupBy(l => (l.grid, l.vctype, l.datev, l.ip1))
      .values.map(ls => minByRid(ls.map(l => l.rid -> l)).getOrElse(ls.head))
      .toSeq
    val reps = levels.groupBy(l => (l.grid, l.vctype, l.datev)).map {
      case (k, ls) => k -> minByRid(ls.map(l => l.rid -> l.rep)).orNull
    }

    val rows = levels.flatMap { l =>
      val ip1 = l.ip1.asInstanceOf[Number].intValue
      val (ttD, ttNj) = tables.getOrElse(l.grid, (null, null))
      // J1: the level's column in the `!!` table, 1-based, 0 if absent
      val jidx =
        if (ttD == null || ttNj == null) 0
        else {
          val last = ttNj.asInstanceOf[Number].intValue - 1
          val js = if (last >= 0) 0 to last else 0 to last by -1
          js.map(j => at(ttD, j * 3 + 1)).indexWhere(v =>
            v != null && v.asInstanceOf[Number].doubleValue.toInt == ip1) + 1
        }
      val keep = l.vctype match {
        case "SIGMA_1001" | "ETA_1002" | "PRESSURE_2001" => true
        case "HYBRID_5001" => hyPref != null
        case v => HybridToctoc.contains(v) && ttD != null && jidx > 0
      }
      // hybrid 5002-5005 table coefficients (std_vgrid.py:276-295)
      val tt =
        if (keep && HybridToctoc.contains(l.vctype))
          Seq((jidx - 1) * 3 + 2, (jidx - 1) * 3 + 3, 5)
            .map(i => toDouble(at(ttD, i)))
        else Seq(null, null, null)
      val rep = Option(reps((l.grid, l.vctype, l.datev)))
      if (!keep) None
      else Some(Row.fromSeq(Seq(l.grid, l.vctype, l.datev, l.ip1,
        IpCodec.decodeValue(ip1)) ++
        RepCols.indices.map(i => rep.map(_.get(i + 1)).orNull) ++
        hyRow ++ tt))
    }
    val schema = StructType((
      Seq("grid", "vctype", "datev", "ip1").map(c => StructField(c,
        if (c == "vctype") StringType else g.schema(c).dataType)) ++
      Seq(StructField("level", FloatType)) ++ repType.fields.drop(1) ++
      Seq(StructField("hy_ptop", metaDf.schema("hy_top").dataType),
        StructField("hy_pref", metaDf.schema("ig1").dataType),
        StructField("hy_rc", metaDf.schema("ig2").dataType),
        StructField("tt_a", DoubleType), StructField("tt_b", DoubleType),
        StructField("tt_pref", DoubleType))).map(_.copy(nullable = true)))

    // The PX rows meet the P0 and PT records of their (grid, datev) in
    // one aggregation, so the plan has one exchange. It keeps the
    // lowest-rid P0 and PT, so duplicates (e.g. overlapping files read
    // before a dedup pass) do not fan the PX rows out. Every PX record
    // but a pressure one needs its P0 (and an eta one its PT).
    def lowest(nomvar: String) = when(col("nomvar") === nomvar, col("rid"))
    val px = g.sparkSession.createDataFrame(rows.asJava, schema)
    g.filter(col("nomvar").isin("P0", "PT"))
      .select("grid", "datev", "nomvar", "rid", "d", "nbits", "datyp")
      .unionByName(px.select(col("grid"), col("datev"),
        struct(px.columns.toSeq.map(col): _*).as("px")),
        allowMissingColumns = true)
      .groupBy("grid", "datev")
      .agg(min_by(struct(col("d"), col("nbits"), col("datyp")), lowest("P0"))
          .as("p0"),
        min_by(col("d"), lowest("PT")).as("pt_d"),
        collect_list(col("px")).as("pxs"))
      .select(explode(col("pxs")).as("px"), col("p0.d").as("p0_d"),
        col("p0.nbits").as("p0_nbits"), col("p0.datyp").as("p0_datyp"),
        col("pt_d"))
      .select(col("px.*"), col("p0_d"), col("p0_nbits"), col("p0_datyp"),
        col("pt_d"))
      .filter(col("vctype") === "PRESSURE_2001" || (col("p0_d").isNotNull &&
        (col("vctype") =!= "ETA_1002" || col("pt_d").isNotNull)))
      .select(
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
        pressure(standardAtmosphere).as("d"))
  }

  /** The PX payload over the PX rows joined with their P0/PT payloads. */
  private def pressure(standardAtmosphere: Boolean): Column = {
    val lvlD = col("level").cast("double")
    // hybrid 5001 coefficients (std_vgrid.py:464-476)
    val etatop = col("hy_ptop").cast("double") / col("hy_pref")
    val rcoef = col("hy_rc").cast("double") / lit(1000.0)
    val bb5001 = pow((lvlD - etatop) / (lit(1.0) - etatop), rcoef)
    val aa5001 = col("hy_pref") * (lvlD - bb5001)
    val aTab = col("tt_a")
    val bTab = col("tt_b")
    val prefTab = col("tt_pref")
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
  }

  /** M16 get_df_from_vgrid (/root/reference/fstpy/std_vgrid.py:749-791):
    * one `!!` record per vertical-grid descriptor row. Input columns:
    * kind, version, ni, nj, vtbl (the flattened A/B table payload),
    * ip1, ip2. The toctoc link is ig1 = kind*1000 + version (the
    * reference's zero-padded string concat).
    */
  def dfFromVgrid(desc: DataFrame): DataFrame =
    desc.select(
      lit("!!").as("nomvar"), lit("X").as("typvar"), lit("").as("etiket"),
      col("ni").cast("int").as("ni"), col("nj").cast("int").as("nj"),
      lit(1).as("nk"), lit(0L).as("dateo"),
      col("ip1").cast("int").as("ip1"), col("ip2").cast("int").as("ip2"),
      lit(0).as("ip3"), lit(0).as("deet"), lit(0).as("npas"),
      lit(5).as("datyp"), lit(64).as("nbits"), lit("X").as("grtyp"),
      (col("kind") * 1000 + col("version")).cast("int").as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(0L).as("datev"), col("vtbl").as("d"))
}

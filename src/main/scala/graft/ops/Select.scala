package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Metadata-aware selection algebra: select_meta / select_with_meta /
  * metadata_cleanup (reference:
  * /root/reference/fstpy/dataframe_utils.py:21-110, 232-459).
  *
  * Scale notes: the data side (`noMeta`) is never shuffled on payload —
  * the cleanup derives three SMALL per-grid summaries (kind flags,
  * dims, match groups) via partial aggregations and broadcasts them
  * into the meta side, which is tiny by construction. At 100 TB the
  * only wide exchange is the distinct on (grid,dateo,deet,npas), whose
  * cardinality is bounded by grids x output times, not by records.
  */
object Select {

  /** Meta nomvars per the cleanup functions (E1 intentionally absent —
    * /root/reference/fstpy/dataframe_utils.py:22-23).
    */
  val CleanupMeta: Seq[String] =
    Seq("!!", "P0", "PT", ">>", "^^", "^>", "HY", "!!SF")

  val CleanupMetaSqlList: String =
    CleanupMeta.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Deformation-match identity subset
    * (/root/reference/fstpy/dataframe_utils.py:336).
    */
  val DeformSubset: Seq[String] = Seq(
    "nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo", "ip1",
    "ip2", "ip3", "deet", "npas", "ig1", "ig2", "ig3", "ig4")

  /** 19-col meta dedup subset
    * (/root/reference/fstpy/dataframe_utils.py:296-297).
    */
  val MetaSubset: Seq[String] = Seq(
    "grtyp", "nomvar", "typvar", "ni", "nj", "nk", "ip1", "ip2", "ip3",
    "deet", "npas", "nbits", "ig1", "ig2", "ig3", "ig4", "datev",
    "dateo", "datyp")

  def selectMeta(df: DataFrame): DataFrame =
    df.filter(col("nomvar").isin(CleanupMeta: _*))

  def antiMeta(df: DataFrame): DataFrame =
    df.filter(!col("nomvar").isin(CleanupMeta: _*))

  /** F4 select_with_meta: chosen nomvars + their coordinate records,
    * minimal and consistent. Implemented as metadata_cleanup with a
    * data-side predicate (exactly the oracle's shape) rather than
    * union-then-clean: the union form would put TWO catalog scans under
    * every downstream evaluation (the data branch and the meta branch
    * each scan the source), doubling the I/O of the whole cleanup.
    */
  def selectWithMeta(df: DataFrame, nomvars: Seq[String]): DataFrame = {
    graft.core.Checks.requireColumns(df, "select_with_meta", "nomvar",
      "ip1", "ip2", "ig1", "ig2", "ni", "nj", "dateo", "deet", "npas")
    metadataCleanup(df, col("nomvar").isin(nomvars: _*))
  }

  private def ensureGrid(df: DataFrame): DataFrame =
    if (df.columns.contains("grid")) df else Decode.addGrid(df)

  /** M18 metadata_cleanup: keep only the meta records justified by the
    * data records present. `dataPredicate` restricts the data side
    * only (select_with_meta semantics: meta candidates always come
    * from the full catalog).
    */
  def metadataCleanup(df: DataFrame,
                      dataPredicate: Column = lit(true)): DataFrame = {
    graft.core.Checks.requireColumns(df, "metadata_cleanup", "nomvar",
      "ip1", "ip2", "ig1", "ig2", "ni", "nj", "dateo", "deet", "npas")
    val g = ensureGrid(df)
    val cols = g.columns
    val noMeta = antiMeta(g).filter(dataPredicate)
    // The meta side is tiny by construction (coordinate/descriptor
    // records only) but feeds five kept-set branches — cache it so the
    // catalog is not re-scanned per branch.
    val metaDf = selectMeta(g)
      .transform(graft.core.CacheRegistry.persist(_))

    // ONE aggregation pass over the (large) data side produces a tiny
    // per-(grid, output-time) summary; every per-grid/global summary
    // below derives from it. The summary is persisted — its size is
    // bounded by grids x output times, never by record count — so the
    // heavy scan + partial aggregation runs once, not once per
    // consumer (column pruning makes the consumers' subplans differ,
    // which defeats ReuseExchange).
    val summary = noMeta
      .withColumn("k", IpColumns.decodeKind(col("ip1")))
      .groupBy("grid", "dateo", "deet", "npas").agg(
        max(col("k") === 1).as("s_sigma"),
        max(col("k") === 5).as("s_hybrid"),
        max(col("k") === 2).as("s_pressure"),
        min("ni").as("sni"), min("nj").as("snj"))
      .transform(graft.core.CacheRegistry.persist(_))

    // ONE per-grid roll-up carrying both the vertical-kind flags (A5
    // bucketing) and the field dims (reference takes the first row's
    // ni/nj, dataframe_utils.py:404-406; grids are dimensionally
    // homogeneous) — one aggregation instead of two plus a join.
    val perGrid = summary.groupBy("grid").agg(
      max("s_sigma").as("has_sigma"),
      max("s_hybrid").as("has_hybrid"),
      max("s_pressure").as("has_pressure"),
      min("sni").as("gni"), min("snj").as("gnj"))

    // J3: 3-tier fallback match of deformation records to data groups
    val groups = summary.select(col("grid"), col("dateo").as("gdateo"),
      col("deet").as("gdeet"), col("npas").as("gnpas"))
    val coord = metaDf.filter(col("nomvar").isin("^^", ">>", "^>"))
    val tier =
      when(col("dateo") === col("gdateo") && col("deet") === col("gdeet")
        && col("npas") === col("gnpas"), 1)
        .when(col("dateo") === col("gdateo"), 2)
        .otherwise(3)
    val w = Window.partitionBy(
      col("grid"), col("gdateo"), col("gdeet"), col("gnpas"), col("nomvar"))
    // tier-dependent dedup subset (dataframe_utils.py:371-392): the
    // very-strict match dedups on the full subset; the strict match
    // drops deet/npas from it; the loose match also drops dateo.
    // Masked key columns express that declaratively, and row_number
    // ordered by rid makes the pick DETERMINISTIC on both the Spark
    // side and the DuckDB twin (dropDuplicates picks an arbitrary
    // row, which an oracle cannot reproduce).
    val maskedKeys = Seq(
      when(col("mt") <= 2, col("dateo")),
      when(col("mt") === 1, col("deet")),
      when(col("mt") === 1, col("npas")))
    // Deterministic pick tiebreak: rid when the catalog carries one
    // (fixture catalogs; oracle parity), else the scan identity
    // (path, key), else the remaining record-identity columns — a
    // catalog read straight off the source must clean up without a
    // synthetic row id.
    val tieCols: Seq[Column] =
      if (cols.contains("rid")) Seq(col("rid"))
      else if (cols.contains("path") && cols.contains("key"))
        Seq(col("path"), col("key"))
      else Seq("typvar", "etiket", "ip3", "datev", "datyp", "nbits",
        "grtyp", "ig3", "ig4").filter(cols.contains).map(col)
    val wd = Window.partitionBy(
      (Seq(col("grid"), col("gdateo"), col("gdeet"), col("gnpas")) ++
        DeformSubset.filterNot(Seq("dateo", "deet", "npas").contains)
          .map(col) ++ maskedKeys): _*)
      .orderBy(tieCols: _*)
    // final meta-assembly dedup (dataframe_utils.py:296-297), min-rid
    val wm = Window.partitionBy(MetaSubset.map(col): _*)
      .orderBy(tieCols: _*)
    val deform = coord
      .join(broadcast(groups), Seq("grid"))
      .withColumn("tier", tier)
      .withColumn("mt", min("tier").over(w))
      .filter(col("tier") === col("mt"))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .withColumn("rn2", row_number().over(wm))
      .filter(col("rn2") === 1)
      .select(cols.map(col): _*)

    // HY's keep rule is grid-less: hybrid levels anywhere (1 row)
    val hybridAny = summary.agg(max("s_hybrid").as("any_hybrid"))

    // r14 optimization (guide §2.4, r13 verdict #2): the P0 / PT /
    // HY / !! kept sets used to be four separate branches, each a
    // broadcast join plus its own dropDuplicates(MetaSubset)
    // exchange over the SAME persisted meta cache. The four rules
    // are disjoint by nomvar and MetaSubset contains nomvar, so one
    // filtered pass with a per-nomvar predicate and a SINGLE
    // MetaSubset dedup keeps exactly the same rows: per key the
    // dedup candidates are identical (no cross-nomvar collapse is
    // possible), and the left join + null-propagating predicates
    // reproduce the inner-join semantics (a null has_* flag fails
    // every conjunct that needs it).
    val hv = graft.meta.Lookups.HybridVcodes
    val sv = graft.meta.Lookups.SigmaVcodes
    val pv = graft.meta.Lookups.PressureVcodes
    val dimsOk =
      col("ni") === col("gni") && col("nj") === col("gnj")
    val kept = metaDf
      .filter(col("nomvar").isin("P0", "PT", "HY", "!!"))
      .join(broadcast(perGrid
        .withColumnRenamed("grid", "kgrid")),
        col("grid") === col("kgrid"), "left")
      .crossJoin(broadcast(hybridAny))
      .filter(
        (col("nomvar") === "P0" &&
          (col("has_sigma") || col("has_hybrid")) && dimsOk) ||
        (col("nomvar") === "PT" && col("has_sigma") && dimsOk) ||
        (col("nomvar") === "HY" && col("any_hybrid")) ||
        (col("nomvar") === "!!" && (
          (col("has_hybrid") && col("ig1").isin(hv: _*)) ||
          (col("has_sigma") && col("ig1").isin(sv: _*)) ||
          (col("has_pressure") && col("ig1").isin(pv: _*)))))
      .select(cols.map(col): _*)
      .dropDuplicates(MetaSubset)

    noMeta.unionByName(deform).unionByName(kept)
  }

  // ---------- DuckDB twin ----------

  /** Oracle SQL: cleaned catalog as (rid, nomvar, grid) rows, with the
    * data side filtered by `dataFilter` (select_with_meta semantics:
    * meta candidates come from the unfiltered catalog).
    */
  def cleanupSql(dataFilter: String): String =
    s"""${cleanupCtesSql(dataFilter)}
SELECT rid, nomvar, grid FROM g WHERE $keptPredicateSql"""

  /** The kept-row predicate over the [[cleanupCtesSql]] CTEs. */
  val keptPredicateSql: String =
    """rid IN (SELECT rid FROM nometa)
  OR rid IN (SELECT rid FROM deform) OR rid IN (SELECT rid FROM p0r)
  OR rid IN (SELECT rid FROM ptr) OR rid IN (SELECT rid FROM hyr)
  OR rid IN (SELECT rid FROM ttr)"""

  /** The cleanup CTE chain alone (g/nometa/meta/kg/dims/grp/cand/
    * deform/p0r/ptr/hyr/ttr) so composite oracles can select their
    * own projection of the kept rows.
    */
  def cleanupCtesSql(dataFilter: String): String = {
    val k = IpColumns.decodeKindSql("ip1")
    val hv = graft.meta.Lookups.HybridVcodes.mkString("(", ", ", ")")
    val sv = graft.meta.Lookups.SigmaVcodes.mkString("(", ", ", ")")
    val pv = graft.meta.Lookups.PressureVcodes.mkString("(", ", ", ")")
    s""", g AS (SELECT *, ${Decode.gridSql} AS grid FROM cat)
, nometa AS (SELECT * FROM g
    WHERE nomvar NOT IN $CleanupMetaSqlList AND ($dataFilter))
, meta AS (SELECT * FROM g WHERE nomvar IN $CleanupMetaSqlList)
, kg AS (SELECT grid, bool_or($k = 1) AS has_sigma,
    bool_or($k = 5) AS has_hybrid, bool_or($k = 2) AS has_pressure
  FROM nometa GROUP BY grid)
, dims AS (SELECT grid, min(ni) AS gni, min(nj) AS gnj
  FROM nometa GROUP BY grid)
, grp AS (SELECT DISTINCT grid, dateo AS gdateo, deet AS gdeet,
    npas AS gnpas FROM nometa)
, cand AS (SELECT m.*, grp.gdateo, grp.gdeet, grp.gnpas,
    CASE WHEN m.dateo = grp.gdateo AND m.deet = grp.gdeet
      AND m.npas = grp.gnpas THEN 1
      WHEN m.dateo = grp.gdateo THEN 2 ELSE 3 END AS tier
  FROM meta m JOIN grp ON m.grid = grp.grid
  WHERE m.nomvar IN ('^^', '>>', '^>'))
, mindef AS (SELECT *, min(tier) OVER (PARTITION BY grid, gdateo,
    gdeet, gnpas, nomvar) AS mt FROM cand)
, defpick AS (SELECT * FROM (SELECT *, row_number() OVER (
    PARTITION BY grid, gdateo, gdeet, gnpas,
      nomvar, typvar, etiket, ni, nj, nk, ip1, ip2, ip3,
      ig1, ig2, ig3, ig4,
      CASE WHEN mt <= 2 THEN dateo END,
      CASE WHEN mt = 1 THEN deet END,
      CASE WHEN mt = 1 THEN npas END
    ORDER BY rid) AS rn FROM mindef WHERE tier = mt) WHERE rn = 1)
, deform AS (SELECT rid FROM (SELECT rid, row_number() OVER (
    PARTITION BY grtyp, nomvar, typvar, ni, nj, nk, ip1, ip2, ip3,
      deet, npas, nbits, ig1, ig2, ig3, ig4, datev, dateo, datyp
    ORDER BY rid) AS rn2 FROM defpick) WHERE rn2 = 1)
, p0r AS (SELECT DISTINCT m.rid FROM meta m
  JOIN dims dm ON m.grid = dm.grid AND m.ni = dm.gni AND m.nj = dm.gnj
  JOIN kg ON kg.grid = m.grid
  WHERE m.nomvar = 'P0' AND (kg.has_sigma OR kg.has_hybrid))
, ptr AS (SELECT DISTINCT m.rid FROM meta m
  JOIN dims dm ON m.grid = dm.grid AND m.ni = dm.gni AND m.nj = dm.gnj
  JOIN kg ON kg.grid = m.grid
  WHERE m.nomvar = 'PT' AND kg.has_sigma)
, hyr AS (SELECT rid FROM meta WHERE nomvar = 'HY'
  AND EXISTS (SELECT 1 FROM kg WHERE has_hybrid))
, ttr AS (SELECT DISTINCT m.rid FROM meta m JOIN kg ON kg.grid = m.grid
  WHERE m.nomvar = '!!' AND (
    (kg.has_hybrid AND m.ig1 IN $hv) OR
    (kg.has_sigma AND m.ig1 IN $sv) OR
    (kg.has_pressure AND m.ig1 IN $pv)))"""
  }
}

package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-aware selection algebra: select_meta / select_with_meta /
  * metadata_cleanup (reference:
  * /root/reference/fstpy/dataframe_utils.py:21-110, 232-459).
  *
  * Scale notes: the cleanup decides which coordinate records to keep
  * from two small collects, as the reference reasons over a handful of
  * rows: the metadata columns (no `d`) of the meta records, few by
  * construction, and, only when there are any, the per-(grid, dateo,
  * deet, npas) summary of the data side, bounded by grids x output
  * times. The data side is never shuffled on payload and nothing is
  * persisted; the returned plan is the data side unioned with the meta
  * side semi-joined to a broadcast of the kept records. Its shape
  * depends on the catalog's columns, not on its records (unless
  * duplicate records need one more dedup), so its generated classes
  * are reused from call to call (DESIGN.md "Metadata cleanup on the
  * driver: the codegen cache").
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
    *
    * Unlike the other operators this one runs small Spark jobs when it
    * is called: the meta records' metadata columns are collected and,
    * when there are any, the data-side summary too; plain Scala then
    * computes the kept set. A catalog without coordinate records costs
    * one job and comes back as its data side. The returned frame reads
    * `df` again when it is evaluated, so `df` must be a deterministic
    * batch frame (the callers are `FstWriter.write` and the f-queries;
    * a streaming frame is rejected).
    */
  def metadataCleanup(df: DataFrame,
                      dataPredicate: Column = lit(true)): DataFrame = {
    graft.core.Checks.requireColumns(df, "metadata_cleanup", "nomvar",
      "ip1", "ip2", "ig1", "ig2", "ni", "nj", "dateo", "deet", "npas")
    require(!df.isStreaming,
      "metadata_cleanup collects its kept set and needs a batch frame")
    val g = ensureGrid(df)
    val noMeta = antiMeta(g).filter(dataPredicate)
    val metaSide = selectMeta(g)

    // every column the kept rules and the pick read
    val tie = tieColumns(g.columns.toSeq)
    val idCols = (Seq("grid") ++ MetaSubset ++ DeformSubset ++ tie).distinct
    val ids = metaSide.select(idCols.map(col): _*)
    val meta = ids.collect().toSeq
    // no coordinate record, nothing to justify: skip the data pass
    if (meta.isEmpty) return noMeta

    // ONE aggregation pass over the (large) data side: its size is
    // bounded by grids x output times, never by record count
    val groups = noMeta
      .withColumn("k", IpColumns.decodeKind(col("ip1")))
      .groupBy("grid", "dateo", "deet", "npas").agg(
        max(col("k") === 1), max(col("k") === 5), max(col("k") === 2),
        min("ni"), min("nj"))
      .collect().toSeq.map(r => r.toSeq.take(4) -> Kinds(
        r.get(4) == true, r.get(5) == true, r.get(6) == true,
        r.get(7), r.get(8)))

    val kept = keptRows(groups, meta, idCols, tie)
    if (kept.isEmpty) return noMeta

    // does a kept record share its values in `cs` with another record?
    def ambiguous(cs: Seq[String]): Boolean = {
      val ix = cs.map(idCols.indexOf)
      def of(r: Row) = ix.map(r.get)
      val n = meta.groupMapReduce(of)(_ => 1)(_ + _)
      kept.exists(r => n(of(r)) > 1)
    }
    // The semi-join matches on the metadata alone where that tells the
    // kept records apart. A `(path, key)` need not be stable across the
    // two evaluations of `df`: Api.read keeps the same copy of a
    // duplicated record every time, but a frame from elsewhere
    // (overlapping files deduplicated by a shuffle, say) may keep
    // another copy on each evaluation.
    val on = Some(idCols.filterNot(Seq("path", "key").contains))
      .filterNot(ambiguous).getOrElse(idCols)
    val keys = g.sparkSession.createDataFrame(kept.asJava, ids.schema)
      .select(on.map(c => col(c).as("kept_" + c)): _*)
    val metaKept = metaSide.join(broadcast(keys),
      on.map(c => col(c) <=> col("kept_" + c)).reduce(_ && _), "left_semi")
    // records alike in every matched column are one pick: the semi-join
    // returns them all, so keep one per MetaSubset key
    noMeta.unionByName(
      if (ambiguous(on)) metaKept.dropDuplicates(MetaSubset) else metaKept)
  }

  /** Vertical-kind flags and smallest dims of a (grid, dateo, deet,
    * npas) group of the data side, or of a whole grid. A null flag
    * reads false: every rule below is a filter over AND/OR, which keeps
    * a row only when it is true.
    */
  private final case class Kinds(sigma: Boolean, hybrid: Boolean,
                                 pressure: Boolean, ni: Any, nj: Any)

  /** Deterministic pick tiebreak: rid when the catalog carries one
    * (fixture catalogs; oracle parity), else the scan identity
    * (path, key), else the remaining record-identity columns — a
    * catalog read straight off the source must clean up without a
    * synthetic row id.
    */
  private def tieColumns(cols: Seq[String]): Seq[String] =
    if (cols.contains("rid")) Seq("rid")
    else if (cols.contains("path") && cols.contains("key"))
      Seq("path", "key")
    else Seq("typvar", "etiket", "ip3", "datev", "datyp", "nbits",
      "grtyp", "ig3", "ig4").filter(cols.contains)

  /** Spark's `===`: a null on either side is not a match. */
  private def same(a: Any, b: Any): Boolean =
    a != null && b != null && a == b

  /** Spark's ascending sort order: nulls first, strings by UTF-8 bytes,
    * structs field by field.
    */
  private[graft] object ValueOrder extends Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Row, y: Row) => x.toSeq.iterator.zip(y.toSeq)
        .map { case (p, q) => compare(p, q) }.find(_ != 0).getOrElse(0)
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  private[ops] def minOf(xs: Seq[Any]): Any =
    xs.filter(_ != null).minOption(ValueOrder).orNull

  /** The kept meta records, one per MetaSubset key: the J3 deformation
    * match and the P0/PT/HY/!! rules over the collected rows. Grouping
    * keys compare nulls as equal, as Spark's group and window keys do.
    */
  private def keptRows(groups: Seq[(Seq[Any], Kinds)], meta: Seq[Row],
                       cols: Seq[String], tie: Seq[String]): Seq[Row] = {
    val at = cols.zipWithIndex.toMap
    def v(r: Row, c: String): Any = r.get(at(c))
    val byTie: Ordering[Row] = Ordering.by((r: Row) => tie.map(v(r, _)))(
      Ordering.Implicits.seqOrdering(ValueOrder))
    // final meta-assembly dedup (dataframe_utils.py:296-297), min tie
    def onePerKey(rs: Seq[Row]): Seq[Row] =
      rs.groupBy(r => MetaSubset.map(v(r, _))).values.map(_.min(byTie)).toSeq
    // a null grid never matches (an equi-join key)
    val gridGroups = groups.filter(_._1.head != null).groupBy(_._1.head)

    // J3: 3-tier fallback match of deformation records to data groups;
    // per (group, nomvar) only the best tier found is kept
    val cand = for {
      r <- meta if Seq("^^", ">>", "^>").contains(v(r, "nomvar"))
      (k, _) <- gridGroups.getOrElse(v(r, "grid"), Nil)
    } yield {
      val dateoEq = same(v(r, "dateo"), k(1))
      val tier =
        if (dateoEq && same(v(r, "deet"), k(2)) &&
          same(v(r, "npas"), k(3))) 1
        else if (dateoEq) 2 else 3
      (r, k, tier)
    }
    val best = cand.groupBy { case (r, k, _) => (k, v(r, "nomvar")) }
      .values.toSeq.flatMap { cs =>
        val mt = cs.map(_._3).min
        cs.collect { case (r, k, `mt`) => (r, k, mt) }
      }
    // tier-dependent dedup subset (dataframe_utils.py:371-392): the
    // very-strict match dedups on the full subset; the strict match
    // drops deet/npas from it; the loose match also drops dateo
    val deform = best.groupBy { case (r, k, mt) =>
      (k, DeformSubset.map {
        case "dateo" if mt > 2 => null
        case "deet" | "npas" if mt > 1 => null
        case c => v(r, c)
      })
    }.values.map(_.map(_._1).min(byTie)).toSeq

    // P0/PT and !! need their grid's vertical kinds (and P0/PT its
    // dims: the reference takes the first row's ni/nj,
    // dataframe_utils.py:404-406; grids are dimensionally homogeneous);
    // HY's keep rule is grid-less: hybrid levels anywhere
    val anyHybrid = groups.exists(_._2.hybrid)
    val perGrid = gridGroups.map { case (grid, gs) =>
      val ks = gs.map(_._2)
      grid -> Kinds(ks.exists(_.sigma), ks.exists(_.hybrid),
        ks.exists(_.pressure), minOf(ks.map(_.ni)), minOf(ks.map(_.nj)))
    }
    val hv = graft.meta.Lookups.HybridVcodes
    val sv = graft.meta.Lookups.SigmaVcodes
    val pv = graft.meta.Lookups.PressureVcodes
    def justified(r: Row): Boolean = {
      val k = perGrid.get(v(r, "grid"))
      def dimsOk(p: Kinds) =
        same(v(r, "ni"), p.ni) && same(v(r, "nj"), p.nj)
      def ig1In(codes: Seq[Int]) = codes.exists(same(_, v(r, "ig1")))
      v(r, "nomvar") match {
        case "P0" => k.exists(p => (p.sigma || p.hybrid) && dimsOk(p))
        case "PT" => k.exists(p => p.sigma && dimsOk(p))
        case "HY" => anyHybrid
        case "!!" => k.exists(p => (p.hybrid && ig1In(hv)) ||
          (p.sigma && ig1In(sv)) || (p.pressure && ig1In(pv)))
        case _ => false
      }
    }
    onePerKey(deform) ++ onePerKey(meta.filter(justified))
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

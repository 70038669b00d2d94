package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** G5/§1.5: xarray-style cube assembly — pivot the record catalog into
  * dense (level, i, j) cubes per (grid, nomvar, ip1_kind)
  * (/root/reference/fstpy/xarray_utils.py:10-77).
  *
  * Each cube is one group of one aggregate, `graft_cube`
  * ([[graft.functions.CubeStack]]): per stack key (level, or datev for
  * timeseries) it keeps the minimum-rid record's payload, then copies
  * the payloads, in the kind's level order, into one Fortran-ordered
  * array. The partial aggregate drops duplicate records before the
  * one exchange. A group's buffer holds at most one payload per stack
  * key, so one buffer is bounded by one cube. A task, on the map side
  * and on the reduce side alike, holds up to
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128 by
  * default) buffers before the aggregate falls back to sorting, and
  * that heap is not tracked by Spark's memory manager: the per-task
  * bound is that threshold times one cube (DESIGN.md, "Cubes in one
  * aggregate, fststat in one pass").
  */
object Cubes {

  /** Variables excluded from cube assembly — the reference's loop
    * skip-list (/root/reference/fstpy/xarray_utils.py:54). NOTE:
    * narrower than VCoord.VcMeta — P0/PT/!!SF DO become variables.
    */
  val CubeSkip: Seq[String] = Seq("!!", ">>", "^^", "^>", "HY")

  /** Representative-record tiebreak: `rid` when present, else the FST
    * source's (path, key) pair — so catalogs straight from
    * `spark.read.format("fstrec")` (no rid column) assemble too.
    */
  private def withRid(df: DataFrame): DataFrame =
    if (df.columns.contains("rid")) df
    else {
      graft.core.Checks.requireColumns(df, "to_cube", "path", "key")
      df.withColumn("rid", struct(col("path"), col("key")))
    }

  /** The cube variables' records with `grid`, `level` and `ip1_kind`
    * (computed only when absent).
    */
  private def cubeRecords(df: DataFrame): DataFrame = {
    val g = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    val l = if (g.columns.contains("level")) g else Decode.addLevelAndKind(g)
    l.filter(!col("nomvar").isin(CubeSkip: _*))
  }

  /** One `graft_cube` per `groups` group, stacking on `key`. A null rid
    * fails the query: the pick needs a unique non-null record id.
    */
  private def stacked(df: DataFrame, groups: Seq[String], key: String,
                      ascending: Column): DataFrame =
    df.groupBy(groups.map(col): _*).agg(GraftFunctions.cube(col(key),
      col("rid"), col("d"), ascending).as("stack"))

  def toCube(df0: DataFrame): DataFrame =
    // layer order follows the kind's ascending flag (the reference
    // sorts by level with ascending=df.ascending.unique()[0],
    // xarray_utils.py:52): descending kinds — pressure, sigma,
    // hybrid — stack top level first
    stacked(cubeRecords(withRid(df0)), Seq("grid", "nomvar", "ip1_kind"),
      "level", IpColumns.ascending(col("ip1_kind")))
      .select(col("grid"), col("nomvar"), col("ip1_kind"),
        size(col("stack.keys")).as("n_levels"),
        col("stack.keys").as("levels"), col("stack.cube").as("cube"))

  /** §1.5 timeseries mode (/root/reference/fstpy/xarray_utils.py:
    * 56-58,120-129): stack each variable's records along
    * date_of_validity instead of level, one representative record
    * (minimum rid) per (grid, nomvar, ip1_kind, level, datev).
    */
  def toCubeTimeseries(df0: DataFrame): DataFrame =
    stacked(cubeRecords(withRid(df0)),
      Seq("grid", "nomvar", "ip1_kind", "level"), "datev", lit(true))
      .select(col("grid"), col("nomvar"), col("ip1_kind"), col("level"),
        size(col("stack.keys")).as("n_times"),
        col("stack.keys").as("times"), col("stack.cube").as("cube"))

  /** §1.5 with coordinates: the cube plus the grid's lon (`>>`) and
    * lat (`^^`) axis arrays, like the reference's labeled-DataArray
    * export pulls them per grid
    * (/root/reference/fstpy/xarray_utils.py:140-203). One axis record
    * per grid is chosen deterministically (minimum rid); the
    * coordinate side is tiny (one row per grid) and broadcast-joins
    * into the cube table.
    */
  def toCubeWithCoords(df0: DataFrame): DataFrame = {
    val df = withRid(df0)
    graft.core.Checks.requireColumns(df, "to_cube_with_coords",
      "nomvar", "rid", "d")
    val g = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    // r13 optimization (guide §2.4): one coordinate scan instead of
    // two — min(struct(rid, d)) picks the min-rid axis per nomvar in
    // a single grouped pass (min skips the other nomvar's nulls), so
    // the input is scanned once for both axes and once for the cube.
    val axes = g.filter(col("nomvar").isin(">>", "^^"))
      .groupBy("grid").agg(
        min(when(col("nomvar") === ">>",
          struct(col("rid"), col("d")))).as("lonr"),
        min(when(col("nomvar") === "^^",
          struct(col("rid"), col("d")))).as("latr"))
      .select(col("grid"), col("lonr.d").as("lon"),
        col("latr.d").as("lat"))
    toCube(g).join(broadcast(axes), Seq("grid"), "left")
  }
}

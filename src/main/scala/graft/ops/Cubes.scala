package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G5/§1.5: xarray-style cube assembly — pivot the record catalog into
  * dense (level, i, j) cubes per (grid, nomvar, ip1_kind)
  * (/root/reference/fstpy/xarray_utils.py:10-77).
  *
  * One representative record per level (minimum rid) feeds
  * `sort_array(collect_list(struct(level, d)))`; the flattened result
  * is the Fortran-ordered cube. The collect_list is bounded by
  * levels-per-variable (tens), not by catalog size — safe at scale.
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

  /** The min-rid row's `d` per `keys` group, hash-partitioned on `by`,
    * the caller's next grouping (a prefix of `keys`). min_by's array
    * buffer makes Spark plan a SortAggregate, whose partial and final
    * steps would otherwise sit on two sides of an exchange of their
    * own; partitioning first lets the pick and the caller's
    * collect_list share one exchange. The map side therefore no longer
    * drops duplicate records before the exchange: a catalog with many
    * records per level ships them all once, and the sort spills, so
    * memory stays bounded. rid is unique (record id / (path, key)), so
    * min_by picks exactly the row a rank-1 window filter would, and
    * both order rid structs lexicographically.
    *
    * A null rid fails the query: min_by skips null orderings, so a
    * group of null rids would otherwise yield a null `d`. The check
    * folds away when the rid column is not nullable.
    */
  private def pickMinRid(data: DataFrame, keys: Seq[String],
                         by: Seq[String]): DataFrame =
    data.withColumn("rid", when(col("rid").isNull,
        raise_error(lit("to_cube: a record has a null rid; the " +
          "representative pick needs a unique non-null record id")))
      .otherwise(col("rid")))
      .repartition(by.map(col): _*)
      .groupBy(keys.map(col): _*)
      .agg(min_by(col("d"), col("rid")).as("d"))

  def toCube(df0: DataFrame): DataFrame = {
    val df = withRid(df0)
    val g0 = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    val g = if (g0.columns.contains("level")) g0 else Decode.addIpInfo(g0)
    val data = g.filter(!col("nomvar").isin(CubeSkip: _*))
    val picked = pickMinRid(data,
      Seq("grid", "nomvar", "ip1_kind", "level"),
      Seq("grid", "nomvar", "ip1_kind"))
    picked.groupBy("grid", "nomvar", "ip1_kind")
      .agg(sort_array(collect_list(struct(col("level"), col("d"))))
        .as("asc_layers"))
      // layer order follows the kind's ascending flag (the reference
      // sorts by level with ascending=df.ascending.unique()[0],
      // xarray_utils.py:52): descending kinds — pressure, sigma,
      // hybrid — stack top level first
      .withColumn("layers",
        when(IpColumns.ascending(col("ip1_kind")), col("asc_layers"))
          .otherwise(reverse(col("asc_layers"))))
      .select(col("grid"), col("nomvar"), col("ip1_kind"),
        size(col("layers")).as("n_levels"),
        transform(col("layers"), l => l.getField("level")).as("levels"),
        flatten(transform(col("layers"), l => l.getField("d")))
          .as("cube"))
  }

  /** §1.5 timeseries mode (/root/reference/fstpy/xarray_utils.py:
    * 56-58,120-129): stack each variable's records along
    * date_of_validity instead of level. One representative record per
    * (grid, nomvar, ip1_kind, level, datev) — minimum rid; the
    * collect_list is bounded by output times (tens), not catalog size.
    */
  def toCubeTimeseries(df0: DataFrame): DataFrame = {
    val df = withRid(df0)
    val g0 = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    val g = if (g0.columns.contains("level")) g0 else Decode.addIpInfo(g0)
    val data = g.filter(!col("nomvar").isin(CubeSkip: _*))
    val picked = pickMinRid(data,
      Seq("grid", "nomvar", "ip1_kind", "level", "datev"),
      Seq("grid", "nomvar", "ip1_kind", "level"))
    picked.groupBy("grid", "nomvar", "ip1_kind", "level")
      .agg(sort_array(collect_list(struct(col("datev"), col("d"))))
        .as("frames"))
      .select(col("grid"), col("nomvar"), col("ip1_kind"), col("level"),
        size(col("frames")).as("n_times"),
        transform(col("frames"), f => f.getField("datev")).as("times"),
        flatten(transform(col("frames"), f => f.getField("d")))
          .as("cube"))
  }

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

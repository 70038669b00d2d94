package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cube assembly as it was built before `graft_cube`: a `min_by`
  * pick per stack key on a hash-partitioned input, then
  * `sort_array(collect_list(struct(key, d)))`, `reverse` for
  * descending kinds, `transform` and `flatten`; and the coordinate
  * axes picked by a `min(struct(rid, d))` aggregate per grid. Kept as
  * the oracle of [[Cubes.toCube]], [[Cubes.toCubeTimeseries]] and
  * [[Cubes.toCubeWithCoords]].
  */
object CubeOracle {

  private def withRid(df: DataFrame): DataFrame =
    if (df.columns.contains("rid")) df
    else df.withColumn("rid", struct(col("path"), col("key")))

  private def pickMinRid(data: DataFrame, keys: Seq[String],
                         by: Seq[String]): DataFrame =
    data.withColumn("rid", when(col("rid").isNull,
        raise_error(lit("to_cube: a record has a null rid; the " +
          "representative pick needs a unique non-null record id")))
      .otherwise(col("rid")))
      .repartition(by.map(col): _*)
      .groupBy(keys.map(col): _*)
      .agg(min_by(col("d"), col("rid")).as("d"))

  private def records(df0: DataFrame): DataFrame = {
    val df = withRid(df0)
    val g0 = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    val g = if (g0.columns.contains("level")) g0 else Decode.addIpInfo(g0)
    g.filter(!col("nomvar").isin(Cubes.CubeSkip: _*))
  }

  def toCube(df0: DataFrame): DataFrame = {
    val picked = pickMinRid(records(df0),
      Seq("grid", "nomvar", "ip1_kind", "level"),
      Seq("grid", "nomvar", "ip1_kind"))
    picked.groupBy("grid", "nomvar", "ip1_kind")
      .agg(sort_array(collect_list(struct(col("level"), col("d"))))
        .as("asc_layers"))
      .withColumn("layers",
        when(IpColumns.ascending(col("ip1_kind")), col("asc_layers"))
          .otherwise(reverse(col("asc_layers"))))
      .select(col("grid"), col("nomvar"), col("ip1_kind"),
        size(col("layers")).as("n_levels"),
        transform(col("layers"), l => l.getField("level")).as("levels"),
        flatten(transform(col("layers"), l => l.getField("d")))
          .as("cube"))
  }

  def toCubeTimeseries(df0: DataFrame): DataFrame = {
    val picked = pickMinRid(records(df0),
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

  def toCubeWithCoords(df0: DataFrame): DataFrame = {
    val df = withRid(df0)
    val g = if (df.columns.contains("grid")) df else Decode.addGrid(df)
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

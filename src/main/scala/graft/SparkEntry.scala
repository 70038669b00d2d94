package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory: each entry is one
  * implemented operator (or operator composition) from SURVEY.md §2,
  * runnable on the driver's parquet test tables. `oracleSql` holds the
  * DuckDB-equivalent SQL for hash-compare; entries without an oracle
  * get a rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. QuickPressure is the showpiece domain computation:
    * vertical-coordinate classification + per-level PX pressure fields
    * derived from the catalog's own P0/PT/HY/!! descriptors.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("f19_quick_pressure")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++
      FstQueries.queries ++
      PipelineQueries.queries

  /** The queries, sorted by name, whose names start with one of the
    * comma-separated prefixes in `only` (an exact name is its own
    * prefix); all of them when `only` is None. This is the one query
    * filter of Bench, Verify and Tool. A prefix that matches no query
    * is an error, so a typo cannot pass as an empty run.
    */
  def selectQueries(only: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries.toSeq.sortBy(_._1)
    only.fold(all) { f =>
      val prefixes = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unmatched = prefixes.filterNot(p => all.exists(_._1.startsWith(p)))
      require(prefixes.nonEmpty && unmatched.isEmpty,
        s"query filter '$f' matches no query for: " +
          (if (prefixes.isEmpty) "(empty)" else unmatched.mkString(", ")))
      all.filter { case (name, _) => prefixes.exists(name.startsWith) }
    }
  }

  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++
      FstQueries.oracles ++
      PipelineQueries.oracles
}

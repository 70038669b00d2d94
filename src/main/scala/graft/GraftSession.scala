package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind every entry point — Bench, Verify
  * and [[Tool]] — so a plan dumped or timed by a dev tool is
  * planned exactly as the bench times it and the gate verifies it.
  * This is the documented deployment conf (README "Running at scale"):
  *
  *  - `local[n]` with `n` shuffle partitions, where `n` is
  *    `SPARK_GRAFT_CPUS` or, when that is unset, the machine's
  *    processor count; UTC session time zone; UI off.
  *  - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet has
  *    carried TIMESTAMP(NANOS), which Spark 4 reads only through the
  *    legacy long path (converted in `Tables.events`); harmless for
  *    microsecond data.
  *  - `spark.sql.optimizer.windowGroupLimitThreshold=8192`: pushes
  *    WindowGroupLimit below the shuffle for the library's
  *    rank-filtered audit-sample windows (caps are 4096, over the
  *    1000 default threshold); a semantics-exact optimizer rule.
  *  - `spark.sql.legacy.bucketedTableScan.outputOrdering`: a
  *    one-file-per-bucket bucketed scan exposes its sort order (Spark
  *    trusts it only when every bucket holds exactly one file), so
  *    compacted bucketed-index probes plan no index-side sort.
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`:
  *    lets AQE coalesce tiny post-shuffle partitions even when the
  *    result is persisted; small cached intermediates otherwise
  *    schedule full-width near-empty shuffle tasks.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(n: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

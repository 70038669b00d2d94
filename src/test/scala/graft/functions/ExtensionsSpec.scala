package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IpCodec

/** Config-only enablement: a session built with
  * `spark.sql.extensions=graft.functions.GraftExtensions` must expose
  * graft's native functions without any programmatic install call.
  * Suites run sequentially in the forked test JVM, so it is safe to
  * stop any session a previous suite left behind and build a fresh one
  * here (extensions only apply at session construction).
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("graft_encode_ip resolves through spark.sql.extensions alone") {
    val got = spark.sql(
      "SELECT graft_encode_ip(0.85, 1) AS ip").collect()(0).getInt(0)
    assert(got === IpCodec.encode(0.85f, 1))
  }

  test("injected function casts arguments like the programmatic path") {
    // double/int literals go through the Cast-inserting builder
    val got = spark.sql(
      "SELECT graft_encode_ip(500.0D, 2) AS ip").collect()(0).getInt(0)
    assert(got === IpCodec.encode(500f, 2))
  }

  test("native decode functions agree with the Column twins") {
    import org.apache.spark.sql.functions._
    val session = spark
    import session.implicits._
    // encode a spread of (value, kind) pairs, then decode via BOTH the
    // native SQL functions and the pure-Column twins — must be equal
    val ips = Seq(0f -> 0, 0.85f -> 1, 500f -> 2, 1.5f -> 4, 0.3f -> 5,
      24f -> 10).map { case (v, k) => IpCodec.encode(v, k) }
    val df = ips.toDF("ip")
      .withColumn("nat_v", expr("graft_decode_ip_value(ip)"))
      .withColumn("nat_k", expr("graft_decode_ip_kind(ip)"))
      .withColumn("col_v", graft.ops.IpColumns.decodeValue(col("ip")))
      .withColumn("col_k", graft.ops.IpColumns.decodeKind(col("ip")))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getFloat(1) == r.getFloat(3),
        s"value mismatch for ip ${r.getInt(0)}")
      assert(r.getInt(2) == r.getInt(4),
        s"kind mismatch for ip ${r.getInt(0)}")
    }
    // and the scalar codec agrees too
    rows.foreach { r =>
      assert(r.getFloat(1) == IpCodec.decodeValue(r.getInt(0)))
      assert(r.getInt(2) == IpCodec.decodeKind(r.getInt(0)))
    }
  }

  test("install leaves a session that has every function as it is") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val registry = spark.sessionState.functionRegistry
    def dot = spark.sql("SELECT graft_dot(array(1.0D), array(2.0D))")
      .collect()(0).getDouble(0)
    val sentinel: Seq[Expression] => Expression = _ => Literal(42.0)
    registry.createOrReplaceTempFunction("graft_dot", sentinel, "scala_udf")
    // every function is registered: install must not touch any of them
    GraftFunctions.install(spark)
    assert(dot == 42.0)
    // one function missing: install registers the whole set again
    registry.dropFunction(FunctionIdentifier("graft_fststat"))
    GraftFunctions.install(spark)
    assert(dot == 2.0)
    assert(registry.functionExists(FunctionIdentifier("graft_fststat")))
  }
}

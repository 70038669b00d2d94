package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IpCodec

/** `Cubes.toCube`, `toCubeTimeseries` and `toCubeWithCoords` assemble
  * each cube in one `graft_cube` aggregate. The plans they replaced
  * stay in [[CubeOracle]], and the operators must return the same
  * rows, levels, times and cubes bit for bit: on seeded random
  * catalogs whose duplicated levels are spread over partitions, with
  * NaN (two bit patterns), -0.0, 0.0 and null levels and datevs, null
  * payloads and null payload elements, ascending, descending and null
  * kinds, skipped variables and coordinate axes; identified by `rid`
  * and by `(path, key)`, with `level` given and decoded from `ip1`.
  * Every comparison runs twice: once as planned, and once with the
  * object hash aggregate's sort-based fallback after one key, so the
  * buffers take the serialize/deserialize path.
  */
class CubeOracleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 3)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = new StructType()
    .add("rid", LongType)
    .add("path", StringType).add("key", IntegerType)
    .add("grid", StringType).add("nomvar", StringType)
    .add("ip1_kind", IntegerType).add("level", FloatType)
    .add("ip1", IntegerType).add("ip2", IntegerType).add("ip3", IntegerType)
    .add("ig1", IntegerType).add("ig2", IntegerType)
    .add("datev", LongType)
    .add("d", ArrayType(FloatType, containsNull = true))

  private val oddNaN = java.lang.Float.intBitsToFloat(0x7fc00123)

  /** `n` records over a few (grid, nomvar, kind) groups, drawn from
    * small level / datev pools so most stack keys are duplicated; rows
    * are shuffled, so a key's copies land in different partitions.
    */
  private def catalog(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val levels: Seq[java.lang.Float] = Seq[java.lang.Float](1000f, 850f,
      500f, 1.5f, 0f, -0f, Float.NaN, oddNaN, null)
    val kinds: Seq[Integer] = Seq[Integer](0, 1, 2, 3, 5, null)
    val nomvars = Seq("TT", "UU", "HU", ">>", "HY")
    val rids = rnd.shuffle((1 to n).map(i => (i * 7919L) % 100003 - 500))
    val rows = rids.map { rid =>
      val len = 1 + rnd.nextInt(4)
      val d: Seq[java.lang.Float] =
        if (rnd.nextInt(40) == 0) null
        else Seq.fill(len)(rnd.nextInt(30) match {
          case 0 => null
          case 1 => Float.NaN
          case 2 => -0f
          case _ => rnd.nextFloat() * 100 - 50
        })
      val level = pick(levels)
      val kind = pick(kinds)
      val ip1 = if (level == null || level.isNaN || kind == null) -1
                else IpCodec.encode(level, 2)
      val datev: java.lang.Long =
        if (rnd.nextInt(15) == 0) null else pick(Seq(300L, 100L, 200L))
      Row(rid, s"/f${rnd.nextInt(3)}", rid.toInt, pick(Seq("g1", "g2")),
        pick(nomvars), kind, level, ip1, 0, 0, 7, 8, datev, d)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def bits(v: Any): String = v match {
    case null => "null"
    case f: Float => f"f${java.lang.Float.floatToRawIntBits(f)}%08x"
    case x: Double => f"d${java.lang.Double.doubleToRawLongBits(x)}%016x"
    case s: scala.collection.Seq[_] => s.map(bits).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(bits).mkString("(", ",", ")")
    case other => other.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => bits(r)).sorted

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Differences between the operator and its oracle, as planned and
    * with the sort-based fallback after one key.
    */
  private def compare(got: => DataFrame, want: => DataFrame): Seq[String] = {
    def once(tag: String): Seq[String] = {
      val (g, w) = (rows(got), rows(want))
      assert(g.nonEmpty, s"$tag: no cube")
      if (g == w) Nil
      else Seq(s"$tag: got ${g.diff(w).take(3)} want ${w.diff(g).take(3)}")
    }
    once("hash") ++ withConf(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1")(
      once("sort-fallback"))
  }

  private val seeds = 1 to 4

  test("toCube == the min_by / sort_array / flatten plan, bit for bit") {
    val bad = seeds.flatMap { s =>
      val cat = catalog(s, 200).drop("path", "key")
      compare(Cubes.toCube(cat), CubeOracle.toCube(cat)).map(s"seed $s " + _)
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("toCubeTimeseries == the min_by / sort_array / flatten plan") {
    val bad = seeds.flatMap { s =>
      val cat = catalog(s, 200).drop("path", "key")
      compare(Cubes.toCubeTimeseries(cat), CubeOracle.toCubeTimeseries(cat))
        .map(s"seed $s " + _)
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("cubes keyed by (path, key) and with decoded levels match too") {
    val bad = seeds.flatMap { s =>
      // no rid: the pick orders struct(path, key); no level / ip1_kind /
      // grid: they are decoded from ip1 (kind 2) and ig1, ig2
      val byHandle = catalog(s, 150).drop("rid")
      val decoded = catalog(s + 10, 150).drop("level", "ip1_kind", "grid")
      compare(Cubes.toCube(byHandle), CubeOracle.toCube(byHandle)) ++
        compare(Cubes.toCubeTimeseries(byHandle),
          CubeOracle.toCubeTimeseries(byHandle)) ++
        compare(Cubes.toCube(decoded), CubeOracle.toCube(decoded))
          .map(s"seed $s " + _)
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("toCubeWithCoords == the cube plus min(struct(rid, d)) axes") {
    val bad = seeds.flatMap { s =>
      val cat = catalog(s, 200).drop("path", "key")
        .withColumn("nomvar", when(col("nomvar") === "HY" &&
          col("rid") % 2 === 0, lit("^^")).otherwise(col("nomvar")))
      compare(Cubes.toCubeWithCoords(cat), CubeOracle.toCubeWithCoords(cat))
        .map(s"seed $s " + _)
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("an axis record with a null rid is picked, as min(struct(rid, d)) does") {
    val cat = catalog(6, 200).drop("path", "key")
      .withColumn("nomvar", when(col("nomvar") === "HY" &&
        col("rid") % 2 === 0, lit(">>")).otherwise(col("nomvar")))
    val nullAxis = cat.filter(col("nomvar") === ">>").agg(max("rid")).head()
      .getLong(0)
    val withNull = cat.withColumn("rid",
      when(col("rid") === nullAxis, lit(null)).otherwise(col("rid")))
    // the null rid orders first, so its grid's lon is that record's d
    val axis = withNull.filter(col("rid").isNull).select("grid", "d").head()
    val lons = Cubes.toCubeWithCoords(withNull)
      .filter(col("grid") === axis.getString(0)).select("lon").collect()
    assert(lons.nonEmpty &&
      lons.forall(r => bits(r.get(0)) == bits(axis.get(1))),
      lons.map(r => bits(r.get(0))).mkString(", "))
    assert(compare(Cubes.toCubeWithCoords(withNull),
      CubeOracle.toCubeWithCoords(withNull)).isEmpty)
  }

  test("a null payload nulls its cube and a null rid still fails") {
    val cat = catalog(5, 60).drop("path", "key")
    // the first pick of a cube variable's key: its cube turns null
    val first = cat.filter(col("nomvar") === "TT").agg(min("rid")).head()
      .getLong(0)
    val withNull = cat.withColumn("d",
      when(col("rid") === first, lit(null)).otherwise(col("d")))
    val cubes = Cubes.toCube(withNull).collect()
    assert(cubes.exists(_.isNullAt(5)))
    assert(compare(Cubes.toCube(withNull), CubeOracle.toCube(withNull))
      .isEmpty)
    val nullRid = cat.withColumn("rid",
      when(col("rid") % 3 === 0, lit(null)).otherwise(col("rid")))
    Seq(Cubes.toCube _, Cubes.toCubeTimeseries _).foreach { op =>
      val e = intercept[Exception](op(nullRid).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(
          "to_cube: a record has a null rid"))), e.toString)
    }
  }

  test("the partial aggregate drops duplicate records before the exchange") {
    // each record twice: one buffer per group and input partition
    // crosses the exchange, not the records
    val cat = catalog(2, 2000)
    val twice = cat.unionByName(cat.withColumn("rid", col("rid") + 1000000))
    val cube = Cubes.toCube(twice)
    assert(rows(cube) == rows(CubeOracle.toCube(twice)))
    val written = new AdaptiveSparkPlanHelper {}
      .collect(cube.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
      }
    val groups = cube.count()
    assert(written.size == 1 &&
      written.head <= groups * twice.rdd.getNumPartitions &&
      written.head < 4000 / 4, written)
  }
}

package graft.functions

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.meta.Lookups

/** The fststat and unit_convert payload kernels must be BIT-identical
  * to the higher-order-function forms they replaced, which stay here
  * as the oracle. Inputs are read back from parquet so the kernels run
  * in generated code (a local relation would be folded by the
  * optimizer through the interpreted path); each comparison is also
  * repeated with code generation off.
  */
class PayloadKernelsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val tmp = Files.createTempDirectory("graft_kernels").toFile

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  // ---- the HOF oracles (the forms Stats and UnitConvert used) ----

  private def hofSum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double"))

  private def hofSumSq(a: Column): Column =
    aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))

  private def hofFormula(x: Column, fromName: Column, fromFactor: Column,
                         toName: String, toFactor: Double): Column = {
    val v = x.cast("double")
    val temp = toName match {
      case "kelvin" =>
        when(fromName === "celsius", v + 273.15)
          .when(fromName === "fahrenheit", (v - 32) * 5 / 9 + 273.15)
          .when(fromName === "rankine", v * fromFactor)
      case "celsius" =>
        when(fromName === "kelvin", v - 273.15)
          .when(fromName === "fahrenheit", (v - 32) * 5 / 9)
          .when(fromName === "rankine", v * fromFactor - 273.15)
      case "fahrenheit" =>
        when(fromName === "kelvin", (v - 273.15) * 9 / 5 + 32)
          .when(fromName === "celsius", v * 9 / 5 + 32)
          .when(fromName === "rankine",
            (v * fromFactor - 273.15) * 9 / 5 + 32)
      case "rankine" =>
        when(fromName === "kelvin", v / toFactor)
          .when(fromName === "celsius", (v + 273.15) / toFactor)
          .when(fromName === "fahrenheit",
            ((v - 32) * 5 / 9 + 273.15) / toFactor)
      case _ => lit(null).cast("double")
    }
    coalesce(temp, v * (fromFactor / lit(toFactor)))
  }

  private def hofUnit(d: Column, fromName: Column, fromFactor: Column,
                      toName: String, toFactor: Double): Column =
    transform(d, x =>
      hofFormula(x, fromName, fromFactor, toName, toFactor).cast("float"))

  // ---- inputs ----

  private val rnd = new scala.util.Random(11)

  private val special: Seq[Seq[java.lang.Float]] = Seq[Seq[Any]](
    Seq(Float.NaN, 0f, -0f, Float.PositiveInfinity,
      Float.NegativeInfinity, 1.5f),
    Seq(-0f),
    Seq(-0f, -0f),
    Seq(Float.PositiveInfinity, Float.NegativeInfinity),
    Seq(Float.MaxValue, Float.MaxValue, -Float.MinPositiveValue),
    Seq(1f, null, 3f),
    Seq(null),
    Seq(Float.NaN, null),
    Seq()).map(_.map {
      case null => null
      case x: Float => java.lang.Float.valueOf(x)
    })

  private val randomRows: Seq[Seq[java.lang.Float]] = Seq.fill(40)(
    Seq.fill(1 + rnd.nextInt(300))(
      (rnd.nextFloat() * 2 - 1) * math.pow(10, rnd.nextInt(9) - 3).toFloat:
        java.lang.Float))

  /** `rows` as column `d` (array<float>, one null array row), read back
    * from parquet so the plan is a codegen-able file scan.
    */
  private def payloads(name: String, rows: Seq[Seq[java.lang.Float]],
                       extra: StructType = new StructType(),
                       extraValues: Seq[Seq[Any]] = Seq(Seq())): DataFrame = {
    val schema = new StructType()
      .add("id", IntegerType)
      .add("d", ArrayType(FloatType, containsNull = true))
    val all = StructType(schema.fields ++ extra.fields)
    val data = for {
      (r, i) <- (rows.map(Option(_)) :+ None).zipWithIndex
      (e, j) <- extraValues.zipWithIndex
    } yield Row.fromSeq(Seq(i * extraValues.size + j, r.orNull) ++ e)
    val path = new java.io.File(tmp, name).getAbsolutePath
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), all)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def bitsD(v: Any): Any = v match {
    case null => null
    case x: Double => java.lang.Double.doubleToRawLongBits(x)
  }

  private def bitsF(v: Any): Any = v match {
    case null => null
    case s: scala.collection.Seq[_] => s.map {
      case null => null
      case x: Float => java.lang.Float.floatToRawIntBits(x)
    }
  }

  /** Rows where the two columns differ bit-wise, under generated code
    * and again with code generation off.
    */
  private def mismatches(df: DataFrame, nat: Column, hof: Column,
                         bits: Any => Any): Seq[String] = {
    def run(): Seq[String] = df.select(col("id"), nat.as("nat"),
        hof.as("hof")).collect().toSeq.flatMap { r =>
      if (bits(r.get(1)) == bits(r.get(2))) None
      else Some(s"id ${r.getInt(0)}: native ${r.get(1)} != hof ${r.get(2)}")
    }
    val generated = run()
    val interpreted = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    generated ++ interpreted.map("interpreted " + _)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- graft_fststat ----

  private def kernelSum = GraftFunctions.fstStat(col("d"))("sum")

  test("graft_fststat sum == aggregate left fold, bit-for-bit") {
    val df = payloads("sum", randomRows ++ special)
    assert(mismatches(df, kernelSum, hofSum(col("d")), bitsD).isEmpty)
    assert(mismatches(df, GraftFunctions.fstStat(col("d"))("sumsq"),
      hofSumSq(col("d")), bitsD).isEmpty)
  }

  test("graft_fststat sum on array<double> and null/empty edge rows") {
    val df = payloads("sum_edges", special)
      .withColumn("d", col("d").cast("array<double>"))
    assert(mismatches(df, kernelSum, hofSum(col("d")), bitsD).isEmpty)
    val got = df.select(col("id"), kernelSum)
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(got(special.indexOf(Seq())) == 0.0) // empty sums to 0.0
    assert(got(special.size) == null) // null array
    assert(got(special.indexWhere(_.contains(null))) == null)
  }

  test("graft_dot(d, d) == the sum-of-squares fold fststat used") {
    val df = payloads("sumsq", randomRows ++ special)
    assert(mismatches(df, GraftFunctions.dot(col("d"), col("d")),
      hofSumSq(col("d")), bitsD).isEmpty)
  }

  test("fststat mean/std equal the HOF-built stats bit-for-bit") {
    val df = payloads("fststat", randomRows)
      .withColumn("ni", lit(4)).withColumn("nj", lit(1))
    val n = size(col("d")).cast("double")
    val mean = hofSum(col("d")) / n
    val std = sqrt(greatest(lit(0.0), hofSumSq(col("d")) / n - mean * mean))
    val got = graft.ops.Stats.fststat(df)
      .select(col("id"), col("mean"), col("std"),
        mean.as("hof_mean"), std.as("hof_std"))
      .collect()
    assert(got.length == randomRows.size + 1)
    got.foreach { r =>
      assert(bitsD(r.get(1)) == bitsD(r.get(3)), s"mean of id ${r.get(0)}")
      assert(bitsD(r.get(2)) == bitsD(r.get(4)), s"std of id ${r.get(0)}")
    }
  }

  /** fststat as it was built before `graft_fststat`: a chain of
    * `withColumn`s over `array_min`/`array_max`, `array_position`,
    * `graft_array_sum` (here its `aggregate` form, bit-identical to
    * it) and `graft_dot`.
    */
  private def chainedFststat(df: DataFrame): DataFrame = {
    val d = col("d")
    val n = size(d).cast("double")
    val mean = hofSum(d) / n
    val posMin = array_position(d, array_min(d))
    val posMax = array_position(d, array_max(d))
    df.withColumn("min", array_min(d))
      .withColumn("max", array_max(d))
      .withColumn("mean", mean)
      .withColumn("std", sqrt(greatest(lit(0.0),
        GraftFunctions.dot(d, d) / n - mean * mean)))
      .withColumn("min_pos_i",
        (pmod(posMin - 1, col("ni").cast("long")) + 1).cast("int"))
      .withColumn("min_pos_j",
        (floor((posMin - 1) / col("ni").cast("long")) + 1).cast("int"))
      .withColumn("max_pos_i",
        (pmod(posMax - 1, col("ni").cast("long")) + 1).cast("int"))
      .withColumn("max_pos_j",
        (floor((posMax - 1) / col("ni").cast("long")) + 1).cast("int"))
  }

  private val tiesAndSigns: Seq[Seq[java.lang.Float]] = Seq[Seq[Any]](
    Seq(0f, -0f), Seq(2f, 1f, 1f, 3f, 3f), Seq(Float.NaN, 1f, Float.NaN),
    Seq(null, -0f, 0f, null), Seq(Float.NegativeInfinity, null),
    Seq(Float.NaN)).map(_.map {
      case null => null
      case x: Float => java.lang.Float.valueOf(x)
    })

  test("fststat == the withColumn chain it replaced, bit-for-bit") {
    val base = payloads("fststat_chain", randomRows ++ special ++ tiesAndSigns)
      .withColumn("ni", (col("id") % 5 + 1).cast("int"))
      .withColumn("nj", lit(1))
    val stats = Seq("min", "max", "mean", "std", "min_pos_i", "min_pos_j",
      "max_pos_i", "max_pos_j")
    def bits(v: Any): Any = v match {
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case other => other
    }
    def run(df: DataFrame): Map[Int, Seq[Any]] =
      df.select((col("id") +: stats.map(col)): _*).collect().map(r =>
        r.getInt(0) -> r.toSeq.tail.map(bits)).toMap
    // an empty array divides by a zero size, which fails under ANSI,
    // in both forms; without ANSI its mean and std are null
    val bad = Seq(true, false).flatMap { ansi =>
      val df = if (ansi) base.filter(size(col("d")) =!= 0) else base
      def both(tag: String): Seq[String] = {
        val (got, want) = (run(graft.ops.Stats.fststat(df)),
          run(chainedFststat(df)))
        assert(got.size == df.count())
        got.keys.toSeq.sorted.filter(i => got(i) != want(i)).map(i =>
          s"$tag ansi=$ansi id $i: ${got(i)} != ${want(i)}")
      }
      withConf("spark.sql.ansi.enabled" -> ansi.toString) {
        both("generated") ++ withConf(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(both("interpreted"))
      }
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
  }

  // ---- graft_unit_convert ----

  private val temperatures = Seq("kelvin", "celsius", "fahrenheit",
    "rankine")

  private def factor(unit: String): Double =
    Lookups.Units.find(_._1 == unit).get._5

  /** Every array row crossed with every from-unit, plus a null
    * from-name and a null from-factor.
    */
  private def unitInput(name: String, froms: Seq[String]): DataFrame =
    payloads(name, randomRows.take(10) ++ special,
      new StructType().add("fu_name", StringType)
        .add("fu_factor", DoubleType),
      froms.map(f => Seq(f, factor(f))) ++
        Seq(Seq(null, 1.0), Seq("rankine", null), Seq("kelvin_per_day",
          null)))

  test("graft_unit_convert == transform formula for every temperature pair") {
    val df = unitInput("unit_temp", temperatures)
    val bad = temperatures.flatMap { to =>
      mismatches(df,
        GraftFunctions.unitConvert(col("d"), col("fu_name"),
          col("fu_factor"), to, factor(to)),
        hofUnit(col("d"), col("fu_name"), col("fu_factor"), to, factor(to)),
        bitsF).map(s"to $to: " + _)
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
  }

  test("graft_unit_convert == transform formula on a linear family") {
    val df = unitInput("unit_linear", Seq("kelvin_per_day",
      "kelvin_per_second"))
    val to = "kelvin_per_second"
    val bad = mismatches(df,
      GraftFunctions.unitConvert(col("d"), col("fu_name"),
        col("fu_factor"), to, factor(to)),
      hofUnit(col("d"), col("fu_name"), col("fu_factor"), to, factor(to)),
      bitsF)
    assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
    // and the kernel does convert: 1 K/d = 1.15740741e-05 K/s
    val one = spark.range(1).select(GraftFunctions.unitConvert(
      array(lit(1f)), lit("kelvin_per_day"), lit(factor("kelvin_per_day")),
      to, factor(to))).head().getSeq[Float](0)
    assert(one == Seq((1.0 * (1.15740741e-05 / 1.0)).toFloat))
  }

  test("graft_unit_convert on array<double> matches the formula") {
    val df = unitInput("unit_double", Seq("celsius", "rankine"))
      .withColumn("d", col("d").cast("array<double>"))
    val bad = mismatches(df,
      GraftFunctions.unitConvert(col("d"), col("fu_name"),
        col("fu_factor"), "fahrenheit", factor("fahrenheit")),
      hofUnit(col("d"), col("fu_name"), col("fu_factor"), "fahrenheit",
        factor("fahrenheit")),
      bitsF)
    assert(bad.isEmpty, bad.take(10).mkString("\n", "\n", ""))
  }

  // ---- whole-stage codegen ----

  test("whole-stage codegen survives both kernels (no fallback)") {
    // spark.range gives a codegen-able scan; with no exchange there is
    // no AQE wrapper, and "*(1)" marks WholeStageCodegen stage 1
    // covering the Project that hosts the kernel
    val arr = array(col("id").cast("float"), lit(-2f), lit(0.5f))
    val sum = spark.range(4).select(GraftFunctions.fstStat(arr)("sum")
      .as("s"))
    assert(sum.queryExecution.executedPlan.toString
      .contains("*(1) Project [graft_fststat"))
    assert(sum.collect().map(_.getDouble(0)).max == 3 - 2 + 0.5)
    val conv = spark.range(4).select(GraftFunctions.unitConvert(arr,
      lit("celsius"), lit(1.0), "kelvin", 1.0).as("k"))
    assert(conv.queryExecution.executedPlan.toString
      .contains("*(1) Project [graft_unit_convert"))
    assert(conv.collect().map(_.getSeq[Float](0).head).max ==
      (3.0 + 273.15).toFloat)
  }

  test("graft_unit_convert rejects a target it cannot divide by") {
    val e = intercept[Exception] {
      spark.range(1).select(GraftFunctions.unitConvert(array(lit(1f)),
        lit("kelvin"), lit(1.0), "rankine", 0.0)).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("non-zero"))))
  }
}

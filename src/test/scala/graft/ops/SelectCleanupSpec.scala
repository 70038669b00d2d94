package graft.ops

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IpCodec
import graft.meta.Lookups

/** `Select.metadataCleanup` computes its kept set on the driver. The
  * Spark plan it replaced (two windows, three broadcast joins and a
  * dedup) stays here as the oracle, and the two must keep the same
  * records: on seeded fixture catalogs, on seeded random catalogs
  * identified by `rid`, by `(path, key)` and by neither, with nulls in
  * the match and rule columns, duplicate coordinate records and data
  * predicates that leave a grid without data.
  *
  * Where the oracle's pick is arbitrary (its `dropDuplicates`, or a
  * window order over tied columns) the operator must still keep exactly
  * one record per `MetaSubset` key, chosen from that key's candidates.
  */
class SelectCleanupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val tmp = Files.createTempDirectory("graft_cleanup").toFile

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  // ---- the oracle: the Spark-plan cleanup the operator replaced ----

  private def oracle(df: DataFrame, dataPredicate: Column): DataFrame = {
    import Select._
    val g = if (df.columns.contains("grid")) df else Decode.addGrid(df)
    val cols = g.columns
    val noMeta = antiMeta(g).filter(dataPredicate)
    val metaDf = selectMeta(g)
    val summary = noMeta
      .withColumn("k", IpColumns.decodeKind(col("ip1")))
      .groupBy("grid", "dateo", "deet", "npas").agg(
        max(col("k") === 1).as("s_sigma"),
        max(col("k") === 5).as("s_hybrid"),
        max(col("k") === 2).as("s_pressure"),
        min("ni").as("sni"), min("nj").as("snj"))
    val perGrid = summary.groupBy("grid").agg(
      max("s_sigma").as("has_sigma"),
      max("s_hybrid").as("has_hybrid"),
      max("s_pressure").as("has_pressure"),
      min("sni").as("gni"), min("snj").as("gnj"))
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
    val maskedKeys = Seq(
      when(col("mt") <= 2, col("dateo")),
      when(col("mt") === 1, col("deet")),
      when(col("mt") === 1, col("npas")))
    val tieCols = tieOf(cols).map(col)
    val wd = Window.partitionBy(
      (Seq(col("grid"), col("gdateo"), col("gdeet"), col("gnpas")) ++
        DeformSubset.filterNot(Seq("dateo", "deet", "npas").contains)
          .map(col) ++ maskedKeys): _*)
      .orderBy(tieCols: _*)
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
    val hybridAny = summary.agg(max("s_hybrid").as("any_hybrid"))
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
          (col("has_hybrid") && col("ig1").isin(Lookups.HybridVcodes: _*)) ||
          (col("has_sigma") && col("ig1").isin(Lookups.SigmaVcodes: _*)) ||
          (col("has_pressure") &&
            col("ig1").isin(Lookups.PressureVcodes: _*)))))
      .select(cols.map(col): _*)
      .dropDuplicates(MetaSubset)
    noMeta.unionByName(deform).unionByName(kept)
  }

  private def tieOf(cols: Seq[String]): Seq[String] =
    if (cols.contains("rid")) Seq("rid")
    else if (cols.contains("path") && cols.contains("key"))
      Seq("path", "key")
    else Seq("typvar", "etiket", "ip3", "datev", "datyp", "nbits",
      "grtyp", "ig3", "ig4").filter(cols.contains)

  // ---- the comparison ----

  private def isMeta(r: Row): Boolean =
    Select.CleanupMeta.contains(r.getAs[String]("nomvar"))

  private def metaKey(r: Row): Seq[Any] =
    Select.MetaSubset.map(c => r.get(r.fieldIndex(c)))

  private def bag[T](xs: Seq[T]): Map[T, Int] =
    xs.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Runs both cleanups and checks that they keep the same records;
    * returns the operator's meta rows.
    */
  private def parity(in: DataFrame, pred: Column = lit(true),
                     clue: String = ""): Seq[Row] = {
    val want = oracle(in, pred).collect().toSeq
    val got = Select.metadataCleanup(in, pred).collect().toSeq
    val (wantMeta, wantData) = want.partition(isMeta)
    val (gotMeta, gotData) = got.partition(isMeta)
    withClue(clue) {
      assert(bag(gotData) == bag(wantData))
      assert(bag(gotMeta.map(metaKey)) == bag(wantMeta.map(metaKey)))
      assert(gotMeta.map(metaKey).distinct.size == gotMeta.size)
      // each kept record is one of its key's records; where the oracle's
      // pick is fixed (a deformation record with a unique tiebreak, or
      // a key with one record) it is the same record
      val g = if (in.columns.contains("grid")) in else Decode.addGrid(in)
      val tie = tieOf(g.columns)
      val byKey = g.collect().toSeq.filter(isMeta).groupBy(metaKey)
      val wantByKey = wantMeta.map(r => metaKey(r) -> r).toMap
      gotMeta.foreach { r =>
        val cands = byKey(metaKey(r))
        assert(cands.contains(r), r)
        val tieUnique =
          cands.map(c => tie.map(t => c.get(c.fieldIndex(t)))).distinct.size ==
            cands.size
        if (Seq("^^", ">>", "^>").contains(r.getAs[String]("nomvar")) &&
          tieUnique) assert(r == wantByKey(metaKey(r)), r)
      }
    }
    gotMeta
  }

  // ---- seeded random catalogs ----

  private val schema = StructType(Seq(
    StructField("rid", LongType), StructField("nomvar", StringType),
    StructField("typvar", StringType), StructField("etiket", StringType),
    StructField("ni", IntegerType), StructField("nj", IntegerType),
    StructField("nk", IntegerType), StructField("dateo", LongType),
    StructField("ip1", IntegerType), StructField("ip2", IntegerType),
    StructField("ip3", IntegerType), StructField("deet", IntegerType),
    StructField("npas", IntegerType), StructField("datyp", IntegerType),
    StructField("nbits", IntegerType), StructField("grtyp", StringType),
    StructField("ig1", IntegerType), StructField("ig2", IntegerType),
    StructField("ig3", IntegerType), StructField("ig4", IntegerType),
    StructField("datev", LongType), StructField("path", StringType),
    StructField("key", IntegerType),
    StructField("d", ArrayType(FloatType))))

  /** A small catalog over few grids, times and values, so that match
    * tiers, rule outcomes and MetaSubset collisions all occur; about
    * one value in twelve of dateo/deet/npas/ig1/ni/ip1 is null.
    */
  private def randomCatalog(seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def one[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def orNull[T](x: T): Any = if (rnd.nextInt(12) == 0) null else x
    val vcodes = Lookups.HybridVcodes ++ Lookups.SigmaVcodes ++
      Lookups.PressureVcodes :+ 9999
    val data = (1 to 20 + rnd.nextInt(20)).map { _ =>
      val kind = one(1, 2, 5, 4)
      val level = if (kind == 2) one(1000f, 500f) else one(1.0f, 0.5f)
      (one("TT", "UU", "HU"), orNull(IpCodec.encode(level, kind)), 0,
        orNull(one(1, 2, 3)), "Z")
    }
    val meta = (1 to 15 + rnd.nextInt(20)).map { _ =>
      val nomvar = one(Select.CleanupMeta: _*)
      val coord = Seq("^^", ">>", "^>", "!!", "!!SF").contains(nomvar)
      val ig1 = if (nomvar == "!!") one(vcodes: _*) else one(1, 2, 3)
      (nomvar, if (coord) orNull(one(1, 2, 3)) else orNull(0),
        if (coord) 7 else 0, orNull(ig1), if (coord) "E" else "Z")
    }
    val base = (data ++ meta).map { case (nomvar, ip1, ip2, ig1, grtyp) =>
      val dateo = orNull(one(100L, 200L))
      Seq[Any](nomvar, one("P", "X"), one("E1", "E2"),
        orNull(one(2, 3)), 2, 1, dateo, ip1, ip2, 0,
        orNull(one(0, 300)), orNull(one(0, 1)), 5, 32, grtyp, ig1, 7, 0, 0,
        dateo)
    }
    // exact copies of some meta records: alike in every metadata column
    val copies = base.filter(r => Select.CleanupMeta.contains(r.head))
      .filter(_ => rnd.nextInt(4) == 0)
    (base ++ copies).zipWithIndex.map { case (r, i) =>
      Row.fromSeq(Seq[Any](i + 1L) ++ r ++
        Seq(s"f${i % 3}", i, Seq(i.toFloat, seed.toFloat)))
    }
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The three identity modes of a catalog. */
  private def modes(df: DataFrame): Seq[(String, DataFrame)] = Seq(
    "rid" -> df.drop("path", "key"),
    "path,key" -> df.drop("rid"),
    "neither" -> df.drop("rid", "path", "key"))

  private val predicates: Seq[(String, Column)] = Seq(
    "all" -> lit(true),
    "TT,UU" -> col("nomvar").isin("TT", "UU"),
    // grid "27" keeps its meta candidates but loses all its data
    "no grid 2" -> (col("ig1") =!= 2))

  test("random catalogs: same records as the Spark-plan oracle") {
    for {
      seed <- 1L to 8L
      (mode, df) <- modes(frame(randomCatalog(seed)))
      (pname, pred) <- predicates
    } parity(df, pred, s"seed $seed, $mode, $pname")
  }

  test("seeded fixture catalogs, read back by (path, key) too") {
    import spark.implicits._
    // SyntheticCatalog derives its data records from the order keys
    Seq(11L, 12L).foreach { seed =>
      val dir = new java.io.File(tmp, s"sf$seed").getPath
      new scala.util.Random(seed).shuffle((1L to 6000L).toList).take(600)
        .toDF("o_orderkey").write.parquet(s"$dir/orders.parquet")
      val cat = graft.fixtures.SyntheticCatalog.catalog(spark, dir)
      predicates.foreach { case (pname, pred) =>
        assert(parity(cat, pred, s"seed $seed, rid, $pname").nonEmpty)
      }
      val path = s"$dir/records"
      graft.sources.fst.FstWriter.write(cat, path, cleanup = false,
        maxRecordsPerFile = 128)
      val back = spark.read.format("fstrec").load(path)
      predicates.foreach { case (pname, pred) =>
        parity(back, pred, s"seed $seed, path,key, $pname")
        parity(back.drop("path", "key"), pred, s"seed $seed, neither, $pname")
      }
    }
  }

  // ---- hand-made edge cases ----

  private val sigma = IpCodec.encode(0.5f, 1)

  /** rid, nomvar, etiket, ni, dateo, ip1, ig1, deet, npas */
  private def catalog(rs: (Long, String, String, Any, Any, Any, Any, Any,
    Any)*): DataFrame = frame(rs.map {
    case (rid, nomvar, etiket, ni, dateo, ip1, ig1, deet, npas) =>
      val coord = Seq("^^", ">>", "^>", "!!").contains(nomvar)
      Row(rid, nomvar, "X", etiket, ni, 2, 1, dateo, ip1,
        if (coord) 7 else 0, 0, deet, npas, 5, 32, "Z", ig1,
        if (coord) 0 else 7, 0, 0, dateo, "f", rid.toInt,
        Seq(rid.toFloat))
  })

  test("duplicate coordinate records sharing a MetaSubset key") {
    // grid "17": sigma data; two ^^ and two P0 records that differ only
    // in rid and etiket (not in MetaSubset); exact copies of a >>
    val df = catalog(
      (1L, "TT", "A", 2, 100L, sigma, 1, 0, 0),
      (5L, "^^", "A", 2, 100L, 1, 0, 0, 0),
      (3L, "^^", "B", 2, 100L, 1, 0, 0, 0),
      (6L, ">>", "A", 2, 100L, 1, 0, 0, 0),
      (7L, ">>", "A", 2, 100L, 1, 0, 0, 0),
      (9L, "P0", "A", 2, 100L, 0, 1, 0, 0),
      (8L, "P0", "B", 2, 100L, 0, 1, 0, 0))
    modes(df).foreach { case (mode, m) =>
      val kept = parity(m, clue = mode)
      assert(kept.map(_.getAs[String]("nomvar")).sorted ==
        Seq(">>", "P0", "^^"), mode)
      if (mode == "rid") assert(kept.map(_.getAs[Long]("rid")).sorted ==
        Seq(3L, 6L, 8L))
    }
    // alike in every column the cleanup reads, and no tiebreak column
    // left to tell them apart: still one row per key
    val twins = df.drop("rid", "path", "key", "d")
    assert(parity(twins, clue = "twins").size == 3)
  }

  test("null dateo/deet/npas/ig1/ni: a null is not a match, null keys group") {
    val df = catalog(
      // grid "17": one data group with null dateo, one with null deet
      (1L, "TT", "A", 2, null, sigma, 1, 0, 0),
      (2L, "TT", "A", 2, 100L, sigma, 1, null, 0),
      (3L, "UU", "A", 2, 100L, sigma, 1, null, null),
      // a data record with no grid (null ig1) and one with null ni
      (4L, "TT", "A", 2, 100L, sigma, null, 0, 0),
      (5L, "HU", "A", null, 200L, IpCodec.encode(0.5f, 5), 1, 0, 0),
      // coordinate records: null dateo, null deet, exact matches
      (10L, "^^", "A", 2, null, 1, 0, 0, 0),
      (11L, "^^", "A", 2, 100L, 1, 0, null, 0),
      (12L, ">>", "A", 2, 100L, 1, 0, 0, 0),
      (13L, "^>", "A", 2, 200L, 1, 0, 0, null),
      (14L, ">>", "A", 2, 100L, null, 0, 0, 0),
      // rules: P0 with null ni, P0 with matching dims, !! with null ig1
      (20L, "P0", "A", null, 100L, 0, 1, 0, 0),
      (21L, "P0", "A", 2, 300L, 0, 1, 0, 0),
      (22L, "!!", "A", 2, 100L, 1, null, 0, 0),
      (23L, "!!", "A", 2, 100L, 1, 1001, 0, 0),
      (24L, "PT", "A", 2, 100L, 0, null, 0, 0),
      (25L, "HY", "A", 2, 100L, 0, 0, 0, 0))
    modes(df).foreach { case (mode, m) =>
      predicates.foreach { case (pname, pred) =>
        parity(m, pred, s"$mode, $pname")
      }
    }
    val kept = parity(df.drop("path", "key")).map(_.getAs[Long]("rid"))
    assert(kept.contains(21L) && kept.contains(23L) && kept.contains(25L))
    assert(!kept.contains(20L) && !kept.contains(22L) && !kept.contains(24L))
  }

  test("a (path, key) that changes between evaluations loses no record") {
    // Api.read's dropDuplicates may keep a different copy of a
    // duplicated record each time the plan runs; here every evaluation
    // renames every path
    val df = catalog(
      (1L, "TT", "A", 2, 100L, sigma, 1, 0, 0),
      (2L, "^^", "A", 2, 100L, 1, 0, 0, 0),
      (3L, ">>", "A", 2, 200L, 1, 0, 0, 0),
      (4L, "P0", "A", 2, 100L, 0, 1, 0, 0),
      (5L, "!!", "A", 2, 100L, 1, 1001, 0, 0)).drop("rid")
    val moving = df.withColumn("path",
      udf(() => s"copy${SelectCleanupSpec.evals.incrementAndGet()}")
        .asNondeterministic()())
    def nomvars(out: DataFrame) =
      out.collect().map(_.getAs[String]("nomvar")).sorted.toSeq
    assert(nomvars(Select.metadataCleanup(moving)) ==
      Seq("!!", ">>", "P0", "TT", "^^"))
  }

  test("a catalog with no justified meta keeps only its data side") {
    val df = catalog(
      (1L, "TT", "A", 2, 100L, IpCodec.encode(1000f, 2), 1, 0, 0),
      (2L, "P0", "A", 2, 100L, 0, 1, 0, 0),
      (3L, "^^", "A", 2, 100L, 2, 0, 0, 0))
    assert(parity(df).isEmpty)
    assert(Select.metadataCleanup(df).count() == 1)
  }

  test("repeated cleanups persist nothing and need no release") {
    // frames other suites left registered are not this operator's
    graft.core.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val df = frame(randomCatalog(1L))
    (1 to 20).foreach { i =>
      Seq(Select.metadataCleanup(df), Select.selectWithMeta(df, Seq("TT")))
        .foreach(_.write.format("noop").mode("overwrite").save())
      assert(graft.core.CacheRegistry.size == 0, s"call $i")
      val cached = spark.sparkContext.getRDDStorageInfo
        .filterNot(r => before(r.id))
      assert(cached.isEmpty, s"call $i: ${cached.mkString(", ")}")
    }
  }
}

object SelectCleanupSpec {
  /** One counter per JVM: a UDF closure would be copied per task. */
  val evals = new java.util.concurrent.atomic.AtomicLong()
}

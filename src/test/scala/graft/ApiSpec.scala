package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one-call read facade: fstrec scan + query + decode + dedup. */
class ApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("Api XDF write + native-precision read round-trips datyp 2") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_api_xdf").toFile
    val base = (1 to 6).toDF("i").select(
      lit("NT").as("nomvar"), lit("P").as("typvar"),
      lit("XAPI").as("etiket"),
      lit(2).as("ni"), lit(2).as("nj"), lit(1).as("nk"),
      lit(442998800L).as("dateo"), lit(500).as("ip1"),
      lit(0).as("ip2"), col("i").as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(2).as("datyp"),
      lit(16).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(col("i").cast("float"), lit(65535f), lit(0f),
        lit(1234f)).as("d"))
    Api.write(base, dir.getAbsolutePath, container = "xdf")
    val back = Api.readNativePrecision(spark,
      Seq(dir.getAbsolutePath))
    assert(back.count() == 6)
    val row = back.filter(col("ip3") === 3)
      .select("d", "d64").head()
    assert(row.getSeq[Float](0) == Seq(3f, 65535f, 0f, 1234f))
    assert(row.getSeq[Double](1) == Seq(3.0, 65535.0, 0.0, 1234.0))
  }

  test("Api.read reads, filters, decodes, and deduplicates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_api").toFile
    val base = (1 to 10).toDF("i").select(
      when(col("i") % 2 === 0, "TT").otherwise("UU").as("nomvar"),
      lit("P").as("typvar"), lit("R1_V710_N").as("etiket"),
      lit(2).as("ni"), lit(2).as("nj"), lit(1).as("nk"),
      lit(442998800L).as("dateo"), lit(500).as("ip1"),
      lit(0).as("ip2"), (col("i") % 5).cast("int").as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(5).as("datyp"),
      lit(32).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(lit(1f), lit(2f), lit(3f), lit(4f)).as("d"))
    // i and i+5 share (nomvar, ip3) => 19-column duplicates
    sources.fst.FstWriter.write(base, dir.getAbsolutePath,
      cleanup = false)

    val tt = Api.read(spark, Seq(dir.getAbsolutePath),
      decodeMetadata = true, query = Some("nomvar == 'TT'"))
    assert(tt.columns.contains("level") &&
      tt.columns.contains("unit") && tt.columns.contains("label"))
    // 5 TT records, pairwise duplicate identities => 3 survive? No:
    // ip3 of TT rows (i=2,4,6,8,10) = 2,4,1,3,0 — all distinct => 5
    assert(tt.count() == 5)
    assert(tt.select("nomvar").distinct().as[String].collect()
      .toSeq == Seq("TT"))

    // duplicate records collapse: doubling the input changes nothing
    sources.fst.FstWriter.write(base, dir.getAbsolutePath + "_b",
      cleanup = false)
    val both = Api.read(spark,
      Seq(dir.getAbsolutePath, dir.getAbsolutePath + "_b"),
      query = Some("nomvar == 'TT'"))
    assert(both.count() == 5)

    // query may reference DECODED columns (applied after decode):
    // old-style ip1=500 decodes to pressure level 500.0 on all rows
    val lvl = Api.read(spark, Seq(dir.getAbsolutePath),
      decodeMetadata = true, query = Some("level == 500.0"))
    assert(lvl.count() == 10)

    // the facade's read output assembles into cubes (rid derived
    // from the scan's (path, key) when absent)
    val cube = Api.toCube(tt, coords = false)
    assert(cube.count() > 0)
  }

  /** Eight records, `r` and `r + 4` alike in every dedup column (ip3 =
    * r % 4) but ig2 = r; payload (r, tag).
    */
  private def writeDuplicated(path: String, tag: Float): Unit = {
    import spark.implicits._
    val base = (0 until 8).toDF("r").select(
      lit("TT").as("nomvar"), lit("P").as("typvar"),
      lit("R1_V710_N").as("etiket"),
      lit(2).as("ni"), lit(1).as("nj"), lit(1).as("nk"),
      lit(442998800L).as("dateo"), lit(500).as("ip1"),
      lit(0).as("ip2"), (col("r") % 4).cast("int").as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(5).as("datyp"),
      lit(32).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      col("r").as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(col("r").cast("float"), lit(tag)).as("d"))
    sources.fst.FstWriter.write(base, path, cleanup = false)
  }

  test("Api.read keeps the lowest (path, key) copy, the same on every " +
      "evaluation") {
    val root = Files.createTempDirectory("graft_api_dups").toString
    // listed out of order; within a file the copies differ by key
    val dirs = Seq(s"$root/b", s"$root/a")
    dirs.zipWithIndex.foreach { case (d, i) => writeDuplicated(d, i + 1f) }
    val raw = spark.read.format("fstrec").load(dirs: _*)
      .select("ip3", "path", "key", "ig2", "d").collect().toSeq
    def bytes(s: String) = s.getBytes("UTF-8").map(_ & 0xff).toSeq
    val byHandle: Ordering[org.apache.spark.sql.Row] = Ordering.by(
      (r: org.apache.spark.sql.Row) => (bytes(r.getString(1)), r.getInt(2)))(
      Ordering.Tuple2(Ordering.Implicits.seqOrdering[Seq, Int],
        Ordering.Int))
    def expected(keep: Int => Boolean) = raw.groupBy(_.getInt(0))
      .filter(g => keep(g._1)).values.map(_.min(byHandle).toSeq).toSeq
      .sortBy(_.head.asInstanceOf[Int])
    assert(raw.size == 16 && expected(_ => true).size == 4)
    for ((query, keep) <- Seq[(Option[String], Int => Boolean)](
        None -> (_ => true), Some("ip3 < 2") -> (_ < 2))) {
      val read = Api.read(spark, dirs, query = query)
      def kept() = read.select("ip3", "path", "key", "ig2", "d")
        .orderBy("ip3").collect().map(_.toSeq).toSeq
      val first = kept()
      assert(first == expected(keep), query)
      assert(kept() == first, query)
      // the kept copies come from the lower directory, first key first
      assert(first.forall(_(1).toString.contains("/a/")), query)
    }
    // decode on: the same kept copies, decoded
    val decoded = Api.read(spark, dirs, decodeMetadata = true)
    assert(decoded.select("ip3", "path", "key", "ig2", "d").orderBy("ip3")
      .collect().map(_.toSeq).toSeq == expected(_ => true))
    assert(decoded.columns.contains("level"))
  }

  test("Api.read plans no aggregate, exchange or join for its dedup") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Deduplicate, Join}
    val root = Files.createTempDirectory("graft_api_plan").toString
    writeDuplicated(s"$root/a", 1f)
    writeDuplicated(s"$root/b", 2f)
    def check(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val opt = df.queryExecution.optimizedPlan
      assert(opt.collect { case p @ (_: Aggregate | _: Deduplicate |
        _: Join) => p }.isEmpty, s"$what:\n$opt")
      df.write.format("noop").mode("overwrite").save()
      val exec = df.queryExecution.executedPlan.toString
      assert(!exec.contains("Exchange") && !exec.contains("Aggregate"),
        s"$what:\n$exec")
    }
    // no duplicates: the frame is the scan itself
    val clean = Api.read(spark, Seq(s"$root/a"), query = Some("ip3 < 4 AND ig2 < 4"))
    check(clean, "no duplicates")
    assert(clean.count() == 4)
    val plain = spark.read.format("fstrec").load(s"$root/a")
      .filter("ip3 < 4 AND ig2 < 4")
    def noIds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "#")
    assert(noIds(clean) == noIds(plain))
    // duplicates within and across files: one more filter
    val dups = Api.read(spark, Seq(s"$root/a", s"$root/b"))
    check(dups, "duplicates")
    assert(dups.count() == 4)
  }

  test("Api.read's dedup filter compiles nothing new for more handles") {
    // an isin of fewer than inSetConversionThreshold (10) values writes
    // each value into the generated code
    val root = Files.createTempDirectory("graft_api_codegen").toString
    writeDuplicated(s"$root/a", 1f)
    writeDuplicated(s"$root/b", 2f)
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    def run(paths: String*): Unit = Api.read(spark, paths)
      .write.format("noop").mode("overwrite").save()
    run(s"$root/a") // drops 4 handles
    run(s"$root/a")
    val before = compiles
    run(s"$root/b") // other handles
    run(s"$root/a", s"$root/b") // 12 handles
    assert(compiles == before)
  }

  test("Api.read's call-time collect reads no payload") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("graft_api_collect").toString
    writeDuplicated(s"$root/a", 1f)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") seen.add(qe.optimizedPlan.collect {
          case r: DataSourceV2ScanRelation => r.scan.readSchema().fieldNames
        }.flatten)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Api.read(spark, Seq(s"$root/a"))
      Api.read(spark, Seq(s"$root/a"), decodeMetadata = true,
        query = Some("level == 500.0 AND forecast_hour >= 0"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val schemas = seen.asScala.toSeq
    assert(schemas.size == 2, schemas)
    schemas.foreach { cols =>
      assert(cols.contains("path") && cols.contains("key"), cols)
      assert(!cols.contains("d"), cols)
    }
  }

  test("Api.continuousBuild: streaming loop accumulates a near-dup-free corpus") {
    import spark.implicits._
    graft.functions.GraftFunctions.install(spark)
    val stageDir = Files.createTempDirectory("graft_api_cb_src").toString
    val idx = Files.createTempDirectory("graft_api_cb_idx").toString + "/ix"
    val corpus = Files.createTempDirectory("graft_api_cb_out").toString + "/c"
    def doc(n: Int): String =
      (1 to 30).map(i => s"w${(i * n) % 17}").mkString(" ")
    // batch 1: two novels; batch 2: a near-dup of doc 1 + a novel;
    // batch 3: an exact dup of doc 2 + two MUTUAL near-dups (only
    // the min id may survive the intra-batch election)
    val batches = Seq(
      Seq((1L, doc(3)), (2L, doc(5))),
      Seq((3L, doc(3) + " zzz tail"), (4L, doc(11))),
      Seq((5L, doc(5)), (6L, doc(13)), (7L, doc(13) + " tail x")))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$stageDir/b$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    pipeline.NearDup.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    batches.indices.foreach { i =>
      val q = Api.continuousBuild(
        spark.readStream.schema(schema).parquet(s"$stageDir/b$i"),
        idx, corpus,
        Files.createTempDirectory(s"graft_api_cb_ck$i").toString,
        trigger = Some(org.apache.spark.sql.streaming.Trigger
          .AvailableNow()))
      assert(q.awaitTermination(120000), s"batch $i drain timed out")
    }
    val ids = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 6L),
      s"continuousBuild accumulated $ids")
    // the sink and the index's signature table agree on membership
    val idxIds = spark.read.parquet(s"$idx/signatures")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idxIds == ids, s"index membership $idxIds != corpus $ids")
  }

  private def cbDoc(n: Int): String =
    (1 to 30).map(i => s"w${(i * n) % 17}").mkString(" ")

  private def cbSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  test("Api.continuousBuild: bucketed layout + compactEvery cadence " +
      "matches the plain loop's corpus") {
    import spark.implicits._
    graft.functions.GraftFunctions.install(spark)
    val srcDir = Files.createTempDirectory("graft_api_cbb_src").toString
    val idx = Files.createTempDirectory("graft_api_cbb_idx").toString + "/ix"
    val table = "graft_api_cbb_bands"
    val corpus = Files.createTempDirectory("graft_api_cbb_out").toString + "/c"
    val ck = Files.createTempDirectory("graft_api_cbb_ck").toString
    // same 3-batch fixture as the plain-loop test above, so the
    // expected corpus is the same Seq(1, 2, 4, 6); batches land as
    // file APPENDS into one source dir under ONE checkpoint, so the
    // streaming batchIds increment 0, 1, 2 and compactEvery = 2
    // fires a real mid-loop bucketed compaction after batch 1
    val batches = Seq(
      Seq((1L, cbDoc(3)), (2L, cbDoc(5))),
      Seq((3L, cbDoc(3) + " zzz tail"), (4L, cbDoc(11))),
      Seq((5L, cbDoc(5)), (6L, cbDoc(13)), (7L, cbDoc(13) + " tail x")))
    pipeline.NearDup.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx,
      pipeline.IndexLayout.Bucketed(table))
    batches.foreach { rows =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
      val q = Api.continuousBuild(
        spark.readStream.schema(cbSchema).parquet(srcDir),
        idx, corpus, ck,
        trigger = Some(org.apache.spark.sql.streaming.Trigger
          .AvailableNow()),
        compactEvery = Some(2))
      assert(q.awaitTermination(120000), "bucketed drain timed out")
    }
    val ids = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 6L),
      s"bucketed continuousBuild accumulated $ids")
    val idxIds = spark.read.parquet(s"$idx/signatures")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idxIds == ids, s"index membership $idxIds != corpus $ids")
    // the cadence really compacted: the bands table is still the
    // bucketed layout and serves a probe after the mid-loop rewrite
    assert(spark.table(table).count() > 0)
  }

  test("Api.continuousBuild: compactEvery cadence on the plain layout " +
      "bounds index files without changing the corpus") {
    import spark.implicits._
    graft.functions.GraftFunctions.install(spark)
    val srcDir = Files.createTempDirectory("graft_api_cbp_src").toString
    val idx = Files.createTempDirectory("graft_api_cbp_idx").toString + "/ix"
    val corpus = Files.createTempDirectory("graft_api_cbp_out").toString + "/c"
    val ck = Files.createTempDirectory("graft_api_cbp_ck").toString
    val batches = Seq(
      Seq((1L, cbDoc(3)), (2L, cbDoc(5))),
      Seq((3L, cbDoc(3) + " zzz tail"), (4L, cbDoc(11))),
      Seq((5L, cbDoc(5)), (6L, cbDoc(13)), (7L, cbDoc(13) + " tail x")))
    pipeline.NearDup.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    batches.foreach { rows =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
      val q = Api.continuousBuild(
        spark.readStream.schema(cbSchema).parquet(srcDir),
        idx, corpus, ck,
        trigger = Some(org.apache.spark.sql.streaming.Trigger
          .AvailableNow()),
        compactEvery = Some(1))
      assert(q.awaitTermination(120000), "plain-cadence drain timed out")
    }
    val ids = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 4L, 6L),
      s"plain cadence loop accumulated $ids")
    // compaction ran after EVERY batch: both tables sit at the
    // compactIndex target file count, not one-file-per-append growth
    def files(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    assert(files(s"$idx/signatures") <= 32 && files(s"$idx/bands") <= 32,
      s"cadence compaction must bound index files, got " +
        s"${files(s"$idx/signatures")}/${files(s"$idx/bands")}")
  }

  test("Api.continuousBuild: compactAdvice compacts on measured debt, " +
      "stays idle below it") {
    import spark.implicits._
    graft.functions.GraftFunctions.install(spark)
    val srcDir = Files.createTempDirectory("graft_api_adv_src").toString
    val idx = Files.createTempDirectory("graft_api_adv_idx").toString + "/ix"
    val corpus = Files.createTempDirectory("graft_api_adv_out").toString + "/c"
    val ck = Files.createTempDirectory("graft_api_adv_ck").toString
    pipeline.NearDup.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    def files(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    // generous thresholds: debt never crosses, so NO compaction runs
    // and append-mode file growth is visible
    val batches = Seq(
      Seq((1L, cbDoc(3)), (2L, cbDoc(5))),
      Seq((3L, cbDoc(11)), (4L, cbDoc(13))))
    batches.foreach { rows =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
      val q = Api.continuousBuild(
        spark.readStream.schema(cbSchema).parquet(srcDir),
        idx, corpus, ck,
        trigger = Some(org.apache.spark.sql.streaming.Trigger
          .AvailableNow()),
        compactAdvice = Some(pipeline.Maintenance.Thresholds()))
      assert(q.awaitTermination(120000), "advice drain timed out")
    }
    val grown = files(s"$idx/signatures")
    assert(grown >= 2,
      s"below-threshold advice must not compact (got $grown sig files)")
    assert(new java.io.File(s"$idx/tombstones").exists() == false)
    // now create tombstone debt and tighten THAT threshold: the
    // census crosses after the next batch's appends and the loop
    // compacts — tombstones go physical and clear (the unambiguous
    // did-compaction-run observable at toy file counts)
    pipeline.NearDup.removeFromIndex(Seq(4L).toDF("doc_id"), idx)
    Seq((5L, cbDoc(17))).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val q2 = Api.continuousBuild(
      spark.readStream.schema(cbSchema).parquet(srcDir),
      idx, corpus, ck,
      trigger = Some(org.apache.spark.sql.streaming.Trigger
        .AvailableNow()),
      compactAdvice = Some(pipeline.Maintenance
        .Thresholds(maxTombstoneRows = 0)))
    assert(q2.awaitTermination(120000))
    assert(!new java.io.File(s"$idx/tombstones").exists(),
      "advised compaction must apply and clear the tombstone debt")
    assert(spark.read.parquet(s"$idx/signatures")
      .filter(col("doc_id") === 4L).isEmpty,
      "advised compaction must drop the tombstoned doc physically")
    assert(!pipeline.NearDup.compactionAdvice(spark, idx,
      pipeline.Maintenance.Thresholds(maxTombstoneRows = 0))
      .compactNow, "post-compaction debt must read ok")
    // the corpus is untouched by maintenance
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("Api.continuousBuild failure semantics: a crash between the " +
      "two appends loses nothing") {
    import spark.implicits._
    graft.functions.GraftFunctions.install(spark)
    val srcDir = Files.createTempDirectory("graft_api_fs_src").toString
    val idx = Files.createTempDirectory("graft_api_fs_idx").toString + "/ix"
    val corpus = Files.createTempDirectory("graft_api_fs_out").toString + "/c"
    val ck = Files.createTempDirectory("graft_api_fs_ck").toString
    Seq((1L, cbDoc(3)), (2L, cbDoc(5))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    pipeline.NearDup.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    def start() = Api.continuousBuild(
      spark.readStream.schema(cbSchema).parquet(srcDir), idx, corpus,
      ck, trigger = Some(org.apache.spark.sql.streaming.Trigger
        .AvailableNow()))
    try {
      // crash EXACTLY in the window the scaladoc reasons about:
      // after the corpus append, before the index append
      Api.continuousBuildFailpoint =
        _ => throw new RuntimeException("injected crash between appends")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
      graft.core.CacheRegistry.releaseAll()
      // crash state: survivors are in the corpus once, index is
      // still empty (the batch never committed)
      assert(spark.read.parquet(corpus).select("doc_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L))
      assert(spark.read.parquet(s"$idx/signatures").isEmpty,
        "index must be unchanged when the crash precedes its append")
    } finally {
      Api.continuousBuildFailpoint = _ => ()
    }
    // restart from the SAME checkpoint: the batch replays against
    // the unchanged index — same survivors re-elected, corpus gets
    // exact doc_id duplicates (the documented at-least-once
    // artifact), the index gets them once, and no doc is lost
    assert(start().awaitTermination(120000), "recovery drain timed out")
    val corpusIds = spark.read.parquet(corpus).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(corpusIds == Seq(1L, 1L, 2L, 2L),
      s"replay must leave exact duplicates, got $corpusIds")
    // the documented read-side recipe restores exactly-once
    assert(spark.read.parquet(corpus).dropDuplicates("doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val idxIds = spark.read.parquet(s"$idx/signatures")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idxIds == Seq(1L, 2L),
      s"index must hold each survivor exactly once, got $idxIds")
    // a full replay AFTER both appends (fresh checkpoint, same
    // input) is idempotent: the survivors now match themselves in
    // the grown index and nothing appends again
    val ck2 = Files.createTempDirectory("graft_api_fs_ck2").toString
    val q3 = Api.continuousBuild(
      spark.readStream.schema(cbSchema).parquet(srcDir), idx, corpus,
      ck2, trigger = Some(org.apache.spark.sql.streaming.Trigger
        .AvailableNow()))
    assert(q3.awaitTermination(120000))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 1L, 2L, 2L),
      "a post-commit replay must append nothing")
    // the one-call maintenance cure: rewrite the sink exactly-once
    // (crash -> replay -> cure, the full documented lifecycle)
    val removed = pipeline.CorpusSink.dedupExact(spark, corpus)
    assert(removed == 2L,
      s"dedupExact must report the 2 replayed rows, got $removed")
    val cured = spark.read.parquet(corpus)
    assert(cured.select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "cure must keep each doc exactly once")
    assert(cured.columns.sorted.toSeq == Seq("doc_id", "text"),
      "cure must preserve the sink schema")
    assert(!new java.io.File(s"${corpus}__old").exists() &&
      !new java.io.File(s"${corpus}__compact").exists(),
      "a completed cure must leave no swap residue")
  }

  test("Api.continuousBuild: a live-tombstoned id arriving in the " +
      "stream is inadmissible, not a poison pill") {
    import spark.implicits._
    graft.functions.GraftFunctions.install(spark)
    val srcDir = Files.createTempDirectory("graft_api_tb_src").toString
    val idx = Files.createTempDirectory("graft_api_tb_idx").toString + "/ix"
    val corpus = Files.createTempDirectory("graft_api_tb_out").toString + "/c"
    val ck = Files.createTempDirectory("graft_api_tb_ck").toString
    pipeline.NearDup.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), idx)
    def drain(): Unit = {
      val q = Api.continuousBuild(
        spark.readStream.schema(cbSchema).parquet(srcDir), idx, corpus,
        ck, trigger = Some(org.apache.spark.sql.streaming.Trigger
          .AvailableNow()))
      assert(q.awaitTermination(120000), "tombstone-drop drain timed out")
    }
    Seq((1L, cbDoc(3)), (2L, cbDoc(5))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    // takedown doc 1, then the stream re-ingests id 1 (a "corrected"
    // text — the forbidden reuse) plus a novel AND a near-dup of the
    // re-ingested text under a higher id: the loop must NOT crash on
    // the append guard, and the tombstoned id must be dropped BEFORE
    // the within-batch election — were it dropped after, id 1 (the
    // min id) would win the canonical slot, evict doc 31, and then
    // be dropped itself, silently losing 31
    pipeline.NearDup.removeFromIndex(Seq(1L).toDF("doc_id"), idx)
    Seq((1L, cbDoc(7) + " corrected"), (30L, cbDoc(11)),
        (31L, cbDoc(7) + " corrected tail"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    val ids = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 30L, 31L),
      "the novel AND the near-dup of the dropped tombstoned id must " +
        s"append while id 1 is inadmissible, got $ids")
  }

  test("Api continuous builds reject a non-positive compactEvery " +
      "before any side effect") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_api_ce_src").toString
    Seq((1L, cbDoc(3))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    intercept[IllegalArgumentException] {
      Api.continuousBuild(
        spark.readStream.schema(cbSchema).parquet(srcDir), "/nope",
        "/nope2", "/nope3", compactEvery = Some(0))
    }
    intercept[IllegalArgumentException] {
      Api.continuousAnnBuild(
        spark.readStream.schema(cbSchema).parquet(srcDir), "/nope",
        "/nope3", compactEvery = Some(-2))
    }
  }

  test("Api.continuousAnnBuild: streaming appends; replay duplicates " +
      "are cured by compaction") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_api_ann_src").toString
    val idx = Files.createTempDirectory("graft_api_ann_idx").toString + "/ix"
    val ck = Files.createTempDirectory("graft_api_ann_ck").toString
    def vec(seed: Int): Seq[Float] =
      (0 until 6).map(d => (((seed * 31 + d * 17) % 13) - 6).toFloat)
    val annSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    pipeline.AnnIndex.write(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), idx)
    def start() = Api.continuousAnnBuild(
      spark.readStream.schema(annSchema).parquet(srcDir), idx, ck,
      trigger = Some(org.apache.spark.sql.streaming.Trigger
        .AvailableNow()))
    // batch 0: a from-scratch build becomes searchable
    (0 until 10).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(srcDir)
    assert(start().awaitTermination(120000), "ann batch 0 timed out")
    val qs = Seq((100L, vec(3))).toDF("query_id", "qv")
    // bucket-bounded search: the query's coarse bucket holds >= 1 of
    // the appended vectors (vec(3) itself lands there)
    val hits0 = pipeline.AnnIndex.topK(spark, idx, qs, k = 3).count()
    assert(hits0 >= 1 && hits0 <= 3,
      s"from-scratch build must be searchable, got $hits0 hits")
    // batch 1 crashes AFTER its append commits: the replay appends
    // the same vectors again — exact duplicate rows, no loss
    (10 until 14).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(srcDir)
    try {
      Api.continuousAnnFailpoint =
        _ => throw new RuntimeException("injected crash after ann append")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally {
      Api.continuousAnnFailpoint = _ => ()
    }
    assert(start().awaitTermination(120000), "ann recovery timed out")
    val counts = spark.read.parquet(idx).groupBy("vec_id")
      .count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0 until 10).forall(i => counts(i.toLong) == 1L),
      s"batch-0 vectors must appear once, got $counts")
    assert((10 until 14).forall(i => counts(i.toLong) == 2L),
      s"replayed batch-1 vectors must appear twice, got $counts")
    // the documented cure: compaction collapses exact duplicates
    pipeline.AnnIndex.compact(spark, idx)
    val after = spark.read.parquet(idx).groupBy("vec_id")
      .count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after.size == 14 && after.values.forall(_ == 1L),
      s"compaction must collapse replay duplicates, got $after")
    // and the index still searches, with no vector occupying more
    // than one top-k slot (the degradation the collapse cures)
    val finalHits = pipeline.AnnIndex.topK(spark, idx, qs, k = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(finalHits.nonEmpty && finalHits.distinct == finalHits,
      s"post-compaction top-k must be duplicate-free, got $finalHits")
    // takedown composes with the live loop: a re-sent tombstoned
    // vec_id is dropped from the batch (no poison pill, no re-add);
    // the accompanying novel still lands
    pipeline.AnnIndex.remove(Seq(12L).toDF("vec_id"), idx)
    Seq((12L, vec(12)), (20L, vec(20)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(srcDir)
    assert(start().awaitTermination(120000), "ann batch 2 timed out")
    val phys = spark.read.parquet(idx).groupBy("vec_id")
      .count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(phys(20L) == 1L, s"novel vec 20 must append once, got $phys")
    assert(phys(12L) == 1L,
      s"tombstoned vec 12 must not be re-added by the loop, got $phys")
  }
}


package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming record-catalog smoke test: CSV record files arrive, the
  * decoded catalog streams through windowed aggregation and dedup.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val header = "nomvar,typvar,etiket,dateo,datev,ip1,ip2,ip3," +
    "deet,npas,datyp,nbits,grtyp,ig1,ig2,ig3,ig4,d"

  private def row(nomvar: String, datev: Long, ip1: Int): String =
    s"""$nomvar,P,STREAM,$datev,$datev,$ip1,0,0,0,0,5,32,Z,1,2,0,0,"1,2;3,4""""

  test("streamed record files aggregate into validity windows") {
    val dir = Files.createTempDirectory("graft_stream").toFile
    val ckpt = Files.createTempDirectory("graft_ckpt").toFile
    val d0 = 442998800L // 2020-07-14T12:00
    val lines = Seq(header,
      row("TT", d0, 500), row("TT", d0, 850),
      row("UU", d0, 500),
      row("TT", d0, 500)) // duplicate identity
    Files.write(new java.io.File(dir, "batch1.csv").toPath,
      lines.mkString("\n").getBytes)

    val records = StreamingRecords.readStream(spark, dir.getAbsolutePath)
    assert(records.isStreaming)

    val q = StreamingRecords.windowedCounts(records).writeStream
      .format("memory").queryName("win_counts")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.getAbsolutePath + "/a")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val out = spark.table("win_counts").collect()
      .map(r => r.getAs[String]("nomvar") -> r.getAs[Long]("n_records"))
      .toMap
    assert(out("TT") == 3 && out("UU") == 1)

    val q2 = StreamingRecords.dedup(records).writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath + "/b")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    // duplicate TT@500 collapses: 3 distinct identities remain
    assert(spark.table("dedup_out").count() == 3)
  }

  test("binary fstrec source streams arriving files in micro-batches") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fst_stream").toFile
    val ckpt = Files.createTempDirectory("graft_fst_ckpt").toFile

    def writeBatch(sub: String, ip3Base: Int, n: Int): Unit = {
      val df = (1 to n).toDF("i").select(
        lit("TT").as("nomvar"), lit("P").as("typvar"),
        lit("STREAM").as("etiket"), lit(2).as("ni"), lit(2).as("nj"),
        lit(1).as("nk"), lit(442998800L).as("dateo"),
        lit(500).as("ip1"), lit(0).as("ip2"),
        (col("i") + ip3Base).as("ip3"), lit(0).as("deet"),
        lit(0).as("npas"), lit(5).as("datyp"), lit(32).as("nbits"),
        lit("X").as("grtyp"), lit(0).as("ig1"), lit(0).as("ig2"),
        lit(0).as("ig3"), lit(0).as("ig4"), lit(442998800L).as("datev"),
        array(lit(1f), lit(2f), lit(3f), lit(4f)).as("d"))
      val tmp = new java.io.File(dir.getParentFile, s"stage_$sub")
      graft.sources.fst.FstWriter.write(df, tmp.getAbsolutePath,
        cleanup = false)
      // publish atomically into the watched directory
      tmp.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .zipWithIndex.foreach {
        case (f, i) =>
          Files.move(f.toPath,
            new java.io.File(dir, s"$sub-$i.fst").toPath)
      }
    }

    writeBatch("b1", 0, 5)
    val outDir = Files.createTempDirectory("graft_fst_sink").toFile
    val stream = spark.readStream.format("fstrec")
      .load(dir.getAbsolutePath)
    assert(stream.isStreaming)
    // stream records straight into another record directory
    // (fstrec -> fstrec): STREAMING_WRITE with epoch-deterministic
    // file names
    def runOnce(): Unit = {
      val q = stream
        .select("nomvar", "typvar", "etiket", "ni", "nj", "nk",
          "dateo", "ip1", "ip2", "ip3", "deet", "npas", "datyp",
          "nbits", "grtyp", "ig1", "ig2", "ig3", "ig4", "datev", "d")
        .writeStream
        .format("fstrec").option("path", outDir.getAbsolutePath)
        .outputMode("append")
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.format("fstrec").load(outDir.getAbsolutePath)
      .count() == 5)

    // second batch of files -> restart from checkpoint, only the new
    // records arrive
    writeBatch("b2", 100, 3)
    runOnce()
    val out = spark.read.format("fstrec").load(outDir.getAbsolutePath)
    assert(out.count() == 8)
    assert(out.filter(col("ip3") > 100).count() == 3)
  }

  test("stream offsets stay O(1) and the file log compacts") {
    import graft.sources.fst.{FstFormat, FstLogOffset, FstMicroBatchStream, FstTable}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    // SparkSession active for packPartitions' conf lookups
    spark.sparkContext
    val dir = Files.createTempDirectory("graft_offsets_src").toFile
    val ckpt = Files.createTempDirectory("graft_offsets_ck").toFile
    def publish(i: Int): Unit = {
      val m = FstFormat.Meta("TT", "P", "OFF", 1, 1, 1, 0L, i, 0, 0,
        0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
      Files.write(new java.io.File(dir, f"r$i%03d.fst").toPath,
        FstFormat.writeFile(Seq((m, Array(i.toFloat)))))
    }
    val stream = new FstMicroBatchStream(dir.getAbsolutePath,
      FstTable.Schema, Array.empty, ckpt.getAbsolutePath)
    var prev: Long = -1L
    (1 to 12).foreach { i =>
      publish(i)
      val off = stream.latestOffset(FstLogOffset(prev),
        ReadLimit.allAvailable()).asInstanceOf[FstLogOffset]
      assert(off.batchId == prev + 1)
      // THE point: the serialized offset does not grow with history
      assert(off.json.length <= 4, off.json)
      val parts = stream.planInputPartitions(FstLogOffset(prev), off)
      assert(parts.nonEmpty)
      prev = off.batchId
    }
    // compaction snapshot appeared at the interval boundary
    val logDir = new java.io.File(ckpt, "graft-files")
    assert(logDir.listFiles().exists(_.getName == "10.compact"))
    // cold restart: a fresh instance replays the log — nothing is
    // re-admitted, and any admitted-but-uncommitted range re-plans
    val restarted = new FstMicroBatchStream(dir.getAbsolutePath,
      FstTable.Schema, Array.empty, ckpt.getAbsolutePath)
    val latest = restarted.latestOffset(FstLogOffset(prev),
      ReadLimit.allAvailable()).asInstanceOf[FstLogOffset]
    assert(latest.batchId == prev) // no fresh files -> same offset
    val all = restarted.planInputPartitions(FstLogOffset(-1), latest)
      .flatMap(_.asInstanceOf[graft.sources.fst.FstInputPartition].files)
    assert(all.length == 12) // every published file re-plannable
  }

  test("maxFilesPerTrigger drains a backlog in bounded batches") {
    import graft.sources.fst.{FstFormat, FstLogOffset, FstMicroBatchStream, FstTable}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.sparkContext
    val dir = Files.createTempDirectory("graft_cap_src").toFile
    val ckpt = Files.createTempDirectory("graft_cap_ck").toFile
    (1 to 5).foreach { i =>
      val m = FstFormat.Meta("TT", "P", "CAP", 1, 1, 1, 0L, i, 0, 0,
        0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
      Files.write(new java.io.File(dir, f"r$i%02d.fst").toPath,
        FstFormat.writeFile(Seq((m, Array(i.toFloat)))))
    }
    val stream = new FstMicroBatchStream(dir.getAbsolutePath,
      FstTable.Schema, Array.empty, ckpt.getAbsolutePath,
      maxFilesPerTrigger = 2)
    def batchFiles(s: Long, e: Long): Int =
      stream.planInputPartitions(FstLogOffset(s), FstLogOffset(e))
        .map(_.asInstanceOf[graft.sources.fst.FstInputPartition]
          .files.size).sum
    val lim = stream.getDefaultReadLimit
    val o1 = stream.latestOffset(FstLogOffset(-1), lim)
      .asInstanceOf[FstLogOffset]
    assert(o1.batchId == 0 && batchFiles(-1, 0) == 2)
    val o2 = stream.latestOffset(o1, lim).asInstanceOf[FstLogOffset]
    assert(o2.batchId == 1 && batchFiles(0, 1) == 2)
    val o3 = stream.latestOffset(o2, lim).asInstanceOf[FstLogOffset]
    assert(o3.batchId == 2 && batchFiles(1, 2) == 1)
    // backlog drained: no further admission
    val o4 = stream.latestOffset(o3, lim).asInstanceOf[FstLogOffset]
    assert(o4.batchId == 2)
  }

  test("AvailableNow drains a frozen backlog in cap-bounded batches") {
    import graft.sources.fst.{FstFormat, FstLogOffset, FstMicroBatchStream, FstTable}
    spark.sparkContext
    val dir = Files.createTempDirectory("graft_an_src").toFile
    val ckpt = Files.createTempDirectory("graft_an_ck").toFile
    def publish(i: Int): Unit = {
      val m = FstFormat.Meta("TT", "P", "AN", 1, 1, 1, 0L, i, 0, 0,
        0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
      Files.write(new java.io.File(dir, f"r$i%02d.fst").toPath,
        FstFormat.writeFile(Seq((m, Array(i.toFloat)))))
    }
    (1 to 5).foreach(publish)
    val stream = new FstMicroBatchStream(dir.getAbsolutePath,
      FstTable.Schema, Array.empty, ckpt.getAbsolutePath,
      maxFilesPerTrigger = 2)
    stream.prepareForTriggerAvailableNow()
    publish(6) // arrives AFTER the freeze: must wait for the next run
    def nFiles(s: Long, e: Long): Int =
      stream.planInputPartitions(FstLogOffset(s), FstLogOffset(e))
        .map(_.asInstanceOf[graft.sources.fst.FstInputPartition]
          .files.size).sum
    val lim = stream.getDefaultReadLimit
    var prev = -1L
    val sizes = (1 to 3).map { _ =>
      val o = stream.latestOffset(FstLogOffset(prev), lim)
        .asInstanceOf[FstLogOffset]
      val n = nFiles(prev, o.batchId); prev = o.batchId; n
    }
    // the cap bounds every batch — NOT one giant snapshot batch
    assert(sizes == Seq(2, 2, 1))
    // drained: the frozen backlog admits nothing further (file 6
    // stays unseen until a non-AvailableNow admission)
    val o4 = stream.latestOffset(FstLogOffset(prev), lim)
      .asInstanceOf[FstLogOffset]
    assert(o4.batchId == prev)
  }

  test("file-log retention keeps the checkpoint bounded; a lost " +
    "batch log fails loudly instead of planning empty") {
    import graft.sources.fst.{FstFormat, FstLogOffset, FstMicroBatchStream, FstTable}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.sparkContext
    val dir = Files.createTempDirectory("graft_ret_src").toFile
    val ckpt = Files.createTempDirectory("graft_ret_ck").toFile
    val stream = new FstMicroBatchStream(dir.getAbsolutePath,
      FstTable.Schema, Array.empty, ckpt.getAbsolutePath)
    var prev = -1L
    (1 to 25).foreach { i =>
      val m = FstFormat.Meta("TT", "P", "RET", 1, 1, 1, 0L, i, 0, 0,
        0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
      Files.write(new java.io.File(dir, f"r$i%03d.fst").toPath,
        FstFormat.writeFile(Seq((m, Array(i.toFloat)))))
      prev = stream.latestOffset(FstLogOffset(prev),
        ReadLimit.allAvailable()).asInstanceOf[FstLogOffset].batchId
    }
    val names = new java.io.File(ckpt, "graft-files")
      .listFiles().map(_.getName).toSet
    // newest snapshot survives, the superseded one is gone, and
    // plain logs older than one interval behind it are deleted
    assert(names.contains("20.compact"))
    assert(!names.contains("10.compact"))
    assert(!names.contains("5"))
    assert(names.contains("15") && names.contains("24"))
    // recent batches (the only re-plannable ones) still plan from
    // disk on a cold restart
    val restarted = new FstMicroBatchStream(dir.getAbsolutePath,
      FstTable.Schema, Array.empty, ckpt.getAbsolutePath)
    val recent = restarted
      .planInputPartitions(FstLogOffset(22), FstLogOffset(24))
      .flatMap(_.asInstanceOf[graft.sources.fst.FstInputPartition].files)
    assert(recent.length == 2)
    // a batch whose log was retired must fail the re-plan, not
    // silently produce zero rows
    intercept[IllegalStateException] {
      restarted.planInputPartitions(FstLogOffset(3), FstLogOffset(4))
    }
  }

  test("streaming near-dup flags band collisions against history") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ckpt = Files.createTempDirectory("graft_neardup_ckpt").toFile
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.pipeline.StreamingDedup.nearDupHits(docs)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    val textA = "the quick brown fox jumps over the lazy dog " +
      "again and again until the brown fox is tired of jumping"
    val textB = "completely different content about spark shuffles " +
      "and broadcast joins and partition pruning at large scale"

    // batch 1: two distinct docs — no hits, keys claimed
    input.addData((1L, textA), (2L, textB))
    q.processAllAvailable()
    assert(spark.table("neardup_out").count() == 0)

    // batch 2: doc 3 is a near-copy of doc 1 — at least one of its
    // bands must collide with doc 1's claim; doc 4 is novel
    input.addData((3L, textA + " with a tiny tail"),
      (4L, "nothing like the others at all in any way whatsoever " +
        "entirely novel text goes here"))
    q.processAllAvailable()
    val hits = spark.table("neardup_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("first_id")))
    assert(hits.nonEmpty && hits.forall(_ == (3L, 1L)))
    q.stop()
  }

  test("sessionization merges above-watermark stragglers correctly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ckpt = Files.createTempDirectory("graft_sess2_ckpt").toFile
    val input = MemoryStream[(Long, Long)]
    val base = 2000000000L
    val events = input.toDF().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    // gap 5 s < watermark delay 10 s so an out-of-order event can be
    // above the watermark yet before the open session's start
    val q = StreamingRecords.sessions(events, gapUs = 5000000L)
      .writeStream.format("memory").queryName("sessions2_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    def closed(): Set[(Long, Long, Long, Long)] =
      spark.table("sessions2_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet

    // batch 1: users 5 and 6 each open a session at +100 s
    input.addData((5L, base + 100000000L), (6L, base + 100000000L))
    q.processAllAvailable()

    // batch 2 (watermark now 90 s): user 5's +97 s event is within
    // the gap of its open session -> merges and moves START back;
    // user 6's +91 s and +93 s events are > gap before its session
    // but within the gap of each other -> they gap-merge into ONE
    // straggler session (batch q18 semantics within a micro-batch)
    // before closing
    input.addData((5L, base + 97000000L),
      (6L, base + 91000000L), (6L, base + 93000000L))
    q.processAllAvailable()
    assert(closed().contains((6L, base + 91000000L, base + 93000000L, 2L)))

    // batch 3: far-future events close both open sessions; user 5's
    // session must report the merged (earlier) start
    input.addData((5L, base + 200000000L), (6L, base + 200000000L))
    q.processAllAvailable()
    assert(closed().contains(
      (5L, base + 97000000L, base + 100000000L, 2L)))
    assert(closed().contains(
      (6L, base + 100000000L, base + 100000000L, 1L)))
    q.stop()
  }

  test("stateful sessionization closes on gap and on watermark timeout") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toFile
    val input = MemoryStream[(Long, Long)] // (user_id, epoch micros)
    val base = 1000000000L // keep event times clear of the initial watermark
    val events = input.toDF().toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = StreamingRecords.sessions(events, gapUs = 10000000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    def closed(): Set[(Long, Long, Long, Long)] =
      spark.table("sessions_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet

    // batch 1: user 1 events at 0/2/4 s, user 2 at 0 s — one open
    // session each, nothing closed
    input.addData((1L, base), (1L, base + 2000000L),
      (1L, base + 4000000L), (2L, base))
    q.processAllAvailable()
    assert(closed().isEmpty)

    // batch 2: user 1 jumps to +100 s (> 10 s gap) — the 0-4 s session
    // closes on arrival; user 2's single-event session may also close
    // via timeout once the watermark passes its end + gap
    input.addData((1L, base + 100000000L))
    q.processAllAvailable()
    assert(closed().contains((1L, base, base + 4000000L, 3L)))

    // batch 3: watermark has passed user 2's timeout — its 0 s
    // session must be closed by now (timeout path, no user-2 arrival
    // needed); the new event opens a fresh session
    input.addData((2L, base + 200000000L))
    q.processAllAvailable()
    assert(closed().contains((2L, base, base, 1L)))

    // batch 4: advance the watermark further — user 1's 100 s session
    // (timeout 110 s < new watermark 190 s) closes via the TIMEOUT
    // path with no user-1 data in the batch
    input.addData((2L, base + 400000000L))
    q.processAllAvailable()
    assert(closed().contains(
      (1L, base + 100000000L, base + 100000000L, 1L)))
    assert(closed().size == 4 ||
      closed().contains((2L, base + 200000000L, base + 200000000L, 1L)))
    q.stop()
  }

  test("stream-static enrichment equals its batch twin exactly") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).exists())
    val got = graft.queries.RelationalQueries
      .queries("q43_stream_enrich")(spark, dir)
    val ev = graft.queries.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val prof = ev.groupBy("user_id").agg(
      count(lit(1)).as("n_hist"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purchases"),
      min("ts_us").as("first_us"))
    val want = ev.join(prof, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), col("n_hist"), col("n_purchases"),
        (col("ts_us") === col("first_us")).as("is_first_event"),
        (col("n_purchases") >= 2L).as("repeat_purchaser"))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level scan tests for the fstrec source: file bin-packing and
  * row fidelity across many small files.
  */
class FstScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def writeSmallFiles(path: String, rows: Int,
                              perFile: Int): Unit = {
    import spark.implicits._
    val df = (1 to rows).toDF("i").select(
      lit("TT").as("nomvar"), lit("P").as("typvar"),
      lit("TEST").as("etiket"), lit(2).as("ni"), lit(2).as("nj"),
      lit(1).as("nk"), lit(442998800L).as("dateo"),
      col("i").as("ip1"), lit(0).as("ip2"), lit(0).as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(5).as("datyp"),
      lit(32).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(col("i").cast("float"), lit(1f), lit(2f), lit(3f)).as("d"))
    graft.sources.fst.FstWriter.write(df, path,
      maxRecordsPerFile = perFile, cleanup = false)
  }

  test("many small files pack into few partitions, all rows read") {
    val path = "/tmp/graft_scan_spec_pack"
    writeSmallFiles(path, rows = 400, perFile = 8)
    val fileCount = new java.io.File(path).listFiles().count(_.isFile)
    assert(fileCount >= 50, s"expected many files, got $fileCount")
    val back = spark.read.format("fstrec").load(path)
    assert(back.count() == 400)
    val parts = back.rdd.getNumPartitions
    assert(parts < fileCount,
      s"expected packed partitions, got $parts for $fileCount files")
    // row fidelity: every ip1 exactly once, payload head matches ip1
    val ok = back.select(col("ip1"), element_at(col("d"), 1).as("h"))
      .filter(col("h") === col("ip1").cast("float"))
    assert(ok.count() == 400)
    assert(back.select("ip1").distinct().count() == 400)
  }

  test("near-equal files pack into one balanced run per core, in order") {
    import graft.sources.fst.{FstInputPartition, FstScan}
    spark // packPartitions reads the active session's conf
    // filling runs up to the target packs these 3,3,2,2,2: five tasks
    // on four cores
    val files = (0 until 12).map(i =>
      (s"/nonexistent/part-$i%03d.fst", 3700000L + i * 1000L, 0L))
    val parts = FstScan.packPartitions(files, FstScan.sessionHadoopConf())
      .map(_.asInstanceOf[FstInputPartition])
    assert(parts.map(_.slices.size).toSeq == Seq(3, 3, 3, 3))
    assert(parts.flatMap(_.slices.map(_.path)).toSeq == files.map(_._1))
    assert(parts.forall(_.slices.forall(_.wholeFile)))
  }

  test("one scan reads a directory mixing compact and XDF containers") {
    import graft.sources.fst.{FstFormat, XdfFormat}
    val path = "/tmp/graft_scan_spec_mixed"
    writeSmallFiles(path, rows = 3, perFile = 8) // compact container
    val m = FstFormat.Meta("XX", "P", "MIXED", 2, 1, 1, 0L, 777, 0, 9,
      0, 0, 2, 16, "X", 0, 0, 0, 0, 442998800L, 0, 0)
    java.nio.file.Files.write(
      new java.io.File(path, "real.fst").toPath,
      XdfFormat.writeFile(Seq((m, Array(41.0, 42.0)))))
    val back = spark.read.format("fstrec").load(path)
    assert(back.count() == 4)
    val xdfRow = back.filter(col("nomvar") === "XX")
      .select(element_at(col("d"), 2)).head().getFloat(0)
    assert(xdfRow == 42f)
  }

  test("update auto-recovers a file left aside by an interrupted run") {
    val path = "/tmp/graft_scan_spec_updrecover"
    writeSmallFiles(path, rows = 4, perFile = 8) // one record file
    val patched = spark.read.format("fstrec").load(path)
      .withColumn("etiket", lit("RECOVERED"))
      .persist()
    patched.count() // rows (incl path/key) cached before the "crash"
    // simulate the crash window between update()'s two publish
    // renames: the data file exists only as the hidden backup
    val dir = new java.io.File(path)
    val baks = dir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).map { f =>
        val bak = new java.io.File(dir, s".${f.getName}.updbak")
        assert(f.renameTo(bak))
        bak
      }
    assert(spark.read.format("fstrec").load(path).count() == 0)
    // a re-run restores every backup and applies the patch
    graft.sources.fst.FstWriter.update(patched)
    patched.unpersist()
    val back = spark.read.format("fstrec").load(path)
    assert(back.count() == 4)
    assert(back.filter(col("etiket") === "RECOVERED").count() == 4)
    assert(baks.forall(!_.exists()))
  }

  test("user-supplied read schema validates names and types early") {
    val path = "/tmp/graft_scan_spec_schema"
    writeSmallFiles(path, rows = 8, perFile = 8)
    // correct subset works
    val ok = spark.read
      .schema("nomvar STRING, ni INT").format("fstrec").load(path)
    assert(ok.count() == 8)
    // mistyped column fails at planning, not as a runtime cast error
    val e1 = intercept[Exception] {
      spark.read.schema("ni LONG").format("fstrec").load(path).count()
    }
    assert(e1.getMessage.contains("ni") ||
      Option(e1.getCause).exists(_.getMessage.contains("ni")))
    // unknown column is rejected by name
    val e2 = intercept[Exception] {
      spark.read.schema("bogus INT").format("fstrec").load(path).count()
    }
    assert(e2.getMessage.contains("bogus") ||
      Option(e2.getCause).exists(_.getMessage.contains("bogus")))
  }

  test("compaction rewrites many small files into few, verbatim") {
    val src = "/tmp/graft_scan_spec_compact_src"
    val dst = "/tmp/graft_scan_spec_compact_dst"
    writeSmallFiles(src, rows = 400, perFile = 8)
    graft.sources.fst.FstWriter.compact(spark, src, dst)
    val files = (d: String) =>
      new java.io.File(d).listFiles().count(_.isFile)
    assert(files(dst) < files(src) / 4,
      s"expected far fewer files, got ${files(dst)} vs ${files(src)}")
    val back = spark.read.format("fstrec").load(dst)
    assert(back.count() == 400)
    assert(back.select("ip1").distinct().count() == 400)
    val ok = back.select(col("ip1"), element_at(col("d"), 1).as("h"))
      .filter(col("h") === col("ip1").cast("float"))
    assert(ok.count() == 400)
    intercept[IllegalArgumentException] {
      graft.sources.fst.FstWriter.compact(spark, src, src)
    }
    // dst inside src would write into the tree being read
    intercept[IllegalArgumentException] {
      graft.sources.fst.FstWriter.compact(spark, src, s"$src/out")
    }
    // src inside dst is worse: overwrite mode would truncate dst —
    // recursively deleting the SOURCE — before the lazy scan runs
    intercept[IllegalArgumentException] {
      graft.sources.fst.FstWriter.compact(spark, src,
        new java.io.File(src).getParent)
    }
  }

  test("d read with d64 equals d read alone, for every datyp and both containers") {
    import graft.sources.fst.{FstFormat, FstTable, XdfFormat}
    val path = "/tmp/graft_scan_spec_d_d64"
    writeSmallFiles(path, rows = 6, perFile = 8) // compact container
    def meta(i: Int, datyp: Int, nbits: Int) =
      FstFormat.Meta("XX", "P", "D64", 4, 2, 1, 0L, 1000 + i, 0, 0, 0, 0,
        datyp, nbits, "X", 0, 0, 0, 0, 442998800L, 0, 0)
    // off-grid values for the lossy codecs, in range for the integer
    // ones; each record decodes to doubles that are not all floats
    val real = Array(1.5, -2.25, 0.1, 3e7, math.Pi, -1.0 / 3, 1e-3, 7.0)
    val ints = Array(0.0, 3.0, 65535.0, 1234.0, 17.0, 20.0, 4050.0, 9.0)
    val recs = Seq[(FstFormat.Meta, Array[Double])](
      (meta(0, 1, 12), real.map(_.abs % 4000)),
      (meta(1, 2, 16), ints),
      (meta(2, 5, 32), real),
      (meta(3, 5, 64), real),
      (meta(4, 6, 16), real),
      (meta(5, 129, 16), real.map(_.abs % 4000)),
      (meta(6, 130, 16), ints),
      (meta(7, 133, 32), real),
      (meta(8, 134, 16), real))
    java.nio.file.Files.write(new java.io.File(path, "datyps.fst").toPath,
      XdfFormat.writeFile(recs))
    val read = spark.read.schema(FstTable.ExtendedSchema)
      .format("fstrec").load(path)
    def byIp1(cols: String*) = read.select(("ip1" +: cols).map(col): _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.tail).toMap
    val both = byIp1("d", "d64")
    val dAlone = byIp1("d")
    val d64Alone = byIp1("d64")
    assert(both.size == 6 + recs.size)
    both.foreach { case (ip1, Seq(d, d64)) =>
      assert(d == dAlone(ip1).head, s"d of ip1 $ip1")
      assert(d64 == d64Alone(ip1).head, s"d64 of ip1 $ip1")
    }
    // the XDF records decode to their native values at double width
    recs.foreach { case (m, _) =>
      val want = XdfFormat.decodePayload(m.datyp, m.nbits, 8,
        XdfFormat.encodePayload(m.datyp, m.nbits, recs(m.ip1 - 1000)._2))
      assert(both(m.ip1)(1) == want.toSeq, s"datyp ${m.datyp}")
      assert(both(m.ip1)(0) == want.map(_.toFloat).toSeq,
        s"datyp ${m.datyp}")
    }
  }

  test("metadata-only projection still prunes payload reads") {
    val path = "/tmp/graft_scan_spec_meta"
    writeSmallFiles(path, rows = 64, perFile = 16)
    val back = spark.read.format("fstrec").load(path)
      .select("nomvar", "ip1")
    assert(back.count() == 64)
    assert(back.schema.fieldNames.toSeq == Seq("nomvar", "ip1"))
  }

  test("payload reads of compact files stay within 3x their bytes") {
    // a positioned read on the checksummed local filesystem reopens the
    // file and its .crc per record; a seek on the open stream does not
    val path = "/tmp/graft_scan_spec_readbytes"
    writeSmallFiles(path, rows = 2000, perFile = 5000)
    // one file per write task, ~500 records each
    val size = new java.io.File(path).listFiles()
      .filter(f => f.isFile && !FstScanSpec.hiddenName(f.getName))
      .map(_.length()).sum
    def bytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      @annotation.nowarn("cat=deprecation")
      val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      all.filter(_.getScheme == "file").map(_.getBytesRead).sum
    }
    val before = bytesRead()
    val sums = spark.read.format("fstrec").load(path)
      .select(element_at(col("d"), 1).as("h")).agg(sum("h")).head()
    val read = bytesRead() - before
    assert(sums.getDouble(0) == (1 to 2000).sum.toDouble)
    assert(read <= 3 * size, s"read $read bytes of $size")
  }

  /** Runs `body` with the `graftsession` scheme ([[SessionOnlyFs]])
    * mapped only in `sparkContext.hadoopConfiguration`.
    */
  private def withSessionFs[T](body: => T): T = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.graftsession.impl", "fs.graftsession.impl.disable.cache")
    hconf.set(keys(0), classOf[SessionOnlyFs].getName)
    hconf.set(keys(1), "true")
    try body finally keys.foreach(hconf.unset)
  }

  private def ip1s(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.select("ip1").collect().map(_.getInt(0)).sorted.toSeq

  test("a filesystem known only to the session's Hadoop conf is readable") {
    val local = "/tmp/graft_scan_spec_sessionfs"
    writeSmallFiles(local, rows = 40, perFile = 8)
    withSessionFs {
      val back = spark.read.format("fstrec").load(s"graftsession://$local")
      assert(back.select("ip1", "d").collect().map(_.getInt(0)).sorted
        .toSeq == (1 to 40))
      assert(back.select("path").head().getString(0)
        .startsWith("graftsession:"))
    }
  }

  test("a filesystem known only to the session's Hadoop conf takes write, update and read-back") {
    val dir = "graftsession:///tmp/graft_scan_spec_sessionfs_write"
    withSessionFs {
      writeSmallFiles(dir, rows = 40, perFile = 8)
      graft.sources.fst.FstWriter.update(spark.read.format("fstrec").load(dir)
        .withColumn("etiket", lit("UPD")))
      val back = spark.read.format("fstrec").load(dir)
      assert(ip1s(back) == (1 to 40))
      assert(back.filter(col("etiket") === "UPD").count() == 40)
      assert(back.select("path").head().getString(0)
        .startsWith("graftsession:"))
    }
    val names = new java.io.File("/tmp/graft_scan_spec_sessionfs_write")
      .listFiles().map(_.getName)
    assert(names.exists(n => !FstScanSpec.hiddenName(n)), names.mkString(", "))
    assert(!names.exists(n => n.contains(".inprogress") ||
      n.contains(".updating") || n.contains(".updbak")), names.mkString(", "))
  }

  test("a filesystem known only to the session's Hadoop conf takes a compaction") {
    val local = "/tmp/graft_scan_spec_sessionfs_csrc"
    writeSmallFiles(local, rows = 40, perFile = 8)
    val dst = "graftsession:///tmp/graft_scan_spec_sessionfs_cdst"
    withSessionFs {
      graft.sources.fst.FstWriter.compact(spark, s"graftsession://$local", dst)
      assert(ip1s(spark.read.format("fstrec").load(dst)) == (1 to 40))
    }
  }

  test("a filesystem known only to the session's Hadoop conf feeds a stream") {
    val local = "/tmp/graft_scan_spec_sessionfs_stream"
    writeSmallFiles(local, rows = 40, perFile = 8)
    withSessionFs {
      val streamed = graft.streaming.StreamDrain.drain(spark,
        spark.readStream.format("fstrec").load(s"graftsession://$local")
          .select("ip1"), "append", "sessionfs", shufflePartitions = 1)
      assert(ip1s(streamed) == (1 to 40))
    }
  }

  private def javaBytes(o: AnyRef): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    try out.writeObject(o) finally out.close()
    bos.toByteArray
  }

  test("a shipped Hadoop conf rebuilds the session's conf on every key") {
    import graft.sources.fst.{FstScan, ShippedConf}
    import scala.jdk.CollectionConverters._
    def entries(c: org.apache.hadoop.conf.Configuration) =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val hconf = spark.sparkContext.hadoopConfiguration
    // set only in the context's conf, set as a session spark.hadoop.*
    // key, and a core-default.xml key the session lacks
    val hadoopOnly = "graft.spec.hadoop.only"
    val sessionKey = "spark.hadoop.graft.spec.session"
    val defaultKey = "hadoop.security.groups.cache.secs"
    val defaultValue = hconf.get(defaultKey)
    assert(defaultValue != null)
    hconf.set(hadoopOnly, "context")
    hconf.unset(defaultKey)
    spark.conf.set(sessionKey, "session")
    try {
      val session = FstScan.sessionHadoopConf()
      assert(session.get(hadoopOnly) == "context")
      assert(session.get(sessionKey) == "session")
      assert(session.get(defaultKey) == null)
      val in = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(javaBytes(ShippedConf(session))))
      val back = in.readObject().asInstanceOf[ShippedConf].value
      val (want, got) = (entries(session), entries(back))
      assert((want.keySet -- got.keySet).isEmpty)
      assert((got.keySet -- want.keySet).isEmpty)
      assert(want.filter { case (k, v) => got(k) != v }.isEmpty)
      assert(back.get(defaultKey) == null)
    } finally {
      hconf.set(defaultKey, defaultValue)
      hconf.unset(hadoopOnly)
      spark.conf.unset(sessionKey)
    }
  }

  test("a plain scan's reader factory serializes to under 16 KB") {
    import graft.sources.fst.FstScanBuilder
    val path = "/tmp/graft_scan_spec_factory"
    writeSmallFiles(path, rows = 8, perFile = 8)
    val factory = new FstScanBuilder(Seq(path)).build().toBatch
      .createReaderFactory()
    val bytes = javaBytes(factory).length
    info(s"serialized reader factory: $bytes bytes")
    assert(bytes < 16 * 1024, s"$bytes bytes")
  }

  test("DSv2 write path: save/overwrite/append with task-file commit") {
    import spark.implicits._
    val path = "/tmp/graft_scan_spec_dsv2_write"
    def df(base: Int, n: Int) = (1 to n).toDF("i").select(
      lit("GZ").as("nomvar"), lit("P").as("typvar"),
      lit("DSV2").as("etiket"), lit(1).as("ni"), lit(2).as("nj"),
      lit(1).as("nk"), lit(442998800L).as("dateo"),
      (col("i") + base).as("ip1"), lit(0).as("ip2"), lit(0).as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(5).as("datyp"),
      lit(32).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(col("i").cast("float"), lit(9f)).as("d"))
    df(0, 300).write.format("fstrec").mode("overwrite").save(path)
    assert(spark.read.format("fstrec").load(path).count() == 300)
    df(1000, 50).write.format("fstrec").mode("append").save(path)
    val back = spark.read.format("fstrec").load(path)
    assert(back.count() == 350)
    assert(back.filter(col("ip1") > 1000).count() == 50)
    // overwrite truncates
    df(0, 10).write.format("fstrec").mode("overwrite").save(path)
    assert(spark.read.format("fstrec").load(path).count() == 10)
    // commit renamed every temp file: no in-progress names remain
    // (Hadoop's .crc checksum sidecars are expected and scan-hidden)
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(names.forall(n => !n.contains(".inprogress")),
      names.mkString(", "))
    assert(names.count(n => !n.startsWith(".")) > 0)
    // missing columns fail with a named error
    val e = intercept[Exception] {
      Seq(1).toDF("i").write.format("fstrec").mode("append").save(path)
    }
    assert(e.getMessage.contains("nomvar") ||
      Option(e.getCause).exists(_.getMessage.contains("nomvar")))
  }

  test("load(a, b) reads directories whose names hold quote, comma and backslash") {
    import graft.sources.fst.{FstFormat, XdfFormat}
    val root = new java.io.File("/tmp/graft_scan_spec_oddpaths")
    val a = new java.io.File(root, "we\"ird,dir")
    val b = new java.io.File(root, "back\\slash")
    Seq(a, b).foreach { d => d.mkdirs(); d.listFiles().foreach(_.delete()) }
    def meta(ip1: Int) = FstFormat.Meta("TT", "P", "ODD", 2, 1, 1, 0L, ip1,
      0, 0, 0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
    java.nio.file.Files.write(new java.io.File(a, "c.fst").toPath,
      FstFormat.writeFile(Seq((meta(1), Array(1f, 2f)))))
    java.nio.file.Files.write(new java.io.File(b, "x.fst").toPath,
      XdfFormat.writeFile(Seq((meta(2), Array(3.0, 4.0)))))
    val back = spark.read.format("fstrec")
      .load(a.getAbsolutePath, b.getAbsolutePath)
      .select("ip1", "path", "d").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getSeq[Float](2)))
      .sortBy(_._1).toSeq
    assert(back.map(_._1) == Seq(1, 2))
    assert(back(0)._2.endsWith("we\"ird,dir/c.fst"), back(0)._2)
    assert(back(1)._2.endsWith("back\\slash/x.fst"), back(1)._2)
    assert(back.map(_._3) == Seq(Seq(1f, 2f), Seq(3f, 4f)))
    // write, update and stream-read a name holding a space too
    val c = new java.io.File(root, "sp ace\"q\\b").getAbsolutePath
    graft.sources.fst.FstWriter.write(spark.read.format("fstrec")
      .load(a.getAbsolutePath, b.getAbsolutePath), c, cleanup = false)
    graft.sources.fst.FstWriter.update(spark.read.format("fstrec").load(c)
      .withColumn("etiket", lit("UPD")))
    val streamed = graft.streaming.StreamDrain.drain(spark,
      spark.readStream.format("fstrec").load(c).select("ip1", "etiket"),
      "append", "oddpath", shufflePartitions = 1)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(streamed == Seq((1, "UPD"), (2, "UPD")), streamed)
  }

  test("a truncated file fails the read, naming the file and the offset") {
    import graft.sources.fst.{FstFormat, XdfFormat}
    import org.scalatest.concurrent.TimeLimits._
    import org.scalatest.time.SpanSugar._
    def meta(ip1: Int) = FstFormat.Meta("TT", "P", "CUT", 4, 4, 1, 0L, ip1,
      0, 0, 0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
    val recs = (1 to 3).map(i => (meta(i), Array.tabulate(16)(_ + i * 100.0)))
    val compact = FstFormat.writeFile(recs.map { case (m, d) =>
      (m, d.map(_.toFloat)) })
    val xdf = XdfFormat.writeFile(recs)
    val compactDir = java.nio.ByteBuffer.wrap(compact).getInt(20)
    val xdfEntries = (XdfFormat.HeaderLng64 * 8 + 32).toLong
    val lastPayload = XdfFormat.scanEntries(XdfFormat.byteReader(xdf))
      .map(_._1.addrWords).max.toLong * 8 - 8 +
      XdfFormat.RecordHeaderWords * 4
    // (container, image, truncated length, offset of the failing read);
    // a compact file keeps its directory after the payloads, so a cut
    // inside a payload loses the directory too and that read fails first
    val cases = Seq(
      ("compact_dir", compact, compactDir + 100, compactDir.toLong),
      ("compact_payload", compact, compactDir - 40, compactDir.toLong),
      ("xdf_dir", xdf, xdfEntries.toInt + 100, xdfEntries),
      ("xdf_payload", xdf, lastPayload.toInt + 20, lastPayload))
    cases.foreach { case (name, image, cut, offset) =>
      val dir = new java.io.File(s"/tmp/graft_scan_spec_trunc/$name")
      dir.mkdirs(); dir.listFiles().foreach(_.delete())
      java.nio.file.Files.write(new java.io.File(dir, s"$name.fst").toPath,
        image.take(cut))
      failAfter(10.seconds) {
        val err = intercept[org.apache.spark.SparkException] {
          spark.read.format("fstrec").load(dir.getPath).collect()
        }
        val msgs = Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
          .toSeq
        assert(msgs.exists(m => m.contains(s"$name.fst") &&
          m.contains(s"offset $offset")), msgs.mkString("\n"))
      }
    }
  }

  test("a corrupt directory header fails the read, naming the file") {
    import graft.sources.fst.{FstFormat, XdfFormat}
    import org.scalatest.concurrent.TimeLimits._
    import org.scalatest.time.SpanSugar._
    def meta(ip1: Int) = FstFormat.Meta("TT", "P", "BAD", 4, 4, 1, 0L, ip1,
      0, 0, 0, 0, 5, 32, "X", 0, 0, 0, 0, 442998800L, 0, 0)
    val recs = (1 to 3).map(i => (meta(i), Array.tabulate(16)(_ + i * 100.0)))
    val compact = FstFormat.writeFile(recs.map { case (m, d) =>
      (m, d.map(_.toFloat)) })
    java.nio.ByteBuffer.wrap(compact).putInt(16, -1) // record count
    val xdf = XdfFormat.writeFile(recs)
    val firstPage = 1 + (java.nio.ByteBuffer.wrap(xdf).getInt(0) & 0xFFFFFF)
    java.nio.ByteBuffer.wrap(xdf).putInt((firstPage - 1) * 8 + 20, -5) // nent
    spark.sparkContext // session start stays outside the time limit
    Seq(("compact_count", compact, "corrupt header (record count -1"),
      ("xdf_nent", xdf, "has nent -5")).foreach {
      case (name, image, what) =>
        val dir = new java.io.File(s"/tmp/graft_scan_spec_corrupt/$name")
        dir.mkdirs(); dir.listFiles().foreach(_.delete())
        val file = new java.io.File(dir, s"$name.fst")
        java.nio.file.Files.write(file.toPath, image)
        failAfter(10.seconds) {
          val err = intercept[org.apache.spark.SparkException] {
            spark.read.format("fstrec").load(dir.getPath).collect()
          }
          val msgs = Iterator.iterate[Throwable](err)(_.getCause)
            .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
            .toSeq
          assert(msgs.exists(m => m.contains(file.getPath) &&
            m.contains(what)), msgs.mkString("\n"))
        }
    }
  }

  test("pushed filter drops records before payload decode") {
    val path = "/tmp/graft_scan_spec_filter"
    writeSmallFiles(path, rows = 100, perFile = 10)
    val back = spark.read.format("fstrec").load(path)
      .filter(col("ip1") <= 10)
    assert(back.count() == 10)
  }

  test("partitioned layout prunes directories and reads back whole") {
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    import graft.sources.fst.{FstScanBuilder, FstScan, FstInputPartition}
    import spark.implicits._
    val path = "/tmp/graft_scan_spec_partitioned"
    val df = (1 to 90).toDF("i").select(
      element_at(array(lit("TT"), lit("UU"), lit("GZ")),
        pmod(col("i"), lit(3)).cast("int") + 1).as("nomvar"),
      lit("P").as("typvar"), lit("PART").as("etiket"),
      lit(1).as("ni"), lit(1).as("nj"), lit(1).as("nk"),
      lit(442998800L).as("dateo"), col("i").as("ip1"),
      lit(0).as("ip2"), lit(0).as("ip3"), lit(0).as("deet"),
      lit(0).as("npas"), lit(5).as("datyp"), lit(32).as("nbits"),
      lit("X").as("grtyp"), lit(0).as("ig1"), lit(0).as("ig2"),
      lit(0).as("ig3"), lit(0).as("ig4"), lit(442998800L).as("datev"),
      array(col("i").cast("float")).as("d"))
    graft.sources.fst.FstWriter.write(df, path, cleanup = false,
      partitionBy = Seq("nomvar"))
    // layout: one name=value directory per nomvar, records intact
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.toSeq == Seq("nomvar=GZ", "nomvar=TT", "nomvar=UU"))
    val back = spark.read.format("fstrec").load(path)
    assert(back.count() == 90)
    assert(back.filter(col("nomvar") === "TT").count() == 30)
    // pushed equality lists ONLY the matching directory branch
    def plannedFiles(filters: Array[Filter]): Seq[String] = {
      val b = new FstScanBuilder(Seq(path))
      b.pushFilters(filters)
      b.build().asInstanceOf[FstScan].planInputPartitions()
        .flatMap(_.asInstanceOf[FstInputPartition].files).toSeq
    }
    val pruned = plannedFiles(Array(EqualTo("nomvar", "TT")))
    assert(pruned.nonEmpty &&
      pruned.forall(_.contains("nomvar=TT")), pruned.mkString(", "))
    val all = plannedFiles(Array.empty)
    assert(all.exists(_.contains("nomvar=GZ")))
    // join-driven runtime filters prune identically (the DSv2
    // dynamic-pruning hook delivers them before partition planning)
    val b2 = new FstScanBuilder(Seq(path))
    val scan2 = b2.build().asInstanceOf[FstScan]
    scan2.filter(Array[Filter](EqualTo("nomvar", "UU")))
    val rt = scan2.planInputPartitions()
      .flatMap(_.asInstanceOf[FstInputPartition].files).toSeq
    assert(rt.nonEmpty && rt.forall(_.contains("nomvar=UU")),
      rt.mkString(", "))
  }

  test("multi-page xdf file splits into page-run slices, rows intact") {
    import graft.sources.fst.{FstScanBuilder, FstScan, FstInputPartition}
    import spark.implicits._
    val path = "/tmp/graft_scan_spec_pagesplit"
    val rows = 600 // 3 directory pages at 256 entries/page
    val df = (1 to rows).toDF("i").select(
      lit("TT").as("nomvar"), lit("P").as("typvar"),
      lit("TEST").as("etiket"), lit(2).as("ni"), lit(2).as("nj"),
      lit(1).as("nk"), lit(442998800L).as("dateo"),
      col("i").as("ip1"), lit(0).as("ip2"), lit(0).as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(5).as("datyp"),
      lit(32).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(col("i").cast("float"), lit(1f), lit(2f), lit(3f)).as("d"))
    graft.sources.fst.FstWriter.write(df.coalesce(1), path,
      maxRecordsPerFile = rows, cleanup = false, container = "xdf")
    val dataFiles = new java.io.File(path).listFiles()
      .filter(f => f.isFile && !graft.sources.fst.FstScan.hidden(f.getName))
    assert(dataFiles.length == 1, dataFiles.mkString(", "))
    // plan: the single multi-page file must yield >1 partition (one
    // task per page run), not serialize on one core. The fixture is
    // tiny, so shrink the partition budget to make it "giant"
    // relative to target (at defaults a 60 KB file correctly stays
    // whole under the 4 MB open-cost floor).
    val len = dataFiles.head.length()
    assert(spark.read.format("fstrec").load(path).rdd.getNumPartitions == 1)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${len / 3}")
    try {
      val parts = new FstScanBuilder(Seq(path)).build()
        .asInstanceOf[FstScan].planInputPartitions()
        .map(_.asInstanceOf[FstInputPartition])
      assert(parts.length > 1,
        s"expected page-run split, got ${parts.length}")
      val slices = parts.flatMap(_.slices)
      assert(slices.forall(!_.wholeFile), slices.mkString(", "))
      // page ranges tile [0, nPages) without overlap
      val ranges = slices.map(s => (s.unitStart, s.unitEnd)).sortBy(_._1)
      assert(ranges.head._1 == 0)
      ranges.sliding(2).foreach {
        case Array((_, e), (s2, _)) =>
          assert(e == s2, ranges.mkString(", "))
        case _ => ()
      }
      // every slice carries its start page's address so the task
      // seeks straight there instead of re-walking the page chain
      assert(slices.forall(_.startAddr != 0), slices.mkString(", "))
      // row fidelity THROUGH the split read path: every record once,
      // keys distinct, payloads intact
      val back = spark.read.format("fstrec").load(path)
      assert(back.rdd.getNumPartitions > 1)
      assert(back.count() == rows)
      assert(back.select("path", "key").distinct().count() == rows)
      assert(back.agg(sum(element_at(col("d"), 1))).as[Double].head() ==
        (1 to rows).map(_.toDouble).sum)
      // a metadata-only read keeps the split plan
      val meta = spark.read.format("fstrec").load(path).select("nomvar", "ip1")
      assert(meta.rdd.getNumPartitions > 1 && meta.count() == rows)
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("oversized compact container splits into record-range slices, rows intact") {
    import graft.sources.fst.{FstScanBuilder, FstScan, FstInputPartition}
    import spark.implicits._
    val path = "/tmp/graft_scan_spec_recsplit"
    val rows = 500
    val df = (1 to rows).toDF("i").select(
      lit("TT").as("nomvar"), lit("P").as("typvar"),
      lit("TEST").as("etiket"), lit(2).as("ni"), lit(2).as("nj"),
      lit(1).as("nk"), lit(442998800L).as("dateo"),
      col("i").as("ip1"), lit(0).as("ip2"), lit(0).as("ip3"),
      lit(0).as("deet"), lit(0).as("npas"), lit(5).as("datyp"),
      lit(32).as("nbits"), lit("X").as("grtyp"), lit(0).as("ig1"),
      lit(0).as("ig2"), lit(0).as("ig3"), lit(0).as("ig4"),
      lit(442998800L).as("datev"),
      array(col("i").cast("float"), lit(1f), lit(2f), lit(3f)).as("d"))
    // default container = compact ("fstrec"): one flat directory
    // block, no pages — the split unit is the RECORD index
    graft.sources.fst.FstWriter.write(df.coalesce(1), path,
      maxRecordsPerFile = rows, cleanup = false)
    val dataFiles = new java.io.File(path).listFiles()
      .filter(f => f.isFile && !graft.sources.fst.FstScan.hidden(f.getName))
    assert(dataFiles.length == 1, dataFiles.mkString(", "))
    val len = dataFiles.head.length()
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${len / 4}")
    try {
      val parts = new FstScanBuilder(Seq(path)).build()
        .asInstanceOf[FstScan].planInputPartitions()
        .map(_.asInstanceOf[FstInputPartition])
      assert(parts.length > 1,
        s"expected record-range split, got ${parts.length}")
      val slices = parts.flatMap(_.slices)
      assert(slices.forall(!_.wholeFile), slices.mkString(", "))
      // record ranges tile [0, nrecs) without overlap
      val ranges = slices.map(s => (s.unitStart, s.unitEnd)).sortBy(_._1)
      assert(ranges.head._1 == 0)
      assert(ranges.last._2 == rows, ranges.mkString(", "))
      ranges.sliding(2).foreach {
        case Array((_, e), (s2, _)) =>
          assert(e == s2, ranges.mkString(", "))
        case _ => ()
      }
      // row fidelity THROUGH the split read path: every record once,
      // keys identical to a whole-file read, payloads intact
      val back = spark.read.format("fstrec").load(path)
      assert(back.rdd.getNumPartitions > 1)
      assert(back.count() == rows)
      assert(back.select("key").distinct().count() == rows)
      assert(back.agg(sum(element_at(col("d"), 1))).as[Double].head() ==
        (1 to rows).map(_.toDouble).sum)
      // a metadata-only read keeps the split plan
      val meta = spark.read.format("fstrec").load(path).select("nomvar", "ip1")
      assert(meta.rdd.getNumPartitions > 1 && meta.count() == rows)
      // keys are the global record handles, unchanged by slicing
      val keys = back.select("key").as[Int].collect().sorted
      assert(keys.toSeq == (0 until rows).map(_ << 10),
        s"keys not global record handles: ${keys.take(5).mkString(",")}")
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("oversized non-FST file plans whole; reader raises the real error") {
    import graft.sources.fst.{FstScanBuilder, FstScan, FstInputPartition}
    val path = "/tmp/graft_scan_spec_garbage"
    new java.io.File(path).mkdirs()
    // random-ish bytes, no STDR magic: the split probe must return
    // "not splittable" (whole-file slice) and leave the real error
    // to the task-side reader, which has full context
    val f = new java.io.File(path, "junk.fst")
    val out = new java.io.FileOutputStream(f)
    try out.write(Array.tabulate[Byte](64 * 1024)(i => (i * 31 + 7).toByte))
    finally out.close()
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try {
      val parts = new FstScanBuilder(Seq(path)).build()
        .asInstanceOf[FstScan].planInputPartitions()
        .map(_.asInstanceOf[FstInputPartition])
      val slices = parts.flatMap(_.slices)
      assert(slices.length == 1 && slices.head.wholeFile,
        slices.mkString(", "))
      val err = intercept[org.apache.spark.SparkException] {
        spark.read.format("fstrec").load(path).count()
      }
      assert(err.getMessage.contains("STDR") ||
        Option(err.getCause).exists(_.getMessage.contains("STDR")),
        s"expected the magic-sniff error, got: ${err.getMessage}")
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("scan statistics shrink under metadata-only projection") {
    import graft.sources.fst.{FstScanBuilder, FstScan}
    import org.apache.spark.sql.types.StructType
    val path = "/tmp/graft_scan_spec_stats"
    writeSmallFiles(path, rows = 200, perFile = 50)
    def stats(fields: Seq[String]): Long = {
      val b = new FstScanBuilder(Seq(path))
      b.pruneColumns(StructType(
        graft.sources.fst.FstTable.Schema.filter(f =>
          fields.contains(f.name))))
      b.build().asInstanceOf[FstScan].estimateStatistics()
        .sizeInBytes().getAsLong
    }
    val full = stats(Seq("nomvar", "ip1", "d"))
    val metaOnly = stats(Seq("nomvar", "ip1"))
    assert(metaOnly < full,
      s"metadata-only estimate $metaOnly !< full $full")
    // full estimate equals the on-disk byte count
    val disk = new java.io.File(path).listFiles().filter(_.isFile)
      .filterNot(f => f.getName.startsWith(".") ||
        f.getName.startsWith("_"))
      .map(_.length()).sum
    assert(full == disk, s"full estimate $full != disk $disk")
  }
}

object FstScanSpec {
  def hiddenName(n: String): Boolean = n.startsWith(".") || n.startsWith("_")
}

/** The local filesystem under a scheme no default Hadoop conf maps. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftsession"
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
}

package perfbench

import java.io.{File, FileOutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.core.{IpCodec, RmnDate}
import graft.sources.fst.{FstFormat, XdfFormat}

/** One generated record: directory metadata, the payload at native
  * precision, and the index of the file it is written to.
  */
final case class Rec(meta: FstFormat.Meta, values: Array[Double],
                     file: Int) {
  def nelm: Int = values.length
  /** Raw payload bytes at the record's native element width. */
  def rawBytes: Long = nelm.toLong * (if (meta.nbits > 32) 8 else 4)
  /** Identity used by the checks (unique per record in each workload). */
  def id: String = s"${meta.nomvar}/${meta.ip1}/${meta.etiket}/${meta.datev}"
}

final case class Doc(id: Long, text: String, lang: String)

/** A datyp the XDF codec encodes, at one element width. */
final case class Variant(name: String, datyp: Int, nbits: Int)

/** Seeded input generators. Every payload value sits on its datyp's
  * exact grid (dyadic steps inside the codec's precision), so a
  * decoded payload must match the generated one bit for bit, and
  * per-record sums folded in array order are reproducible exactly.
  */
object Gen {

  val D0Epoch: Long = 1594728000L // 2020-07-14T12:00:00Z
  val Deet = 300
  val Ig2 = 77761
  def gridIg1(gid: Int): Int = 33792 + gid

  /** Every datyp the XDF codec encodes; 5 appears at 32 and 64 bits. */
  val Variants: Seq[Variant] = Seq(
    Variant("dt1", 1, 16), Variant("dt2", 2, 16),
    Variant("dt5_32", 5, 32), Variant("dt5_64", 5, 64),
    Variant("dt6", 6, 16), Variant("dt129", 129, 16),
    Variant("dt130", 130, 16), Variant("dt133", 133, 32),
    Variant("dt134", 134, 16))

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def meta(nomvar: String, etiket: String, ni: Int, nj: Int, ip1: Int,
           hour: Int, datyp: Int, nbits: Int, grtyp: String, ig1: Int,
           ig2: Int, ip2: Int = -1, typvar: String = "P",
           ig3: Int = 0, ig4: Int = 0): FstFormat.Meta = {
    val npas = hour * 3600 / Deet
    FstFormat.Meta(nomvar, typvar, etiket, ni, nj, 1,
      RmnDate.fromEpochSeconds(D0Epoch),
      ip1, if (ip2 >= 0) ip2 else hour, 0, Deet, npas, datyp, nbits,
      grtyp, ig1, ig2, ig3, ig4,
      RmnDate.fromEpochSeconds(D0Epoch + hour * 3600L), 0, 0)
  }

  // ---------------------------------------------------------------
  // catalog_meta: many small records over five vertical regimes
  // ---------------------------------------------------------------

  final case class Catalog(recs: Seq[Rec], nFiles: Int,
                           nomvars: Seq[String], hours: Seq[Int],
                           levels: IndexedSeq[Seq[Float]],
                           kinds: IndexedSeq[Int], etikets: Seq[String],
                           dupCount: Int) {
    /** Records after identity dedup (what `Api.read` returns). */
    lazy val unique: Seq[Rec] = recs.groupBy(dedupKey)
      .values.map(_.head).toSeq
  }

  /** The identity the library dedups on (everything but d and ig2). */
  def dedupKey(r: Rec): String = {
    val m = r.meta
    Seq(m.nomvar, m.typvar, m.etiket, m.ni, m.nj, m.nk, m.ip1, m.ip2,
      m.ip3, m.deet, m.npas, m.datyp, m.nbits, m.grtyp, m.ig1, m.ig3,
      m.ig4, m.datev).mkString("|")
  }

  val CatalogMetaNomvars: Set[String] =
    Set(">>", "^^", "!!", "P0", "PT", "HY")

  /** Pressure levels (kind 2) for grid 0; dyadic model levels for the
    * sigma (kind 1) and hybrid (kind 5) grids, so PX = level * P0 is
    * exact in float32.
    */
  val PressureLevels: Seq[Float] = Seq(1000f, 925f, 850f, 700f, 500f, 250f)
  val ModelLevels: Seq[Float] = Seq(1.0f, 0.875f, 0.75f, 0.625f, 0.5f,
    0.25f)

  def catalog(seed: Long, nomvars: Int = 10, hours: Int = 4,
              etikets: Int = 2, nFiles: Int = 24, side: Int = 8)
      : Catalog = {
    val r = rng(seed, 1)
    val nv = Seq("TT", "UU", "VV", "HU", "GZ", "ES", "WW", "TD", "QC",
      "PN", "WE", "HR").take(nomvars)
    val hs = (0 until hours).map(_ * 6)
    val ets = Seq("R1_V710_N", "G133K80P", "OPERATION", "G1_7_1_0N")
      .take(etikets)
    val kinds = IndexedSeq(2, 1, 1, 5, 5) // P, sigma, eta, hyb 5005, 5001
    val levels = kinds.indices.map(g =>
      if (g == 0) PressureLevels else ModelLevels)
    val n = side * side
    // eighths in [-288, 288): exact in float32
    def field(): Array[Double] = {
      val base = r.nextInt(64) - 32
      Array.tabulate(n)(_ => base + (r.nextInt(1 << 12) - 2048) / 8.0)
    }
    val data = for {
      g <- kinds.indices; nomvar <- nv; lv <- levels(g); h <- hs
      et <- ets
    } yield Rec(meta(nomvar, et, side, side, IpCodec.encode(lv, kinds(g)),
      h, 5, 32, "Z", gridIg1(g), Ig2), field(), -1)
    val gg = gridIg1 _
    val deform = kinds.indices.flatMap { g =>
      Seq(
        Rec(meta(">>", "GRID", side, 1, gg(g), 0, 5, 32, "E", 900, 0,
          ip2 = Ig2, typvar = "X", ig3 = 43200, ig4 = 43200),
          Array.tabulate(side)(i => i * 2.5), -1),
        Rec(meta("^^", "GRID", 1, side, gg(g), 0, 5, 32, "E", 900, 0,
          ip2 = Ig2, typvar = "X", ig3 = 43200, ig4 = 43200),
          Array.tabulate(side)(j => -45.0 + j * 1.25), -1))
    }
    // surface pressure per (model grid, hour): whole millibars
    val p0 = for { g <- 1 to 4; h <- hs } yield
      Rec(meta("P0", "OPERATION", side, side, 0, h, 5, 32, "Z", gg(g),
        Ig2, ip2 = h), Array.tabulate(n)(_ => 950.0 + r.nextInt(100)), -1)
    val pt = hs.map(h =>
      Rec(meta("PT", "OPERATION", side, side, 0, h, 5, 32, "Z", gg(2),
        Ig2, ip2 = h), Array.fill(n)(10.0), -1))
    // `!!` A/B table (3 x (2 + levels)), vcode 5005, for grid 3. The
    // ip1 column holds float32 copies of ip1 codes, so the generated
    // levels are the ones whose codes a float32 holds exactly.
    val tt = {
      val cols = Seq((0.0, 0.0, 0.0), (1.0, 100000.0, 0.0)) ++
        levels(3).map(lv => (IpCodec.encode(lv, 5).toFloat.toDouble,
          math.log(lv * 100000.0).toFloat.toDouble, 1.0))
      Rec(meta("!!", "TOCTOC", 3, cols.size, gg(3), 0, 5, 32, "X", 5005,
        0, ip2 = Ig2, typvar = "X"),
        cols.flatMap { case (a, b, c) => Seq(a, b, c) }.toArray, -1)
    }
    val hy = Rec(meta("HY", "OPERATION", 1, 1, IpCodec.encode(0.3f, 5), 0,
      5, 32, "X", 800, 1000, typvar = "X"), Array(10.0), -1)
    val all = data ++ deform ++ p0 ++ pt ++ Seq(tt, hy)
    // ~2% exact duplicate records in other files (Api.read dedups)
    val dupCount = math.max(1, data.size / 50)
    val dups = (0 until dupCount).map(i => data(r.nextInt(data.size)))
      .distinct
    val placed = shuffle(all.toIndexedSeq, r).zipWithIndex.map {
      case (rec, i) => rec.copy(file = i % nFiles)
    }
    val dupPlaced = dups.map { d =>
      val home = placed.find(_.values eq d.values).get.file
      d.copy(file = (home + 1 + r.nextInt(nFiles - 1)) % nFiles)
    }
    Catalog(placed ++ dupPlaced, nFiles, nv, hs, levels, kinds, ets,
      dupPlaced.size)
  }

  // ---------------------------------------------------------------
  // fields_payload / write_update: large fields, every datyp
  // ---------------------------------------------------------------

  val FieldNomvars: Seq[String] = Seq("TT", "UU", "VV", "GZ", "HU", "WW")

  /** A smooth 2D field in [-1, 1] (the common meteorological shape the
    * turbopack token codec is built for).
    */
  def smooth(r: SplittableRandom, side: Int): Array[Double] = {
    val a = 0.5 + r.nextDouble() * 6; val b = 0.5 + r.nextDouble() * 6
    val pa = r.nextDouble() * 6.28; val pb = r.nextDouble() * 6.28
    val si = Array.tabulate(side)(i =>
      StrictMath.sin(a * i / side * 6.28 + pa))
    val cj = Array.tabulate(side)(j =>
      StrictMath.cos(b * j / side * 6.28 + pb))
    Array.tabulate(side * side)(k => si(k % side) * cj(k / side))
  }

  /** Values on the variant's exact grid (see the codec notes in
    * XdfFormat): quantized packers get dyadic steps they reproduce
    * exactly, integer datyps get integers, IEEE datyps get dyadic
    * values that need all of their declared width.
    */
  def payload(v: Variant, r: SplittableRandom, side: Int): Array[Double] = {
    val s = smooth(r, side)
    val out = v.name match {
      case "dt1" | "dt129" =>
        val base = 200 + r.nextInt(100)
        val ks = s.map(x => math.rint((x + 1) / 2 * 65535))
        ks(0) = 0; ks(1) = 65535 // pins the step at 2^-4
        ks.map(k => base + k / 16.0)
      case "dt2" | "dt130" =>
        s.map(x => math.rint((x + 1) / 2 * 65535))
      case "dt5_32" | "dt133" =>
        s.map(x => math.rint(x * 8000) / 256.0)
      case "dt5_64" =>
        s.map(x => math.rint((136 + 119 * x) * (1 << 20)) / (1 << 20))
      case "dt6" | "dt134" =>
        val ms = s.map(x => math.rint(x * 32767))
        ms(0) = 32767 // pins the reference exponent: step 2^-6
        ms.map(m => m / 64.0)
    }
    out.map(_ + 0.0) // no negative zeros: the packers decode them as +0
  }

  def fields(seed: Long, nomvars: Int, levels: Int, side: Int,
             nFiles: Int): Seq[Rec] = {
    val r = rng(seed, 2)
    val nv = FieldNomvars.take(nomvars)
    val lvls = (0 until levels).map(l => 1000 - l * (900 / levels))
    val recs = for {
      (nomvar, ni) <- nv.zipWithIndex
      (lv, li) <- lvls.zipWithIndex
    } yield {
      val v = Variants((ni + li + seed.toInt.abs) % Variants.size)
      // hours cycle across nomvars for every datyp (so the pushed
      // filter on (ip2, datyp) always matches some records)
      val hour = (li / 3 % 3) * 6
      Rec(meta(nomvar, "FIELDS", side, side,
        IpCodec.encode(lv.toFloat, 2), hour, v.datyp, v.nbits, "Z",
        gridIg1(0), Ig2), payload(v, r, side), -1)
    }
    shuffle(recs.toIndexedSeq, r).zipWithIndex.map {
      case (rec, i) => rec.copy(file = i % nFiles)
    }
  }

  // ---------------------------------------------------------------
  // curation: documents with planted exact and near duplicates
  // ---------------------------------------------------------------

  final case class Batch(docs: IndexedSeq[Doc], survivors: Set[Long],
                         stages: Seq[(String, Long)])

  /** A batch of documents for one curate call. Each cluster is a base
    * document plus exact copies and one-word edits (3-word-shingle
    * Jaccard >= 0.96); short (< 50 tokens) and non-English singletons
    * fail the quality gate. Ids are shuffled, so the surviving
    * (minimum) id of a cluster is not always the base.
    */
  def corpus(seed: Long, clusters: Int): Batch = {
    val r = rng(seed, 4)
    val vocab = (0 until 6000).map(i =>
      "w" + java.lang.Integer.toString(i * 7919 % 100003, 36))
    def words(n: Int) = IndexedSeq.fill(n)(vocab(r.nextInt(vocab.size)))
    final case class Planned(text: String, lang: String, cluster: Int,
                             keep: Boolean)
    val planned = (0 until clusters).flatMap { c =>
      val kind = r.nextInt(100)
      if (kind < 6) Seq(Planned(words(20 + r.nextInt(25)).mkString(" "),
        "en", c, keep = false))
      else if (kind < 10) Seq(Planned(words(60 + r.nextInt(60))
        .mkString(" "), "fr", c, keep = false))
      else {
        val base = words(60 + r.nextInt(60))
        val exact = if (r.nextInt(100) < 20) 1 + r.nextInt(2) else 0
        val near = if (r.nextInt(100) < 25) 1 + r.nextInt(2) else 0
        // a near duplicate swaps its last word: one shingle of ~60+
        // differs, far above the 0.5 threshold, so LSH finds it
        val edits = (0 until near).map { _ =>
          base.updated(base.size - 1, vocab(r.nextInt(vocab.size)))
        }.distinct.filterNot(_ == base)
        (Seq(base) ++ Seq.fill(exact)(base) ++ edits).map(w =>
          Planned(w.mkString(" "), "en", c, keep = true))
      }
    }
    val ids = shuffle(planned.indices.map(_.toLong), r)
    val docs = planned.zip(ids).map { case (p, id) => Doc(id, p.text, p.lang) }
    val byCluster = planned.zip(ids).groupBy(_._1.cluster)
    val survivors = byCluster.values.collect {
      case members if members.head._1.keep => members.map(_._2).min
    }.toSet
    // accounting: raw, after exact dedup, after near-dup, after gate
    Batch(docs, survivors, Seq("s0_raw" -> docs.size.toLong,
      "s1_exact" -> docs.map(_.text).distinct.size.toLong,
      "s2_neardup" -> byCluster.size.toLong,
      "s3_quality" -> survivors.size.toLong))
  }

  // ---------------------------------------------------------------
  // files, digests
  // ---------------------------------------------------------------

  def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  /** Write records to `dir` through the library's container
    * serializers; returns the file paths.
    */
  def writeFiles(recs: Seq[Rec], nFiles: Int, dir: File, xdf: Boolean)
      : Seq[String] = {
    dir.mkdirs()
    val byFile = recs.groupBy(_.file)
    (0 until nFiles).flatMap { f =>
      byFile.get(f).map { rs =>
        val image =
          if (xdf) XdfFormat.writeFile(rs.map(r => (r.meta, r.values)))
          else FstFormat.writeFile(rs.map(r =>
            (r.meta, r.values.map(_.toFloat))))
        val out = new File(dir, f"part-$f%03d.fst")
        val os = new FileOutputStream(out)
        try os.write(image) finally os.close()
        out.getAbsolutePath
      }
    }
  }

  def digestRecs(recs: Seq[Rec]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    recs.foreach { r =>
      md.update(s"${r.meta.copy(addrWords = 0, lng32 = 0)}|${r.file}"
        .getBytes("UTF-8"))
      val bb = java.nio.ByteBuffer.allocate(8 * r.values.length)
      bb.asDoubleBuffer().put(r.values)
      md.update(bb.array())
    }
    hex(md.digest())
  }

  def digestDocs(batch: Batch): String = {
    val md = MessageDigest.getInstance("SHA-256")
    batch.docs.foreach(d =>
      md.update(s"${d.id}|${d.lang}|${d.text}\n".getBytes("UTF-8")))
    hex(md.digest())
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
}

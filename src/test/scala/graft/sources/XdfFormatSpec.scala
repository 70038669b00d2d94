package graft.sources

import java.nio.ByteBuffer
import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.sources.fst.{FstFormat, XdfFormat}
import graft.sources.fst.FstFormat.Meta

/** Real-XDF container tests. The golden fixture below is synthesized
  * byte-by-byte from the reference's struct spec and divmod unpack
  * recipe (/root/reference/fstpy/std_io.py:247-460, 687-799) —
  * independently of [[XdfFormat.writeFile]] — so the writer and reader
  * are both pinned to the published layout, not merely to each other.
  */
class XdfFormatSpec extends AnyFunSuite with TimeLimits {

  private def ascii(s: String): Int =
    ByteBuffer.wrap(s.getBytes("ASCII")).getInt

  /** Independent 6-bit packing per the reference's reassembly loops
    * (std_io.py:762-780): char bias 32, 6 bits each, MSB-first.
    */
  private def six(s: String, n: Int): Long =
    s.padTo(n, ' ').take(n).foldLeft(0L)((a, c) => (a << 6) | (c - 32))

  /** Build one 18-word directory entry straight from the word layout
    * comments (std_io.py:688-697), not via FstFormat.packEntry.
    */
  private def goldenEntry(deleted: Boolean, lng64: Int, swa: Int)
      : Array[Int] = {
    val w = new Array[Int](18)
    // word 0: deleted:1, select:7, lng:24
    w(0) = (if (deleted) 1 << 31 else 0) | (lng64 & 0xFFFFFF)
    w(1) = swa
    w(2) = (300 << 8) | 32 // deet:24, nbits:8
    w(3) = (2 << 8) | 'Z'.toInt // ni:24, grtyp:8
    w(4) = (1 << 8) | 5 // nj:24, datyp:8
    w(5) = 1 << 12 // nk:20, ubc:12
    w(6) = 144 << 6 // npas:26, pad:6
    w(7) = (77 << 8) | ((0x0ABCDE >> 16) & 0xFF) // ig4:24, ig2a:8
    w(8) = (33792 << 8) | ((0x0ABCDE >> 8) & 0xFF) // ig1:24, ig2b:8
    w(9) = (7 << 8) | (0x0ABCDE & 0xFF) // ig3:24, ig2c:8
    w(10) = (six("R1_V7", 5) << 2).toInt // etik15:30, pad:2
    w(11) = (six("10_N ", 5) << 2).toInt // etik6a:30, pad:2
    // word 12: etikbc:12, typvar:12, pad:8 — all <<8 per the unpack
    w(12) = (((six("  ", 2) << 12) | six("P ", 2)) << 8).toInt
    w(13) = (six("TT  ", 4) << 8).toInt // nomvar:24, pad:8
    w(14) = 41394464 << 4 // ip1:28, levtyp:4
    w(15) = 12 << 4 // ip2:28, pad:4
    w(16) = 0 << 4 // ip3:28, pad:4
    w(17) = FstFormat.stampToRaw(442998800L) // date_stamp:32
    w
  }

  /** Handcrafted single-page XDF image: header (26x64-bit), page at
    * origin-1 address 27, two entries (second deleted), record 0 at
    * swa 2335 with a 2-element IEEE float payload.
    */
  private def goldenImage: Array[Byte] = {
    val pageAddr = 1 + XdfFormat.HeaderLng64 // 27
    val swa = pageAddr + XdfFormat.PageLng64 // 2335
    val lng64 = (20 + 2 + 1) / 2 // 11
    val fsiz = swa - 1 + lng64
    val buf = ByteBuffer.allocate(fsiz * 8)
    // file header words (std_io.py:362-395)
    buf.putInt(XdfFormat.HeaderLng64) // lng:24|idtyp:8
    buf.putInt(0) // addr = 0 for the file header
    buf.putInt(ascii("XDF0"))
    buf.putInt(ascii("STDR")) // bytes 12-16: the maybeFST magic
    buf.putInt(fsiz)
    buf.putInt(0); buf.putInt(0)
    buf.putInt(1) // nbd
    buf.putInt(pageAddr) // plst
    buf.putInt(lng64) // nbig
    buf.putInt((9 << 16) | 16) // lprm|nprm
    buf.putInt((1 << 16) | 2) // laux|naux
    buf.putInt(0); buf.putInt(2); buf.putInt(0); buf.putInt(0)
    // key descriptors (opaque)
    (0 until 18).foreach { i => buf.putInt(i + 1); buf.putInt(0) }
    // directory page (std_io.py:296-314)
    buf.position((pageAddr - 1) * 8)
    buf.putInt(XdfFormat.PageLng64)
    buf.putInt(pageAddr)
    buf.putInt(ascii("DIR0"))
    buf.putInt(0)
    buf.putInt(0) // nxt_addr: none
    buf.putInt(2) // nent (includes the deleted entry)
    buf.putInt(0); buf.putInt(0)
    goldenEntry(deleted = false, lng64, swa).foreach(buf.putInt)
    goldenEntry(deleted = true, lng64, swa).foreach(buf.putInt)
    // data record: 18 primary words + 2 aux + payload (data[20:])
    buf.position((swa - 1) * 8)
    goldenEntry(deleted = false, lng64, swa).foreach(buf.putInt)
    buf.putInt(FstFormat.stampToRaw(442998800L))
    buf.putInt(0)
    buf.putInt(java.lang.Float.floatToIntBits(1.5f))
    buf.putInt(java.lang.Float.floatToIntBits(-2.25f))
    buf.array()
  }

  test("golden image: magic, container sniff, directory fields") {
    val img = goldenImage
    assert(FstFormat.maybeFst(img))
    assert(XdfFormat.isXdf(img))
    val dir = XdfFormat.readDirectory(img)
    // the deleted entry is filtered (dltf, std_io.py:807)
    assert(dir.size == 1)
    val (m, key) = dir.head
    assert(key == XdfFormat.handle(0, 0))
    assert(m.nomvar == "TT" && m.typvar == "P" &&
      m.etiket == "R1_V710_N")
    assert(m.ni == 2 && m.nj == 1 && m.nk == 1)
    assert(m.deet == 300 && m.nbits == 32 && m.grtyp == "Z")
    assert(m.datyp == 5 && m.npas == 144)
    assert(m.ig1 == 33792 && m.ig2 == 0x0ABCDE && m.ig3 == 7 &&
      m.ig4 == 77)
    assert(m.ip1 == 41394464 && m.ip2 == 12 && m.ip3 == 0)
    assert(m.datev == 442998800L)
    // dateo = datev - deet*npas seconds through 5 s stamp ticks
    assert(m.dateo ==
      graft.core.RmnDate.dateoFromDatev(442998800L, 300, 144))
    assert(m.addrWords == 2335)
    assert(XdfFormat.readPayload(XdfFormat.byteReader(img), m).toSeq ==
      Seq(1.5, -2.25))
  }

  test("compact container is not mistaken for XDF") {
    val m = Meta("TT", "P", "X", 1, 1, 1, 0L, 0, 0, 0, 0, 0, 5, 32,
      "Z", 0, 0, 0, 0, 442998800L, 0, 0)
    val own = FstFormat.writeFile(Seq((m, Array(1f))))
    assert(FstFormat.maybeFst(own) && !XdfFormat.isXdf(own))
  }

  test("corrupt directory page fails loudly") {
    val img = goldenImage
    val buf = ByteBuffer.wrap(img)
    buf.putInt((1 + XdfFormat.HeaderLng64 - 1) * 8 + 8, 0x42424242)
    intercept[IllegalArgumentException] {
      XdfFormat.readDirectory(img)
    }
  }

  private def meta(i: Int, ni: Int, nj: Int, datyp: Int, nbits: Int) =
    Meta("TT", "P", "R1_V710_N", ni, nj, 1, 0L, 41394464, 12, i, 300,
      144, datyp, nbits, "Z", 33792, 77761, 1, 0, 442998800L, 0, 0)

  test("write/read round-trip across datyps at native precision") {
    val recs = Seq[(Meta, Array[Double])](
      (meta(0, 2, 2, 5, 32), Array(1.5, -2.25, 0.0, 3e7)),
      (meta(1, 2, 2, 5, 64), Array(math.Pi, -1.0 / 3, 1e-300, 2.0)),
      (meta(2, 3, 1, 2, 16), Array(0.0, 65535.0, 1234.0)),
      (meta(3, 3, 1, 2, 32), Array(0.0, 4294967295.0, 7.0)),
      (meta(4, 3, 1, 4, 8), Array(-128.0, 127.0, -1.0)),
      // datyp 1: integer offsets inside a < 2^nbits range sit on the
      // power-of-two quantization grid, so they round-trip exactly
      (meta(5, 4, 1, 1, 12), Array(3.0, 4050.0, 17.0, 20.0)),
      // +64 missing-data flag masked off for the codec (datyp & 191)
      (meta(6, 2, 1, 5 + 64, 32), Array(9.5, -9.5)),
      // datyp 7: characters pack 8-bit regardless of declared nbits
      (meta(7, 5, 1, 7, 8), "HELLO".map(_.toDouble).toArray),
      // datyp 6: magnitudes that are multiples of the reference-
      // exponent step (here 2^(133-126-15) = 1/256) decode exactly
      (meta(8, 4, 1, 6, 16), Array(1.5, -2.25, 0.0, 100.0)))
    val img = XdfFormat.writeFile(recs)
    assert(XdfFormat.isXdf(img))
    val dir = XdfFormat.readDirectory(img)
    assert(dir.size == recs.size)
    dir.sortBy(_._1.ip3).zip(recs).foreach { case ((m, _), (em, ed)) =>
      assert(m.ip3 == em.ip3 && m.datyp == em.datyp &&
        m.nbits == em.nbits)
      val got = XdfFormat.readPayload(XdfFormat.byteReader(img), m)
      assert(got.toSeq == ed.toSeq, s"payload of ip3=${m.ip3}")
    }
  }

  test("datyp 6 off-grid values truncate toward zero within one step") {
    val vals = Array(0.1, -0.37, 0.9211, -0.5555, 1.0)
    val nbits = 12
    val words = XdfFormat.encodePayload(6, nbits, vals)
    val back = XdfFormat.decodePayload(6, nbits, vals.length, words)
    // refExpo from max |v| = 1.0 (biased 127): step = 2^(127-126-11)
    val step = math.pow(2, (127 - 126 - (nbits - 1)).toDouble)
    vals.zip(back).foreach { case (v, b) =>
      assert(math.abs(b) <= math.abs(v) && math.abs(v - b) < step,
        s"$v -> $b")
      assert(v == 0.0 || math.signum(v) == math.signum(b) || b == 0.0)
    }
  }

  test("datyp 1 off-grid values quantize within half a step") {
    val vals = Array(0.1, 0.37, 0.9211, 0.5555, 1.0)
    val nbits = 12
    val words = XdfFormat.encodePayload(1, nbits, vals)
    val back = XdfFormat.decodePayload(1, nbits, vals.length, words)
    val step = math.pow(2,
      XdfFormat.stepExponent(vals.max - vals.min, nbits).toDouble)
    vals.zip(back).foreach { case (v, b) =>
      assert(math.abs(v - b) <= step / 2 + 1e-12, s"$v -> $b")
    }
  }

  test("multi-page directory with chained nxt_addr") {
    val n = XdfFormat.EntriesPerPage + 40 // 2 pages
    val recs = (0 until n).map { i =>
      (meta(i, 1, 1, 5, 32), Array(i.toDouble))
    }
    val img = XdfFormat.writeFile(recs)
    val dir = XdfFormat.readDirectory(img)
    assert(dir.size == n)
    // MAKE_RND_HANDLE keys: page 0 recnos then page 1 recnos
    assert(dir.map(_._2).take(3) ==
      Seq(XdfFormat.handle(0, 0), XdfFormat.handle(0, 1),
        XdfFormat.handle(0, 2)))
    assert(dir.map(_._2).drop(XdfFormat.EntriesPerPage).head ==
      XdfFormat.handle(1, 0))
    val rd = XdfFormat.byteReader(img)
    dir.foreach { case (m, _) =>
      assert(XdfFormat.readPayload(rd, m).head == m.ip3.toDouble)
    }
  }

  test("in-place entry patch updates page entry, record header and datev word") {
    val n = XdfFormat.EntriesPerPage + 2 // the patched record is on page 1
    val recs = (0 until n).map(i =>
      (meta(i, 2, 1, 5, 32), Array(i.toDouble, -i.toDouble)))
    val img = XdfFormat.writeFile(recs)
    val rd = XdfFormat.byteReader(img)
    val entries = XdfFormat.scanEntries(rd)
    val key = XdfFormat.handle(1, 1)
    val (old, _) = entries.find(_._2 == key).get
    val payloadAt = (old.addrWords - 1) * 8 + XdfFormat.RecordHeaderWords * 4
    val payloadBefore = img.slice(payloadAt, payloadAt + 8)
    XdfFormat.patchEntries(img, Seq(key -> ((m: Meta) =>
      m.copy(etiket = "UPDATED", ip2 = 99, datev = 443001200L))))
    val after = XdfFormat.scanEntries(rd)
    val (m, _) = after.find(_._2 == key).get
    assert(m.etiket == "UPDATED" && m.ip2 == 99 && m.datev == 443001200L)
    assert(m.addrWords == old.addrWords && m.lng32 == old.lng32)
    assert(after.filter(_._2 != key) == entries.filter(_._2 != key))
    // the record header at swa repeats the page entry; aux word 1 is datev
    val buf = ByteBuffer.wrap(img)
    val pageAt = (XdfFormat.dirPageAddrs(rd)(1) - 1) * 8 + 32 + 72
    val recAt = (m.addrWords - 1) * 8
    (0 until 18).foreach { i =>
      assert(buf.getInt(recAt + 4 * i) == buf.getInt(pageAt + 4 * i), s"word $i")
    }
    assert(buf.getInt(recAt + 72) == FstFormat.stampToRaw(443001200L))
    assert(img.slice(payloadAt, payloadAt + 8).sameElements(payloadBefore))
    assert(XdfFormat.readPayload(rd, m).toSeq ==
      Seq(recs(XdfFormat.EntriesPerPage + 1)._2: _*))
    intercept[IllegalArgumentException] {
      XdfFormat.patchEntries(img, Seq(XdfFormat.handle(1, 2) -> ((m: Meta) => m)))
    }
  }

  test("turbopack token codec round-trips and compresses smooth runs") {
    val smooth = (0 until 1000).map(i => 5000 + (i % 37)).toArray
    val words = XdfFormat.compressTokens(smooth)
    assert(XdfFormat.decompressTokens(words, 1000).toSeq == smooth.toSeq)
    // 6-bit-wide blocks + 21-bit block headers ≈ 1/4 of the 16-bit
    // uncompressed packing — the codec must actually compress
    assert(words.length < 1000 * 16 / 32 / 2,
      s"smooth field compressed to ${words.length} words")
    // adversarial: full-range noise still round-trips (just no gain)
    val noisy = (0 until 500).map(i => (i * 40503) % 65536).toArray
    val nw = XdfFormat.compressTokens(noisy)
    assert(XdfFormat.decompressTokens(nw, 500).toSeq == noisy.toSeq)
    assert(XdfFormat.decompressTokens(
      XdfFormat.compressTokens(Array.empty[Int]), 0).isEmpty)
  }

  test("turbopack codec rejects foreign and truncated streams loudly") {
    // a librmn-ish stream that happens to lead with a plausible
    // token count must NOT decode to garbage: the magic check fires
    // first, with the declared-boundary message
    val foreign = Array(500, 500, 0x12345678, 0x0badf00d)
    val ex = intercept[IllegalArgumentException] {
      XdfFormat.decompressTokens(foreign, 500)
    }
    assert(ex.getMessage.contains("armn_compress bitstream unsupported"),
      ex.getMessage)
    // a VALID prefix cut short must fail the bounds check, not
    // return wrong values or throw ArrayIndexOutOfBoundsException
    val good = XdfFormat.compressTokens(
      (0 until 1000).map(i => (i * 7919) % 65536).toArray)
    val cut = good.take(good.length / 2)
    val ex2 = intercept[IllegalArgumentException] {
      XdfFormat.decompressTokens(cut, 1000)
    }
    assert(ex2.getMessage.contains("truncated"), ex2.getMessage)
    // wrong directory count against a healthy stream
    val ex3 = intercept[IllegalArgumentException] {
      XdfFormat.decompressTokens(good, 999)
    }
    assert(ex3.getMessage.contains("token count"), ex3.getMessage)
  }

  test("compressed datyps 129/130/133/134 round-trip in-container") {
    val recs = Seq[(Meta, Array[Double])](
      // 129 ~ datyp 1 quantization: integer offsets sit on the grid
      (meta(0, 4, 1, 129, 16), Array(3.0, 4050.0, 17.0, 20.0)),
      (meta(1, 3, 1, 130, 16), Array(0.0, 65535.0, 1234.0)),
      // 133 is lossless IEEE 32
      (meta(2, 4, 1, 133, 32),
        Array(1.5, -2.25, 3.0e7, 0.1f.toDouble)),
      // 134 ~ datyp 6: step-multiple magnitudes decode exactly
      (meta(3, 4, 1, 134, 16), Array(1.5, -2.25, 0.0, 100.0)),
      // +64 missing-flag composes with the compressed bit too
      (meta(4, 2, 1, 130 + 64, 16), Array(7.0, 9.0)))
    val img = XdfFormat.writeFile(recs)
    val dir = XdfFormat.readDirectory(img)
    assert(dir.size == recs.size)
    dir.sortBy(_._1.ip3).zip(recs).foreach { case ((m, _), (em, ed)) =>
      assert(m.datyp == em.datyp && m.nbits == em.nbits)
      val got = XdfFormat.readPayload(XdfFormat.byteReader(img), m)
      assert(got.toSeq == ed.toSeq, s"payload of ip3=${m.ip3}")
    }
  }

  test("undocumented datyps and variable-length probes fail loudly") {
    intercept[UnsupportedOperationException] {
      XdfFormat.encodePayload(8, 16, Array(1.0))
    }
    // compressed lengths are directory-carried: the fixed-size probe
    // must refuse rather than guess
    intercept[UnsupportedOperationException] {
      XdfFormat.payloadWords(133, 16, 4)
    }
    intercept[IllegalArgumentException] {
      XdfFormat.encodePayload(130, 16, Array(70000.0))
    }
    intercept[IllegalArgumentException] {
      XdfFormat.encodePayload(129, 24, Array(1.0)) // tokens cap at 16
    }
    // integer encode is capped at the 32-bit packing domain: wider
    // widths would wrap the 1L << nbits range masks and mis-reject
    // with a misleading out-of-range error
    intercept[IllegalArgumentException] {
      XdfFormat.encodePayload(2, 64, Array(1.0))
    }
    intercept[IllegalArgumentException] {
      XdfFormat.encodePayload(4, 64, Array(1.0))
    }
    // decode stays width-tolerant (unpackBits masks per 32-bit chunk)
    val two64 = XdfFormat.unpackBits(Array(0, 5, 0, 9), 64, 2)
    assert(two64.toSeq == Seq(5L, 9L))
  }

  test("payload codecs round-trip on generated values (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cases = Seq[(Int, Int, Gen[Double])](
      (5, 32, Gen.choose(-1e6f, 1e6f).map(_.toDouble)),
      (5, 64, Gen.choose(-1e12, 1e12)),
      (2, 12, Gen.choose(0L, 4095L).map(_.toDouble)),
      (2, 32, Gen.choose(0L, 0xFFFFFFFFL).map(_.toDouble)),
      (4, 16, Gen.choose(-32768L, 32767L).map(_.toDouble)),
      (7, 8, Gen.choose(0L, 255L).map(_.toDouble)),
      // datyp 6 at 25 tokens (24 magnitude bits, a full float32
      // mantissa): integer magnitudes up to 2^16 stay on the
      // reference-exponent grid, so they round-trip exactly
      (6, 25, Gen.choose(-65535L, 65535L).map(_.toDouble)),
      // turbopack family: 129 integers within a < 2^16 range sit on
      // the datyp-1 grid; 130 is the integer domain; 133 is lossless
      // IEEE 32; 134 integer magnitudes <= 2^14 stay on the 16-token
      // reference-exponent grid
      (129, 16, Gen.choose(0L, 60000L).map(_.toDouble)),
      (130, 16, Gen.choose(0L, 65535L).map(_.toDouble)),
      (133, 32, Gen.choose(-1e6f, 1e6f).map(_.toDouble)),
      (134, 16, Gen.choose(-16383L, 16383L).map(_.toDouble)))
    cases.zipWithIndex.foreach { case ((datyp, nbits, gen), ci) =>
      (0 until 20).foreach { i =>
        val vals = Gen.listOfN(37, gen)
          .apply(Gen.Parameters.default, Seed(ci * 1000L + i))
          .get.toArray
        val exact = datyp match {
          case 5 if nbits <= 32 => vals.map(v => v.toFloat.toDouble)
          case 133 => vals.map(v => v.toFloat.toDouble)
          case _ => vals
        }
        val words = XdfFormat.encodePayload(datyp, nbits, vals)
        // compressed lengths are variable (directory-carried), so
        // only the fixed codecs check the fixed-size probe
        if (!XdfFormat.isTurboDatyp(datyp))
          assert(words.length ==
            XdfFormat.payloadWords(datyp, nbits, vals.length))
        val back = XdfFormat.decodePayload(datyp, nbits,
          vals.length, words)
        assert(back.toSeq == exact.toSeq, s"datyp $datyp nbits $nbits")
      }
    }
  }

  test("a directory may mix both containers (reader sniffs per file)") {
    val dirPath = java.nio.file.Files
      .createTempDirectory("graft_mixed").toFile
    val own = FstFormat.writeFile(Seq(
      (meta(1, 2, 1, 5, 32), Array(1f, 2f))))
    val xdf = XdfFormat.writeFile(Seq(
      (meta(2, 2, 1, 5, 32), Array(3.0, 4.0))))
    java.nio.file.Files.write(
      new java.io.File(dirPath, "a.fst").toPath, own)
    java.nio.file.Files.write(
      new java.io.File(dirPath, "b.fst").toPath, xdf)
    // container detection is per file, including payload reads
    val ownDir = FstFormat.readDirectory(own)
    assert(ownDir.size == 1 && !XdfFormat.isXdf(own))
    assert(XdfFormat.isXdf(xdf))
    val (mx, _) = XdfFormat.readDirectory(xdf).head
    assert(XdfFormat.readPayload(XdfFormat.byteReader(xdf), mx)
      .toSeq == Seq(3.0, 4.0))
  }

  test("bit packing round-trips at word-boundary widths") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    for (nbits <- Seq(1, 3, 8, 12, 16, 17, 24, 31, 32)) {
      val lim = if (nbits == 32) 0xFFFFFFFFL else (1L << nbits) - 1
      val gen = Gen.listOfN(67, Gen.choose(0L, lim))
      val ks = gen.apply(Gen.Parameters.default, Seed(nbits)).get.toArray
      val words = XdfFormat.packBits(ks, nbits)
      assert(words.length == XdfFormat.packedWords(ks.length, nbits))
      assert(XdfFormat.unpackBits(words, nbits, ks.length).toSeq ==
        ks.toSeq, s"nbits=$nbits")
    }
  }

  /** Seeded 70-value payloads (longer than one 64-token turbopack
    * block): a smooth run for the first block, noise after it, so
    * block widths differ and tokens straddle word boundaries.
    */
  private def goldenPayloads: Seq[(String, Int, Int, Array[Double])] = {
    def gen(seed: Long)(f: (Int, java.util.Random) => Double) = {
      val r = new java.util.Random(seed)
      Array.tabulate(70)(i => f(i, r))
    }
    def smooth(i: Int, r: java.util.Random, amp: Double, noise: Double) =
      amp * math.sin(i / 9.0) + (if (i < 64) 0.0 else noise * r.nextGaussian())
    Seq(
      ("1", 1, 17, gen(1)((i, r) => 250.0 + smooth(i, r, 30, 40))),
      ("2", 2, 12, gen(2)((_, r) => r.nextInt(4096).toDouble)),
      ("4", 4, 20, gen(4)((_, r) => (r.nextInt(1 << 20) - (1 << 19)).toDouble)),
      ("5/32", 5, 32, gen(5)((i, r) => smooth(i, r, 1e3, 1e4) + r.nextDouble())),
      ("5/64", 5, 64, gen(6)((i, r) => smooth(i, r, 1e9, 1e12) + r.nextDouble())),
      ("6", 6, 13, gen(7)((i, r) => smooth(i, r, 50, 200))),
      ("7", 7, 8, gen(8)((_, r) => r.nextInt(256).toDouble)),
      ("129", 129, 16, gen(9)((i, r) => 1000.0 + smooth(i, r, 20, 500))),
      ("130", 130, 16, gen(10)((i, r) =>
        math.round(30000 + smooth(i, r, 100, 9000)).toDouble)),
      ("133", 133, 32, gen(11)((i, r) => smooth(i, r, 1e2, 1e5))),
      ("134", 134, 12, gen(12)((i, r) => smooth(i, r, 3, 700))))
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xFF}%02x").mkString

  test("golden layout: encodePayload words and a writeFile image are pinned") {
    // round-trip tests cannot see a refactor that reorders bits
    // consistently on both sides; these digests pin the stored layout
    val want = Map(
      "1" -> "ca8e76b2", "2" -> "d17d9954", "4" -> "34931311",
      "5/32" -> "b380a193", "5/64" -> "8e79dfd2", "6" -> "fbc5aaff",
      "7" -> "750a8ea7", "129" -> "4311f9a0", "130" -> "8e4f840a",
      "133" -> "40106b8e", "134" -> "7820de31")
    val got = goldenPayloads.map { case (label, datyp, nbits, vals) =>
      val words = XdfFormat.encodePayload(datyp, nbits, vals)
      val bb = ByteBuffer.allocate(words.length * 4)
      words.foreach(bb.putInt)
      val crc = new java.util.zip.CRC32
      crc.update(bb.array())
      label -> f"${crc.getValue}%08x"
    }.toMap
    assert(got == want, s"encodePayload digests changed: $got")
    val img = XdfFormat.writeFile(goldenPayloads.zipWithIndex.map {
      case ((_, datyp, nbits, vals), i) => (meta(i, 7, 10, datyp, nbits), vals)
    })
    val sha = hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(img))
    assert(sha == "35f5581b8abcc7880455745d5854ffd8" +
      "b5e64447c070dd399dd7e2397883360e", s"writeFile image digest changed: $sha")
  }

  test("datyp 1/129 encode rejects a non-finite value, naming it") {
    // an infinite bound used to walk the step exponent down from
    // Int.MaxValue (minutes) and a NaN one to quantize with step 1.0
    for (datyp <- Seq(1, 129);
         v <- Seq(Double.PositiveInfinity, Double.NegativeInfinity,
           Double.NaN)) {
      failAfter(10.seconds) {
        val ex = intercept[IllegalArgumentException] {
          XdfFormat.encodePayload(datyp, 16, Array(1.0, v, 2.0))
        }
        assert(ex.getMessage.contains(s"datyp $datyp") &&
          ex.getMessage.contains(v.toString), ex.getMessage)
        val wx = intercept[IllegalArgumentException] {
          XdfFormat.writeFile(Seq(
            (meta(0, 2, 1, 5, 32), Array(1.0, 2.0)),
            (meta(1, 3, 1, datyp, 16), Array(1.0, v, 2.0))))
        }
        assert(wx.getMessage.contains("record 1 (nomvar TT)") &&
          wx.getMessage.contains(v.toString), wx.getMessage)
      }
    }
    // a finite value past float32 overflows the stored minimum
    intercept[IllegalArgumentException] {
      XdfFormat.encodePayload(1, 16, Array(-1e300, 1.0))
    }
  }
}

package graft.sources.fst

import java.nio.ByteBuffer
import XdfFormat.{ReadAt, byteReader}

/** Binary record-file format core: a standard-file container whose
  * per-record directory entries use the XDF directory-word bit layout
  * the reference unpacks (/root/reference/fstpy/std_io.py:687-799,
  * struct comments from qstdir.h), with the 'STDR' magic at byte 12
  * (maybeFST, /root/reference/fstpy/std_io.py:136-151).
  *
  * File layout:
  *   bytes 0-11   reserved (zero)
  *   bytes 12-15  magic "STDR"
  *   bytes 16-19  record count (int32 BE)
  *   bytes 20-23  directory offset in bytes (int32 BE)
  *   payloads     float32 BE arrays, 8-byte aligned (addresses are
  *                stored in 64-bit words like XDF's swa)
  *   directory    nrecs x 18 uint32 words (9 x 2 per record)
  *
  * dateo is not stored: it is reconstructed from datev and deet*npas
  * exactly like the reference (stamps tick every 5 s,
  * std_io.py:781-786). Payloads are datyp-5 IEEE float32 — the packed
  * and turbopack datyps are out of scope (std_io.py:527-563).
  */
object FstFormat {

  val Magic: Array[Byte] = "STDR".getBytes("ASCII")
  val HeaderBytes = 24

  /** One packed directory entry: 18 words of 4 bytes. */
  val DirEntryBytes = 18 * 4

  /** Crude per-record size guess (dir entry + a small payload) used
    * ONLY for scan statistics. Deliberately errs toward overcounting
    * records — the derived metadata-only size estimate then errs
    * large, which can only make the planner more conservative about
    * broadcasting.
    */
  val EntryBytesEstimate: Long = DirEntryBytes + 48L

  final case class Meta(nomvar: String, typvar: String, etiket: String,
                        ni: Int, nj: Int, nk: Int, dateo: Long, ip1: Int,
                        ip2: Int, ip3: Int, deet: Int, npas: Int,
                        datyp: Int, nbits: Int, grtyp: String, ig1: Int,
                        ig2: Int, ig3: Int, ig4: Int, datev: Long,
                        addrWords: Int, lng32: Int)

  def maybeFst(header: Array[Byte]): Boolean =
    header.length >= 16 &&
      header.slice(12, 16).sameElements(Magic)

  // 6-bit character packing (chars are biased by 32; covers the
  // uppercase/digit/punct range used by nomvar/typvar/etiket)
  private def pack6(s: String, n: Int): Long = {
    val padded = s.padTo(n, ' ')
    padded.take(n).foldLeft(0L)((acc, c) => (acc << 6) | ((c - 32) & 0x3F))
  }
  private def unpack6(v: Long, n: Int): String =
    (0 until n).map { i =>
      (((v >> ((n - 1 - i) * 6)) & 0x3F) + 32).toChar
    }.mkString.trim

  /** CMC stamp -> raw directory word (inverse of
    * `datev = (raw >> 3) * 10 + (raw & 0x7)`).
    */
  def stampToRaw(stamp: Long): Int = {
    if (stamp == 0) 0
    else {
      val s = stamp - 123200000L
      val ticks = (s / 10) * 8 + (s % 10)
      (ticks + 98560000L).toInt
    }
  }

  def rawToStamp(raw: Long): Long =
    if (raw == 0) 0 else (raw >> 3) * 10 + (raw & 0x7)

  private def inRange(v: Int, hi: Long, name: String): Unit =
    require(v >= 0 && v < hi,
      s"fstrec pack: $name=$v out of range [0, $hi)")

  /** Pack one record's 18 directory words. Field widths are fixed by
    * the directory layout; out-of-range values fail loudly here
    * instead of silently truncating into corrupt entries.
    */
  def packEntry(m: Meta): Array[Int] = {
    inRange(m.ni, 1 << 24, "ni"); inRange(m.nj, 1 << 24, "nj")
    inRange(m.nk, 1 << 20, "nk"); inRange(m.deet, 1 << 24, "deet")
    inRange(m.npas, 1 << 26, "npas"); inRange(m.nbits, 256, "nbits")
    inRange(m.datyp, 256, "datyp")
    inRange(m.ip1, 1 << 28, "ip1"); inRange(m.ip2, 1 << 28, "ip2")
    inRange(m.ip3, 1 << 28, "ip3")
    inRange(m.ig1, 1 << 24, "ig1"); inRange(m.ig2, 1 << 24, "ig2")
    inRange(m.ig3, 1 << 24, "ig3"); inRange(m.ig4, 1 << 24, "ig4")
    val w = new Array[Int](18)
    val lng64 = (m.lng32 + 1) / 2
    w(0) = lng64 & 0xFFFFFF                    // deleted:1 select:7 lng:24
    w(1) = m.addrWords                          // swa
    w(2) = (m.deet << 8) | (m.nbits & 0xFF)
    w(3) = (m.ni << 8) | (m.grtyp.headOption.getOrElse(' ') & 0xFF)
    w(4) = (m.nj << 8) | (m.datyp & 0xFF)
    w(5) = (m.nk << 12)                         // ubc = 0
    w(6) = m.npas << 6
    w(7) = (m.ig4 << 8) | ((m.ig2 >> 16) & 0xFF)
    w(8) = (m.ig1 << 8) | ((m.ig2 >> 8) & 0xFF)
    w(9) = (m.ig3 << 8) | (m.ig2 & 0xFF)
    val et = m.etiket.padTo(12, ' ')
    w(10) = (pack6(et.substring(0, 5), 5) << 2).toInt
    w(11) = (pack6(et.substring(5, 10), 5) << 2).toInt
    val etikbc = pack6(et.substring(10, 12), 2)
    val typ = pack6(m.typvar, 2)
    w(12) = (((etikbc << 12) | typ) << 8).toInt
    w(13) = (pack6(m.nomvar, 4) << 8).toInt
    w(14) = m.ip1 << 4
    w(15) = m.ip2 << 4
    w(16) = m.ip3 << 4
    w(17) = stampToRaw(m.datev)
    w
  }

  /** Unpack one record's 18 directory words — the same arithmetic as
    * the reference's vectorized divmods (std_io.py:734-786).
    */
  def unpackEntry(w: Array[Int], addrOverride: Option[Int] = None): Meta = {
    val lng32 = (w(0) & 0xFFFFFF) * 2
    val addr = addrOverride.getOrElse(w(1))
    val deet = w(2) >>> 8; val nbits = w(2) & 0xFF
    val ni = w(3) >>> 8; val grtyp = (w(3) & 0xFF).toChar.toString.trim
    val nj = w(4) >>> 8; val datyp = w(4) & 0xFF
    val nk = w(5) >>> 12
    val npas = w(6) >>> 6
    val ig4 = w(7) >>> 8; val ig2a = w(7) & 0xFF
    val ig1 = w(8) >>> 8; val ig2b = w(8) & 0xFF
    val ig3 = w(9) >>> 8; val ig2c = w(9) & 0xFF
    val ig2 = (ig2a << 16) | (ig2b << 8) | ig2c
    val etik15 = (w(10) & 0xFFFFFFFFL) >> 2
    val etik6a = (w(11) & 0xFFFFFFFFL) >> 2
    val et = (w(12) & 0xFFFFFFFFL) >> 8
    val etikbc = et >> 12; val typvarBits = et & 0xFFF
    val nomvarBits = (w(13) & 0xFFFFFFFFL) >> 8
    val ip1 = w(14) >>> 4
    val ip2 = w(15) >>> 4
    val ip3 = w(16) >>> 4
    val datevRaw = w(17) & 0xFFFFFFFFL
    val datev = rawToStamp(datevRaw)
    val dateoRaw =
      if (datevRaw == 0) 0L
      else datevRaw - (deet.toLong * npas) / 5
    val dateo = rawToStamp(dateoRaw)
    val etiket = (unpack6(etik15, 5) + unpack6(etik6a, 5) +
      unpack6(etikbc, 2)).trim
    Meta(unpack6(nomvarBits, 4), unpack6(typvarBits, 2), etiket,
      ni, nj, nk, dateo, ip1, ip2, ip3, deet, npas, datyp, nbits,
      grtyp, ig1, ig2, ig3, ig4, datev, addr, lng32)
  }

  /** Serialize a batch of (meta, payload) records into one file image. */
  def writeFile(records: Seq[(Meta, Array[Float])]): Array[Byte] = {
    var offset = HeaderBytes
    val placed = records.map { case (m, d) =>
      offset = (offset + 7) / 8 * 8 // 8-byte alignment
      val here = offset
      offset += d.length * 4
      (m.copy(addrWords = here / 8, lng32 = d.length), d, here)
    }
    val dirOffset = (offset + 7) / 8 * 8
    val total = dirOffset + placed.size * 18 * 4
    val buf = ByteBuffer.allocate(total)
    buf.position(12); buf.put(Magic)
    buf.putInt(records.size)
    buf.putInt(dirOffset)
    placed.foreach { case (_, d, at) =>
      buf.position(at)
      d.foreach(buf.putFloat)
    }
    buf.position(dirOffset)
    placed.foreach { case (m, _, _) =>
      packEntry(m).foreach(buf.putInt)
    }
    buf.array()
  }

  /** Directory entries of records [recStart, recEnd) (clipped to the
    * record count in `header`, the file's first [[HeaderBytes]] bytes),
    * each with its record handle. One read covers the range's
    * directory rows, so a record-range slice of a large file reads only
    * its own rows; payloads stay untouched (S2 semantics). The handle
    * is the GLOBAL record index in MAKE_RND_HANDLE's recno position
    * (`r << 10`), identical whether the file is read whole or sliced.
    */
  def scanEntries(header: Array[Byte], readAt: ReadAt, recStart: Int,
                  recEnd: Int): Iterator[(Meta, Int)] = {
    require(maybeFst(header), "not a standard file (missing STDR magic)")
    val nrecs = recordCount(header)
    val dirOffset = ByteBuffer.wrap(header).getInt(20)
    require(nrecs >= 0 && nrecs <= Int.MaxValue / DirEntryBytes &&
      dirOffset >= HeaderBytes,
      s"fstrec: corrupt header (record count $nrecs, directory offset " +
        s"$dirOffset)")
    val r0 = math.min(recStart, nrecs)
    val r1 = math.min(recEnd, nrecs)
    val db = ByteBuffer.wrap(readAt(dirOffset.toLong +
      r0.toLong * DirEntryBytes, (r1 - r0) * DirEntryBytes))
    (r0 until r1).iterator.map { r =>
      (unpackEntry(entryAt(db, (r - r0) * DirEntryBytes)), r << 10)
    }
  }

  /** Record count in a header (the file's first [[HeaderBytes]] bytes). */
  def recordCount(header: Array[Byte]): Int = ByteBuffer.wrap(header).getInt(16)

  /** The 18 directory words at byte `at` of `buf`. */
  private[fst] def entryAt(buf: ByteBuffer, at: Int): Array[Int] = {
    val w = new Array[Int](18)
    var i = 0
    while (i < 18) { w(i) = buf.getInt(at + i * 4); i += 1 }
    w
  }

  private[fst] def putEntry(buf: ByteBuffer, at: Int,
                            w: Array[Int]): Unit = {
    var i = 0
    while (i < 18) { buf.putInt(at + i * 4, w(i)); i += 1 }
  }

  /** Read one record's stored float32 words (S4 semantics), keeping
    * their bits. Element count comes from the dims (lng is rounded up
    * to 64-bit words in the directory, so it can overshoot by one
    * element).
    */
  def readPayload32(readAt: ReadAt, m: Meta): Array[Float] = {
    val out = new Array[Float](m.ni * math.max(m.nj, 1) * math.max(m.nk, 1))
    ByteBuffer.wrap(readAt(m.addrWords.toLong * 8, out.length * 4))
      .asFloatBuffer().get(out)
    out
  }

  /** [[readPayload32]] widened to the native-precision `d64` view. */
  def readPayload64(readAt: ReadAt, m: Meta): Array[Double] = {
    val f = readPayload32(readAt, m)
    val out = new Array[Double](f.length)
    var i = 0
    while (i < f.length) { out(i) = f(i).toDouble; i += 1 }
    out
  }

  /** Metadata-only rewrite of a file image in place: each (handle,
    * edit) pair re-packs that record's directory entry with the edited
    * metadata. Payload words stay where they are.
    */
  def patchEntries(image: Array[Byte],
                   edits: Seq[(Int, Meta => Meta)]): Unit = {
    val buf = ByteBuffer.wrap(image)
    val nrecs = recordCount(image)
    val dirOffset = buf.getInt(20)
    edits.foreach { case (key, edit) =>
      val idx = key >> 10
      require(idx >= 0 && idx < nrecs, s"record handle $key out of range")
      val at = dirOffset + idx * DirEntryBytes
      putEntry(buf, at, packEntry(edit(unpackEntry(entryAt(buf, at)))))
    }
  }

  /** Parse a file image into directory entries (metadata-only scan). */
  def readDirectory(bytes: Array[Byte]): Seq[Meta] =
    scanEntries(bytes, byteReader(bytes), 0, Int.MaxValue).map(_._1).toVector

  /** Read one record's payload from a file image. */
  def readPayload(bytes: Array[Byte], m: Meta): Array[Float] =
    readPayload32(byteReader(bytes), m)
}

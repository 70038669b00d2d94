package graft.sources.fst

import FstFormat.Meta
import XdfFormat.ReadAt

/** The two record containers, each backed by the one module that knows
  * its byte layout: [[FstFormat]] (compact: one flat directory block,
  * split by record) and [[XdfFormat]] (linked directory pages, split by
  * page). The scan, the splitter, `update` and the writer dispatch
  * through this type; a file's case comes from [[Container.sniff]] on
  * its header, a write's from [[Container.named]] on the `container`
  * option.
  */
sealed abstract class Container(val name: String) extends Serializable {
  import Container.{Compact, Xdf, narrow}

  /** Entries with their record handles over units [unitStart, unitEnd);
    * `startAddr` is unitStart's [[SplitUnits.startAddr]] (0 = unknown).
    */
  def scanEntries(header: Array[Byte], readAt: ReadAt, unitStart: Int,
                  unitEnd: Int, startAddr: Int): Iterator[(Meta, Int)] =
    this match {
      case Compact => FstFormat.scanEntries(header, readAt, unitStart, unitEnd)
      case Xdf =>
        XdfFormat.scanEntries(readAt, unitStart, unitEnd, startAddr).iterator
    }

  def readPayload32(readAt: ReadAt, m: Meta): Array[Float] = this match {
    case Compact => FstFormat.readPayload32(readAt, m)
    case Xdf => narrow(XdfFormat.readPayload(readAt, m))
  }

  def readPayload64(readAt: ReadAt, m: Meta): Array[Double] = this match {
    case Compact => FstFormat.readPayload64(readAt, m)
    case Xdf => XdfFormat.readPayload(readAt, m)
  }

  /** Re-pack entries of a whole-file image in place, by record handle. */
  def patchEntries(image: Array[Byte], edits: Seq[(Int, Meta => Meta)])
      : Unit = this match {
    case Compact => FstFormat.patchEntries(image, edits)
    case Xdf => XdfFormat.patchEntries(image, edits)
  }

  def writeFile(records: Seq[(Meta, Array[Double])]): Array[Byte] =
    this match {
      case Compact =>
        FstFormat.writeFile(records.map { case (m, d) => (m, d.map(_.toFloat)) })
      case Xdf => XdfFormat.writeFile(records)
    }
}

/** `n` units that tile a file (`n <= 1`: read it whole) and, for XDF,
  * each directory page's word address, so a slice seeks straight to its
  * first page instead of re-walking the chain.
  */
final case class SplitUnits(n: Int, pageAddrs: Array[Int] = Array.empty) {
  def startAddr(unit: Int): Int = if (pageAddrs.isEmpty) 0 else pageAddrs(unit)
}

object SplitUnits {
  val Whole: SplitUnits = SplitUnits(1)
}

object Container {
  case object Compact extends Container("fstrec")
  case object Xdf extends Container("xdf")

  /** The float32 of each native value: `d` from a `d64` decode. */
  def narrow(d: Array[Double]): Array[Float] = {
    val out = new Array[Float](d.length)
    var i = 0
    while (i < d.length) { out(i) = d(i).toFloat; i += 1 }
    out
  }

  private def of(header: Array[Byte]): Option[Container] =
    if (!FstFormat.maybeFst(header)) None
    else Some(if (XdfFormat.isXdf(header)) Xdf else Compact)

  /** The container of the file with this header (its first
    * [[FstFormat.HeaderBytes]] bytes); a file without the 'STDR' magic
    * fails loudly, naming `file`.
    */
  def sniff(header: Array[Byte], file: String): Container =
    of(header).getOrElse(throw new IllegalArgumentException(
      s"not a standard file (missing STDR magic): $file"))

  /** How the file with this header splits into independently scannable
    * units. A non-standard file plans whole; its reader raises the real
    * error.
    */
  def splitUnits(header: Array[Byte], readAt: ReadAt): SplitUnits =
    of(header) match {
      case Some(Compact) => SplitUnits(FstFormat.recordCount(header))
      case Some(Xdf) =>
        val addrs = XdfFormat.dirPageAddrs(readAt)
        SplitUnits(addrs.length, addrs)
      case None => SplitUnits.Whole
    }

  def named(name: String): Container = name match {
    case Compact.name => Compact
    case Xdf.name => Xdf
    case other => throw new IllegalArgumentException(
      s"fstrec write: unknown container '$other' (fstrec | xdf)")
  }
}

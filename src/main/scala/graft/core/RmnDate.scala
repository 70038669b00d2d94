package graft.core

/** CMC/RMN date-stamp constants and the scalar helpers the fixture
  * generators and format oracles use. The catalog decodes stamps with
  * `IpColumns.stampToTimestamp` and encodes them with
  * `Encode.stampFromTimestamp`.
  *
  * New-style stamps encode time in 5-second ticks since
  * 1980-01-01T00:00:00Z packed as `stamp = (ticks/8)*10 + ticks%8 +
  * 123200000`; the directory-word arithmetic in the reference
  * (`datev = (raw >> 3) * 10 + (raw & 0x7)`,
  * /root/reference/fstpy/std_io.py:781-786) is the same packing on the
  * raw word. Golden value from the reference docstring
  * (/root/reference/fstpy/std_dec.py:180-182):
  * 442998800 -> 2020-07-14T12:00:00.
  *
  * Dummy stamps 0 and 10101011 decode to null
  * (/root/reference/fstpy/std_dec.py:183-184).
  */
object RmnDate {
  val EpochSeconds: Long = 315532800L // 1980-01-01T00:00:00Z
  val StampOffset: Long = 123200000L

  /** seconds since Unix epoch -> stamp (truncates to the 5 s grid). */
  def fromEpochSeconds(epochSeconds: Long): Long = {
    val ticks = (epochSeconds - EpochSeconds) / 5
    (ticks / 8) * 10 + (ticks % 8) + StampOffset
  }

  /** dateo from datev: stamps tick every 5 s, so subtract
    * deet*npas/5 ticks (/root/reference/fstpy/std_io.py:782-786).
    */
  def dateoFromDatev(datev: Long, deet: Long, npas: Long): Long = {
    val s = datev - StampOffset
    val ticks = (s / 10) * 8 + (s % 10) - (deet * npas) / 5
    (ticks / 8) * 10 + (ticks % 8) + StampOffset
  }
}

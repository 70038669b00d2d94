package graft.core

/** Record-catalog constants for the FST record model.
  *
  * Semantics follow the reference library fstd2pandas:
  *  - datyp aliases: /root/reference/fstpy/__init__.py:94-108
  *  - kind aliases:  /root/reference/fstpy/__init__.py:116-129
  *  - meta nomvars:  /root/reference/fstpy/std_reader.py:61
  *  - base columns:  /root/reference/fstpy/__init__.py:355
  */
object Constants {

  /** datyp int -> single-letter data-type alias. */
  val DatypDict: Map[Int, String] = Map(
    0 -> "X", 1 -> "R", 2 -> "I", 3 -> "C", 4 -> "S", 5 -> "E",
    6 -> "F", 7 -> "A", 8 -> "Z", 130 -> "i", 132 -> "s", 133 -> "e",
    134 -> "f")

  val DatypInverse: Map[String, Int] = DatypDict.map(_.swap)

  /** kind int -> printable suffix (already stripped), in kind order.
    * Kinds in [-1, 3, 15, 17, 100] print as the empty string
    * (kind_to_string, /root/reference/fstpy/std_io.py:817-818). Its
    * inverse is ip_from_value_and_kind's letter map
    * (/root/reference/fstpy/utils.py:79-108).
    */
  val KindDict: Map[Int, String] = scala.collection.immutable.SortedMap(
    0 -> "m", 1 -> "sg", 2 -> "mb", 4 -> "M", 5 -> "hy", 6 -> "th",
    10 -> "H", 21 -> "mp")

  def kindToString(kind: Int): String = KindDict.getOrElse(kind, "")

  /** Coordinate/descriptor records accompanying data fields. */
  val MetaNomvars: Seq[String] =
    Seq("^>", ">>", "^^", "!!", "!!SF", "HY", "P0", "PT", "E1")

  /** Records whose grid identity lives in (ip1,ip2) instead of (ig1,ig2)
    * (get_grid_identifier, /root/reference/fstpy/std_dec.py:258).
    */
  val GridFromIpNomvars: Seq[String] = Seq("^>", ">>", "^^", "!!", "!!SF")

  /** Records exempt from ip decoding (all three ips raw, kind=100)
    * (decode_ip123, /root/reference/fstpy/std_io.py:823-837).
    */
  val RawIpNomvars: Seq[String] = Seq(">>", "^^", "^>", "!!")

  /** Records exempt from interval detection
    * (/root/reference/fstpy/std_io.py:858).
    */
  val NoIntervalNomvars: Seq[String] =
    Seq(">>", "^^", "^>", "!!", "HY", "P0", "PT")

  /** The 22 base catalog columns (d last). */
  val BaseColumns: Seq[String] = Seq(
    "nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo", "ip1",
    "ip2", "ip3", "deet", "npas", "datyp", "nbits", "grtyp", "ig1",
    "ig2", "ig3", "ig4", "datev", "grid", "d")

  /** Identity columns for catalog dedup — everything except d and ig2
    * (drop_duplicates, /root/reference/fstpy/dataframe.py:268-287).
    */
  val DedupColumns: Seq[String] = Seq(
    "nomvar", "typvar", "etiket", "ni", "nj", "nk", "dateo", "ip1",
    "ip2", "ip3", "deet", "npas", "datyp", "nbits", "grtyp", "ig1",
    "ig3", "ig4", "datev")
}

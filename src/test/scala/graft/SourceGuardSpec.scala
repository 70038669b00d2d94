package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the library free of hidden code-path switches and of drifting
  * session confs: no `graft.*` system-property knob, no
  * `GRAFT_*_DEBUG` env switch, and no session built anywhere but
  * [[GraftSession]].
  */
class SourceGuardSpec extends AnyFunSuite {

  private def sources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  private val rules = Seq(
    "a graft.* system-property read" ->
      """(sys\.props|System\.getProperty)[^\n]*"graft\.""".r,
    "a GRAFT_*_DEBUG env read" ->
      """(sys\.env|System\.getenv)[^\n]*"GRAFT_\w*_DEBUG"""".r,
    "a SparkSession.builder outside GraftSession" ->
      """SparkSession\s*\.\s*builder\b""".r)

  test("src/main reads no knob and builds sessions only in GraftSession") {
    val files = sources
    assert(files.exists(_.getName == "GraftSession.scala"))
    val hits = for {
      f <- files
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (what, re) <- rules
      if !(what.startsWith("a SparkSession") &&
        f.getName == "GraftSession.scala")
      m <- re.findAllMatchIn(text)
    } yield s"${f.getPath}: $what: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}

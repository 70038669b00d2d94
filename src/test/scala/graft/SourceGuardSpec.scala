package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the library free of hidden code-path switches and of drifting
  * session confs: no `graft.*` system-property knob, no
  * `GRAFT_*_DEBUG` env switch, and no session built anywhere but
  * [[GraftSession]]. Keeps each record container's byte layout behind
  * its own module: only the format modules and the `Container`
  * dispatch sniff a header or compare a container name, and only
  * `NearDup` dispatches on an LSH index layout. Keeps `Api` free of
  * `dropDuplicates`, whose shuffle would re-run per evaluation. Keeps
  * the jar a library: only the three entry points define a `main`, every
  * `graft.core` object is used by other library code, not only by
  * tests, and every `def` is named somewhere besides its declaration.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def sources: Seq[java.io.File] = scalaFiles("src/main/scala")

  private def scalaFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File(root))
  }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private val rules = Seq(
    "a graft.* system-property read" ->
      """(sys\.props|System\.getProperty)[^\n]*"graft\.""".r,
    "a GRAFT_*_DEBUG env read" ->
      """(sys\.env|System\.getenv)[^\n]*"GRAFT_\w*_DEBUG"""".r,
    "a SparkSession.builder outside GraftSession" ->
      """SparkSession\s*\.\s*builder\b""".r)

  private val containerFiles =
    Set("FstFormat.scala", "XdfFormat.scala", "Container.scala")

  private val containerRules = Seq(
    "a container sniff outside the format modules" ->
      """XdfFormat\s*\.\s*isXdf\b|FstFormat\s*\.\s*maybeFst\b""".r,
    "a container name comparison outside Container" ->
      """[=!]=\s*"(xdf|fstrec)"|"(xdf|fstrec)"\s*[=!]=""".r)

  test("only the format modules and Container know the container layouts") {
    val files = sources
    assert(containerFiles.forall(n => files.exists(_.getName == n)))
    val hits = for {
      f <- files
      if !containerFiles(f.getName)
      text = read(f)
      (what, re) <- containerRules
      m <- re.findAllMatchIn(text)
    } yield s"${f.getPath}: $what: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("only NearDup knows the LSH index layouts") {
    // the layout is read back from the index, so no caller picks an
    // entry point per layout and no caller dispatches on it
    val files = sources
    assert(files.exists(_.getName == "NearDup.scala"))
    val layoutCase = ("""(case\s+(\w+\s*[@:]\s*)?|isInstanceOf\[)""" +
      """([\w.]*IndexLayout\s*\.\s*)?(Plain|Bucketed)\b""").r
    val publicBucketed =
      """(?m)^(?!.*\bprivate\b).*\bdef\s+(\w*Bucketed\w*)""".r
    val hits = files.flatMap { f =>
      val text = read(f)
      val cases =
        if (f.getName == "NearDup.scala") Nil
        else layoutCase.findAllIn(text).map(m => s"a layout match: $m")
          .toSeq
      val defs = publicBucketed.findAllMatchIn(text).map(_.group(1))
        .filter(_ != "registerBucketedIndex").map(d => s"def $d").toSeq
      (cases ++ defs).map(h => s"${f.getPath}: $h")
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("the fst source resolves filesystems from Hadoop paths, not URIs") {
    // java.net.URI rejects a space, quote or backslash in a local path
    val hits = for {
      f <- sources
      if f.getPath.contains("/sources/fst/")
      text = read(f)
      m <- """new\s+(java\.net\.)?URI\(""".r.findAllMatchIn(text)
    } yield s"${f.getPath}: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("Api plans no dropDuplicates") {
    // Api.read decides its duplicates on the driver when it is called;
    // a dropDuplicates would shuffle again on every evaluation
    val api = sources.filter(_.getName == "Api.scala")
    assert(api.size == 1)
    val hits = read(api.head).split("\n").zipWithIndex
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("//") || t.startsWith("/**")
      }
      .collect { case (l, i) if l.contains("dropDuplicates") =>
        s"Api.scala:${i + 1}: ${l.trim}" }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("every object in graft.core is used by other library code") {
    // an object that only tests call is a twin the catalog never runs
    val files = sources
    val core = files.filter(_.getPath.contains("/graft/core/"))
    assert(core.nonEmpty)
    val unused = for {
      f <- core
      name <- """(?m)^object\s+(\w+)""".r.findAllMatchIn(read(f)).map(_.group(1))
      if !files.exists(o => o != f &&
        s"\\b$name\\b".r.findFirstIn(read(o)).isDefined)
    } yield s"${f.getPath}: object $name"
    assert(unused.isEmpty, unused.mkString("\n", "\n", ""))
  }

  test("every def in src/main is named outside its own declaration") {
    // a def that nothing names, in the library, its tests or the
    // benchmark, is dead code; an override is called by its framework
    val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
    val lines = Seq("src/main/scala", "src/test/scala", "perfbench/src")
      .flatMap(scalaFiles).flatMap(f =>
        read(f).split("\n").zipWithIndex.map { case (l, i) => (f, i, l) })
    val uses = lines.flatMap(l => ident.findAllIn(l._3))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val unused = for {
      (f, i, line) <- lines
      if f.getPath.startsWith("src/main/")
      m <- """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r.findAllMatchIn(line)
      if !line.take(m.start).contains("override")
      name = m.group(1)
      if uses(name) == ident.findAllIn(line).count(_ == name)
    } yield s"${f.getPath}:${i + 1}: def $name"
    assert(lines.exists(_._1.getPath.startsWith("perfbench/")))
    assert(unused.isEmpty, unused.mkString("\n", "\n", ""))
  }

  test("core ops call CacheRegistry only at the listed sites") {
    // the list may only shrink (a removed site must leave it too):
    // each site is a persist inside a lazily returned plan that the
    // caller has to release
    val allowed = Map("Masks.scala" -> 2, "Grids.scala" -> 1)
    def code(f: java.io.File) = read(f).split("\n").map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("//"))
    val calls = sources.filter(_.getPath.contains("/graft/ops/"))
      .map(f => f.getName -> code(f).map(l =>
        """CacheRegistry\s*\.\s*\w+""".r.findAllIn(l).size).sum)
      .filter(_._2 > 0).toMap
    assert(calls == allowed, s"CacheRegistry calls per file: $calls")
  }

  test("only Bench, Verify and Tool define a main") {
    val mains = sources.filter(f =>
      """\bdef\s+main\s*\(""".r.findFirstIn(read(f)).isDefined)
      .map(_.getName).sorted
    assert(mains == Seq("Bench.scala", "Tool.scala", "Verify.scala"),
      mains.mkString(", "))
  }

  test("src/main reads no knob and builds sessions only in GraftSession") {
    val files = sources
    assert(files.exists(_.getName == "GraftSession.scala"))
    val hits = for {
      f <- files
      text = read(f)
      (what, re) <- rules
      if !(what.startsWith("a SparkSession") &&
        f.getName == "GraftSession.scala")
      m <- re.findAllMatchIn(text)
    } yield s"${f.getPath}: $what: ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}

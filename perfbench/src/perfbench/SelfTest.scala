package perfbench

import java.io.{File, RandomAccessFile}

/** The benchmark's own tests (`run.py --selftest`):
  *
  *  - each generator gives the same input digest for the same seed and
  *    a different one for another seed;
  *  - every op passes its check on a fresh setup, and its check rejects
  *    each observed value when that value is corrupted;
  *  - a payload corrupted on disk fails the full-read check.
  *
  * Returns the process exit code.
  */
object SelfTest {

  def run(args: Array[String]): Int = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) failures += 1
    }

    val digests: Seq[(String, Long => String)] = Seq(
      "catalog_meta" -> (s => Gen.digestRecs(Gen.catalog(s).recs)),
      "fields_payload" -> (s => Gen.digestRecs(Gen.fields(s,
        Fields.Nomvars, Fields.Levels, Fields.Side, Fields.Files))),
      "documents" -> (s => Gen.digestDocs(Gen.corpus(s,
        CurationOps.Clusters))))
    digests.foreach { case (name, d) =>
      expect(d(1) == d(1), s"$name: same seed, same input digest")
      expect(d(1) != d(2), s"$name: other seed, other input digest")
    }

    val root = new File(sys.props("user.dir"))
    val work = new File(root,
      s".bench_build/perfbench/work/selftest-${ProcessHandle.current.pid}")
    val spark = Main.session(work)
    try {
      Workloads.all.foreach { w =>
        val setup = w.prepare(1, traced = true)(spark, new File(work, w.name))
        (setup.ops ++ setup.spans).foreach { op =>
          val finish = op.timed()
          val obs = finish()
          graft.core.CacheRegistry.releaseAll()
          val err = op.verify(obs)
          expect(err.isEmpty, s"${w.name}/${op.name}: check passes" +
            err.map(e => s" ($e)").getOrElse(""))
          obs.keys.toSeq.sorted.foreach { k =>
            expect(op.verify(obs.updated(k, corrupt(obs(k)))).isDefined,
              s"${w.name}/${op.name}: corrupted '$k' is rejected")
          }
          expect(op.verify(obs + ("extra" -> "1")).isDefined,
            s"${w.name}/${op.name}: an unexpected value is rejected")
        }
        if (w == FieldsPayload) {
          val file = Workloads.dataFiles(new File(work, s"${w.name}/fields"))
            .head
          flipPayloadByte(file)
          val full = setup.ops.find(_.name == "read_full").get
          val err = Main.runOp(full).err
          expect(err.isDefined,
            s"${w.name}/read_full: a payload corrupted on disk is rejected" +
              err.map(e => s" ($e)").getOrElse(""))
        }
        setup.release()
      }
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
    println(s"selftest: ${if (failures == 0) "ok" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }

  def corrupt(v: Any): Any = v match {
    case s: Seq[_] if s.nonEmpty => s.updated(0, s.head.toString + "1")
    case s: Seq[_] => Seq("1")
    case x => x.toString + "1"
  }

  /** Flip one bit in the middle of the first record's payload. */
  def flipPayloadByte(file: File): Unit = {
    val raf = new RandomAccessFile(file, "rw")
    try {
      val (m, _) = graft.sources.fst.XdfFormat.scanEntries(
        Workloads.readAt(raf)).head
      val at = (m.addrWords - 1) * 8L +
        graft.sources.fst.XdfFormat.RecordHeaderWords * 4L +
        (m.lng32 - graft.sources.fst.XdfFormat.RecordHeaderWords) * 2L
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0x10)
    } finally raf.close()
  }
}

package graft

import org.apache.spark.sql.functions._

/** Dev tool: measured A/B for the sub-file scan split
  * (FstScan.splitByPages) on a file large enough for the split to
  * matter — the "single multi-GB file serializes on one core"
  * scale claim, measured instead of only unit-tested.
  *
  * Fixture: ONE container holding `nRecords` float32 records of
  * `nFloats` elements each (defaults 12,800 × 8,192 ≈ 420 MB; as
  * XDF that is 50 directory pages at 256 entries/page), written
  * once to scratch. The third argument picks the container:
  * `xdf` (default — split unit = directory-page run) or `fstrec`
  * (compact — split unit = record range over the flat directory).
  *
  * Three timed reads (each run twice; the second, page-cache-warm
  * run is the honest kernel-noise-free number):
  *  - WHOLE-FILE baseline: `spark.sql.files.openCostInBytes` raised
  *    above the file length, so packPartitions' target exceeds the
  *    file and the scan plans ONE task — the pre-split behavior;
  *  - SPLIT: defaults restored, the file splits into page runs
  *    sized by total/parallelism, one task per run;
  *  - METADATA-ONLY on the split plan: the same count over the
  *    pruned (no-`d`) schema, showing the lazy-payload column and
  *    the split compose (directory pages only, no payload I/O).
  *
  * Usage: runMain graft.ScanSoak [nRecords] [nFloats] [container]
  */
object ScanSoak {
  def main(args: Array[String]): Unit = {
    val nRecords = if (args.nonEmpty) args(0).toInt else 12800
    val nFloats = if (args.length > 1) args(1).toInt else 8192
    val container = if (args.length > 2) args(2) else "xdf"
    val spark = GraftSession()

    val dir = graft.core.Scratch.path("graft_scansoak")
    val t0 = System.nanoTime()
    // one task writes one container: nRecords × nFloats float32,
    // deterministic values so the checksum below is exact
    val df = spark.range(nRecords).select(
      lit("TT").as("nomvar"), lit("P").as("typvar"),
      lit("SOAK").as("etiket"), lit(nFloats).as("ni"), lit(1).as("nj"),
      lit(1).as("nk"), lit(442998800L).as("dateo"),
      col("id").cast("int").as("ip1"), lit(0).as("ip2"),
      lit(0).as("ip3"), lit(0).as("deet"), lit(0).as("npas"),
      lit(5).as("datyp"), lit(32).as("nbits"),
      lit("X").as("grtyp"), lit(0).as("ig1"), lit(0).as("ig2"),
      lit(0).as("ig3"), lit(0).as("ig4"), lit(442998800L).as("datev"),
      transform(sequence(lit(0), lit(nFloats - 1)),
        i => (col("id") + i).cast("float")).as("d"))
    graft.sources.fst.FstWriter.write(df.coalesce(1), dir,
      maxRecordsPerFile = nRecords, cleanup = false,
      container = container)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !graft.sources.fst.FstScan.hidden(f.getName))
    require(files.length == 1, files.mkString(", "))
    val len = files.head.length()
    val unitDesc = graft.sources.fst.Container.named(container) match {
      case graft.sources.fst.Container.Xdf =>
        s"${(nRecords + 255) / 256} dir pages"
      case graft.sources.fst.Container.Compact => s"$nRecords record units"
    }
    println(f"[scansoak] fixture: 1 $container file, $nRecords records x " +
      f"$nFloats float32 = ${len / 1e6}%.0f MB, $unitDesc, " +
      f"written in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // full-payload checksum: forces every record's payload decode
    def fullRead(): (Long, Double, Int) = {
      val r = spark.read.format("fstrec").load(dir)
      val parts = r.rdd.getNumPartitions
      val row = r.agg(count(lit(1)), sum(element_at(col("d"), 1)))
        .collect()(0)
      (row.getLong(0), row.getDouble(1), parts)
    }
    // metadata-only: payload column pruned, directory pages only
    def metaRead(): (Long, Int) = {
      val r = spark.read.format("fstrec").load(dir)
        .select("nomvar", "ip1")
      (r.count(), r.rdd.getNumPartitions)
    }
    val expectSum = (0L until nRecords).map(_.toDouble).sum

    def timed[A](tag: String)(f: => A): A = {
      val t = System.nanoTime()
      val a = f
      println(f"[scansoak] $tag: ${(System.nanoTime() - t) / 1e9}%.2f s")
      a
    }

    spark.conf.set("spark.sql.files.openCostInBytes", s"${len * 2}")
    (1 to 2).foreach { i =>
      val (n, s, p) = timed(s"whole-file full read (run $i of 2)")(fullRead())
      require(n == nRecords && s == expectSum, s"bad read: $n $s")
      require(p == 1, s"baseline expected 1 partition, got $p")
    }
    spark.conf.unset("spark.sql.files.openCostInBytes")
    var splitParts = 0
    (1 to 2).foreach { i =>
      val (n, s, p) = timed(s"sub-file split full read (run $i of 2)")(fullRead())
      require(n == nRecords && s == expectSum, s"bad read: $n $s")
      require(p > 1, s"split expected >1 partition, got $p")
      splitParts = p
    }
    println(s"[scansoak] split plan: $splitParts partitions over 1 file")
    (1 to 2).foreach { i =>
      val (n, p) = timed(s"split metadata-only count (run $i of 2)")(metaRead())
      require(n == nRecords, s"bad meta count: $n")
      require(p > 1, s"metadata read expected the split plan, got $p")
    }
    spark.stop()
    // the fixture is large and lives on tmpfs scratch: clean it up
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}

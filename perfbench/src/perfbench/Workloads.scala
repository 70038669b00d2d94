package perfbench

import java.io.{File, RandomAccessFile}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.fst.{FstFormat, FstWriter, XdfFormat}

/** A workload's generated inputs and its fixed cycle of operations.
  *
  * `spans` run only in traced cycles: they materialize the inputs of
  * the timed ops on their own, so a layer's self time is its op's span
  * minus its input's span. `layers` turns the traced spans into the
  * workload's per-layer metrics.
  */
final case class Setup(ops: Seq[Op], input: Seq[(String, String)],
                       digest: String, payloadBytes: Long,
                       storedBytes: () => Long, scanPaths: Seq[String],
                       spans: Seq[Op], layers: Seq[Layer],
                       release: () => Unit = () => ())

/** Per-span medians from a traced run. */
trait Spans {
  def ms(span: String): Double
  def records(span: String): Double
  def readBytes(span: String): Double
}

final case class Layer(metric: String, value: Spans => Double)

object Layer {
  def self(metric: String, span: String, input: String): Layer =
    Layer(metric, s => s.ms(span) - s.ms(input))
  def span(metric: String, span: String): Layer =
    Layer(metric, s => s.ms(span))
  def rate(metric: String, span: String): Layer =
    Layer(metric, s => s.records(span) / (s.ms(span) / 1000.0))
  def readRatio(metric: String, span: String, payloadBytes: Long): Layer =
    Layer(metric, s => s.readBytes(span) / payloadBytes)
}

trait Workload {
  def name: String
  def why: String
  /** Generate the seeded inputs and their ground truth, once per run.
    * The set-up it returns writes the inputs through the library and
    * builds the cycle in a session; it can run several times. `traced`
    * adds the spans and the inputs only they need.
    */
  def prepare(seed: Long, traced: Boolean): (SparkSession, File) => Setup
}

object Workloads {
  val all: Seq[Workload] = Seq(CatalogMeta, FieldsPayload)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$name' " +
      s"(one of ${all.map(_.name).mkString(", ")})"))

  val rows: Column = count(lit(1))
  def sumOf(c: String): Column =
    aggregate(col(c), lit(0.0), (a, x) => a + x.cast("double"))

  def fileBytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  /** Committed record files under `dir` (no hidden or marker files). */
  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }

  def readAt(raf: RandomAccessFile): XdfFormat.ReadAt = (off, len) => {
    val b = new Array[Byte](len)
    raf.seek(off)
    raf.readFully(b)
    b
  }

  def datypMix(recs: Seq[Rec]): String =
    recs.groupBy(r => s"${r.meta.datyp}/${r.meta.nbits}").toSeq
      .sortBy(_._1).map { case (k, v) => s"$k:${v.size}" }.mkString(",")

  def describe(recs: Seq[Rec], files: Int): Seq[(String, String)] = Seq(
    "records" -> recs.size.toString, "files" -> files.toString,
    "payload_bytes" -> recs.map(_.rawBytes).sum.toString,
    "elements_per_record" -> recs.map(_.nelm).distinct.sorted
      .mkString("/"),
    "datyp_mix" -> datypMix(recs))
}

import Workloads._

object CatalogMeta extends Workload {
  val name = "catalog_meta"
  val why = "directory parsing, metadata joins and Spark planning do " +
    "almost all the work and the payload codec almost none"

  def prepare(seed: Long, traced: Boolean): (SparkSession, File) => Setup = {
    val cat = Gen.catalog(seed)
    val u = cat.unique
    val metaNomvars = Gen.CatalogMetaNomvars.toSeq
    def isMeta(r: Rec) = Gen.CatalogMetaNomvars(r.meta.nomvar)
    def counts(rs: Seq[Rec]): Op.Obs = Map("rows" -> rs.size.toString,
      "meta_rows" -> rs.count(isMeta).toString)
    def forecastS(r: Rec) = r.meta.deet.toLong * r.meta.npas

    val q = "nomvar IN ('TT', 'UU') AND forecast_hour >= 21600"
    val qRecs = u.filter(r => Set("TT", "UU")(r.meta.nomvar) &&
      forecastS(r) >= 21600)
    val selected = u.filter(r => isMeta(r) ||
      Set("TT", "HU")(r.meta.nomvar))
    // cleanup input: every record except grid 3's data fields, so its
    // coordinate records, P0 fields and `!!` table become orphans
    val gone = Gen.gridIg1(3)
    def onGone(r: Rec) =
      if (Set(">>", "^^", "!!")(r.meta.nomvar)) r.meta.ip1 == gone
      else r.meta.ig1 == gone
    val kept = u.filterNot(onGone)
    // PX: one record per (grid, hour, level); sigma rows exactly
    // level * P0 elementwise in float32
    val pxCount = cat.kinds.indices.map(g =>
      cat.hours.size * cat.levels(g).size).sum
    val vctypes = Seq("PRESSURE_2001", "SIGMA_1001", "ETA_1002",
      "HYBRID_5005", "HYBRID_5001").zipWithIndex.flatMap { case (v, g) =>
        Seq.fill(cat.hours.size * cat.levels(g).size)(v) }.sorted
    val sigma = for { h <- cat.hours; lv <- cat.levels(1) } yield {
      val p0 = u.find(r => r.meta.nomvar == "P0" &&
        r.meta.ig1 == Gen.gridIg1(1) && r.meta.ip2 == h).get
      val px = p0.values.map(x =>
        (lv.toDouble * x.toFloat.toDouble).toFloat.toDouble)
      Op.row(p0.meta.datev, lv, Op.seqSum(px))
    }
    val payload = cat.recs.map(_.rawBytes).sum
    val digest = Gen.digestRecs(cat.recs)

    (spark, dir) => {
      val root = new File(dir, "catalog")
      Gen.writeFiles(cat.recs, cat.nFiles, root, xdf = false)
      val path = root.getAbsolutePath
      val metaRows = sum(when(col("nomvar").isin(metaNomvars: _*), 1)
        .otherwise(0))
      def read(decode: Boolean = false, q: Option[String] = None) =
        graft.Api.read(spark, Seq(path), decode, q)

      val ops = Seq(
        Op.frameOp("read_decode", qRecs.size, Map(
          "rows" -> qRecs.size.toString,
          "forecast_s" -> qRecs.map(forecastS).sum.toString))(
          read(decode = true, Some(q)))(
          "rows" -> rows, "forecast_s" -> sum("forecast_hour")),
        Op.frameOp("select_with_meta", selected.size, counts(selected))(
          graft.ops.Select.selectWithMeta(read(), Seq("TT", "HU")))(
          "rows" -> rows, "meta_rows" -> metaRows),
        Op.frameOp("cleanup", kept.size, counts(kept))(
          graft.ops.Select.metadataCleanup(read().filter(
            col("nomvar").isin(metaNomvars: _*) || col("ig1") =!= gone)))(
          "rows" -> rows, "meta_rows" -> metaRows),
        Op.frameOp("quick_pressure", pxCount, Map(
          "rows" -> pxCount.toString, "vctypes" -> vctypes,
          "sigma" -> sigma.sorted))(
          graft.ops.VCoord.quickPressure(read()))(
          "rows" -> rows, "vctypes" -> collect_list(col("vctype")),
          "sigma" -> collect_list(when(col("vctype") === "SIGMA_1001",
            struct(col("datev"), col("level"), sumOf("d"))))),
        Op.frameOp("voir", u.size, Map("rows" -> u.size.toString,
          "ip1_sum" -> u.map(_.meta.ip1.toLong).sum.toString))(
          graft.ops.Stats.voir(read()))(
          "rows" -> rows, "ip1_sum" -> sum("ip1")))

      val all = Map("rows" -> cat.recs.size.toString)
      val spans = Seq(
        Op.frameOp("fst_scan", cat.recs.size, all)(
          spark.read.format("fstrec").load(path))("rows" -> rows),
        Op.frameOp("fst_dir", cat.recs.size, all)(
          spark.read.format("fstrec").load(path).drop("d"))("rows" -> rows),
        Op.frameOp("api_read", u.size, Map("rows" -> u.size.toString))(
          read())("rows" -> rows))
      Setup(ops,
        describe(cat.recs, cat.nFiles) ++ Seq(
          "container" -> "compact", "duplicates" -> cat.dupCount.toString,
          "grids" -> "5 (pressure, sigma, eta, hybrid 5005, hybrid 5001)",
          "nomvars" -> cat.nomvars.size.toString,
          "levels" -> cat.levels.head.size.toString,
          "hours" -> cat.hours.size.toString,
          "etikets" -> cat.etikets.size.toString),
        digest, payload, () => fileBytes(root),
        Seq(path), spans,
        Seq(
          Layer.self("ops.decode_ms", "read_decode", "api_read"),
          Layer.self("ops.select_with_meta_ms", "select_with_meta",
            "api_read"),
          Layer.self("ops.cleanup_ms", "cleanup", "api_read"),
          Layer.self("ops.quick_pressure_ms", "quick_pressure", "api_read"),
          Layer.self("ops.voir_ms", "voir", "api_read"),
          Layer.rate("fst.dir_records_per_s", "fst_dir"),
          Layer.readRatio("fst.read_bytes_per_payload_byte", "fst_scan",
            payload)))
    }
  }
}

object Fields {
  val Nomvars = 6
  val Levels = 36
  val Side = 256
  val Files = 12
}

/** Ops, spans and layers a workload adds to its cycle. */
final case class Part(ops: Seq[Op], spans: Seq[Op], layers: Seq[Layer],
                      release: () => Unit = () => ())

object FieldsPayload extends Workload {
  val name = "fields_payload"
  val why = "payload decode, encode and math dominate while metadata " +
    "work is trivial; the mirror image of catalog_meta"

  /** The float32 view of a payload (the catalog's `d` column). */
  def f32(r: Rec): Array[Float] = r.values.map(_.toFloat)

  def prepare(seed: Long, traced: Boolean): (SparkSession, File) => Setup = {
    val recs = Gen.fields(seed, Fields.Nomvars, Fields.Levels, Fields.Side,
      Fields.Files)
    val n = recs.size
    // payloads are checked by their xxhash64, which Spark computes in
    // generated code: a check must not cost as much as the op it checks
    def hashes(rs: Seq[Rec], conv: Rec => Array[Float] = r => f32(r))
        : Seq[String] =
      rs.map(r => Op.row(r.meta.nomvar, r.meta.ip1, Op.hash32(conv(r))))
        .sorted
    val kelvin = (r: Rec) =>
      if (r.meta.nomvar == "TT")
        r.values.map(v => (v.toFloat.toDouble + 273.15).toFloat)
      else f32(r)
    // cubes: one per nomvar, pressure levels stacked top (1000 hPa) first
    val cubes = recs.groupBy(_.meta.nomvar).toSeq.map { case (nv, rs) =>
      val byLevel = rs.sortBy(r => -graft.core.IpCodec.decodeValue(
        r.meta.ip1))
      Op.row(nv, byLevel.map(r => graft.core.IpCodec.decodeValue(
        r.meta.ip1)),
        byLevel.foldLeft(42L)((h, r) => Op.hash32(f32(r), h)))
    }.sorted
    // the pushed filter selects one datyp present at hour 6
    val pick = recs.filter(_.meta.ip2 == 6).sortBy(_.id).head.meta.datyp
    val filtered = recs.filter(r => r.meta.ip2 == 6 &&
      r.meta.datyp == pick)
    val rowsObs = (rs: Seq[Rec]) => "rows" -> rs.size.toString
    val fullHashes = recs.map(r => Op.row(r.meta.nomvar, r.meta.ip1,
      Op.hash32(f32(r)), Op.hash64(r.values))).sorted
    val minmax = recs.map { r =>
      val f = f32(r)
      Op.row(r.meta.nomvar, r.meta.ip1, f.min, f.max)
    }.sorted
    val kelvinHashes = hashes(recs, kelvin)
    val filteredHashes = hashes(filtered)
    val payload = recs.map(_.rawBytes).sum
    val written = WriteOps.truth(recs)
    // the curation corpus is an input of traced spans only
    val batch = if (traced) Some(Gen.corpus(seed, CurationOps.Clusters))
      else None
    val digest = Gen.digestRecs(recs) + batch.map(Gen.digestDocs(_)
      .take(16)).getOrElse("")
    val input = describe(recs, Fields.Files) ++ Seq("container" -> "xdf",
      "pushed_filter" -> s"ip2 == 6 and datyp == $pick") ++
      batch.toSeq.flatMap(b => Seq(
        "documents" -> b.docs.size.toString,
        "planted_survivors" -> b.survivors.size.toString))

    (spark, dir) => {
      val root = new File(dir, "fields")
      Gen.writeFiles(recs, Fields.Files, root, xdf = true)
      val path = root.getAbsolutePath
      def scan() = spark.read.format("fstrec").load(path)

      val ops = Seq(
        Op.frameOp("read_full", n, Map(rowsObs(recs),
          "hashes" -> fullHashes))(
          graft.Api.readNativePrecision(spark, Seq(path)))(
          "rows" -> rows, "hashes" -> collect_list(struct(col("nomvar"),
            col("ip1"), xxhash64(col("d")), xxhash64(col("d64"))))),
        Op.frameOp("fststat", n, Map(rowsObs(recs), "minmax" -> minmax))(
          graft.ops.Stats.fststat(scan()))(
          "rows" -> rows, "minmax" -> collect_list(struct(col("nomvar"),
            col("ip1"), col("min"), col("max")))),
        Op.frameOp("unit_convert", n, Map(rowsObs(recs),
          "hashes" -> kelvinHashes))(
          graft.ops.UnitConvert.unitConvert(scan(), "kelvin"))(
          "rows" -> rows, "hashes" -> collect_list(struct(col("nomvar"),
            col("ip1"), xxhash64(col("d"))))),
        Op.frameOp("cube", n, Map("rows" -> cubes.size.toString,
          "cubes" -> cubes))(
          graft.ops.Cubes.toCube(scan()))(
          "rows" -> rows, "cubes" -> collect_list(struct(col("nomvar"),
            col("levels"), xxhash64(col("cube"))))),
        Op.frameOp("pushed_filter", filtered.size, Map(rowsObs(filtered),
          "hashes" -> filteredHashes))(
          scan().filter(col("ip2") === 6 && col("datyp") === pick))(
          "rows" -> rows, "hashes" -> collect_list(struct(col("nomvar"),
            col("ip1"), xxhash64(col("d"))))))

      val all = Map(rowsObs(recs))
      val spans = Seq(
        Op.frameOp("fst_scan", n, all)(scan())("rows" -> rows),
        Op.frameOp("fst_dir", n, all)(scan().drop("d"))("rows" -> rows))
      val out = new File(dir, "written")
      val write = WriteOps.part(spark, written, path, out)
      val curate = batch.map(b =>
        CurationOps.part(spark, b, new File(dir, "shards")))
        .getOrElse(Part(Nil, Nil, Nil))
      Setup(ops ++ write.ops, input, digest, payload,
        () => fileBytes(out), Seq(path),
        spans ++ write.spans ++ curate.spans,
        Seq(
          Layer.self("ops.fststat_ms", "fststat", "fst_scan"),
          Layer.self("ops.unit_convert_ms", "unit_convert", "fst_scan"),
          Layer.self("ops.cube_ms", "cube", "fst_scan"),
          Layer.rate("fst.dir_records_per_s", "fst_dir"),
          Layer.readRatio("fst.read_bytes_per_payload_byte", "fst_scan",
            payload)) ++ write.layers ++ curate.layers,
        release = () => { write.release(); curate.release() })
    }
  }
}

/** The write path on the same large-field records: FstWriter.write
  * (XDF, with metadata cleanup), an in-place metadata update, and a
  * directory-only read-back. A codec change that speeds decode but
  * slows encode, or grows the files, shows here.
  */
object WriteOps {
  /** Ground truth of the write ops: record count, per-record payload
    * sums and the ip2 total after the update's +1 patch.
    */
  final case class Truth(n: Int, sums: Set[String], ip2Patched: Long)

  def truth(recs: Seq[Rec]): Truth = Truth(recs.size,
    recs.map(r => Op.row(r.meta.nomvar, r.meta.ip1, Op.seqSum(r.values)))
      .toSet, recs.map(_.meta.ip2.toLong + 1).sum)

  /** `source` holds the records `t` describes, in XDF files; the frame
    * written is those files read once at native precision and held in
    * memory (a driver-side frame of large arrays would ship them all in
    * task closures).
    */
  def part(spark: SparkSession, t: Truth, source: String,
           outDir: File): Part = {
    val Truth(n, truth, ip2Patched) = t
    val frame = graft.Api.readNativePrecision(spark, Seq(source))
      .select((FstWriter.Columns :+ "d64").map(col): _*)
      .persist(StorageLevel.MEMORY_ONLY)
    frame.write.format("noop").mode("overwrite").save()
    val out = outDir.getAbsolutePath
    var cycle = -1
    def tag = if (cycle % 2 == 0) "PATCH_A" else "PATCH_B"

    /** Directory entries of every written file, parsed directly. */
    def entries(): Seq[FstFormat.Meta] =
      dataFiles(outDir).flatMap { file =>
        val raf = new RandomAccessFile(file, "r")
        try XdfFormat.scanEntries(readAt(raf)).map(_._1)
        finally raf.close()
      }

    // written payloads are checked on one file per cycle, in turn
    def written(): Op.Obs = {
      val files = dataFiles(outDir)
      val sample = files(cycle % files.size)
      val raf = new RandomAccessFile(sample, "r")
      val sums = try XdfFormat.scanEntries(readAt(raf)).map { case (m, _) =>
        Op.row(m.nomvar, m.ip1, Op.seqSum(
          XdfFormat.readPayload(readAt(raf), m)))
      } finally raf.close()
      Map("records" -> entries().size.toString, "sample" -> sums.sorted)
    }
    def verifyWritten(o: Op.Obs): Option[String] =
      Op.against(Map("records" -> n.toString))(o - "sample").orElse {
        o.get("sample") match {
          case Some(s: Seq[_]) if s.nonEmpty =>
            s.find(x => !truth(x.toString))
              .map(x => s"sample: record $x differs from ground truth")
          case other => Some(s"sample: no records decoded ($other)")
        }
      }

    val ops = Seq(
      Op("write", n, () => {
        cycle += 1
        FstWriter.write(frame, out, container = "xdf", cleanup = true)
        () => written()
      }, verifyWritten),
      Op("update", n, () => {
        FstWriter.update(spark.read.format("fstrec").load(out).drop("d")
          .withColumn("etiket", lit(tag))
          .withColumn("ip2", col("ip2") + 1))
        () => {
          val es = entries()
          Map("tagged" -> es.count(_.etiket == tag).toString,
            "ip2_sum" -> es.map(_.ip2.toLong).sum.toString)
        }
      }, Op.against(Map("tagged" -> n.toString,
        "ip2_sum" -> ip2Patched.toString))),
      Op("read_back", n, () => Op.noop(
        spark.read.format("fstrec").load(out).drop("d"), Seq(
          "rows" -> rows,
          "tagged" -> sum(when(col("etiket") === tag, 1).otherwise(0)),
          "ip2_sum" -> sum("ip2"))),
        Op.against(Map("rows" -> n.toString, "tagged" -> n.toString,
          "ip2_sum" -> ip2Patched.toString))))

    Part(ops, Nil,
      Seq(
        Layer.span("fst.write_ms", "write"),
        Layer.span("fst.update_ms", "update"),
        Layer("fst.bytes_written_mb", _ => fileBytes(outDir) / 1e6)),
      release = () => frame.unpersist())
  }
}

/** The pipeline layer: exact dedup, MinHash-LSH near-dup election,
  * quality gate and sharded export over one batch of generated
  * documents; no FST code runs here. Measured in traced cycles only: a
  * curate call costs about as much as the rest of the cycle, which the
  * run budget does not allow in every set-up and timed cycle.
  */
object CurationOps {
  val Clusters = 500
  val Shards = 4
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  def idsDigest(ids: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.sorted.foreach(i => md.update(s"$i\n".getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  def part(spark: SparkSession, b: Gen.Batch, dir: File): Part = {
    val frame = spark.createDataFrame(
      b.docs.map(d => Row(d.id, d.text, d.lang)).asJava, Schema)
    val out = dir.getAbsolutePath
    // the two calls Api.curateToShards composes, timed apart: the shard
    // span reuses the funnel's cached intermediates, as that call does
    var funnel: graft.pipeline.Curation.FunnelResult = null
    // survivor rows the last curate call produced, as observed
    var survivors = 0L
    val spans = Seq(
      Op("pipeline_curate", b.docs.size, () => {
        funnel = graft.pipeline.Curation.curate(frame)
        val finish = Op.noop(funnel.survivors, Seq("rows" -> rows))
        () => {
          val obs = finish()
          survivors = obs("rows").toString.toLong
          obs ++ Map("stages" -> funnel.accounting.collect()
            .map(r => Op.row(r.get(0), r.get(1))).toSeq.sorted)
        }
      }, Op.against(Map("rows" -> b.survivors.size.toString,
        "stages" -> b.stages.map { case (s, c) => Op.row(s, c) }.sorted))),
      Op("pipeline_shards", b.survivors.size, () => {
        graft.pipeline.CorpusSink.writeSharded(
          funnel.survivors.select("doc_id", "text"), out, Shards)
        () => {
          val ids = spark.read.parquet(out).select("doc_id")
            .collect().map(_.getLong(0)).toSeq
          Map("survivor_ids" -> idsDigest(ids))
        }
      }, Op.against(Map("survivor_ids" -> idsDigest(b.survivors.toSeq)))))
    Part(Nil, spans, Seq(
      Layer.span("pipeline.curate_ms", "pipeline_curate"),
      Layer.span("pipeline.shard_write_ms", "pipeline_shards"),
      Layer("pipeline.survivor_frac",
        _ => survivors.toDouble / b.docs.size)))
  }
}

package graft.sources.fst

import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** S1-S5: DataSource V2 for the standard-record binary format.
  *
  * `spark.read.format("fstrec").load(dir)` plans one input partition
  * per file; the reader does a METADATA-ONLY directory scan first
  * (S2), evaluates pushed filters on directory entries (F1 pushdown,
  * SupportsPushDownFilters), and decodes payloads only when `d` is in
  * the required schema (S3/S4 lazy payload via
  * SupportsPushDownRequiredColumns). `path`/`key` scan columns are
  * exposed like the reference's transient columns
  * (/root/reference/fstpy/std_io.py:729,798-810).
  */
class FstDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fstrec"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FstTable.Schema
  // writes pass the query's own schema through (the writer maps the
  // record columns by name); reads always use the inferred schema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // load(a, b, ...) arrives as a JSON string array under "paths"
    // (the DSv2 convention, written with Jackson); single load(path)
    // under "path"
    val paths: Seq[String] = Option(properties.get("paths")) match {
      case Some(json) => new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq
      case None => Seq(Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException(
          "fstrec: a path is required (load(path) or option(\"path\", ...))")))
    }
    new FstTable(paths, Option(schema))
  }
}

object FstTable {
  val Schema: StructType = StructType(Seq(
    StructField("nomvar", StringType), StructField("typvar", StringType),
    StructField("etiket", StringType), StructField("ni", IntegerType),
    StructField("nj", IntegerType), StructField("nk", IntegerType),
    StructField("dateo", LongType), StructField("ip1", IntegerType),
    StructField("ip2", IntegerType), StructField("ip3", IntegerType),
    StructField("deet", IntegerType), StructField("npas", IntegerType),
    StructField("datyp", IntegerType), StructField("nbits", IntegerType),
    StructField("grtyp", StringType), StructField("ig1", IntegerType),
    StructField("ig2", IntegerType), StructField("ig3", IntegerType),
    StructField("ig4", IntegerType), StructField("datev", LongType),
    StructField("path", StringType), StructField("key", IntegerType),
    StructField("d", ArrayType(FloatType))))

  /** Opt-in columns beyond the default surface, requested via an
    * explicit `.schema(...)`: `d64` carries the payload at its native
    * precision (exact for int32 datyp-2 and 64-bit datyp-5 records,
    * get_field_dtype semantics — std_io.py:633-644) while `d` stays
    * the reference's dominant float32 view.
    */
  val ExtendedSchema: StructType =
    StructType(Schema.fields :+
      StructField("d64", ArrayType(DoubleType)))
}

class FstTable(paths: Seq[String], givenSchema: Option[StructType] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"fstrec(${paths.mkString(",")})"
  override def schema(): StructType =
    givenSchema.filter(_.nonEmpty).getOrElse(FstTable.Schema)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val maxFiles = options.getInt("maxFilesPerTrigger", -1)
    // READ with a user-supplied schema: must be a (name, type)-
    // compatible subset — the reader emits the built-in types, so a
    // mistyped column would surface as a runtime ClassCastException.
    // (Writes validate separately in resolveOrdinals: the input
    // DataFrame's schema legitimately differs until projected.)
    schema().fields.foreach { f =>
      val exp = FstTable.ExtendedSchema.fields.find(_.name == f.name)
        .getOrElse(throw new IllegalArgumentException(
          s"fstrec: unknown column '${f.name}'"))
      require(f.dataType == exp.dataType,
        s"fstrec: column '${f.name}' must be ${exp.dataType}, " +
          s"got ${f.dataType}")
    }
    new FstScanBuilder(paths, maxFiles)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(paths.size == 1,
      "fstrec write requires exactly one destination path")
    new FstWriteBuilder(paths.head, info.schema(),
      info.options().getInt("maxRecordsPerFile",
        FstBatchWrite.MaxRecordsPerFile),
      Option(info.options().get("partitionBy")).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      Container.named(
        Option(info.options().get("container")).getOrElse("fstrec")))
  }
}

class FstScanBuilder(paths: Seq[String], maxFilesPerTrigger: Int = -1)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = FstTable.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept metadata-column filters for early evaluation; return all
    // filters so Spark re-checks them (safe double evaluation)
    pushed = filters.filter(FstFilters.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new FstScan(paths, required, pushed, maxFilesPerTrigger)
}

object FstScan {
  /** Uncommitted task output (`.`-prefixed temp names) and job markers
    * (`_SUCCESS`) are invisible to scans — only files renamed to their
    * final names by a job commit count as data.
    */
  def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** The active session's Hadoop conf (`spark.hadoop.*` and
    * `sparkContext.hadoopConfiguration` included), built once per scan,
    * stream or write: a conf built from scratch re-parses the default
    * XML resources and ignores the session's settings. Tasks get it as
    * a [[ShippedConf]] inside their factory, so it rides the task
    * binary each stage broadcasts anyway; a broadcast of its own per
    * scan raised peak memory (DESIGN.md "Api.read decides duplicates
    * on the driver").
    */
  def sessionHadoopConf(spark: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active): Configuration =
    spark.sessionState.newHadoopConf()

  /** Bin-pack (file, length) pairs into read partitions (the
    * FileSourceScan recipe): per-file cost = size + openCost, target
    * partition size bounded by maxPartitionBytes and sized so the scan
    * still fills the cluster's default parallelism. One giant
    * directory of tiny record files becomes ~parallelism tasks instead
    * of one task per file; and a single multi-GB XDF file splits into
    * independently scannable directory-page runs (see
    * [[splitByPages]]) instead of serializing on one core. Used by
    * both the batch scan and the micro-batch stream; `hconf` opens the
    * oversized files the sub-file split probes.
    */
  def packPartitions(files: Seq[(String, Long, Long)], hconf: Configuration)
      : Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val maxBytes = conf.filesMaxPartitionBytes
    val parallelism =
      org.apache.spark.sql.SparkSession.active.sparkContext
        .defaultParallelism
    val total = files.map(_._2 + openCost).sum
    val target =
      math.max(openCost, math.min(maxBytes, total / parallelism + 1))

    // sub-file split first (mirrors FilePartition's maxSplitBytes
    // behavior for splittable formats): only files larger than the
    // partition budget pay the header sniff
    val slices: Seq[(FstFileSlice, Long)] = files.flatMap {
      case (f, len, mtime) =>
        if (len > target) splitByPages(f, len, mtime, target, hconf)
        else Seq((FstFileSlice(f), len))
    }

    // contiguous runs in listing order, so a scan's row order does not
    // depend on the packing. Filling each run up to `target` can leave
    // one run too many (12 equal files for 4 cores pack 3,3,2,2,2:
    // five tasks, two waves), so the runs are balanced instead: the
    // smallest budget that needs no more runs than total / target,
    // unless a run would then exceed maxPartitionBytes
    val units = slices.toIndexedSeq
    val costs = units.map(_._2 + openCost)
    def runs(budget: Long): Seq[Int] = { // run lengths, in order
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var n = 0
      var bytes = 0L
      costs.foreach { c =>
        if (bytes + c > budget && n > 0) { out += n; n = 0; bytes = 0L }
        n += 1; bytes += c
      }
      if (n > 0) out += n
      out.toSeq
    }
    val want = (total + target - 1) / target
    var lo = costs.maxOption.getOrElse(0L)
    var hi = math.max(lo, costs.sum)
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (runs(mid).size <= want) hi = mid else lo = mid + 1
    }
    val lengths = if (lo <= maxBytes) runs(lo) else runs(target)
    val starts = lengths.scanLeft(0)(_ + _)
    lengths.indices.map { i =>
      FstInputPartition(units.slice(starts(i), starts(i + 1)).map(_._1))
        : InputPartition
    }.toArray
  }

  /** Split-unit memo for the sub-file splitter: committed record
    * files are immutable (tasks write under hidden temp names, the
    * job commit renames), so (path, length, mtime) identifies
    * content. The mtime comes for free from the same `FileStatus`
    * the directory listing already fetched; streaming-log entries
    * (whose lengths come from the commit log, not a live listing)
    * pass mtime = -1 — those files are immutable by the commit
    * contract, so the stale-rewrite window the mtime closes cannot
    * open there.
    * Streaming re-plans on EVERY micro-batch, and without the memo
    * each plan re-walks every oversized file's headers on the
    * driver — one positioned read per page per file per batch on a
    * remote FS. The value is the file's [[SplitUnits]]: directory
    * pages with their word addresses for multi-page XDF files,
    * records for compact containers, and [[SplitUnits.Whole]] for
    * anything not splittable (non-FST, empty, single page/record).
    * Cleared wholesale if it ever grows past 100k entries (a bound,
    * not an eviction policy — entries are ~100 bytes, plus 4 bytes
    * per page for multi-page XDF files, which cap at
    * [[XdfFormat.MaxDirPages]] = 1024 pages).
    * Residual assumption: a path rewritten in place with identical
    * byte length AND identical modification time would read a stale
    * count — sub-second rewrites on filesystems with coarse mtime
    * granularity; a compact slice would then silently clip to the
    * stale record count, so the mtime key matters there (XDF slices
    * fail loudly via DIR0 checks either way).
    */
  private val splitUnitsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      SplitUnits]()

  /** Split one oversized file into sub-file slices, each close to
    * `target` bytes (estimated as a proportional share of the file).
    * Multi-page XDF files split by directory-page run (record
    * payloads are chained from their pages, so a page run's bytes
    * are not contiguous but average out); compact containers split
    * by record range over their single flat directory block (payloads
    * lie in directory order, so each range demand-reads one
    * contiguous region). Driver-side cost is one header read — plus
    * a 32-byte page-header walk for XDF — paid once per (path,
    * length, mtime) thanks to [[splitUnitsMemo]]. Single-page XDF
    * files and single-record compact files stay whole; so does
    * anything whose sniff fails — the task-side reader raises the
    * real error with full context.
    */
  private def splitByPages(f: String, len: Long, mtime: Long,
                           target: Long, hconf: Configuration)
      : Seq[(FstFileSlice, Long)] = {
    val key = (f, len, mtime)
    val cached = splitUnitsMemo.get(key)
    val units =
      if (cached != null) cached
      else {
        // IN-BAND results (incl. "not splittable") memoize; a
        // thrown probe (transient remote-FS error) does NOT — this
        // plan degrades to a whole-file slice and the next plan
        // retries, instead of pinning a multi-GB file to one core
        // for the process lifetime
        try {
          val rf = new RecordFile(f, hconf)
          try {
            val v = Container.splitUnits(rf.header, rf.readAt)
            if (splitUnitsMemo.size > 100000) splitUnitsMemo.clear()
            splitUnitsMemo.put(key, v)
            v
          } finally rf.close()
        } catch { case scala.util.control.NonFatal(_) => SplitUnits.Whole }
      }
    if (units.n <= 1) Seq((FstFileSlice(f), len))
    else {
      val bytesPerUnit = math.max(1L, len / units.n)
      val unitsPerSlice =
        math.max(1, math.min(units.n.toLong, target / bytesPerUnit).toInt)
      (0 until units.n by unitsPerSlice).map { u0 =>
        val u1 = math.min(units.n, u0 + unitsPerSlice)
        (FstFileSlice(f, u0, u1, units.startAddr(u0)),
          (u1 - u0).toLong * bytesPerUnit)
      }
    }
  }

  /** Recursive listing of record files under `root`, skipping any
    * `name=value` partition-directory branch whose accumulated values
    * cannot satisfy `pushed` (conservative: unknown shapes pass).
    */
  def listPruned(fs: FileSystem, root: Path,
                 pushed: Array[Filter]): Seq[(String, Long, Long)] = {
    def walk(p: Path, vals: Map[String, String])
        : Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (hidden(name)) Nil
        else if (st.isDirectory) {
          val kv = name.split("=", 2)
          val v2 =
            if (kv.length == 2)
              vals + (kv(0) -> java.net.URLDecoder.decode(kv(1), "UTF-8"))
            else vals
          if (pushed.forall(f => partitionMightMatch(f, v2)))
            walk(st.getPath, v2)
          else Nil
        } else Seq((st.getPath.toString, st.getLen,
          st.getModificationTime))
      }
    walk(root, Map.empty)
  }

  /** Can a file under partition values `vals` possibly satisfy `f`?
    * Comparisons parse the directory value to the filter constant's
    * numeric type; parse failures and unhandled shapes return true
    * (never prune on uncertainty — record-level filters still apply).
    */
  def partitionMightMatch(f: Filter, vals: Map[String, String])
      : Boolean = {
    def cmp(a: String, v: Any): Option[Int] = v match {
      case s: String => Some(a.compareTo(s))
      case n: Number =>
        try Some(java.lang.Long.compare(a.toLong, n.longValue()))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
    f match {
      case EqualTo(a, v) if vals.contains(a) =>
        cmp(vals(a), v).forall(_ == 0)
      case In(a, vs) if vals.contains(a) =>
        vs.exists(v => cmp(vals(a), v).forall(_ == 0))
      case GreaterThan(a, v) if vals.contains(a) =>
        cmp(vals(a), v).forall(_ > 0)
      case GreaterThanOrEqual(a, v) if vals.contains(a) =>
        cmp(vals(a), v).forall(_ >= 0)
      case LessThan(a, v) if vals.contains(a) =>
        cmp(vals(a), v).forall(_ < 0)
      case LessThanOrEqual(a, v) if vals.contains(a) =>
        cmp(vals(a), v).forall(_ <= 0)
      case Not(EqualTo(a, v)) if vals.contains(a) =>
        cmp(vals(a), v).forall(_ != 0)
      case And(l, r) =>
        partitionMightMatch(l, vals) && partitionMightMatch(r, vals)
      case Or(l, r) =>
        partitionMightMatch(l, vals) || partitionMightMatch(r, vals)
      case _ => true
    }
  }
}

class FstScan(paths: Seq[String], required: StructType,
              pushedInit: Array[Filter],
              maxFilesPerTrigger: Int = -1) extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // compile-time pushdown plus any join-driven runtime filters (the
  // DSv2 dynamic-pruning hook): runtime filters arrive before
  // planInputPartitions, so they prune partition directories and whole
  // directory entries exactly like compile-time filters
  @volatile private var pushed: Array[Filter] = pushedInit

  // one Hadoop conf per scan, the session's: the listing and the split
  // probe use it on the driver, the readers get it as a ShippedConf
  private lazy val hconf = FstScan.sessionHadoopConf()
  private lazy val shipped = ShippedConf(hconf)

  // only columns present in the (pruned) read schema: Spark resolves
  // these references against the scan's output, so advertising a
  // pruned-away column fails analysis
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fieldNames.filter(n => n != "d" && n != "d64")
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val usable = filters.filter(FstFilters.supported)
    if (usable.nonEmpty) {
      pushed = pushed ++ usable
      cachedListing = null // runtime filters change what prunes
    }
  }

  /** Recursive listing with partition-directory pruning: a
    * `name=value` directory level whose value cannot satisfy the
    * pushed filters is skipped WITHOUT listing its subtree — at
    * 100 TB, an equality filter on the layout key turns a full-corpus
    * listing into one directory branch.
    */
  // estimateStatistics and planInputPartitions both need the listing
  // (and AQE may ask for statistics more than once): list once per
  // pushed-filter state instead of walking the tree per call
  @volatile private var cachedListing: Seq[(String, Long, Long)] = null

  private def listWithSizes(): Seq[(String, Long, Long)] = {
    val c = cachedListing
    if (c != null) return c
    val fresh = listWithSizesUncached()
    cachedListing = fresh
    fresh
  }

  private def listWithSizesUncached(): Seq[(String, Long, Long)] =
    paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(hconf)
      val st = fs.getFileStatus(p)
      if (st.isDirectory)
        FstScan.listPruned(fs, st.getPath, pushed).sortBy(_._1)
      else Seq((path, st.getLen, st.getModificationTime))
    }

  /** Size statistics from the directory listing, scaled by the read
    * schema's share of the record width: a metadata-only projection
    * (no `d`) reports only the 72-byte directory entries, so joins
    * against pruned record catalogs qualify for automatic broadcast /
    * AQE re-planning instead of defaulting to a shuffle join.
    */
  override def estimateStatistics(): Statistics = {
    val files = listWithSizes()
    val raw = files.map(_._2).sum
    val rows = math.max(raw / FstFormat.EntryBytesEstimate, 1L)
    val bytes =
      if (required.fieldNames.exists(n => n == "d" || n == "d64")) raw
      else files.size * FstFormat.HeaderBytes.toLong +
        rows * FstFormat.DirEntryBytes
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty() // unknown without a dir read
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    FstScan.packPartitions(listWithSizes(), hconf)

  override def createReaderFactory(): PartitionReaderFactory =
    new FstReaderFactory(required, pushed, shipped)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(paths.size == 1,
      "fstrec streaming requires exactly one source directory")
    new FstMicroBatchStream(paths.head, required, pushed,
      checkpointLocation, maxFilesPerTrigger)
  }
}

/** O(1) streaming offset: the id of the last admitted file batch.
  * The file names themselves live in the checkpoint-directory log
  * ([[FstMicroBatchStream]]), so offset-log entries stay constant
  * size no matter how many files the stream has ever seen.
  */
case class FstLogOffset(batchId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = batchId.toString
}

/** Micro-batch tail of a directory of record files: each batch reads
  * the files that appeared since the previous offset (records are
  * immutable once written — the writer never appends to a published
  * file). Pushdown and payload pruning apply per batch exactly as in
  * the batch scan.
  *
  * File tracking follows the FileStreamSource recipe: every
  * `latestOffset` poll that finds fresh files ADMITS them by writing
  * one atomic log file `<checkpoint>/graft-files/<batchId>` (lines of
  * `size\tpath`), every [[FstMicroBatchStream.CompactInterval]]-th
  * batch additionally writes `<batchId>.compact` holding the entire
  * seen set, and the offset Spark persists is just the batch id. A
  * restart replays the newest compact file plus subsequent batch
  * files to rebuild the seen set — offsets stay O(1) and recovery
  * I/O stays O(files since last compaction), where the previous
  * design serialized every seen file name into every offset.
  * Admission is decoupled from Spark's own offset log: a batch
  * admitted here but never committed by the engine is simply
  * re-planned from the log after restart — no file is lost or read
  * twice.
  *
  * Supports Trigger.AvailableNow natively: preparation admits
  * everything currently listable as one batch and subsequent
  * `latestOffset(start, limit)` calls return that cap, so an
  * availability-bounded run drains exactly the files present at
  * start (including admitted-but-uncommitted work from a previous
  * run) and stops.
  */
class FstMicroBatchStream(path: String, required: StructType,
                          pushed: Array[Filter],
                          checkpointLocation: String,
                          maxFilesPerTrigger: Int = -1)
    extends org.apache.spark.sql.connector.read.streaming
      .MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import FstMicroBatchStream.CompactInterval

  private val logDir = new Path(checkpointLocation, "graft-files")
  // the session's Hadoop conf, once per stream (see FstScan's)
  private lazy val hconf = FstScan.sessionHadoopConf()
  private lazy val shipped = ShippedConf(hconf)
  private lazy val srcFs = new Path(path).getFileSystem(hconf)
  // the checkpoint may live on a different filesystem than the data
  private lazy val ckptFs = logDir.getFileSystem(hconf)

  // rebuilt from the checkpoint log on first use: path -> size
  private val seen = scala.collection.mutable.HashMap.empty[String, Long]
  private val batchFiles =
    scala.collection.mutable.HashMap.empty[Long, Seq[(String, Long)]]
  private var maxBatch: Long = -1L
  private var replayed = false
  /** Backlog frozen at prepareForTriggerAvailableNow: AvailableNow
    * drains exactly this listing (files arriving later wait for the
    * next run) in maxFilesPerTrigger-bounded batches — the same
    * multi-batch drain semantics as Spark's file source.
    */
  @volatile private var availableNowBacklog:
    Option[Seq[(String, Long)]] = None

  private def parseLog(p: Path): Seq[(String, Long)] = {
    val in = ckptFs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        (line.substring(i + 1), line.substring(0, i).toLong)
      }.toList
    finally in.close()
  }

  /** Rebuild (seen, batchFiles, maxBatch) from the newest compact
    * snapshot + the batch files after it.
    */
  private def replay(): Unit = synchronized {
    if (replayed) return
    replayed = true
    if (!ckptFs.exists(logDir)) return
    val entries = ckptFs.listStatus(logDir).map(_.getPath.getName)
      .filterNot(_.startsWith("."))
    val compacts = entries.filter(_.endsWith(".compact"))
      .map(_.stripSuffix(".compact").toLong)
    val plain = entries.filterNot(_.endsWith(".compact")).map(_.toLong)
    val base = if (compacts.isEmpty) -1L else compacts.max
    if (base >= 0) {
      parseLog(new Path(logDir, s"$base.compact"))
        .foreach { case (f, len) => seen(f) = len }
      maxBatch = base
    }
    plain.filter(_ > base).sorted.foreach { id =>
      val files = parseLog(new Path(logDir, id.toString))
      batchFiles(id) = files
      files.foreach { case (f, len) => seen(f) = len }
      maxBatch = math.max(maxBatch, id)
    }
    // the compacted batch itself stays individually re-plannable
    // (compaction writes the plain file first)
    if (base >= 0 && entries.contains(base.toString))
      batchFiles(base) = parseLog(new Path(logDir, base.toString))
  }

  private def listNow(): Seq[(String, Long)] = {
    // the stream's admission log keys on (path, length) only — the
    // mtime the batch listing carries is dropped here (committed
    // stream files are immutable by the temp-name + commit-rename
    // contract, see packPartitions' mtime note)
    val p = new Path(path)
    if (!srcFs.exists(p)) Nil
    else if (srcFs.getFileStatus(p).isDirectory)
      FstScan.listPruned(srcFs, p, pushed)
        .map { case (f, len, _) => (f, len) }.sortBy(_._1)
    else Seq((path, srcFs.getFileStatus(p).getLen))
  }

  private def writeLog(name: String,
                       files: Seq[(String, Long)]): Unit = {
    ckptFs.mkdirs(logDir)
    val tmp = new Path(logDir, s".$name.tmp")
    val out = ckptFs.create(tmp, true)
    try {
      val sb = new StringBuilder
      files.foreach { case (f, len) =>
        sb.append(len).append('\t').append(f).append('\n')
      }
      out.write(sb.toString.getBytes("UTF-8"))
    } finally out.close()
    if (!ckptFs.rename(tmp, new Path(logDir, name)))
      throw new java.io.IOException(
        s"fstrec stream: cannot publish log $name")
  }

  /** Admit fresh files as a new batch — at most `cap` of them when a
    * read limit applies (`maxFilesPerTrigger`: a month-long backlog
    * drains as bounded batches instead of one giant first batch).
    * Returns the latest batch id (-1 before any admission).
    */
  private def admit(cap: Int = -1): Long = admitFrom(listNow(), cap)

  private def admitFrom(candidates: Seq[(String, Long)],
                        cap: Int): Long = synchronized {
    replay()
    val all = candidates.filterNot(f => seen.contains(f._1))
    val fresh = if (cap > 0) all.take(cap) else all
    if (fresh.isEmpty) return maxBatch
    val id = maxBatch + 1
    writeLog(id.toString, fresh)
    batchFiles(id) = fresh
    fresh.foreach { case (f, len) => seen(f) = len }
    maxBatch = id
    if (id > 0 && id % CompactInterval == 0) {
      // full snapshot: restart replay reads this + later batches
      // only. In-memory per-batch plans older than the snapshot are
      // droppable — the engine never re-plans them within a run, and
      // a restart reloads from disk.
      writeLog(s"$id.compact", seen.toSeq.sortBy(_._1))
      batchFiles.filterInPlace((bid, _) => bid >= id)
      // retention: the snapshot makes older log files redundant.
      // Keep one full interval of slack behind it (re-plannable
      // batches are always near the tip) so the checkpoint stays
      // O(seen files + recent batches) instead of growing forever.
      val floor = id - CompactInterval
      ckptFs.listStatus(logDir).map(_.getPath)
        .filterNot(_.getName.startsWith("."))
        .foreach { p =>
          val n = p.getName
          val isCompact = n.endsWith(".compact")
          scala.util.Try(
            (if (isCompact) n.stripSuffix(".compact") else n).toLong
          ).toOption.foreach { bid =>
            if ((isCompact && bid < id) || (!isCompact && bid < floor))
              ckptFs.delete(p, false)
          }
        }
    }
    id
  }

  override def initialOffset(): Offset = FstLogOffset(-1L)
  override def latestOffset(): Offset =
    FstLogOffset(admit(maxFilesPerTrigger))
  override def prepareForTriggerAvailableNow(): Unit =
    // freeze the backlog; the drain below still honors the
    // per-trigger cap, so a month-long backlog becomes bounded
    // batches, not one giant batch 0
    availableNowBacklog = Some(synchronized { replay(); listNow() })
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap = limit match {
      case f: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        f.maxFiles()
      case _ => maxFilesPerTrigger
    }
    // under AvailableNow, admit (cap-bounded) from the frozen
    // listing until it drains; maxBatch then stops advancing and
    // the wrapper ends the run
    FstLogOffset(availableNowBacklog match {
      case Some(snapshot) => admitFrom(snapshot, cap)
      case None => admit(cap)
    })
  }
  override def reportLatestOffset(): Offset =
    FstLogOffset(synchronized { replay(); maxBatch })
  override def deserializeOffset(json: String): Offset =
    FstLogOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = synchronized {
    replay()
    // a batch pruned from memory (or skipped by compact replay) is
    // reloaded from its plain log file on demand. A MISSING file is
    // a corrupted checkpoint: planning the batch as empty would
    // commit it with zero rows and silently drop its files forever,
    // so fail loudly instead (FileStreamSource does the same).
    def ofBatch(id: Long): Seq[(String, Long)] =
      batchFiles.getOrElseUpdate(id, {
        val p = new Path(logDir, id.toString)
        if (ckptFs.exists(p)) parseLog(p)
        else throw new IllegalStateException(
          s"fstrec stream: batch log $id missing from $logDir — " +
            "cannot re-plan the batch (corrupted/truncated checkpoint)")
      })
    val files = ((start.asInstanceOf[FstLogOffset].batchId + 1) to
      end.asInstanceOf[FstLogOffset].batchId).flatMap(ofBatch)
    // mtime -1: these lengths come from the commit log, and committed
    // stream files are immutable (temp-name write + commit rename), so
    // the stale-rewrite window the batch path's mtime key closes
    // cannot open here — and a per-batch getFileStatus per file would
    // re-pay the RPCs the split memo exists to avoid
    FstScan.packPartitions(files.map { case (f, len) => (f, len, -1L) },
      hconf)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FstReaderFactory(required, pushed, shipped)
}

object FstMicroBatchStream {
  /** Every Nth admitted batch also writes a full `.compact` snapshot
    * (the FileStreamSource default cadence).
    */
  val CompactInterval = 10
}

/** One read slice: a whole file (default range), or a sub-file run
  * [unitStart, unitEnd) whose unit depends on the container — XDF
  * directory PAGES for multi-page XDF files, RECORD indices for
  * compact containers (whose single flat directory block slices at
  * any record boundary). Both unit kinds tile their file, so a
  * giant file of either container spreads across executors. For XDF
  * slices `startAddr` carries unitStart's page word address (learned
  * by the planner's one chain walk), letting the task seek straight
  * to its first page; 0 means unknown — walk the chain from the
  * head. Compact slices seek via the header's directory offset and
  * leave it 0.
  */
case class FstFileSlice(path: String, unitStart: Int = 0,
                        unitEnd: Int = Int.MaxValue,
                        startAddr: Int = 0) {
  def wholeFile: Boolean = unitStart == 0 && unitEnd == Int.MaxValue
}

case class FstInputPartition(slices: Seq[FstFileSlice])
    extends InputPartition {
  /** Distinct file paths touched by this partition. */
  def files: Seq[String] = slices.map(_.path).distinct
}

class FstReaderFactory(required: StructType, pushed: Array[Filter],
                       hconf: ShippedConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val slices = partition.asInstanceOf[FstInputPartition].slices
    new FstPartitionReader(slices, required, pushed, hconf.value)
  }
}

/** One open record file. A short read fails naming the file, the
  * offset, the requested length and the file's length.
  *
  * Reads seek the one open stream, so a `RecordFile` serves one
  * thread: a positioned `readFully(off, buf)` on Hadoop's checksummed
  * local filesystem opens the file and its `.crc` anew on every call,
  * while a seek within the stream's buffer costs nothing (checksums
  * are verified either way).
  */
final class RecordFile(path: String, conf: Configuration) {
  private val p = new Path(path)
  private val in = p.getFileSystem(conf).open(p)

  def readAt(off: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    try { in.seek(off); in.readFully(buf) }
    catch { case e: java.io.EOFException =>
      val fileLen = p.getFileSystem(conf).getFileStatus(p).getLen
      throw new java.io.EOFException(s"fstrec: $path: short read at " +
        s"offset $off (wanted $len bytes, file is $fileLen bytes)")
        .initCause(e)
    }
    buf
  }

  def header: Array[Byte] = readAt(0, FstFormat.HeaderBytes)

  def close(): Unit = in.close()
}

class FstPartitionReader(slices: Seq[FstFileSlice], required: StructType,
                         pushed: Array[Filter], hconf: Configuration)
    extends PartitionReader[InternalRow] {

  // Streamed access (S2 semantics at scale): per file, only the
  // 24-byte header and the nrecs x 72-byte directory block are read
  // up front; a metadata-only scan never touches payload bytes no
  // matter how large the file is. Payloads are seek-read per record
  // on demand — directory order is write (key) order, so demand reads
  // advance sequentially through the file. Files in the partition are
  // opened one at a time, in order.
  private val remaining = slices.iterator
  private var in: RecordFile = _
  private var readAt: XdfFormat.ReadAt = _
  private var fileUtF8: UTF8String = _
  private var container: Container = _
  private var entries: Iterator[(FstFormat.Meta, Int)] = Iterator.empty
  private var current: (FstFormat.Meta, Int) = _

  private def openNext(): Boolean = {
    if (in != null) { in.close(); in = null }
    if (!remaining.hasNext) return false
    val slice = remaining.next()
    val file = slice.path
    fileUtF8 = UTF8String.fromString(file)
    in = new RecordFile(file, hconf)
    readAt = in.readAt
    val hdr = in.header
    container = Container.sniff(hdr, file)
    // the format modules see bytes, not paths: a corrupt directory
    // fails here, where the file is known
    val scanned =
      try container.scanEntries(hdr, readAt, slice.unitStart,
        slice.unitEnd, slice.startAddr)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"${e.getMessage}: $file", e)
      }
    entries = scanned.filter { case (m, key) =>
      pushed.forall(f => FstFilters.eval(f, m, file, key))
    }
    true
  }

  override def next(): Boolean = {
    while (!entries.hasNext) if (!openNext()) return false
    current = entries.next(); true
  }

  private val bothPayloads =
    required.fieldNames.contains("d") && required.fieldNames.contains("d64")
  // the current row's native-precision payload; get() clears it
  private var row64: Array[Double] = _
  private def rowPayload64(m: FstFormat.Meta): Array[Double] = {
    if (row64 == null) row64 = container.readPayload64(readAt, m)
    row64
  }

  // One extractor closure per required ordinal, resolved ONCE at
  // reader construction — the per-row loop below never dispatches on
  // field names (this sits under every scan).
  private type Extract = (FstFormat.Meta, Int) => Any
  private val extractors: Array[Extract] =
    required.fieldNames.map[Extract] {
      case "path" => (_, _) => fileUtF8
      case "key" => (_, key) => key
      // payloads decoded only on demand (lazy column); a row that
      // needs both decodes once and narrows that decode for d (the
      // float32 of the native value, exactly what readPayload32 gives)
      case "d" if bothPayloads =>
        (m, _) => ArrayData.toArrayData(Container.narrow(rowPayload64(m)))
      case "d" =>
        (m, _) => ArrayData.toArrayData(container.readPayload32(readAt, m))
      case "d64" => (m, _) => ArrayData.toArrayData(rowPayload64(m))
      case name =>
        val get = FstFilters.fields(name)
        if (FstTable.Schema(name).dataType != StringType) (m, _) => get(m)
        else (m, _) => UTF8String.fromString(get(m).asInstanceOf[String])
    }

  override def get(): InternalRow = {
    val (m, key) = current
    val values = new Array[Any](extractors.length)
    row64 = null
    var i = 0
    while (i < extractors.length) {
      values(i) = extractors(i)(m, key)
      i += 1
    }
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq
      .unsafeWrapArray(values))
  }

  override def close(): Unit = if (in != null) in.close()
}

/** Early filter evaluation over directory entries. */
object FstFilters {
  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => metaCol(a)
    case In(a, _) => metaCol(a)
    case GreaterThan(a, _) => metaCol(a)
    case GreaterThanOrEqual(a, _) => metaCol(a)
    case LessThan(a, _) => metaCol(a)
    case LessThanOrEqual(a, _) => metaCol(a)
    case IsNotNull(a) => metaCol(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  private def metaCol(a: String): Boolean = a != "d" && a != "d64"

  /** Each directory-entry scan column's value, by name, as the Scala
    * type filters compare.
    */
  val fields: Map[String, FstFormat.Meta => Any] =
    Map[String, FstFormat.Meta => Any](("nomvar", _.nomvar),
      ("typvar", _.typvar), ("etiket", _.etiket), ("ni", _.ni),
      ("nj", _.nj), ("nk", _.nk), ("dateo", _.dateo), ("ip1", _.ip1),
      ("ip2", _.ip2), ("ip3", _.ip3), ("deet", _.deet), ("npas", _.npas),
      ("datyp", _.datyp), ("nbits", _.nbits), ("grtyp", _.grtyp),
      ("ig1", _.ig1), ("ig2", _.ig2), ("ig3", _.ig3), ("ig4", _.ig4),
      ("datev", _.datev))

  private def value(m: FstFormat.Meta, file: String, key: Int,
                    a: String): Any = a match {
    case "path" => file
    case "key" => key // already a full record handle
    case other => fields(other)(m)
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) => x.compareTo(y)
    case (x: Number, y: Number) =>
      java.lang.Long.compare(x.longValue(), y.longValue())
    case _ => throw new IllegalArgumentException(s"cmp($a, $b)")
  }

  def eval(f: Filter, m: FstFormat.Meta, file: String, key: Int)
      : Boolean = f match {
    case EqualTo(a, v) => cmp(value(m, file, key, a), v) == 0
    case In(a, vs) => vs.exists(v => cmp(value(m, file, key, a), v) == 0)
    case GreaterThan(a, v) => cmp(value(m, file, key, a), v) > 0
    case GreaterThanOrEqual(a, v) => cmp(value(m, file, key, a), v) >= 0
    case LessThan(a, v) => cmp(value(m, file, key, a), v) < 0
    case LessThanOrEqual(a, v) => cmp(value(m, file, key, a), v) <= 0
    case IsNotNull(_) => true
    case And(l, r) => eval(l, m, file, key) && eval(r, m, file, key)
    case Or(l, r) => eval(l, m, file, key) || eval(r, m, file, key)
    case Not(c) => !eval(c, m, file, key)
    case _ => true
  }
}

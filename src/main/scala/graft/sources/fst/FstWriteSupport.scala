package graft.sources.fst

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DataSource V2 write path: `df.write.format("fstrec").save(dir)`.
  *
  * Each task writes its rows into standalone record files of at most
  * [[FstBatchWrite.MaxRecordsPerFile]] records (the reference's
  * materialize batch, /root/reference/fstpy/std_writer.py:127-155).
  * Task output lands under `.`-prefixed TEMPORARY names (invisible to
  * scans, [[FstScan.hidden]]); the job-level `commit()` renames every
  * temp file reported in the task commit messages to its final name.
  * A lost executor can therefore never leave half-published data: its
  * temp files were never renamed, and scans ignore them. Task/job
  * `abort()` additionally deletes temp files best-effort.
  * `mode("overwrite")` maps to TRUNCATE (existing record files removed
  * at job setup on the driver).
  *
  * The query schema passes through by name: the 21 record columns are
  * required with their catalog types; extra columns are rejected with
  * a named error (use [[FstWriter.write]] for the convenience path
  * that selects/casts for you).
  */
class FstWriteBuilder(path: String, schema: StructType,
                      maxRecordsPerFile: Int,
                      partitionBy: Seq[String], container: Container)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new FstBatchWrite(path, schema, doTruncate, maxRecordsPerFile,
        partitionBy, container)
    // a streaming sink never truncates: each epoch only adds files
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new FstBatchWrite(path, schema, false, maxRecordsPerFile,
        partitionBy, container)
  }
}

object FstBatchWrite {
  val MaxRecordsPerFile = 128

  /** (name, expected type) of every writable record column. */
  val Fields: Seq[(String, DataType)] =
    FstWriter.Columns.map(c => c -> FstTable.Schema(c).dataType)

  /** Resolve (and validate) the record-column ordinals in `schema`,
    * failing with a named error on a missing column or a type
    * mismatch.
    */
  def resolveOrdinals(schema: StructType): Array[Int] = Fields.map {
    case (name, tpe) =>
      val idx = schema.fieldNames.indexOf(name)
      require(idx >= 0, s"fstrec write: missing required column $name " +
        s"(present: ${schema.fieldNames.sorted.mkString(", ")})")
      val actual = schema(idx).dataType
      require(DataType.equalsIgnoreNullability(actual, tpe),
        s"fstrec write: column $name has type ${actual.simpleString}, " +
          s"expected ${tpe.simpleString}")
      idx
  }.toArray

  /** Optional `d64` ordinal (-1 when absent): when present and
    * non-null, the double-precision payload source takes precedence
    * over `d`, so 64-bit datyp-5 and exact int32 payloads survive the
    * write at native precision.
    */
  def resolveD64(schema: StructType): Int = {
    val idx = schema.fieldNames.indexOf("d64")
    if (idx >= 0)
      require(DataType.equalsIgnoreNullability(schema(idx).dataType,
        ArrayType(DoubleType)),
        s"fstrec write: column d64 must be array<double>, got " +
          schema(idx).dataType.simpleString)
    idx
  }

  /** Resolve the partition-layout columns (name, schema ordinal,
    * type). Partition columns must be scalar metadata columns; the
    * values stay IN the records (the directory layout is a pruning
    * index, not a column-stripping scheme), so a partitioned directory
    * reads back identically to a flat one.
    */
  def resolvePartitionSpec(schema: StructType, partitionBy: Seq[String])
      : Seq[(String, Int, DataType)] = partitionBy.map { name =>
    require(name != "d", "fstrec write: cannot partition by payload d")
    val idx = schema.fieldNames.indexOf(name)
    require(idx >= 0,
      s"fstrec write: unknown partitionBy column $name " +
        s"(present: ${schema.fieldNames.sorted.mkString(", ")})")
    (name, idx, schema(idx).dataType)
  }

  /** Rename `tmp` over `fin`, replacing it if present. Local paths use
    * java.nio (atomic, microseconds); other filesystems fall back to
    * delete+rename through the Hadoop API.
    */
  def renameOverwrite(fs: FileSystem, tmp: String, fin: String): Unit = {
    val tmpP = new Path(tmp); val finP = new Path(fin)
    if (Option(tmpP.toUri.getScheme).forall(_ == "file")) {
      val src = java.nio.file.Paths.get(tmpP.toUri.getPath)
      val dst = java.nio.file.Paths.get(finP.toUri.getPath)
      // drop any stale checksum sidecar from an older Hadoop-API write
      java.nio.file.Files.deleteIfExists(
        dst.resolveSibling(s".${dst.getFileName}.crc"))
      java.nio.file.Files.move(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      if (fs.exists(finP)) fs.delete(finP, false)
      if (!fs.rename(tmpP, finP))
        throw new java.io.IOException(
          s"fstrec commit: rename $tmp -> $fin failed")
    }
  }

  /** Job commit: rename every (temp, final) pair reported by the
    * tasks. Replayed streaming epochs re-commit the same deterministic
    * final names, so an existing final file is replaced, not
    * duplicated.
    */
  def publish(path: String,
              messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    messages.collect { case m: FstCommitMessage => m.renames }
      .flatten.foreach { case (tmp, fin) => renameOverwrite(fs, tmp, fin) }
  }

  /** Job abort: best-effort delete of uncommitted temp files. */
  def discard(path: String,
              messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(new Configuration())
    messages.collect { case m: FstCommitMessage => m.renames }
      .flatten.foreach { case (tmp, _) =>
        fs.delete(new Path(tmp), false)
      }
  }
}

/** The job side of a batch write and of every streaming epoch. */
class FstBatchWrite(path: String, schema: StructType,
                    truncate: Boolean, maxRecordsPerFile: Int,
                    partitionBy: Seq[String], container: Container)
    extends BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  // resolve (and validate) the column ordinals once, on the driver
  private val ordinals: Array[Int] = FstBatchWrite.resolveOrdinals(schema)
  private val d64Ordinal = FstBatchWrite.resolveD64(schema)
  private val partSpec = FstBatchWrite.resolvePartitionSpec(
    schema, partitionBy)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : FstDataWriterFactory = {
    val fs = new Path(path).getFileSystem(new Configuration())
    val dir = new Path(path)
    if (truncate && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    new FstDataWriterFactory(path, ordinals, maxRecordsPerFile,
      partSpec, container, d64Ordinal)
  }
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : FstDataWriterFactory = createBatchWriterFactory(info)
  // both interfaces default to true; Scala needs the choice spelled out
  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    FstBatchWrite.publish(path, messages)
  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    FstBatchWrite.publish(path, messages)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    FstBatchWrite.discard(path, messages)
  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    FstBatchWrite.discard(path, messages)
}

/** (temp name, final name) per file the task wrote. */
case class FstCommitMessage(renames: Seq[(String, String)])
  extends WriterCommitMessage

/** Writer factory of both the batch write and the streaming sink. A
  * streaming epoch's tasks write files named
  * `part-e<epoch>-p<partition>-<n>.fst` — deterministic per (epoch,
  * partition), so an epoch replayed after failure overwrites its own
  * files instead of duplicating records (idempotent micro-batch
  * commit).
  */
class FstDataWriterFactory(path: String, ordinals: Array[Int],
                           maxRecordsPerFile: Int,
                           partSpec: Seq[(String, Int, DataType)],
                           container: Container, d64Ordinal: Int)
    extends DataWriterFactory with org.apache.spark.sql.connector.write
      .streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new FstDataWriter(path, ordinals, partitionId, taskId,
      maxRecordsPerFile, null, partSpec, container, d64Ordinal)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new FstDataWriter(path, ordinals, partitionId, taskId,
      maxRecordsPerFile, s"part-e$epochId-p$partitionId", partSpec,
      container, d64Ordinal)
}

class FstDataWriter(path: String, ordinals: Array[Int],
                    partitionId: Int, taskId: Long,
                    maxRecordsPerFile: Int,
                    namePrefix: String,
                    partSpec: Seq[(String, Int, DataType)],
                    container: Container, d64Ordinal: Int)
    extends DataWriter[InternalRow] {

  // own (non-cached) FS instance so checksum sidecars can be disabled
  // for this writer without mutating the JVM-shared cached instance:
  // the record format carries its own magic + directory structure, and
  // skipping .crc files halves the small-file create/rename syscalls
  private val fs = {
    val f = FileSystem.newInstance(new Path(path).toUri, new Configuration())
    f.setWriteChecksum(false)
    f
  }
  private val uid = UUID.randomUUID().toString.take(8)
  private val prefix = Option(namePrefix)
    .getOrElse(s"part-$partitionId-$taskId-$uid")
  private var fileNo = 0
  // (temp, final) per flushed file; finals appear only at job commit
  private val written =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  // one open batch per partition-layout directory ("" when unpartitioned)
  private val batches = scala.collection.mutable.LinkedHashMap
    .empty[String, scala.collection.mutable
      .ArrayBuffer[(FstFormat.Meta, Array[Double])]]
  private val madeDirs = scala.collection.mutable.Set.empty[String]

  /** `name=value/...` relative directory for the row's partition
    * values (URL-encoded so separators in string values stay safe).
    */
  private def partDir(row: InternalRow): String =
    partSpec.map { case (name, idx, tpe) =>
      val v = tpe match {
        case StringType => row.getUTF8String(idx).toString
        case LongType => row.getLong(idx).toString
        case IntegerType => row.getInt(idx).toString
        case other => throw new IllegalArgumentException(
          s"fstrec write: unsupported partition column type $other")
      }
      name + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val o = ordinals
    var ci = 0
    while (ci < o.length) {
      // a null `d` is fine when d64 carries the payload for this row
      // (d64 takes precedence below) — only reject when both are null
      val coveredByD64 = FstWriter.Columns(ci) == "d" &&
        d64Ordinal >= 0 && !row.isNullAt(d64Ordinal)
      if (!coveredByD64 && row.isNullAt(o(ci)))
        throw new IllegalArgumentException("fstrec write: null value " +
          s"in record column '${FstWriter.Columns(ci)}'")
      ci += 1
    }
    val meta = FstFormat.Meta(
      row.getUTF8String(o(0)).toString, row.getUTF8String(o(1)).toString,
      row.getUTF8String(o(2)).toString, row.getInt(o(3)),
      row.getInt(o(4)), row.getInt(o(5)), row.getLong(o(6)),
      row.getInt(o(7)), row.getInt(o(8)), row.getInt(o(9)),
      row.getInt(o(10)), row.getInt(o(11)), row.getInt(o(12)),
      row.getInt(o(13)), row.getUTF8String(o(14)).toString,
      row.getInt(o(15)), row.getInt(o(16)), row.getInt(o(17)),
      row.getInt(o(18)), row.getLong(o(19)), 0, 0)
    val key = if (partSpec.isEmpty) "" else partDir(row)
    val batch = batches.getOrElseUpdate(key,
      scala.collection.mutable.ArrayBuffer.empty)
    // native-precision payload source when d64 is present + non-null
    val payload: Array[Double] =
      if (d64Ordinal >= 0 && !row.isNullAt(d64Ordinal))
        row.getArray(d64Ordinal).toDoubleArray()
      else {
        val f = row.getArray(o(20)).toFloatArray()
        val d = new Array[Double](f.length)
        var i = 0
        while (i < f.length) { d(i) = f(i).toDouble; i += 1 }
        d
      }
    batch += ((meta, payload))
    if (batch.size >= maxRecordsPerFile) flush(key)
  }

  private def flush(key: String): Unit = {
    val batch = batches.getOrElse(key, return)
    if (batch.isEmpty) return
    val dir = if (key.isEmpty) new Path(path) else new Path(path, key)
    if (key.nonEmpty && madeDirs.add(key)) fs.mkdirs(dir)
    val fin = new Path(dir, s"$prefix-$fileNo.fst")
    // temp name carries the per-attempt uid: the FINAL name must be
    // deterministic (streaming epoch replay overwrites idempotently),
    // but two concurrent attempts of one (epoch, partition) — zombie
    // retry, speculation — must never write the same in-progress file
    val tmp = new Path(dir, s".$prefix-$fileNo.$uid.fst.inprogress")
    val out = fs.create(tmp, true)
    try out.write(container.writeFile(batch.toSeq))
    finally out.close()
    written += ((tmp.toString, fin.toString))
    fileNo += 1
    batch.clear()
  }

  override def commit(): WriterCommitMessage = {
    batches.keys.toSeq.foreach(flush)
    FstCommitMessage(written.toSeq)
  }

  override def abort(): Unit =
    written.foreach { case (tmp, _) => fs.delete(new Path(tmp), false) }

  override def close(): Unit = fs.close()
}

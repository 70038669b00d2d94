package graft.sources.fst

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** S8: standard-file writer. `write` mode runs metadata_cleanup first,
  * then encodes records per partition in batches of
  * `maxRecordsPerFile` (the reference's 128-row materialize batching,
  * /root/reference/fstpy/std_writer.py:127-155 + FSTPY_NUM_ROWS).
  * Payloads are written Fortran-flat (column-major), matching the
  * catalog layout.
  */
object FstWriter {

  val Columns: Seq[String] = Seq("nomvar", "typvar", "etiket", "ni",
    "nj", "nk", "dateo", "ip1", "ip2", "ip3", "deet", "npas", "datyp",
    "nbits", "grtyp", "ig1", "ig2", "ig3", "ig4", "datev", "d")

  /** Convenience write: metadata_cleanup (unless disabled), select +
    * cast the 21 record columns, then delegate to the DataSource V2
    * write path ([[FstWriteBuilder]]) — per-task file commit/abort,
    * overwrite-truncate.
    */
  def write(df: DataFrame, path: String, maxRecordsPerFile: Int = 128,
            cleanup: Boolean = true,
            partitionBy: Seq[String] = Nil,
            container: String = "fstrec"): Unit = {
    val prepared0 = if (cleanup) graft.ops.Select.metadataCleanup(df) else df
    // optional native-precision payload column rides along when present
    val cols = Columns ++
      (if (df.columns.contains("d64")) Seq("d64") else Nil)
    val prepared = prepared0.select(
      cols.map(c => col(c).cast(FstTable.ExtendedSchema(c).dataType)): _*)
    prepared.write.format("fstrec")
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("partitionBy", partitionBy.mkString(","))
      .option("container", container)
      .save(path)
  }

  /** Directory compaction (maintenance op for the small-files problem
    * at scale): read every record under `src` and rewrite into `dst`
    * with large per-file batches. At 100 TB a streaming sink or many
    * incremental writes leave thousands of small record files; the
    * batch scan bin-packs them on read, but listings, open()s, and
    * checkpoint offsets still pay per-file cost — compaction pays the
    * rewrite once. `dst` is a NEW directory (never in-place: readers
    * of `src` are unaffected until the caller switches paths), and the
    * record set is preserved verbatim — no metadata cleanup, no dedup.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, src: String,
              dst: String, maxRecordsPerFile: Int = 4096): Unit = {
    // Resolve both paths through the filesystem (relative vs absolute,
    // scheme-qualified vs bare) before comparing — compacting a
    // directory into itself would duplicate every record. Nesting dst
    // under src is equally self-referential: the write would land new
    // record files inside the tree being read.
    val conf = FstScan.sessionHadoopConf(spark)
    val srcQ = {
      val p = new Path(src)
      p.getFileSystem(conf).makeQualified(p).toUri.normalize
    }
    val dstQ = {
      val p = new Path(dst)
      p.getFileSystem(conf).makeQualified(p).toUri.normalize
    }
    require(srcQ != dstQ, "fstrec compact: dst must differ from src")
    // same filesystem = same (scheme, authority); only then can the
    // paths nest. Both directions are fatal: dst under src writes new
    // files into the tree being read, and src under dst is worse —
    // the overwrite-mode truncate of dst would recursively DELETE src
    // before the lazy scan ever runs.
    val sameFs = srcQ.getScheme == dstQ.getScheme &&
      Option(srcQ.getAuthority) == Option(dstQ.getAuthority)
    require(!sameFs ||
      !(dstQ.getPath + "/").startsWith(srcQ.getPath + "/"),
      "fstrec compact: dst must not be nested under src")
    require(!sameFs ||
      !(srcQ.getPath + "/").startsWith(dstQ.getPath + "/"),
      "fstrec compact: src must not be nested under dst " +
        "(overwrite would truncate the source tree)")
    val records = spark.read.format("fstrec").load(src)
    write(records, dst, maxRecordsPerFile = maxRecordsPerFile,
      cleanup = false)
  }

  /** S8 `update` mode (/root/reference/fstpy/std_writer.py:102-131):
    * metadata-only rewrite in place. Rows must carry the `path`/`key`
    * scan columns of the source they were read from; each record's
    * directory entry is re-packed with the row's metadata while the
    * payload words (and their addr/length/nbits directory fields) stay
    * untouched. datev is recomputed from the new dateo + deet*npas
    * (fst_edit_dir keep_dateo=False semantics). Partitioning on `path`
    * guarantees each file is patched by exactly one task — no file is
    * opened for write by two executors.
    */
  def update(df: DataFrame): Unit = {
    val cols = Seq("path", "key", "nomvar", "typvar", "etiket", "ni",
      "nj", "nk", "dateo", "ip1", "ip2", "ip3", "deet", "npas", "datyp",
      "grtyp", "ig1", "ig2", "ig3", "ig4")
    val prepared = df.select(
      cols.map(c => col(c).cast(FstTable.Schema(c).dataType)): _*)
    // the session's Hadoop conf, shipped to the tasks as its difference
    // from the base
    val shipped = ShippedConf(FstScan.sessionHadoopConf(df.sparkSession))
    prepared.repartition(col("path")).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val conf = shipped.value
        // FileSystem construction is expensive: one per partition
        // (keyed by scheme), not one per patched file. Own instances
        // so write checksums can be disabled (no .crc sidecars).
        val fsCache =
          scala.collection.mutable.Map.empty[String, FileSystem]
        val files = it.toSeq.groupBy(_.getString(0))
        try files.foreach { case (file, rows) =>
          val p = new Path(file)
          val uri = p.toUri
          // key by scheme AND authority: two clusters of one scheme
          // must not share an instance ("Wrong FS" otherwise)
          val scheme = Option(uri.getScheme).getOrElse("file") + "://" +
            Option(uri.getAuthority).getOrElse("")
          val fs = fsCache.getOrElseUpdate(scheme, {
            val f = FileSystem.newInstance(uri, conf)
            f.setWriteChecksum(false)
            f
          })
          // Crash recovery from a previous interrupted update: a
          // missing data file with a leftover backup means the crash
          // hit between the two publish renames — restore the backup;
          // both present means the publish completed — drop the stale
          // backup. Either way a re-run proceeds normally.
          val bak0 = new Path(p.getParent, s".${p.getName}.updbak")
          if (fs.exists(bak0)) {
            if (!fs.exists(p)) {
              if (!fs.rename(bak0, p))
                throw new java.io.IOException(
                  s"fstrec update: cannot restore backup for $file")
            } else fs.delete(bak0, false)
          }
          val lenL = fs.getFileStatus(p).getLen
          // the patch is applied to an in-memory image; a >2 GiB file
          // would silently truncate through toInt and publish a
          // destroyed image over the original — refuse instead
          require(lenL <= Int.MaxValue.toLong - 8,
            s"fstrec update: $file is $lenL bytes; the in-memory " +
              "metadata patch supports files under 2 GiB only")
          val len = lenL.toInt
          val bytes = new Array[Byte](len)
          val in = fs.open(p)
          try in.readFully(0, bytes) finally in.close()
          // metadata-only patch shared by both containers: payload
          // words and their addr/length/nbits stay in place, so edits
          // that change the payload's declared geometry or encoding
          // would desynchronize the entry from the stored data
          def patched(r: org.apache.spark.sql.Row)(old: FstFormat.Meta)
              : FstFormat.Meta = {
            require(r.getInt(5) == old.ni && r.getInt(6) == old.nj &&
              r.getInt(7) == old.nk && r.getInt(14) == old.datyp,
              s"cannot change ni/nj/nk/datyp of record handle " +
                s"${r.getInt(1)} (payload is not rewritten)")
            val deet = r.getInt(12); val npas = r.getInt(13)
            val datev = FstFormat.rawToStamp(
              FstFormat.stampToRaw(r.getLong(8)) + deet.toLong * npas / 5)
            old.copy(nomvar = r.getString(2),
              typvar = r.getString(3), etiket = r.getString(4),
              ni = r.getInt(5), nj = r.getInt(6), nk = r.getInt(7),
              dateo = r.getLong(8), ip1 = r.getInt(9), ip2 = r.getInt(10),
              ip3 = r.getInt(11), deet = deet, npas = npas,
              datyp = r.getInt(14), grtyp = r.getString(15),
              ig1 = r.getInt(16), ig2 = r.getInt(17), ig3 = r.getInt(18),
              ig4 = r.getInt(19), datev = datev)
          }
          val container = Container.sniff(bytes, file)
          try container.patchEntries(bytes,
            rows.map(r => (r.getInt(1), patched(r) _)))
          catch { case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"fstrec update: $file: ${e.getMessage}", e)
          }
          // Never truncate-then-rewrite the original in place: a crash
          // mid-write would destroy the file's payload data. Write the
          // patched image to a temp file in the same directory and
          // atomically rename it over the original.
          val tmp = new Path(p.getParent,
            s".${p.getName}.${java.util.UUID.randomUUID.toString.take(8)}.updating")
          val out = fs.create(tmp, true)
          try out.write(bytes) finally out.close()
          // Replace via backup, not delete-then-rename: on a
          // filesystem without atomic overwrite a crash between the
          // delete and the rename would leave ONLY a hidden temp —
          // silent data loss. With the backup sequence every crash
          // point leaves either the original or the patched image
          // under a recoverable name.
          val bak = new Path(p.getParent, s".${p.getName}.updbak")
          fs.delete(bak, false)
          if (!fs.rename(p, bak))
            throw new java.io.IOException(
              s"fstrec update: cannot move $file aside")
          if (!fs.rename(tmp, p)) {
            fs.rename(bak, p) // restore
            throw new java.io.IOException(
              s"fstrec update: cannot publish patched $file")
          }
          fs.delete(bak, false)
        } finally fsCache.values.foreach(_.close())
    }
  }
}

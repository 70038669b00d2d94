package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps.{argmaxBucket, dot, norm, topNBuckets}

/** Precomputed IVF-lite ANN index — the serving shape of p06's
  * bucketed cosine search: quantizer assignment and norms are paid
  * ONCE at build time, and the index is laid out partitioned by
  * coarse bucket so a probe reads only the buckets it lands in.
  *
  * Scale posture (100 TB embeddings, continuous serving):
  *  - `write` stores (vec_id, nrm, embedding) PARTITIONED BY bucket —
  *    the directory layout IS the inverted file. A probe filtered or
  *    dynamically pruned to its bucket reads that bucket's files and
  *    nothing else; no full-corpus scan, no full-corpus shuffle.
  *  - `topK` broadcasts the (small) query batch and joins on the
  *    partition column, so Spark's dynamic partition pruning can
  *    drop unprobed buckets at the scan. Candidate volume is
  *    bucket-bounded by construction (the p06 contract).
  *  - index refresh is an append/overwrite of CHANGED buckets only
  *    (partition overwrite mode), not a rebuild.
  */
object AnnIndex {

  /** Build the index: one pass over the embeddings, written
    * partitioned by the deterministic coarse bucket
    * ([[PipelineOps.argmaxBucket]]), with the L2 norm precomputed —
    * probes never touch raw-corpus scan work again.
    */
  def write(embeddings: DataFrame, path: String): Unit = {
    // a full rebuild starts clean — ALL the path's previous-life
    // state: stale tombstones would silently delete freshly indexed
    // vectors, and stale __old/__compact swap leftovers would make
    // every later append/compact refuse with a false mid-swap error
    // (advisor r12 — a rebuild supersedes any interrupted swap)
    val hconf = embeddings.sparkSession.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(hconf)
    val old = new org.apache.hadoop.fs.Path(s"${path}__old")
    val tmp = new org.apache.hadoop.fs.Path(s"${path}__compact")
    fs.delete(old, true)
    fs.delete(tmp, true)
    val tdir = new org.apache.hadoop.fs.Path(s"${path}__tombstones")
    tdir.getFileSystem(hconf).delete(tdir, true)
    // the rebuild writes BESIDE the live index and swaps with the
    // same two-rename protocol as compact — never delete-then-write:
    // a crash mid-write would otherwise lose the index outright with
    // no recovery copy (advisor r12), and the whole-dir swap also
    // guarantees no stale BUCKET DIR survives under
    // spark.sql.sources.partitionOverwriteMode=dynamic (dynamic
    // overwrite only replaces touched partitions). A crash between
    // the renames leaves the __old + __compact pair Swaps.guard
    // refuses, with both full copies recoverable.
    // one task per bucket (same hash-repartition as compact): a
    // partitionBy writer otherwise emits one file per (input task x
    // touched bucket) — batch parallelism times bucket count — and
    // the fresh index starts with the small-files debt compaction
    // exists to cure. With it, files scale with the bucket count.
    val out = embeddings.select(col("vec_id"),
      norm(col("embedding")).as("nrm"), col("embedding"),
      argmaxBucket(col("embedding")).as("bucket"))
      .repartition(col("bucket"))
    if (!fs.exists(live)) {
      out.write.partitionBy("bucket").mode("overwrite").parquet(path)
    } else {
      out.write.partitionBy("bucket").mode("overwrite")
        .parquet(tmp.toString)
      graft.core.Swaps.swap(embeddings.sparkSession, path, "ann rebuild")
    }
  }

  /** Append NEW embeddings to an existing index — the continuous
    * increment (new corpus shards arriving): partition-local file
    * adds under the buckets the new vectors land in; existing bucket
    * files are never read or rewritten.
    *
    * Contract: incoming vec_ids must not be live-tombstoned — the
    * same ID-REUSE-FORBIDDEN rule as
    * [[graft.pipeline.NearDup.removeFromIndex]] (a bare-id tombstone
    * would hide the re-added vectors from [[topK]] and the next
    * [[compact]] would physically delete them); the guard fails
    * loudly with the recovery recipe instead.
    */
  def append(embeddings: DataFrame, path: String): Unit = {
    // refuse to write into a mid-swap index (a replayed append would
    // otherwise recreate the live dir with just this batch and the
    // next compaction would silently truncate the index to it)
    graft.core.Swaps.guard(embeddings.sparkSession, path,
      "ann_index_append")
    graft.core.Tombstones.requireAbsent(embeddings, "vec_id",
      "vec_id", s"${path}__tombstones", "ann_index_append",
      "AnnIndex.compact")
    embeddings.select(col("vec_id"),
        norm(col("embedding")).as("nrm"), col("embedding"),
        argmaxBucket(col("embedding")).as("bucket"))
      // one file per touched bucket instead of one per (task x
      // bucket) — see the rebuild's repartition note
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(path)
  }

  /** Logically REMOVE vectors from a [[write]]n index — the
    * embedding-side takedown/PII-purge path, mirroring
    * [[graft.pipeline.NearDup.removeFromIndex]]: `ids` (a vec_id
    * column) appends to `path__tombstones` as a partition-local file
    * add (the tombstone dir sits BESIDE the index, not inside it —
    * the index root is partitioned by bucket and a foreign subdir
    * would break partition discovery); [[topK]] anti-joins the set
    * out before searching, and [[compact]] applies tombstones
    * physically and clears them. ID-REUSE-FORBIDDEN: re-appending a
    * live-tombstoned vec_id is rejected by [[append]]'s guard (see
    * there, and NearDup.removeFromIndex for the full rationale) —
    * upsert = remove, compact, re-append.
    */
  def remove(ids: DataFrame, path: String): Unit = {
    graft.core.Checks.requireColumns(ids, "ann_index_remove", "vec_id")
    ids.select("vec_id").write.mode("append")
      .parquet(s"${path}__tombstones")
  }

  private def tombstonesAt(spark: SparkSession, path: String)
      : Option[DataFrame] =
    graft.core.Tombstones.at(spark, s"${path}__tombstones")

  private def dropTombstoned(df: DataFrame,
                             tomb: Option[DataFrame]): DataFrame =
    graft.core.Tombstones.drop(df, "vec_id", "vec_id", tomb)

  /** [[dropTombstoned]] against the LIVE set at `path`, for loop
    * owners implementing takedown semantics ABOVE the append guard
    * (`Api.continuousAnnBuild` drops inadmissible vec_ids from each
    * batch instead of letting the reuse guard poison the stream).
    */
  private[graft] def dropLiveTombstoned(df: DataFrame,
                                        path: String): DataFrame =
    dropTombstoned(df, tombstonesAt(df.sparkSession, path))

  /** Top-k cosine neighbors for a query batch against a [[write]]n
    * index: each query searches ONLY its own coarse bucket (p06
    * semantics — output is (query_id, vec_id, bucket, rank, cos),
    * hash-identical to the in-session search on the same data). The
    * query side carries (query_id, qv); its bucket and norm derive
    * here with the same deterministic functions the build used.
    * Tombstoned vectors ([[remove]]) are anti-joined out first — a
    * removed vector may not appear in any result NOR hold a top-k
    * slot (rank re-flows, same as never indexed).
    */
  def topK(spark: SparkSession, indexPath: String, queries: DataFrame,
           k: Int = 5, nProbes: Int = 1,
           excludeSelf: Boolean = true): DataFrame = {
    // fail fast with a named error if the path is not a write()
    // layout — a wrong path would otherwise surface as an unresolved
    // column inside the join
    val e = spark.read.parquet(indexPath)
    graft.core.Checks.requireColumns(e, "ann_index_topk",
      "vec_id", "nrm", "embedding", "bucket")
    search(dropTombstoned(e, tombstonesAt(spark, indexPath)),
      queries, k, nProbes, excludeSelf)
  }

  /** The bucketed search core — ONE definition for the p06
    * in-session query (which derives bucket/nrm on the fly) and
    * [[topK]] (which reads them from the index), so the two paths
    * cannot drift. `corpus` carries (vec_id, nrm, embedding,
    * bucket); `queries` carries (query_id, qv).
    *
    * `nProbes` > 1 is the IVF multi-probe recall lever (the argmax
    * analog of p18's Hamming-1 sign-flip expansion): each query
    * searches its `nProbes` strongest coarse buckets
    * ([[PipelineOps.topNBuckets]] — probe 1 is exactly
    * [[PipelineOps.argmaxBucket]], so nProbes = 1 reproduces the
    * single-probe plan bit-for-bit and its output is a SUBSET of
    * every wider probe's candidates). The single-probe boundary this
    * buys back: a near-neighbor whose second-strongest component
    * edges out the query's argmax lands one bucket over and
    * single-probe misses it — IndexMaintenanceSpec constructs that
    * miss and measures the recovery. Scale shape is unchanged:
    * queries stay a broadcast (now nProbes rows per query), the
    * corpus side still reads ONLY probed buckets via dynamic
    * partition pruning, and candidate volume grows linearly in
    * nProbes while staying bucket-bounded.
    */
  def search(corpus: DataFrame, queries: DataFrame,
             k: Int = 5, nProbes: Int = 1,
             excludeSelf: Boolean = true): DataFrame = {
    require(nProbes >= 1, s"ann search: nProbes must be >= 1, got $nProbes")
    val q =
      if (nProbes == 1)
        queries.select(col("query_id"), col("qv"),
          argmaxBucket(col("qv")).as("bucket"),
          norm(col("qv")).as("qn"))
      else
        queries.select(col("query_id"), col("qv"),
          explode(topNBuckets(col("qv"), nProbes)).as("bucket"),
          norm(col("qv")).as("qn"))
    val rn = row_number().over(Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc))
    // excludeSelf implements the corpus-member query shape (p06:
    // "my neighbors, not me"). A serving deployment whose QUERY ids
    // live in a different id space than the corpus must pass
    // excludeSelf = false, or a coincidental query_id == vec_id
    // collision silently drops a valid neighbor.
    val selfCond =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    broadcast(q).join(
        corpus.select(col("vec_id"), col("nrm"), col("embedding"),
          col("bucket").as("cbucket")),
        col("cbucket") === col("bucket") && selfCond)
      .withColumn("cos",
        dot(col("qv"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rank", rn)
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        col("cbucket").as("bucket"), col("rank"), col("cos"))
  }

  /** The ANN index's maintenance advisor — the embedding-side sibling
    * of [[graft.pipeline.NearDup.compactionAdvice]] (see
    * [[graft.pipeline.Maintenance]] for the debt model): parquet data
    * files across the bucket partitions + live tombstone rows, mapped
    * to compact-now / ok. Control-plane cheap; never reads vectors.
    */
  def compactionAdvice(spark: SparkSession, path: String,
                       thresholds: Maintenance.Thresholds =
                         Maintenance.Thresholds())
      : Maintenance.Advice =
    Maintenance.advise(
      Maintenance.countParquetFiles(spark, Seq(path)),
      Maintenance.tombstoneRows(spark, s"${path}__tombstones"),
      thresholds)

  /** Compact an index after many [[append]] increments: each append
    * is a partition-local file ADD, so after months of daily batches
    * every probe pays file-listing and per-file open cost
    * proportional to APPEND COUNT (the same small-files class
    * [[graft.pipeline.NearDup.compactIndex]] fixes for the LSH
    * index). Rewrites each bucket partition into one file (a
    * hash-repartition on the partition column sends each bucket to
    * exactly one task). The rewrite ALSO collapses EXACT duplicate
    * rows — the artifact an at-least-once streaming append leaves
    * behind when a batch replays after its append committed (see
    * [[graft.Api.continuousAnnBuild]]): without the collapse, a
    * replayed vector occupies multiple top-k slots forever. The
    * distinct is per-bucket (duplicates share their bucket, so it
    * rides the compaction's own repartition — no extra shuffle), and
    * it only merges rows identical in EVERY column: search output is
    * therefore bit-identical across compaction for a duplicate-free
    * index, and for a replayed one it changes exactly by the
    * duplicate rows disappearing. The swap is two directory renames,
    * with the old data recoverable until the final delete.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    graft.core.Swaps.guard(spark, path, "ann_index_compact")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"${path}__compact")
    def hasParquet(p: org.apache.hadoop.fs.Path): Boolean = {
      if (!fs.exists(p)) return false
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) return true
      }
      false
    }
    // nothing-to-compact guard: a partitionBy write of ZERO rows
    // emits no data files, so an index that has never been appended
    // (the empty-frame bootstrap, or an all-empty stream so far) has
    // nothing readable — and nothing to rewrite. Returning here also
    // keeps a compaction cadence from poisoning a young stream on
    // schema inference.
    if (!hasParquet(dir)) return
    // apply tombstones physically while rewriting (same contract as
    // NearDup.compactIndex: a logically-invisible row going
    // physically absent changes nothing a search can see)
    dropTombstoned(spark.read.parquet(path), tombstonesAt(spark, path))
      .repartition(col("bucket"))
      .dropDuplicates("vec_id", "nrm", "embedding", "bucket")
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(tmp.toString)
    // an index tombstoned down to ZERO rows would swap in a file-less
    // partitioned dir — permanently unreadable. Keep the logical-
    // delete state instead: rows stay hidden by the probe-side
    // anti-join, tombstones stay live, and the next data-bearing
    // compaction applies everything physically.
    if (!hasParquet(tmp)) {
      fs.delete(tmp, true)
      return
    }
    graft.core.Swaps.swap(spark, path, "ann compact")
    val tdir = new org.apache.hadoop.fs.Path(s"${path}__tombstones")
    tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tdir, true)
  }
}

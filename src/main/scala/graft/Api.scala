package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, not, udf}

/** One-call facade mirroring the reference's entry-point ergonomics
  * (`StandardFileReader(filenames, decode_metadata, query).to_pandas()`,
  * /root/reference/fstpy/std_reader.py:26-112, and
  * `StandardFileWriter`, std_writer.py:30): read record files into a
  * catalog DataFrame, optionally decode metadata and filter, always
  * drop duplicate records — each step delegating to the operator
  * library, so the composed plan keeps pushdown/pruning intact.
  *
  * Deploying against a real cluster / 100 TB corpus: README's
  * "Running at scale" section ties together the knobs that matter —
  * the checkpoint dir (reliable connected-components rounds),
  * `spark.cleaner.referenceTracking.cleanCheckpoints`, the
  * [[graft.core.CacheRegistry]] release contract for per-batch
  * loops, the hot-bucket guard semantics
  * (LshBucketCap/EmbClusterCap rank-block sub-bucketing), and the
  * sub-file scan-split behavior — each claim cited to its
  * adversarial soak log and to the spec that asserts it.
  */
object Api {

  /** Read one or more record files/directories.
    *
    * Duplicate records (equal in every `Constants.DedupColumns`
    * column) are decided once, when `read` is called: one collect of
    * the filtered catalog's identity and `(path, key)` handle, no
    * payload, and plain Scala keeps the copy with the lowest
    * `(path, key)` (path in UTF-8 byte order), which is fstpy's
    * keep-first when the files are read in path order. The returned
    * frame is the filtered catalog itself when nothing repeats, else
    * that catalog with one filter dropping the other copies' handles:
    * no aggregate and no shuffle, so each evaluation re-runs only the
    * scan and keeps the same copy. Files written to `paths` after the
    * call are read but not deduplicated. The driver holds one row of
    * 21 metadata values per record while it decides, like the
    * reference's pandas catalog.
    *
    * @param query Spark SQL predicate over the catalog columns (the
    *              analog of the reference's pandas `query` string —
    *              e.g. `"nomvar == 'TT'"`). Applied AFTER metadata
    *              decode when `decodeMetadata` is on, so predicates
    *              may reference decoded columns (`level == 500.0`);
    *              base-column predicates still reach the scan via
    *              pushdown through the decode projection.
    */
  def read(spark: SparkSession, paths: Seq[String],
           decodeMetadata: Boolean = false,
           query: Option[String] = None): DataFrame = {
    val base = spark.read.format("fstrec").load(paths: _*)
    val decoded =
      if (decodeMetadata) ops.Decode.decodeMetadata(base)
      else base
    val filtered = query.fold(decoded)(decoded.filter)
    val ids = core.Constants.DedupColumns
    val rows = filtered.select((ids ++ Seq("path", "key")).map(col): _*)
      .collect()
    val dropped = droppedHandles(rows, ids.size)
    if (dropped.isEmpty) filtered
    else filtered.filter(not(handleIn(dropped)))
  }

  /** The `(path, key)` handles of every copy but the lowest of each
    * identity, in Spark's order (`Select.ValueOrder`: path by UTF-8
    * bytes); a row is its `n` identity values, then path and key.
    * Identities compare as a grouping key does (nulls alike).
    */
  private def droppedHandles(rows: Array[Row], n: Int): Seq[Row] =
    rows.groupBy(r => r.toSeq.take(n)).valuesIterator
      .filter(_.length > 1).flatMap(copies => copies
        .map(r => Row(r.get(n), r.get(n + 1))).sorted(ops.Select.ValueOrder)
        .tail).toSeq

  /** `(path, key)` is one of `handles`. A lookup in a set the
    * generated code holds by reference, so its class is the same
    * whatever the handles; an `isin` of fewer than
    * `spark.sql.optimizer.inSetConversionThreshold` values would write
    * each one into the code.
    */
  private def handleIn(handles: Seq[Row]): Column = {
    val set = handles.map(h => (h.getString(0), h.getInt(1))).toSet
    val in = udf((path: String, key: Int) => set((path, key)))
    in(col("path"), col("key"))
  }

  /** Read with the payload at native precision: the extended schema
    * adds `d64: array<double>` (exact for int32 datyp-2 and 64-bit
    * datyp-5 records of real XDF files) alongside the float32 `d`.
    */
  def readNativePrecision(spark: SparkSession, paths: Seq[String])
      : DataFrame =
    spark.read.schema(sources.fst.FstTable.ExtendedSchema)
      .format("fstrec").load(paths: _*)

  /** Write a catalog back as record files (metadata cleanup + record
    * batching are handled by the sink). `container = "xdf"` writes
    * the real XDF layout (linked directory pages, datyp-encoded
    * payloads); the default stays the compact record format.
    */
  def write(df: DataFrame, path: String,
            container: String = "fstrec"): Unit =
    sources.fst.FstWriter.write(df, path, container = container)

  /** Labeled-cube export (the reference's `to_cmc_xarray`):
    * level-stacked by default, validity-time-stacked with
    * `timeseries = true`.
    */
  def toCube(df: DataFrame, timeseries: Boolean = false,
             coords: Boolean = true): DataFrame =
    if (timeseries) ops.Cubes.toCubeTimeseries(df)
    else if (coords) ops.Cubes.toCubeWithCoords(df)
    else ops.Cubes.toCube(df)

  /** The end-to-end training-corpus path: run the curation funnel
    * (exact dedup -> MinHash-LSH near-dup canonical election ->
    * quality gate, [[pipeline.Curation.curate]]) and write the
    * survivors as a deterministic hash-sharded corpus
    * ([[pipeline.CorpusSink.writeSharded]]) — the one call a
    * pipeline owner makes to go from raw documents to a
    * training-ready layout. Returns the per-stage accounting frame
    * (stage, n_docs, n_tokens) so the drop at each stage is
    * auditable; the shard assignment itself is content-hashed and
    * reproducible across runs and cluster sizes. Oracle-checked end
    * to end by the p83_curate_to_shards driver query.
    */
  def curateToShards(docs: DataFrame, path: String, nShards: Int,
                     threshold: Double = 0.5, minTokens: Long = 50,
                     lang: Option[String] = Some("en"),
                     format: String = "parquet"): DataFrame = {
    val funnel = pipeline.Curation.curate(docs, threshold, minTokens,
      lang)
    pipeline.CorpusSink.writeSharded(
      funnel.survivors.select("doc_id", "text"), path, nShards, format)
    funnel.accounting
  }

  /** TEST-ONLY crash injection for [[continuousBuild]]'s failure-
    * semantics spec: invoked between the corpus append and the index
    * append with the running batchId. Default no-op; ApiSpec swaps in
    * a throwing hook to simulate a crash exactly in the window the
    * scaladoc below reasons about, then restarts from the checkpoint.
    */
  private[graft] var continuousBuildFailpoint: Long => Unit = _ => ()

  /** Start a CONTINUOUS near-dup-free corpus build — the one-call
    * production entry for the index-backed streaming loop: every
    * micro-batch of `source` (needs doc_id, text) probes the
    * precomputed LSH index at `indexPath`
    * ([[pipeline.NearDup.dedupAgainstIndex]] — touched-bucket-bounded
    * probe, within-batch canonical election), survivors append to
    * BOTH the corpus at `corpusPath` and the index (so the NEXT
    * batch probes the grown corpus), and the per-batch operator
    * caches release. Bootstrap with `NearDup.writeIndex` over the
    * existing corpus (or over an empty frame for a from-scratch
    * build); `NearDup.removeFromIndex` takedowns compose with a live
    * loop — tombstones are visible to the next batch's probe, and a
    * live-tombstoned id ARRIVING IN THE STREAM is treated as
    * inadmissible (dropped from the election before any side effect,
    * like a near-dup match): a taken-down document must neither
    * re-enter the corpus nor poison the loop on the append guard.
    * Re-admission is the id-reuse recipe — compact (clears
    * tombstones), then re-ingest. Returns the started query; the
    * caller owns awaitTermination / stop. Exactly the loop
    * IncrementalCurationSpec verifies batch-for-batch against the
    * re-shingling reference loop.
    *
    * The bootstrap's [[pipeline.IndexLayout]] carries through the
    * loop: `NearDup.writeIndex(corpus, indexPath,
    * IndexLayout.Bucketed(table))` gives a zero-exchange bucketed
    * probe, and every append and compaction reads the layout back
    * from `indexPath` (the two layouts elect identical survivors,
    * including across a mid-loop compaction: ApiSpec "bucketed layout
    * + compactEvery cadence", INDEXSOAK_r12.log phase 5). A bucketed
    * index whose table is missing from the session catalog fails the
    * start, naming `NearDup.registerBucketedIndex`.
    * `compactEvery = Some(n)` runs a compaction after every n-th
    * batch (by streaming batchId, so the cadence survives restarts) —
    * the small-files and tombstone debt stays bounded without a
    * separate maintenance scheduler. `compactAdvice = Some(thresholds)` is the
    * DATA-DRIVEN alternative (or complement): after each batch the
    * loop consults [[pipeline.NearDup.compactionAdvice]] — a
    * control-plane-cheap file/tombstone census — and compacts only
    * when a debt threshold is actually crossed, so a quiet stream
    * never pays rewrite cost on a timer while a bursty one compacts
    * as soon as the debt warrants it.
    *
    * Failure semantics (foreachBatch side effects are at-least-once):
    * each batch's survivors are materialized DURABLY to a staging
    * dir under the checkpoint location before either side effect
    * consumes them — both appends read the staged parquet back, so a
    * mid-batch executor/cache loss can never recompute the election
    * against a half-grown index (the read-under-write hazard a
    * memory-only cache would carry on a cluster). The corpus append
    * then runs BEFORE the index append: a crash between them replays
    * the batch with the index unchanged — the same survivors are
    * re-elected and re-appended, leaving exact doc_id duplicates in
    * the corpus sink (drop them at read with
    * `dropDuplicates("doc_id")`, or rewrite the sink once with
    * [[pipeline.CorpusSink.dedupExact]] — the one-call maintenance
    * pass) but never losing a doc. The reverse order would be
    * silently lossy: an indexed-but-unsunk doc matches itself on
    * replay and is dropped forever. A replay AFTER both appends is
    * naturally idempotent: the survivors now match the grown index
    * and are rejected before either append runs again — with one
    * honest exception: a doc too short to shingle can never
    * self-match (it has no signature), so a post-commit replay
    * re-appends it to the corpus — the same exact-duplicate class,
    * cured by the same read-side recipe. ApiSpec drives the
    * crash-and-restart path through [[continuousBuildFailpoint]]
    * and asserts each claim.
    */
  def continuousBuild(source: DataFrame, indexPath: String,
                      corpusPath: String, checkpointDir: String,
                      threshold: Double = 0.5,
                      trigger: Option[org.apache.spark.sql.streaming
                        .Trigger] = None,
                      compactEvery: Option[Int] = None,
                      compactAdvice: Option[pipeline.Maintenance
                        .Thresholds] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery.forall(_ > 0),
      s"continuous_build: compactEvery must be positive, got " +
        s"$compactEvery")
    pipeline.NearDup.openIndex(source.sparkSession, indexPath,
      "continuous_build")
    val w = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        graft.functions.GraftFunctions.install(bs)
        // takedown semantics for the LOOP: a live-tombstoned id is
        // INADMISSIBLE and drops from the BATCH, before the election
        // and before any side effect. Without this, a re-ingested
        // tombstoned id would pass the probe (its corpus rows are
        // anti-joined out), append to the corpus, then trip the
        // index append's ID-REUSE-FORBIDDEN guard — a poison-pill
        // batch that re-appends corpus duplicates on every restart
        // while the index never advances. The drop must precede the
        // WITHIN-BATCH election, not follow it: a tombstoned id that
        // entered the election could win a canonical slot, evict a
        // legitimate same-batch near-dup, and then be dropped — the
        // legitimate doc silently lost. Re-admission stays the
        // documented recipe: compact (clears tombstones), then
        // re-ingest.
        val admissible = pipeline.NearDup
          .dropLiveTombstoned(batch, indexPath)
        // decide survivors BEFORE growing the index (the append must
        // not feed back into this batch's own probe)
        val elected = pipeline.NearDup
          .dedupAgainstIndex(bs, indexPath, admissible, threshold)
          .select("doc_id", "text")
        // durable materialization: stage the election to parquet and
        // feed BOTH side effects from the read-back — batch-sized IO
        // that removes any dependence on executor cache retention
        // (see failure-semantics scaladoc). The FIXED name is safe
        // only because Spark enforces exactly one active query per
        // checkpoint location (the structured-streaming checkpoint
        // lock), so no second loop can race this dir; the name being
        // checkpoint-relative is what carries that exclusivity — do
        // not move it outside checkpointDir
        val staging = s"$checkpointDir/graft_survivors_staging"
        elected.write.mode("overwrite").parquet(staging)
        graft.core.CacheRegistry.releaseAll()
        val survivors = bs.read.parquet(staging)
        survivors.write.mode("append").parquet(corpusPath)
        continuousBuildFailpoint(batchId)
        pipeline.NearDup.appendIndex(survivors, indexPath)
        graft.core.CacheRegistry.releaseAll()
        // the staged batch is consumed — reclaim it (a replay
        // re-stages from scratch, so nothing depends on it now)
        val sdir = new org.apache.hadoop.fs.Path(staging)
        sdir.getFileSystem(bs.sparkContext.hadoopConfiguration)
          .delete(sdir, true)
        // fixed cadence first; the debt census only runs when the
        // cadence didn't already compact this batch (post-compaction
        // debt is minimal by construction — no point re-measuring)
        val cadence = compactEvery.exists(n => (batchId + 1) % n == 0)
        val advised = !cadence && compactAdvice.exists { th =>
          pipeline.NearDup.compactionAdvice(bs, indexPath, th)
            .compactNow
        }
        if (cadence || advised) pipeline.NearDup.compactIndex(bs, indexPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
    // default: run until stopped (the production cadence); pass
    // Trigger.AvailableNow() to drain staged input and terminate
    // (the one-shot / catch-up shape, and what the spec drives)
    trigger.fold(w)(w.trigger).start()
  }

  /** TEST-ONLY crash injection for [[continuousAnnBuild]]: invoked
    * AFTER the batch's index append (the window whose replay leaves
    * the duplicate-row artifact the scaladoc below reasons about).
    */
  private[graft] var continuousAnnFailpoint: Long => Unit = _ => ()

  /** Start a CONTINUOUS ANN-index build — the embedding-side sibling
    * of [[continuousBuild]]: every micro-batch of `source` (needs
    * vec_id, embedding) appends into the [[pipeline.AnnIndex]] at
    * `indexPath` (partition-local file adds under the buckets the
    * new vectors land in — existing bucket files never read), and
    * `compactEvery = Some(n)` folds the maintenance cadence into the
    * loop (small-files cure + physical tombstone apply + replay-
    * duplicate collapse, every n-th streaming batchId);
    * `compactAdvice = Some(thresholds)` compacts on MEASURED debt
    * instead ([[pipeline.AnnIndex.compactionAdvice]]), same
    * composition as [[continuousBuild]]. Bootstrap
    * with `AnnIndex.write` (over an empty frame for a from-scratch
    * build); `AnnIndex.remove` takedowns compose with the live loop,
    * and its ID-REUSE-FORBIDDEN guard applies to every batch.
    * Returns the started query; the caller owns awaitTermination /
    * stop.
    *
    * Failure semantics (at-least-once): the loop has ONE side effect
    * per batch, so the only replay artifact is a batch appending
    * TWICE — exact duplicate rows that occupy extra top-k slots
    * until the next [[pipeline.AnnIndex.compact]] collapses them
    * (exact-duplicate collapse is part of the compaction contract).
    * No vector is ever lost, and searches between crash and
    * compaction are degraded only by duplicates of that one batch —
    * ApiSpec drives the crash, the degraded window, and the
    * compaction cure through [[continuousAnnFailpoint]].
    */
  def continuousAnnBuild(source: DataFrame, indexPath: String,
                         checkpointDir: String,
                         trigger: Option[org.apache.spark.sql.streaming
                           .Trigger] = None,
                         compactEvery: Option[Int] = None,
                         compactAdvice: Option[pipeline.Maintenance
                           .Thresholds] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery.forall(_ > 0),
      s"continuous_ann_build: compactEvery must be positive, got " +
        s"$compactEvery")
    val w = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bs = batch.sparkSession
        // takedown semantics for the loop (same rationale as
        // continuousBuild): a live-tombstoned vec_id is inadmissible
        // and drops here, instead of tripping the append's
        // ID-REUSE-FORBIDDEN guard and stalling the stream on every
        // replay of that batch
        pipeline.AnnIndex.append(
          pipeline.AnnIndex.dropLiveTombstoned(
            batch.select("vec_id", "embedding"), indexPath),
          indexPath)
        continuousAnnFailpoint(batchId)
        // same cadence-then-census composition as continuousBuild
        val cadence = compactEvery.exists(n => (batchId + 1) % n == 0)
        val advised = !cadence && compactAdvice.exists { th =>
          pipeline.AnnIndex.compactionAdvice(bs, indexPath, th)
            .compactNow
        }
        if (cadence || advised) pipeline.AnnIndex.compact(bs, indexPath)
        ()
      }
      .option("checkpointLocation", checkpointDir)
    trigger.fold(w)(w.trigger).start()
  }
}

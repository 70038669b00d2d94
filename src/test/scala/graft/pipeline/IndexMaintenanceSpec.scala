package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 index-family contracts: the bucketed bands layout
  * (probe plan has no index-side exchange and reads the bucketed
  * scan), index compaction (file counts drop, probe outputs are
  * bit-identical — layout independence), and the ANN multi-probe
  * recall lever (probe 1 is exactly argmaxBucket; a planted
  * second-bucket neighbor is missed single-probe and recovered at
  * nProbes = 2).
  */
class IndexMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    // the documented deployment conf (README "Running at scale"):
    // lets a one-file-per-bucket bucketed scan expose its sort
    // order, so the probe's keep window plans NEITHER exchange NOR
    // sort after a bucketed compactIndex — asserted below
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String = java.nio.file.Files
    .createTempDirectory(name).toString + "/x"

  private def docsDf: DataFrame = {
    import spark.implicits._
    // 40 docs in 8 content families (near-dups within a family),
    // enough band collisions to exercise the keep window
    (0 until 40).map { i =>
      val fam = i % 8
      val base = (1 to 25).map(j => s"w${(j * (fam + 3)) % 19}")
      (i.toLong, (base :+ s"tail$i").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def incomingDf: DataFrame = {
    import spark.implicits._
    // near-dups of family docs + novels
    (0 until 10).map { i =>
      val fam = i % 8
      val base = (1 to 25).map(j => s"w${(j * (fam + 3)) % 19}")
      (100L + i, (base :+ "probe zz").mkString(" "))
    }.toDF("doc_id", "text")
      .unionByName((0 until 4).map(i =>
        (200L + i, (1 to 25).map(j => s"nv${j}x$i").mkString(" ")))
        .toDF("doc_id", "text"))
  }

  private def collected(df: DataFrame): Seq[(Long, Boolean, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
      r.getDouble(3))).sortBy(_._1).toSeq

  private def dataFiles(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
  }

  test("bucketed bands layout: identical output, no index-side exchange") {
    val path = tmp("graft_lshb_spec")
    val pathPlain = tmp("graft_lshp_spec")
    NearDup.writeIndex(docsDf, path,
      IndexLayout.Bucketed("graft_spec_bands"))
    NearDup.writeIndex(docsDf, pathPlain)
    val direct = NearDup.matchesAgainst(docsDf, incomingDf)
    val viaPlain = NearDup.matchesAgainstIndex(spark, pathPlain, incomingDf)
    val viaBucketed = NearDup.matchesAgainstIndex(spark, path, incomingDf)
    val d = collected(direct)
    assert(d.nonEmpty && d.exists(_._2), "fixture must produce matches")
    assert(collected(viaPlain) == d, "plain index diverged from direct")
    assert(collected(viaBucketed) == d, "bucketed index diverged")
    // plan posture: the bucketed probe must read the bucketed scan
    // (no exchange between the bands scan and the keep window), so
    // it plans strictly FEWER exchanges than the path-based probe of
    // the same data, whose window must shuffle the scan output
    def exchanges(df: DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(
        df.queryExecution.executedPlan.toString).length
    val eb = exchanges(NearDup.matchesAgainstIndex(
      spark, path, incomingDf))
    val ep = exchanges(NearDup.matchesAgainstIndex(
      spark, pathPlain, incomingDf))
    assert(eb < ep,
      s"bucketed probe plans $eb exchanges, path-based $ep — the " +
        "bucketed layout must remove the index-side exchange")
    val planB = NearDup.matchesAgainstIndex(spark, path, incomingDf)
      .queryExecution.executedPlan.toString
    assert(planB.contains("Bucketed: true"),
      "bucketed probe plan does not read the bucketed scan")
    graft.core.CacheRegistry.releaseAll()
  }

  test("bucketed append: new docs visible, bucket spec preserved") {
    import spark.implicits._
    val path = tmp("graft_lshba_spec")
    val firstHalf = docsDf.filter(col("doc_id") < 20)
    val secondHalf = docsDf.filter(col("doc_id") >= 20)
    NearDup.writeIndex(firstHalf, path,
      IndexLayout.Bucketed("graft_spec_ba"))
    NearDup.appendIndex(secondHalf, path)
    graft.core.CacheRegistry.releaseAll()
    val viaBucketed = collected(NearDup.matchesAgainstIndex(
      spark, path, incomingDf))
    val direct = collected(NearDup.matchesAgainst(docsDf, incomingDf))
    assert(viaBucketed == direct,
      "append into the bucketed table diverged from the full corpus")
    // the appended table still carries the bucket spec (the probe's
    // zero-exchange contract): the scan must stay bucketed
    def plan(): String = NearDup.matchesAgainstIndex(
      spark, path, incomingDf)
      .queryExecution.executedPlan.toString
    val planAfterAppend = plan()
    assert(planAfterAppend.contains("Bucketed: true"),
      "bucketed scan lost its bucket spec after append")
    // bucketed compaction: one file per bucket lets Spark trust the
    // files' own sort order, eliding the keep window's Sort — the
    // probe's index side becomes pure scan bandwidth
    def sorts(p: String): Int =
      "\\+- Sort \\[band".r.findAllIn(p).length
    val sortsBefore = sorts(planAfterAppend)
    assert(sortsBefore >= 1,
      "multi-file buckets should plan a window sort before compaction")
    NearDup.compactIndex(spark, path)
    graft.core.CacheRegistry.releaseAll()
    val planCompacted = plan()
    assert(planCompacted.contains("Bucketed: true"),
      "bucketed scan lost its bucket spec across compaction")
    assert(sorts(planCompacted) < sortsBefore,
      "one-file-per-bucket compaction must elide the window sort " +
        s"(before $sortsBefore, after ${sorts(planCompacted)})")
    val viaCompacted = collected(NearDup.matchesAgainstIndex(
      spark, path, incomingDf))
    assert(viaCompacted == direct,
      "bucketed compaction changed the probe output")
    graft.core.CacheRegistry.releaseAll()
  }

  test("mixed layout: appendIndex onto a bucketed index is probe-visible") {
    val path = tmp("graft_mixed_spec")
    NearDup.writeIndex(docsDf.filter(col("doc_id") < 20), path,
      IndexLayout.Bucketed("graft_spec_mixed"))
    NearDup.appendIndex(docsDf.filter(col("doc_id") >= 20), path)
    val viaIndex = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    val direct = collected(NearDup.matchesAgainst(docsDf, incomingDf))
    assert(viaIndex == direct,
      "an append onto a bucketed index must reach the bands it probes")
    graft.core.CacheRegistry.releaseAll()
  }

  test("plain rebuild over a bucketed index leaves no bucketed files") {
    val path = tmp("graft_relayout_spec")
    NearDup.writeIndex(docsDf, path,
      IndexLayout.Bucketed("graft_spec_relayout"))
    val half = docsDf.filter(col("doc_id") >= 20)
    NearDup.writeIndex(half, path)
    val left = new java.io.File(path).list().toSet
    assert(left == Set("signatures", "bands"),
      s"a plain rebuild must delete the bucketed layout, left $left")
    val viaIndex = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    val direct = collected(NearDup.matchesAgainst(half, incomingDf))
    assert(viaIndex == direct, "the rebuilt index must serve only `half`")
    graft.core.CacheRegistry.releaseAll()
  }

  test("a bucketed index missing from the catalog refuses probes and " +
      "the loop's start") {
    val path = tmp("graft_uncat_spec")
    val table = "graft_spec_uncat"
    NearDup.writeIndex(docsDf, path, IndexLayout.Bucketed(table))
    spark.sql(s"DROP TABLE $table")
    val src = java.nio.file.Files.createTempDirectory("graft_uncat_src")
    val registered = graft.core.CacheRegistry.size
    val calls = Seq[() => Any](
      () => NearDup.matchesAgainstIndex(spark, path, incomingDf),
      () => NearDup.dedupAgainstIndex(spark, path, incomingDf),
      () => graft.Api.continuousBuild(
        spark.readStream.schema(docsDf.schema).parquet(src.toString),
        path, tmp("graft_uncat_out"), tmp("graft_uncat_ck")))
    calls.foreach { call =>
      val err = intercept[IllegalArgumentException](call())
      assert(err.getMessage.contains("registerBucketedIndex"),
        s"the refusal must name the recovery call, got: ${err.getMessage}")
    }
    assert(graft.core.CacheRegistry.size == registered,
      "a refused probe must not shingle the batch first")
  }

  test("appendIndex leaves no cached frame behind") {
    import spark.implicits._
    val path = tmp("graft_appendcache_spec")
    NearDup.writeIndex(docsDf, path)
    graft.core.CacheRegistry.releaseAll()
    val registered = graft.core.CacheRegistry.size
    val persisted = spark.sparkContext.getPersistentRDDs.size
    (0 until 5).foreach { b =>
      NearDup.appendIndex(Seq((3000L + b,
        (1 to 25).map(j => s"ac${j}b$b").mkString(" ")))
        .toDF("doc_id", "text"), path)
    }
    assert(graft.core.CacheRegistry.size == registered,
      "appendIndex must not register its shingle cache")
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "appendIndex must unpersist its shingle cache")
  }

  test("compactIndex: file count drops, probe output bit-identical") {
    val path = tmp("graft_compact_spec")
    NearDup.writeIndex(docsDf, path)
    // simulate many daily appends: each is a partition-local file add
    (0 until 6).foreach { b =>
      import spark.implicits._
      val nd = (0 until 3).map(i =>
        (1000L + b * 10 + i,
          (1 to 25).map(j => s"ap${j}b${b}i$i").mkString(" ")))
        .toDF("doc_id", "text")
      NearDup.appendIndex(nd, path)
      graft.core.CacheRegistry.releaseAll()
    }
    val before = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    graft.core.CacheRegistry.releaseAll()
    val filesBefore = dataFiles(path)
    NearDup.compactIndex(spark, path, targetFiles = 2)
    val filesAfter = dataFiles(path)
    assert(filesAfter < filesBefore,
      s"compaction did not shrink the file count " +
        s"($filesBefore -> $filesAfter)")
    assert(filesAfter <= 4, s"expected <= 2 files per table, got " +
      s"$filesAfter total")
    val after = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    assert(after == before, "probe output changed across compaction")
    graft.core.CacheRegistry.releaseAll()
  }

  test("tombstones: logical delete now, physical at compaction") {
    import spark.implicits._
    val path = tmp("graft_tomb_spec")
    NearDup.writeIndex(docsDf, path)
    val before = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    graft.core.CacheRegistry.releaseAll()
    // incoming doc 100 (family 0) matches some corpus doc in family
    // 0 (doc_ids congruent 0 mod 8); tombstone that family entirely
    val fam0 = docsDf.filter(pmod(col("doc_id"), lit(8)) === 0)
      .select("doc_id")
    val victim = before.find(r => r._1 == 100L).get
    assert(victim._2 && victim._3 % 8 == 0,
      s"fixture: doc 100 must match a family-0 corpus doc, got $victim")
    NearDup.removeFromIndex(fam0, path)
    val after = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    graft.core.CacheRegistry.releaseAll()
    assert(!after.find(_._1 == 100L).get._2,
      "tombstoned family must stop matching (logical delete)")
    // row-by-row contract: a probe that matched family 0 is now
    // unmatched; every other row is untouched
    before.zip(after).foreach { case (b, a) =>
      assert(b._1 == a._1)
      if (b._2 && b._3 % 8 == 0)
        assert(!a._2 && a._3 == -1L,
          s"probe ${b._1}: family-0 match must disappear, got $a")
      else
        assert(a == b,
          s"probe ${b._1}: non-family-0 row perturbed: $b -> $a")
    }
    // compaction applies the tombstones physically and clears them
    NearDup.compactIndex(spark, path, targetFiles = 2)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction must clear the tombstone dir")
    val sigIds = spark.read.parquet(s"$path/signatures")
      .select("doc_id").as[Long].collect().toSet
    assert(!sigIds.exists(_ % 8 == 0),
      "compaction must physically remove tombstoned signatures")
    val afterCompact = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    assert(afterCompact == after,
      "probe output changed when tombstones went physical")
    graft.core.CacheRegistry.releaseAll()
  }

  test("id-reuse contract: tombstoned id re-append fails loudly; " +
      "compact-then-reappend is the upsert recipe") {
    import spark.implicits._
    val path = tmp("graft_reuse_spec")
    NearDup.writeIndex(docsDf, path)
    NearDup.removeFromIndex(Seq(3L, 5L).toDF("doc_id"), path)
    // re-appending a live-tombstoned id must not silently vanish —
    // the guard rejects it with the recovery recipe in the message
    val newDoc = Seq((3L, (1 to 25).map(j => s"upd${j}v2").mkString(" ")))
      .toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      NearDup.appendIndex(newDoc, path)
    }
    assert(err.getMessage.contains("tombstoned") &&
      err.getMessage.contains("compactIndex"),
      s"guard must name the hazard and the recipe, got: ${err.getMessage}")
    // ids NOT in the tombstone set still append fine alongside live
    // tombstones (the guard is per-id, not a write freeze)
    NearDup.appendIndex(
      Seq((900L, (1 to 25).map(j => s"ok${j}w").mkString(" ")))
        .toDF("doc_id", "text"), path)
    graft.core.CacheRegistry.releaseAll()
    // the documented upsert: compact (applies + clears tombstones),
    // THEN re-append the corrected doc under the same id
    NearDup.compactIndex(spark, path, targetFiles = 2)
    NearDup.appendIndex(newDoc, path)
    graft.core.CacheRegistry.releaseAll()
    // the re-added version is live: a near-dup of the NEW text
    // probes to doc 3
    val probe = Seq((5000L, (1 to 25).map(j => s"upd${j}v2")
      .mkString(" ") + " tail")).toDF("doc_id", "text")
    val hit = collected(NearDup.matchesAgainstIndex(spark, path, probe))
    assert(hit.head._2 && hit.head._3 == 3L,
      s"re-appended doc 3 must be probe-visible after compaction, got $hit")
    graft.core.CacheRegistry.releaseAll()
    // same guard on the bucketed append path
    val bpath = tmp("graft_reuse_b_spec")
    NearDup.writeIndex(docsDf, bpath,
      IndexLayout.Bucketed("graft_spec_reuse_b"))
    NearDup.removeFromIndex(Seq(7L).toDF("doc_id"), bpath)
    intercept[IllegalArgumentException] {
      NearDup.appendIndex(
        Seq((7L, "x y z")).toDF("doc_id", "text"), bpath)
    }
    graft.core.CacheRegistry.releaseAll()
  }

  test("writeIndexBucketed full rebuild clears stale tombstones") {
    import spark.implicits._
    val path = tmp("graft_bstale_spec")
    val table = "graft_spec_bstale"
    NearDup.writeIndex(docsDf, path, IndexLayout.Bucketed(table))
    // tombstone family 0, then REBUILD the index at the same path:
    // the rebuild is a clean slate — the old tombstones must not
    // silently delete freshly indexed docs
    NearDup.removeFromIndex(
      docsDf.filter(pmod(col("doc_id"), lit(8)) === 0)
        .select("doc_id"), path)
    NearDup.writeIndex(docsDf, path, IndexLayout.Bucketed(table))
    val after = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    val direct = collected(NearDup.matchesAgainst(docsDf, incomingDf))
    assert(after == direct,
      "a full bucketed rebuild must not inherit the previous life's " +
        "tombstones")
    graft.core.CacheRegistry.releaseAll()
  }

  test("AnnIndex id-reuse contract mirrors the LSH index") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 6).map(d => (((seed * 37 + d * 19) % 15) - 7).toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val path = tmp("graft_annr_spec")
    AnnIndex.write(base, path)
    AnnIndex.remove(Seq(4L).toDF("vec_id"), path)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.append(Seq((4L, vec(104))).toDF("vec_id", "embedding"),
        path)
    }
    assert(err.getMessage.contains("tombstoned"),
      s"ANN guard must name the hazard, got: ${err.getMessage}")
    // fresh ids still append; compact-then-reappend works
    AnnIndex.append(Seq((500L, vec(105))).toDF("vec_id", "embedding"),
      path)
    AnnIndex.compact(spark, path)
    AnnIndex.append(Seq((4L, vec(104))).toDF("vec_id", "embedding"),
      path)
    val ids = spark.read.parquet(path).select("vec_id")
      .as[Long].collect().toSet
    assert(ids.contains(4L) && ids.contains(500L),
      "compact-then-reappend must make the reused id live again")
  }

  test("AnnIndex.compact: file count drops, search output identical") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 6).map(d => (((seed * 31 + d * 17) % 13) - 6).toFloat)
    val base = (0 until 30).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val path = tmp("graft_annc_spec")
    AnnIndex.write(base, path)
    (0 until 5).foreach { b =>
      AnnIndex.append((0 until 4).map(i =>
        (500L + b * 10 + i, vec(100 + b * 7 + i)))
        .toDF("vec_id", "embedding"), path)
    }
    val qs = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def snap(): Seq[(Long, Long, Int, Int, Double)] =
      AnnIndex.topK(spark, path, qs, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
          r.getDouble(4))).sortBy(t => (t._1, t._4)).toSeq
    val before = snap()
    assert(before.nonEmpty)
    val filesBefore = dataFiles(path)
    AnnIndex.compact(spark, path)
    val filesAfter = dataFiles(path)
    assert(filesAfter < filesBefore,
      s"ANN compaction did not shrink files ($filesBefore -> $filesAfter)")
    assert(snap() == before, "search output changed across compaction")
  }

  test("AnnIndex.remove: tombstoned vector vacates its top-k slot") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 6).map(d => (((seed * 29 + d * 13) % 11) - 5).toFloat)
    val base = (0 until 40).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val path = tmp("graft_annt_spec")
    AnnIndex.write(base, path)
    val qs = base.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def snap(): Seq[(Long, Long, Int)] =
      AnnIndex.topK(spark, path, qs, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val before = snap()
    // tombstone every vector that currently holds a rank-1 slot
    val rank1 = before.filter(_._3 == 1).map(_._2).distinct
    AnnIndex.remove(rank1.toDF("vec_id"), path)
    val after = snap()
    assert(!after.exists(r => rank1.contains(r._2)),
      "removed vectors may not appear in any result")
    // ranks re-flow: each query still returns results (the corpus
    // has other same-bucket members) and rank 1 is now the previous
    // runner-up wherever one existed
    before.groupBy(_._1).foreach { case (q, rows) =>
      val prev2 = rows.find(_._3 == 2).map(_._2)
      val now1 = after.filter(_._1 == q).find(_._3 == 1).map(_._2)
      prev2.filterNot(rank1.contains).foreach { p =>
        assert(now1.contains(p),
          s"query $q: previous rank-2 $p must take rank 1, got $now1")
      }
    }
    // compaction applies physically, clears tombstones, search stable
    AnnIndex.compact(spark, path)
    assert(!new java.io.File(s"${path}__tombstones").exists(),
      "ANN compaction must clear the tombstone dir")
    val ids = spark.read.parquet(path).select("vec_id")
      .as[Long].collect().toSet
    assert(rank1.forall(id => !ids.contains(id)),
      "ANN compaction must physically drop tombstoned vectors")
    assert(snap() == after,
      "search output changed when ANN tombstones went physical")
  }

  test("interrupted-swap guard: mid-swap states refuse writes, " +
      "completed swaps self-heal") {
    import spark.implicits._
    val path = tmp("graft_swap_spec")
    NearDup.writeIndex(docsDf, path)
    def mkdir(p: String): Unit =
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    // mid-swap state (__old AND __compact): both appends must refuse
    // loudly instead of recreating the live dir with one batch
    mkdir(s"$path/signatures__old")
    mkdir(s"$path/signatures__compact")
    val nd = Seq((700L, "a b c d e f g h i j k l m n o p"))
      .toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      NearDup.appendIndex(nd, path)
    }
    assert(err.getMessage.contains("mid-swap"),
      s"guard must name the hazard, got: ${err.getMessage}")
    intercept[IllegalArgumentException] {
      NearDup.compactIndex(spark, path)
    }
    graft.core.CacheRegistry.releaseAll()
    // completed-swap state (__old only): the lost trailing cleanup
    // finishes and the write proceeds
    new java.io.File(s"$path/signatures__compact").delete()
    NearDup.appendIndex(nd, path)
    graft.core.CacheRegistry.releaseAll()
    assert(!new java.io.File(s"$path/signatures__old").exists(),
      "a completed swap's leftover __old must be cleaned up")
    // same guard on the ANN side
    def vecs(n: Int): org.apache.spark.sql.DataFrame =
      (0 until n).map(i => (i.toLong,
        (0 until 4).map(d => ((i * 7 + d) % 5 - 2).toFloat)))
        .toDF("vec_id", "embedding")
    val apath = tmp("graft_swap_ann_spec")
    AnnIndex.write(vecs(8), apath)
    mkdir(s"${apath}__old"); mkdir(s"${apath}__compact")
    intercept[IllegalArgumentException] {
      AnnIndex.append(vecs(2), apath)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.compact(spark, apath)
    }
    new java.io.File(s"${apath}__compact").delete()
    AnnIndex.append(vecs(2), apath)
    assert(!new java.io.File(s"${apath}__old").exists())
  }

  test("orphaned bucketed index: append refuses loudly, " +
      "registerBucketedIndex restores the catalog entry") {
    import spark.implicits._
    val path = tmp("graft_orphan_spec")
    val table = "graft_spec_orphan"
    NearDup.writeIndex(docsDf, path, IndexLayout.Bucketed(table))
    val direct = collected(NearDup.matchesAgainst(docsDf, incomingDf))
    graft.core.CacheRegistry.releaseAll()
    // simulate the catalog-loss states (a NEW session's in-memory
    // catalog, a manual DROP, or the old compaction's crash window):
    // the external data survives, the entry is gone
    spark.sql(s"DROP TABLE $table")
    val nd = Seq((900L, (1 to 25).map(j => s"orph${j}w").mkString(" ")))
      .toDF("doc_id", "text")
    // appending now would silently CREATE a fresh table and fork
    // probes away from the surviving index — the guard must refuse
    // and name the recovery call
    val err = intercept[IllegalArgumentException] {
      NearDup.appendIndex(nd, path)
    }
    assert(err.getMessage.contains("registerBucketedIndex"),
      s"guard must name the recovery recipe, got: ${err.getMessage}")
    graft.core.CacheRegistry.releaseAll()
    // the same state must not slip through the compaction path either
    val cerr = intercept[IllegalArgumentException] {
      NearDup.compactIndex(spark, path)
    }
    assert(cerr.getMessage.contains("registerBucketedIndex"))
    // one-call recovery: re-register over the surviving external
    // files (bucket count from the durable path marker), probe output
    // identical, and the append contract is back
    NearDup.registerBucketedIndex(spark, path)
    val restored = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    assert(restored == direct,
      "re-registered index diverged from the pre-loss output")
    graft.core.CacheRegistry.releaseAll()
    NearDup.appendIndex(nd, path)
    graft.core.CacheRegistry.releaseAll()
    val probe = Seq((5001L, (1 to 25).map(j => s"orph${j}w")
      .mkString(" ") + " tail")).toDF("doc_id", "text")
    val hit = collected(NearDup.matchesAgainstIndex(spark, path, probe))
    assert(hit.head._2 && hit.head._3 == 900L,
      s"post-recovery append must be probe-visible, got $hit")
    graft.core.CacheRegistry.releaseAll()
  }

  test("full rebuilds supersede interrupted-swap leftovers") {
    import spark.implicits._
    def mkdir(p: String): Unit =
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
    // LSH path layout: a previously mid-swap index is rebuilt — the
    // rebuild is the new authority, so the stale __old/__compact pair
    // must not false-refuse the very next append
    val path = tmp("graft_superc_spec")
    NearDup.writeIndex(docsDf, path)
    mkdir(s"$path/signatures__old"); mkdir(s"$path/signatures__compact")
    mkdir(s"$path/bands__old"); mkdir(s"$path/bands__compact")
    NearDup.writeIndex(docsDf, path)
    NearDup.appendIndex(
      Seq((901L, (1 to 25).map(j => s"sup${j}w").mkString(" ")))
        .toDF("doc_id", "text"), path)
    graft.core.CacheRegistry.releaseAll()
    // bucketed layout
    val bpath = tmp("graft_superb_spec")
    val table = "graft_spec_superb"
    NearDup.writeIndex(docsDf, bpath, IndexLayout.Bucketed(table))
    mkdir(s"$bpath/signatures__old"); mkdir(s"$bpath/signatures__compact")
    mkdir(s"$bpath/bands_table__old"); mkdir(s"$bpath/bands_table__compact")
    NearDup.writeIndex(docsDf, bpath, IndexLayout.Bucketed(table))
    NearDup.appendIndex(
      Seq((902L, (1 to 25).map(j => s"supb${j}w").mkString(" ")))
        .toDF("doc_id", "text"), bpath)
    graft.core.CacheRegistry.releaseAll()
    // ANN index
    def vec(seed: Int): Seq[Float] =
      (0 until 4).map(d => (((seed * 11 + d * 5) % 9) - 4).toFloat)
    val apath = tmp("graft_supera_spec")
    AnnIndex.write((0 until 8).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), apath)
    mkdir(s"${apath}__old"); mkdir(s"${apath}__compact")
    AnnIndex.write((0 until 8).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), apath)
    AnnIndex.append(Seq((20L, vec(20))).toDF("vec_id", "embedding"),
      apath)
    val ids = spark.read.parquet(apath).select("vec_id")
      .as[Long].collect().toSet
    assert(ids == (0L until 8L).toSet + 20L,
      s"rebuild-then-append must serve the rebuilt index, got $ids")
  }

  test("AnnIndex.write rebuild over a live index swaps, " +
      "never deletes first") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 4).map(d => (((seed * 23 + d * 3) % 9) - 4).toFloat)
    val path = tmp("graft_annswap_spec")
    AnnIndex.write((0 until 10).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), path)
    // second life: entirely different vectors — the swap must serve
    // exactly the new set (and the swap protocol leaves no residue)
    AnnIndex.write((100 until 105).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), path)
    val ids = spark.read.parquet(path).select("vec_id")
      .as[Long].collect().toSet
    assert(ids == (100L until 105L).toSet,
      s"rebuild must serve only the new corpus, got $ids")
    assert(!new java.io.File(s"${path}__old").exists() &&
      !new java.io.File(s"${path}__compact").exists(),
      "a completed rebuild must leave no swap residue")
  }

  test("ANN compaction survives empty and fully-tombstoned indexes") {
    import spark.implicits._
    // empty bootstrap (zero-row partitioned write has no data files):
    // compaction must be a no-op, not a schema-inference crash — the
    // state a compactEvery cadence hits on a young stream
    val path = tmp("graft_annz_spec")
    AnnIndex.write(Seq.empty[(Long, Seq[Float])]
      .toDF("vec_id", "embedding"), path)
    AnnIndex.compact(spark, path)
    // fully-tombstoned: applying the tombstones physically would
    // leave a file-less (unreadable) dir, so the compaction keeps
    // the logical-delete state — index stays readable, rows stay
    // hidden, tombstones stay live
    def vec(seed: Int): Seq[Float] =
      (0 until 4).map(d => (((seed * 13 + d * 7) % 9) - 4).toFloat)
    val base = (0 until 6).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    AnnIndex.write(base, path)
    AnnIndex.remove(base.select("vec_id"), path)
    AnnIndex.compact(spark, path)
    val qs = Seq((100L, vec(2))).toDF("query_id", "qv")
    assert(AnnIndex.topK(spark, path, qs, k = 3).count() == 0,
      "a fully-tombstoned index must serve zero results, not crash")
    assert(new java.io.File(s"${path}__tombstones").exists(),
      "tombstones must stay live when the rewrite would empty the index")
    // new data arrives: the next compaction applies everything
    AnnIndex.append((10 until 14).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), path)
    AnnIndex.compact(spark, path)
    assert(!new java.io.File(s"${path}__tombstones").exists(),
      "a data-bearing compaction applies and clears the tombstones")
    val ids = spark.read.parquet(path).select("vec_id")
      .as[Long].collect().toSet
    assert(ids == Set(10L, 11L, 12L, 13L),
      s"only the post-takedown vectors may remain, got $ids")
  }

  test("AnnIndex.write full rebuild clears stale buckets under " +
      "dynamic partition overwrite") {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      val path = tmp("graft_anndyn_spec")
      // first life: vectors whose argmax lands in buckets 1 and 2
      AnnIndex.write(Seq(
        (1L, Seq(5.0f, 0.1f, 0.1f)), (2L, Seq(0.1f, 5.0f, 0.1f)))
        .toDF("vec_id", "embedding"), path)
      // rebuild touches ONLY bucket 1: dynamic overwrite alone would
      // leave the old bucket-2 vector serving forever
      AnnIndex.write(Seq((3L, Seq(5.0f, 0.2f, 0.1f)))
        .toDF("vec_id", "embedding"), path)
      val ids = spark.read.parquet(path).select("vec_id")
        .as[Long].collect().toSet
      assert(ids == Set(3L),
        s"a full rebuild must not inherit stale buckets, got $ids")
    } finally {
      prev match {
        case Some(v) => spark.conf
          .set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf
          .unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("bucketed compaction preserves a non-BIGINT id schema") {
    import spark.implicits._
    val path = tmp("graft_intid_spec")
    val table = "graft_spec_intid"
    val intDocs = docsDf.select(col("doc_id").cast("int").as("doc_id"),
      col("text"))
    NearDup.writeIndex(intDocs, path, IndexLayout.Bucketed(table))
    NearDup.compactIndex(spark, path)
    // the re-registered table must still scan (a hardcoded BIGINT
    // corpus_id would throw a parquet int32->bigint conversion error
    // on the very next probe)
    val probed = NearDup.matchesAgainstIndex(spark, path,
      incomingDf
        .select(col("doc_id").cast("int").as("doc_id"), col("text")))
      .collect()
    assert(probed.nonEmpty && probed.exists(_.getBoolean(1)),
      "probe of an int-id bucketed index must work across compaction")
    graft.core.CacheRegistry.releaseAll()
  }

  test("compactIndex collapses the exact-duplicate replay artifact") {
    import spark.implicits._
    val path = tmp("graft_dupcollapse_spec")
    NearDup.writeIndex(docsDf, path)
    // simulate the at-least-once artifact: a crashed batch re-appends
    // its signature rows (duplicate both tables to exercise both)
    Seq("signatures", "bands").foreach { sub =>
      val once = spark.read.parquet(s"$path/$sub")
      once.write.mode("append").parquet(s"$path/$sub")
    }
    val sigRows = spark.read.parquet(s"$path/signatures").count()
    NearDup.compactIndex(spark, path, targetFiles = 2)
    assert(spark.read.parquet(s"$path/signatures").count()
      == sigRows / 2,
      "compaction must collapse exact duplicate signature rows")
    assert(spark.read.parquet(s"$path/bands")
      .groupBy("corpus_id", "band", "bkey").count()
      .filter(col("count") > 1).count() == 0,
      "compaction must collapse exact duplicate band rows")
    // probe still healthy after the collapse
    val out = collected(
      NearDup.matchesAgainstIndex(spark, path, incomingDf))
    assert(out.nonEmpty && out.exists(_._2))
    graft.core.CacheRegistry.releaseAll()
  }

  test("compactionAdvice: thresholds trip strictly above, clear " +
      "after compaction, on both indexes") {
    import spark.implicits._
    val path = tmp("graft_advice_spec")
    NearDup.writeIndex(docsDf, path)
    (0 until 3).foreach { b =>
      NearDup.appendIndex(
        Seq((1100L + b, (1 to 25).map(j => s"adv${j}b$b").mkString(" ")))
          .toDF("doc_id", "text"), path)
      graft.core.CacheRegistry.releaseAll()
    }
    NearDup.removeFromIndex(Seq(3L, 5L).toDF("doc_id"), path)
    val a0 = NearDup.compactionAdvice(spark, path)
    assert(a0.dataFiles > 0 && a0.tombstoneRows == 2 && !a0.compactNow,
      s"debt below default thresholds must advise ok, got $a0")
    // boundary semantics: a counter AT its threshold is ok, one
    // ABOVE trips — both counters, independently
    val atFiles = Maintenance.Thresholds(maxDataFiles = a0.dataFiles)
    assert(!NearDup.compactionAdvice(spark, path, atFiles).compactNow,
      "files == maxDataFiles must not trip")
    val aboveFiles = NearDup.compactionAdvice(spark, path,
      Maintenance.Thresholds(maxDataFiles = a0.dataFiles - 1))
    assert(aboveFiles.compactNow &&
      aboveFiles.reasons.exists(_.contains("data files")),
      s"files > maxDataFiles must trip and name the reason, got $aboveFiles")
    assert(!NearDup.compactionAdvice(spark, path,
      Maintenance.Thresholds(maxTombstoneRows = 2)).compactNow,
      "tombstones == max must not trip")
    val aboveTombs = NearDup.compactionAdvice(spark, path,
      Maintenance.Thresholds(maxTombstoneRows = 1))
    assert(aboveTombs.compactNow &&
      aboveTombs.reasons.exists(_.contains("tombstone")),
      s"tombstones > max must trip, got $aboveTombs")
    // acting on the advice clears the debt: same thresholds now ok
    NearDup.compactIndex(spark, path, targetFiles = 1)
    val after = NearDup.compactionAdvice(spark, path,
      Maintenance.Thresholds(maxDataFiles = a0.dataFiles - 1,
        maxTombstoneRows = 1))
    assert(!after.compactNow && after.tombstoneRows == 0 &&
      after.dataFiles < a0.dataFiles,
      s"compaction must clear the advised debt, got $after")
    graft.core.CacheRegistry.releaseAll()
    // ANN sibling: same boundary, same clear
    def vec(seed: Int): Seq[Float] =
      (0 until 4).map(d => (((seed * 19 + d * 7) % 9) - 4).toFloat)
    val apath = tmp("graft_advice_ann_spec")
    AnnIndex.write((0 until 10).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), apath)
    (0 until 3).foreach { b =>
      AnnIndex.append(Seq((100L + b, vec(50 + b)))
        .toDF("vec_id", "embedding"), apath)
    }
    AnnIndex.remove(Seq(2L).toDF("vec_id"), apath)
    val b0 = AnnIndex.compactionAdvice(spark, apath)
    assert(b0.dataFiles > 0 && b0.tombstoneRows == 1 && !b0.compactNow)
    assert(!AnnIndex.compactionAdvice(spark, apath,
      Maintenance.Thresholds(maxDataFiles = b0.dataFiles)).compactNow)
    assert(AnnIndex.compactionAdvice(spark, apath,
      Maintenance.Thresholds(maxDataFiles = b0.dataFiles - 1))
      .compactNow)
    AnnIndex.compact(spark, apath)
    val b1 = AnnIndex.compactionAdvice(spark, apath,
      Maintenance.Thresholds(maxDataFiles = b0.dataFiles - 1))
    assert(!b1.compactNow && b1.tombstoneRows == 0)
  }

  test("search excludeSelf=false keeps a coincidental id collision") {
    import spark.implicits._
    val corpus = Seq((42L, Seq(1.0f, 0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), PipelineOps.norm(col("embedding")).as("nrm"),
        col("embedding"),
        PipelineOps.argmaxBucket(col("embedding")).as("bucket"))
    // external query space: query 42 is NOT corpus vector 42
    val q = Seq((42L, Seq(0.9f, 0.3f, 0.1f))).toDF("query_id", "qv")
    assert(AnnIndex.search(corpus, q, k = 1).count() == 0,
      "default corpus-member semantics excludes the id collision")
    val kept = AnnIndex.search(corpus, q, k = 1, excludeSelf = false)
      .select("vec_id").as[Long].collect().toSeq
    assert(kept == Seq(42L),
      s"excludeSelf=false must keep the valid neighbor, got $kept")
  }

  test("multi-probe: probe 1 is argmaxBucket; planted neighbor needs probe 2") {
    import spark.implicits._
    // topNBuckets prefix property on assorted vectors (incl. ties:
    // first-max index must win, matching argmaxBucket)
    val vs = Seq(
      Seq(0.5f, -2.0f, 1.0f, 0.25f),
      Seq(1.0f, 1.0f, -1.0f, 0.0f),
      Seq(-3.0f, 2.0f, 3.0f, 1.0f),
      Seq(0.0f, 0.0f, 0.0f, 0.1f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val chk = vs.select(
      PipelineOps.argmaxBucket(col("embedding")).as("am"),
      PipelineOps.topNBuckets(col("embedding"), 2).as("tb"),
      PipelineOps.topNBuckets(col("embedding"), 4).as("all4"))
      .collect()
    chk.foreach { r =>
      assert(r.getSeq[Int](1).head == r.getInt(0),
        "topNBuckets(1) must equal argmaxBucket")
      assert(r.getSeq[Int](2).sorted == Seq(1, 2, 3, 4),
        "topNBuckets(dim) must be a permutation of all buckets")
    }
    // planted recall boundary: the query's argmax is dim 2, its true
    // nearest neighbor's argmax is dim 1 (second-strongest for the
    // query) — single-probe misses it, 2-probe must find it at rank 1
    val corpus = Seq(
      (1L, Seq(1.0f, 0.9f, 0.0f, 0.0f)),  // neighbor, bucket 1
      (2L, Seq(0.0f, 1.0f, 0.3f, 0.0f)),  // bucket 2, lower cos
      (3L, Seq(0.1f, 1.0f, 0.0f, 0.2f)),  // bucket 2
      (4L, Seq(0.0f, 0.0f, 0.0f, 1.0f)))  // elsewhere
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), PipelineOps.norm(col("embedding")).as("nrm"),
        col("embedding"),
        PipelineOps.argmaxBucket(col("embedding")).as("bucket"))
    val q = Seq((10L, Seq(0.9f, 1.0f, 0.0f, 0.0f)))
      .toDF("query_id", "qv")
    val single = AnnIndex.search(corpus, q, k = 2)
      .select("vec_id").as[Long].collect().toSet
    val multi = AnnIndex.search(corpus, q, k = 2, nProbes = 2)
      .filter(col("rank") === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(!single.contains(1L),
      "fixture broken: single-probe should miss the cross-bucket neighbor")
    assert(multi == Set(1L),
      s"2-probe search must rank the planted neighbor first, got $multi")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Dev tool: adversarial stride-miss soak for
  * [[graft.pipeline.NearDup.matchesAgainst]]'s size-stratified
  * over-cap keep (round-9 verdict item 4).
  *
  * The miss mechanism under test: an over-cap (band, bkey) bucket
  * keeps every ceil(bn/cap)-th member by size rank; a probe whose
  * ONLY size-qualifying partner is stride-skipped in EVERY bucket it
  * shares with the probe loses the match. The fixture constructs the
  * worst case honestly:
  *
  *  - H: a 40-word hot text; K verbatim copies populate every band
  *    bucket H hashes to (all copies share all 8 band keys).
  *  - D (the "band-invisible" sparse qualifier): H plus a GREEDILY
  *    SEARCHED filler suffix — each appended word adds one trailing
  *    shingle, and a candidate word is accepted only if that shingle
  *    displaces NONE of the 16 band-row minhash minima, so D's 8
  *    band keys all stay equal to H's. D therefore appears ONLY in
  *    the hot over-cap buckets, ranked last by size, and the filler
  *    grows D past 2x H's shingle count so every H copy fails the
  *    probe's size-ratio prefilter: D is the unique qualifier.
  *  - P: D plus a filler suffix found the same way (so P's band keys
  *    also all equal H's — every probe key lands in the hot bucket
  *    and nowhere else). jaccard(P, D) ~ 0.98; jaccard(P, H) ~ 0.45
  *    with the size prefilter excluding H outright.
  *
  * For K = 8..13 (sweeping D's size rank through every stride phase
  * at cap 4) it reports: whether the pre-round-9 stride-only rule
  * keeps D (analytic: rank K+1 in a bucket of K+1, kept iff
  * K % ceil((K+1)/cap) == 0), whether the shipped keep rule (round
  * 10: stride + first/last of each power-of-two size window) finds
  * the match end-to-end, and the uncapped control. Phase 2 re-runs
  * round 9's mid-gap construction (now closed: a window-isolated
  * qualifier is pinned by its window endpoints); phase 3 constructs
  * the remaining interior-window residual and measures its
  * stride-luck recall honestly.
  *
  * Usage: runMain graft.StrideSoak
  */
object StrideSoak {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    import spark.implicits._

    def sigOf(texts: Seq[String]): Seq[(Seq[String], Int)] = {
      texts.zipWithIndex.toDF("text", "idx")
        .withColumn("sig",
          graft.functions.GraftFunctions.shingleSig(col("text")))
        .select(col("idx"), col("sig.bks").as("bks"),
          size(col("sig.sh")).as("nsh"))
        .orderBy("idx")
        .collect()
        .map(r => (r.getSeq[String](1).toSeq, r.getInt(2)))
        .toSeq
    }

    val hText = (1 to 40).map(i => s"h$i").mkString(" ")
    val Seq((hBks, hNsh)) = sigOf(Seq(hText))
    println(s"[stride] H: $hNsh shingles, ${hBks.size} band keys")

    // greedy band-invisible growth: append words whose trailing
    // shingle displaces no band-row minimum IN THE GIVEN BANDS (all
    // bands by default — fully invisible), until nsh(base+filler)
    // exceeds `targetNsh`. Phase 4 passes a strict subset: the doc
    // then sits in H's hot bucket only for those bands, its other
    // band keys drifting freely — a PARTIAL adversary.
    def growInvisible(base: String, targetNsh: Int, prefix: String,
                      bandsKept: Seq[Int] = hBks.indices)
        : (String, Int) = {
      var text = base
      var n = 0
      var cand = 0
      var rounds = 0
      while (n < targetNsh && rounds < 400) {
        rounds += 1
        val words = (cand until cand + 24).map(j => s"$prefix$j")
        cand += 24
        val sigs = sigOf(words.map(w => s"$text $w"))
        val hit = sigs.zip(words).find { case ((bks, _), _) =>
          bandsKept.forall(b => bks(b) == hBks(b))
        }
        hit match {
          case Some(((_, nsh), w)) => text = s"$text $w"; n = nsh
          case None => ()
        }
      }
      require(n >= targetNsh,
        s"greedy search stalled at $n shingles (target $targetNsh)")
      (text, n)
    }

    val (dText, dNsh) = growInvisible(hText, (2.2 * hNsh).toInt, "zf")
    println(s"[stride] D: $dNsh shingles (${
      f"${dNsh.toDouble / hNsh}%.2f"}x H), band keys == H's: ${
      sigOf(Seq(dText)).head._1 == hBks}")
    val (pText, pNsh) = growInvisible(dText, dNsh + 2, "yq")
    println(s"[stride] P: $pNsh shingles, band keys == H's: ${
      sigOf(Seq(pText)).head._1 == hBks}; jaccard(P,D)=${
      f"${dNsh.toDouble / pNsh}%.3f"}, jaccard(P,H)=${
      f"${hNsh.toDouble / pNsh}%.3f"} (size prefilter at 0.5 excludes" +
      s" H: ${hNsh < 0.5 * pNsh})")

    val cap = 4
    var oldMisses = 0
    (8 to 13).foreach { k =>
      val corpus = ((1L to k.toLong).map(i => (i, hText)) :+
        (999L, dText)).toDF("doc_id", "text")
      val probe = Seq((5000L, pText)).toDF("doc_id", "text")
      val got = graft.pipeline.NearDup
        .matchesAgainst(corpus, probe, 0.5, bucketCap = cap)
        .collect().map(r => (r.getBoolean(1), r.getLong(2),
          r.getDouble(3))).head
      graft.core.CacheRegistry.releaseAll()
      val ctl = graft.pipeline.NearDup
        .matchesAgainst(corpus, probe, 0.5, bucketCap = 1 << 30)
        .collect().map(r => (r.getBoolean(1), r.getLong(2))).head
      graft.core.CacheRegistry.releaseAll()
      // pre-round-9 stride-only rule, analytically: D at rank K+1 of
      // bn = K+1, kept iff (rank-1) % ceil(bn/cap) == 0
      val stride = math.ceil((k + 1).toDouble / cap).toLong
      val oldKept = k.toLong % stride == 0
      if (!oldKept) oldMisses += 1
      println(f"[stride] K=$k%2d (bn=${k + 1}, stride=$stride): " +
        f"stride-only keeps D: $oldKept%-5s | size-window keep " +
        f"match: ${got._1}%-5s id=${got._2} j=${got._3}%.3f | " +
        f"uncapped: ${ctl._1} id=${ctl._2}")
      assert(got._1 && got._2 == 999L,
        s"size-window keep missed the planted qualifier at K=$k")
      assert(ctl._1 && ctl._2 == 999L, "uncapped control missed")
    }
    println(s"[stride] stride-only rule misses: $oldMisses/6 phases; " +
      "size-window keep: 0/6 (recall 1.0 in every phase)")

    // phase 2: the round-9 MIDDLE-GAP construction — D (2.2x H) an
    // interior SIZE RANK between the H mass and a band-invisible
    // 4.4x doc L (inside P's size-ratio window but failing the
    // jaccard verify, |H|/|P u L| ~ 0.18, so D stays the unique TRUE
    // match). Round 9's stride+keep-largest rule recovered D on only
    // its stride ranks (2/6). Round 10's size-window keep closes
    // this: win(H) = bitlen(~41) = 6, win(D) = bitlen(~90) = 7,
    // win(L) = bitlen(~172) = 8 — D is ALONE in its power-of-two
    // window, hence both window endpoints, hence always kept. Hard
    // assert: 6/6.
    val (lText, lNsh) = growInvisible(hText, (4.2 * hNsh).toInt, "wk")
    println(s"[stride] L: $lNsh shingles (${
      f"${lNsh.toDouble / hNsh}%.2f"}x H), band keys == H's: ${
      sigOf(Seq(lText)).head._1 == hBks}")
    var midHits = 0
    (8 to 13).foreach { k =>
      val corpus = ((1L to k.toLong).map(i => (i, hText)) :+
        (999L, dText) :+ (1500L, lText)).toDF("doc_id", "text")
      val probe = Seq((5000L, pText)).toDF("doc_id", "text")
      val got = graft.pipeline.NearDup
        .matchesAgainst(corpus, probe, 0.5, bucketCap = cap)
        .collect().map(r => (r.getBoolean(1), r.getLong(2))).head
      graft.core.CacheRegistry.releaseAll()
      // pre-round-10 stride-or-largest rule, analytically: D at rank
      // K+1 of bn = K+2 (L, rank K+2, is always kept, never verifies)
      val stride = math.ceil((k + 2).toDouble / cap).toLong
      val strideKeeps = k.toLong % stride == 0
      if (got._1) midHits += 1
      println(f"[stride] mid-gap K=$k%2d (bn=${k + 2}, " +
        f"stride=$stride): r9 rule keeps D: $strideKeeps%-5s | " +
        f"matched: ${got._1}%-5s id=${got._2}")
      assert(got._1 && got._2 == 999L,
        s"size-window keep missed the interior lone qualifier at K=$k")
    }
    println(s"[stride] mid-gap recall: $midHits/6 phases (round 9 " +
      "stride rule: 2/6) — a size-window-isolated qualifier is now " +
      "pinned by its window endpoints")

    // phase 3: the REMAINING residual, constructed and measured
    // honestly. The window-endpoint keep cannot help a qualifier
    // strictly interior to its OWN power-of-two window: plant two
    // band-invisible non-qualifiers J1 (~1.7x H) and J2 (~2.9x H) so
    // win(J1) = win(D) = win(J2) = 7 with J1 < D < J2 by size — both
    // window endpoints land on junk (J1/J2 fail the verify:
    // |H|/|P u J| < 0.5) and D survives only on its stride rank.
    // This is the documented bound: a miss now requires >= 2 other
    // band-invisible members inside the SAME factor-2 size window
    // bracketing the unique qualifier, in EVERY shared band bucket —
    // then recall is ~cap/bn, plus the other B-1 bands' coverage for
    // any naturally-banded (non-adversarial) corpus.
    val (j1Text, j1Nsh) = growInvisible(hText, (1.7 * hNsh).toInt, "ga")
    val (j2Text, j2Nsh) = growInvisible(hText, (2.9 * hNsh).toInt, "qb")
    println(s"[stride] J1: $j1Nsh shingles, J2: $j2Nsh shingles " +
      s"(window bitlen J1/D/J2: ${64 - java.lang.Long
        .numberOfLeadingZeros(j1Nsh)}/${64 - java.lang.Long
        .numberOfLeadingZeros(dNsh)}/${64 - java.lang.Long
        .numberOfLeadingZeros(j2Nsh)}; both junk band-invisible: ${
        sigOf(Seq(j1Text)).head._1 == hBks && sigOf(Seq(j2Text))
          .head._1 == hBks})")
    require(64 - java.lang.Long.numberOfLeadingZeros(j1Nsh) ==
      64 - java.lang.Long.numberOfLeadingZeros(dNsh) &&
      64 - java.lang.Long.numberOfLeadingZeros(j2Nsh) ==
        64 - java.lang.Long.numberOfLeadingZeros(dNsh),
      "fixture drift: J1/D/J2 must share one power-of-two window")
    var intHits = 0
    (8 to 13).foreach { k =>
      val corpus = ((1L to k.toLong).map(i => (i, hText)) :+
        (998L, j1Text) :+ (999L, dText) :+ (1501L, j2Text)).toDF(
        "doc_id", "text")
      val probe = Seq((5000L, pText)).toDF("doc_id", "text")
      val got = graft.pipeline.NearDup
        .matchesAgainst(corpus, probe, 0.5, bucketCap = cap)
        .collect().map(r => (r.getBoolean(1), r.getLong(2))).head
      graft.core.CacheRegistry.releaseAll()
      // D at rank K+2 of bn = K+3 (order H... J1 D J2): stride keep
      // is D's only survival path — window endpoints are J1 and J2
      val stride = math.ceil((k + 3).toDouble / cap).toLong
      val strideKeeps = (k + 1).toLong % stride == 0
      if (got._1) intHits += 1
      println(f"[stride] interior K=$k%2d (bn=${k + 3}, " +
        f"stride=$stride): stride keeps D: $strideKeeps%-5s | " +
        f"matched: ${got._1}%-5s id=${got._2}")
      assert(got._1 == strideKeeps && (!got._1 || got._2 == 999L),
        s"interior-window behavior diverged from the stride model " +
          s"at K=$k")
    }
    println(s"[stride] interior-window recall: $intHits/6 phases — " +
      "the accepted residual: a lone qualifier bracketed by >= 2 " +
      "band-invisible same-window members survives only on its " +
      "stride rank (see NearDup scaladoc)")

    // phase 4: the MULTI-BAND bound's testable prediction (round
    // 11). Phase 3's miss needs the bracketing construction in
    // EVERY band bucket the probe shares with D — its junk was
    // grown band-invisible in ALL 8 bands, the adversarial extreme.
    // The bound (NearDup keep-rule scaladoc): per shared band, D
    // survives with p >= cap/bn even when bracketed, and with p = 1
    // when that band's bucket is NOT bracketed (D is then its size
    // window's endpoint); a miss needs failure in all B bands at
    // once, so for a corpus whose bracketing docs land in band
    // buckets independently (distinct minhash rows per band),
    // P(miss) <= (1 - cap/bn)^B. The sharpest testable corollary:
    // ONE clean band is enough — junk grown invisible in only 7 of
    // 8 bands leaves D a window endpoint in the clean band's
    // bucket, so recall must return to 6/6 across the same stride
    // phases that missed 4/6 in phase 3. Hard-asserted below.
    val keepBands = hBks.indices.dropRight(1)
    val cleanBand = hBks.indices.last
    // the greedy growth only constrains the KEPT bands; the clean
    // band may still coincide with H's key by luck. This post-pass
    // appends ONE more word chosen to displace the clean band's
    // minhash minimum while preserving the kept bands — guaranteeing
    // the junk is genuinely absent from the clean band's hot bucket
    def forceDrift(text: String, prefix: String): (String, Int) = {
      val cur = sigOf(Seq(text)).head._1
      if (cur(cleanBand) != hBks(cleanBand)) {
        (text, sigOf(Seq(text)).head._2)
      } else {
        var cand = 0
        var found: Option[(String, Int)] = None
        while (found.isEmpty && cand < 2000) {
          val words = (cand until cand + 24).map(j => s"$prefix$j")
          cand += 24
          val sigs = sigOf(words.map(w => s"$text $w"))
          found = sigs.zip(words).collectFirst {
            case ((bks, nsh), w)
                if keepBands.forall(b => bks(b) == hBks(b)) &&
                  bks(cleanBand) != hBks(cleanBand) =>
              (s"$text $w", nsh)
          }
        }
        found.getOrElse(sys.error(
          s"forceDrift: no word displaces band $cleanBand's minimum"))
      }
    }
    val (j1pText, j1pNsh) = forceDrift(
      growInvisible(hText, (1.7 * hNsh).toInt, "gc", keepBands)._1, "ze")
    val (j2pText, j2pNsh) = forceDrift(
      growInvisible(hText, (2.9 * hNsh).toInt, "qd", keepBands)._1, "zg")
    val j1pBks = sigOf(Seq(j1pText)).head._1
    val j2pBks = sigOf(Seq(j2pText)).head._1
    println(s"[stride] partial junk J1'/J2': ${j1pNsh}/${j2pNsh} " +
      s"shingles; invisible in bands ${keepBands.mkString(",")}: ${
        keepBands.forall(b => j1pBks(b) == hBks(b) &&
          j2pBks(b) == hBks(b))}; band $cleanBand clean: ${
        j1pBks(cleanBand) != hBks(cleanBand) &&
          j2pBks(cleanBand) != hBks(cleanBand)}")
    require(64 - java.lang.Long.numberOfLeadingZeros(j1pNsh) ==
      64 - java.lang.Long.numberOfLeadingZeros(dNsh) &&
      64 - java.lang.Long.numberOfLeadingZeros(j2pNsh) ==
        64 - java.lang.Long.numberOfLeadingZeros(dNsh),
      "fixture drift: J1'/D/J2' must share one power-of-two window")
    require(j1pBks(cleanBand) != hBks(cleanBand) &&
      j2pBks(cleanBand) != hBks(cleanBand),
      "fixture drift: the last band must have drifted to be clean")
    var partialHits = 0
    (8 to 13).foreach { k =>
      val corpus = ((1L to k.toLong).map(i => (i, hText)) :+
        (998L, j1pText) :+ (999L, dText) :+ (1501L, j2pText)).toDF(
        "doc_id", "text")
      val probe = Seq((5000L, pText)).toDF("doc_id", "text")
      val got = graft.pipeline.NearDup
        .matchesAgainst(corpus, probe, 0.5, bucketCap = cap)
        .collect().map(r => (r.getBoolean(1), r.getLong(2))).head
      graft.core.CacheRegistry.releaseAll()
      if (got._1) partialHits += 1
      println(f"[stride] one-clean-band K=$k%2d: matched: " +
        f"${got._1}%-5s id=${got._2}")
      assert(got._1 && got._2 == 999L,
        s"one clean band must pin the qualifier (K=$k) — the " +
          "multi-band bound's prediction failed")
    }
    println(s"[stride] one-clean-band recall: $partialHits/6 — the " +
      "interior-window miss requires the bracketing in EVERY shared " +
      "band; a single unbracketed band restores recall 1.0, as the " +
      "multi-band bound predicts")
    spark.stop()
  }
}

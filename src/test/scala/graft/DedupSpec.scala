package graft

import graft.operators.Dedup

/** Dedup family: exactness, LSH recall vs the exact join, simhash sanity. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("h60 equals the conv(substring(md5)) reference and its driver twin") {
    // the reference is the pre-StaticInvoke composition the DuckDB
    // oracles mirror, built here from Spark builtins
    import graft.functions.PortableHash.{h60, h60String}
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val probe = Seq("", "a", "shingle token stream 42", "ü πß",
      (1 to 50).map(i => s"w$i").mkString(" ")).toDF("s")
    val got = probe.select(col("s"), h60(col("s")),
        conv(substring(md5(col("s").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 5)
    got.foreach { case (s, byteLevel, reference) =>
      assert(byteLevel == reference, s"h60 drifted from the md5-prefix reference on '$s'")
      assert(byteLevel == h60String(s), s"h60 drifted from h60String on '$s'")
    }
  }

  test("connected components: chains collapse to the min id across iterations") {
    // component {1,2,3,4} is a CHAIN (diameter 3 — forces >1 propagation
    // round), {10,11} a pair; labels converge to the minimum member.
    // driverMaxPairs = 0 skips the driver union-find, so the same
    // fixture also runs the distributed pointer-jumping loop
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    Seq(1L << 20, 0L).foreach { maxPairs =>
      val got = Dedup.connectedComponents(pairs, driverMaxPairs = maxPairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L), s"driverMaxPairs = $maxPairs")
    }
  }

  test("best-representative selection: winner is a member with the group's max quality") {
    val d = Tables.documents(spark, sf0001)
    val groups = Dedup.dedupGroups(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.operators.TextAnalysis.qualityScore(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    val best = Dedup.dedupGroupsBest(d).collect()
    assert(best.nonEmpty)
    assert(best.map(_.getLong(0)).toSet == groups.values.toSet) // one per group
    best.foreach { r =>
      val (rep, bestId, size, q) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val members = groups.collect { case (id, g) if g == rep => id }
      assert(members.toSet.contains(bestId), s"winner $bestId not in group $rep")
      assert(size == members.size)
      assert(q == members.map(quality).max, s"group $rep winner not max-quality")
      // ties resolve to the lowest id among the max-quality members
      assert(bestId == members.filter(m => quality(m) == q).min)
    }
  }

  test("cross-corpus check reports only new-vs-corpus near-dups, not same-side ones") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different content about spark engines and columnar stores here"
    val newDocs = docs(1L -> text, 2L -> text, 3L -> other)   // 1,2 dup EACH OTHER
    val corpus = docs(10L -> text, 11L -> "unrelated corpus text entirely elsewhere with many more words")
    val got = Dedup.dedupAgainst(newDocs, corpus, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // both copies of the planted text hit the corpus copy; the intra-batch
    // pair (1,2) and the non-dup 3 are NOT reported
    assert(got == Set((1L, 10L), (2L, 10L)))
  }

  test("leakage-safe split: groups move together, singletons keyed by own id") {
    import org.apache.spark.sql.functions.col
    val d = Tables.documents(spark, sf0001)
    val split = Dedup.leakageSafeSplit(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // total function over the corpus: every doc exactly once
    assert(split.length == d.count())
    assert(split.map(_._1).distinct.length == split.length)
    // no leakage: every member of a near-dup group carries the group's
    // key, hence the group's split — near-dups can never straddle
    val groups = Dedup.dedupGroups(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = split.map(s => s._1 -> s).toMap
    groups.foreach { case (doc, rep) =>
      assert(byDoc(doc)._2 == rep)
      assert(byDoc(doc)._3 == byDoc(rep)._3,
        s"doc $doc split differs from its representative $rep")
    }
    // singleton keys are the doc's own id; assignment matches the h60 rule
    split.filter(s => !groups.contains(s._1)).take(50).foreach { s =>
      assert(s._2 == s._1)
      val expect =
        if (graft.functions.PortableHash.h60String(s._2.toString) % 1000 < 100)
          "test" else "train"
      assert(s._3 == expect)
    }
    // both classes non-empty at this corpus size
    assert(split.map(_._3).distinct.sorted.toSeq == Seq("test", "train"))
  }

  test("exact dedup keeps lowest id per identical text") {
    val d = docs(1L -> "a b c", 5L -> "a b c", 3L -> "x y z")
    val got = Dedup.exact(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((1L, 2L), (3L, 1L)))
  }

  test("ngram jaccard finds planted near-dup and ignores unrelated docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w7", "q7") // ~93% shingle overlap
    val other = (100 to 130).map(i => s"z$i").mkString(" ")
    val got = Dedup.ngramJaccardPairs(docs(1L -> base, 2L -> nearDup, 3L -> other),
      threshold = 0.5).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val j = got.head.getDouble(2)
    assert(j > 0.6 && j < 1.0)
  }

  test("jaccardHistogram buckets exact micro Jaccard into deciles") {
    import spark.implicits._
    // (1,2): J = 5/5 = 1.0 → bucket 10; (3,4): J = 1/7 → bucket 1
    val overlap = Seq((1L, 2L, 5L, 5L, 5L), (3L, 4L, 1L, 4L, 4L))
      .toDF("id_a", "id_b", "n_common", "n_a", "n_b")
    val got = Dedup.jaccardHistogramFrom(overlap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 1L, 142857L), (10L, 1L, 1000000L)))
  }

  test("containment catches a subset doc that symmetric Jaccard misses") {
    // A = the first 30 words of B (100 words): c(A→B) = 1.0 while
    // J = |A|/|B| ≈ 0.29 — the quote/subset case containment exists for
    val big = (1 to 100).map(i => s"w$i").mkString(" ")
    val small = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> small, 2L -> big)
    val cont = Dedup.containmentPairs(d, threshold = 0.9).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getDouble(2) == 1.0, "small-in-big containment should be exact 1.0")
    assert(r.getDouble(3) < 0.5, "reverse containment stays low")
    assert(Dedup.ngramJaccardPairs(d, threshold = 0.8).collect().isEmpty,
      "Jaccard at 0.8 must miss the subset pair containment is for")
  }

  test("line dedup: duplicated blocks keep exactly one occurrence, text reassembles") {
    val d = Tables.documents(spark, sf0001)
    val got = Dedup.lineDedup(d).collect()
    assert(got.length == d.count())
    // keep-one semantics: Σ kept across the corpus == # distinct blocks
    val blocks = got.map(_.getAs[Long]("n_blocks")).sum
    val kept = got.map(_.getAs[Long]("n_kept")).sum
    assert(kept < blocks, "testdata's planted dups should drop some blocks")
    import org.apache.spark.sql.functions._
    val distinctBlocks = d
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, (size(split(text, ' ')) + 7) div 8 - 1)," +
          " i -> array_join(slice(split(text, ' '), i * 8 + 1, 8), ' '))"))
        .as("block"))
      .select("block").distinct().count()
    assert(kept == distinctBlocks,
      s"kept $kept != distinct blocks $distinctBlocks — keep-one violated")
    // docs that lost nothing reassemble to their original text verbatim
    val texts = d.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val untouched = got.filter(r => r.getAs[Long]("n_kept") == r.getAs[Long]("n_blocks"))
    assert(untouched.nonEmpty)
    untouched.foreach { r =>
      assert(r.getAs[String]("clean_text") == texts(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} reassembly drifted")
    }
    // deterministic under repartitioning
    val again = Dedup.lineDedup(d.repartition(7)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).sorted.toSeq
    assert(again == got.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("clean_text"))).sorted.toSeq)
  }

  test("minhash-LSH recall equals the exact join on the planted testdata dups") {
    val d = Tables.documents(spark, sf0001)
    val exact = Dedup.ngramJaccardPairs(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-duplicates")
    assert(lsh == exact) // precision 1.0 by construction; recall 1.0 at J≈0.99
  }

  test("simhash: identical texts collide, distance 0; disjoint texts differ") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "totally different words here")
    val pairs = Dedup.simhashPairs(d, maxDist = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((1L, 2L, 0)))
  }

  test("embedding cosine dup: identical vectors within a block found at cos=1") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 0),
      (4L, Array(1.0f, 0.0f, 0.0f), 1) // same vector, different block: unseen
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingCosineDups(e, threshold = 0.9).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(got.head.getDouble(2) == 1.0)
  }

  test("dupTriangles counts each closed triple once, per block") {
    // block 0: vectors {1,2,3} pairwise identical (one triangle) plus 4
    // attached to 1 only (wedges, no extra triangle); block 1: a pair
    // only — no triangle, so the label is absent from the output
    val v = Array(1.0f, 0.0f)
    val w = Array(0.0f, 1.0f)
    val e = Seq(
      (1L, v, 0), (2L, v, 0), (3L, v, 0), (4L, w, 0),
      (5L, v, 1), (6L, v, 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.dupTriangles(e, threshold = 0.9).collect()
    assert(got.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((0, 1L)))
  }

  test("dupPagerank: star graph matches the hand-iterated integer ranks") {
    // star 1–2, 1–3: cos(1,2) = cos(1,3) = 1/√2 ≥ 0.3; cos(2,3) = 0 < 0.3
    // deg(1) = 2, deg(2) = deg(3) = 1; r_k+1 = 150000 + Σ (r·85) div (deg·100)
    //   r1: a = 150000+2·850000 = 1850000; b = 150000+425000 = 575000
    //   r2: a = 150000+2·488750 = 1127500; b = 150000+786250 = 936250
    //   r3: a = 150000+2·795812 = 1741624; b = 150000+479187 = 629187
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f), 0),
      (3L, Array(1.0f, -1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.dupPagerank(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (2L, 1741624L), 2L -> (1L, 629187L),
      3L -> (1L, 629187L)))
  }

  test("dupPagerank: a regular component is a fixed point at 10^6") {
    // triangle of identical vectors: deg 2 everywhere; each iteration
    // returns 150000 + 2·(10^6·85 div 200) = 10^6 exactly
    val v = Array(1.0f, 0.0f)
    val e = Seq((1L, v, 0), (2L, v, 0), (3L, v, 0))
      .toDF("vec_id", "embedding", "label")
    val got = Dedup.dupPagerank(e).collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(1000000L, 1000000L, 1000000L))
  }

  test("corpusOverlapKmv: identical corpora → 1, disjoint → 0, bounds hold") {
    // sources A and B hold the SAME shingle sets; C is disjoint from both
    val shared = Seq(
      "alpha beta gamma delta epsilon zeta", "eta theta iota kappa lambda mu",
      "nu xi omicron pi rho sigma tau upsilon")
    val other = Seq(
      "one two three four five six seven", "eight nine ten eleven twelve")
    val rows =
      shared.zipWithIndex.map { case (t, i) => (i.toLong, t, "A") } ++
      shared.zipWithIndex.map { case (t, i) => (100L + i, t, "B") } ++
      other.zipWithIndex.map { case (t, i) => (200L + i, t, "C") }
    val d = rows.toDF("doc_id", "text", "source")
    val got = Dedup.corpusOverlapKmv(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    val (kAb, bothAb, jAb) = got(("A", "B"))
    assert(jAb == 1000000L && bothAb == kAb,
      "identical shingle sets must estimate Jaccard exactly 1")
    assert(got(("A", "C"))._3 == 0L && got(("B", "C"))._3 == 0L)
    got.values.foreach { case (k, both, j) =>
      assert(k <= 128 && both <= k && j >= 0L && j <= 1000000L)
    }
  }

  test("sourceDupRate: member docs counted per source, dup-free sources zero") {
    val txt = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, txt, "A"), (2L, txt, "A"), (3L, "one more unrelated file", "A"),
      (4L, "completely different text entirely here", "B"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.sourceDupRate(docs, Dedup.dedupGroups(docs)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map("A" -> ((3L, 2L, 666666L)), "B" -> ((1L, 0L, 0L))))
  }

  test("blockingQuality: universe arithmetic, full recall on the planted dup, NULL pc when no truth") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val d = docs(1L -> a, 2L -> a,
      3L -> "completely different text entirely here now",
      4L -> "one more unrelated file with other words")
    val post = Dedup.postings(d, 3)
    val r = Dedup.blockingQuality(d, post,
      Dedup.overlapWithSizesFrom(post)).collect()(0)
    // 4 docs → 6-pair universe; the identical pair is the one candidate
    // and the one truth: rr = 1e6 − 1e6 div 6 = 833334, pc = 1.
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((4L, 1L, 1L, 1L, 833334L, 1000000L)))
    // all-distinct corpus: no truth → pc NULL, not a divide error
    val d2 = docs(1L -> "completely different text entirely here now",
      2L -> "one more unrelated file with other words")
    val post2 = Dedup.postings(d2, 3)
    val r2 = Dedup.blockingQuality(d2, post2,
      Dedup.overlapWithSizesFrom(post2)).collect()(0)
    assert((r2.getLong(2), r2.isNullAt(5)) == ((0L, true)))
  }

  test("tfidfCosinePairs: ubiquitous shingles carry zero weight; tf-cosine still pairs on them") {
    // xyz appears in ALL four docs → df = N → idf exactly 0: pairs
    // sharing ONLY boilerplate (every cross pair except the 1-2 dup)
    // score 0 under tf-idf but 0.2–0.25 under raw tf at the same
    // threshold — the downweight-vs-amputate distinction.
    val d = docs(
      1L -> "a b c d e x y z", 2L -> "a b c d e x y z",
      3L -> "p q r x y z", 4L -> "s t u x y z")
    val idf = Dedup.tfidfCosinePairs(d, threshold = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(idf.keySet == Set((1L, 2L)))
    assert(idf((1L, 2L)) == 1.0)
    val tf = Dedup.tfCosinePairs(d, threshold = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tf == Set((1L, 2L), (3L, 4L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L)))
    // all-boilerplate corpus: every weight 0 → 0/0 cosine is NaN, which
    // the threshold filter drops — empty result, never a crash
    val d2 = docs(1L -> "x y z", 2L -> "x y z")
    assert(Dedup.tfidfCosinePairs(d2).collect().isEmpty)
  }

  test("tfCosinePairs: multiplicity-weighted cosine; weak overlaps cut by threshold") {
    // Trigram tf vectors: A "a b c a b c" → {abc:2,bca:1,cab:1} ‖A‖²=6;
    // B "a b c" → {abc:1} ‖B‖²=1; C = A stamped once more → {abc:3,
    // bca:2,cab:2} ‖C‖²=17; D shares only `cab` with A/C.
    // cos: A·B=2/√6=0.816497, A·C=10/√102=0.990148 (rate-sensitivity:
    // Jaccard would score A,C identical to A,A), B·C=3/√17=0.727607;
    // D pairs score ≤0.25 and must be cut at 0.35.
    val d = docs(
      1L -> "a b c a b c", 2L -> "a b c",
      3L -> "a b c a b c a b c", 4L -> "c a b x y z")
    val got = Dedup.tfCosinePairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got((1L, 2L)) == ((2L, 6L, 1L, 0.816497)))
    assert(got((1L, 3L)) == ((10L, 6L, 17L, 0.990148)))
    assert(got((2L, 3L)) == ((3L, 1L, 17L, 0.727607)))
  }

  test("dupSubstrings: cross-doc block found with exact offsets; overlapping windows merge") {
    // tokens t0..t29 shared verbatim between docs 1 and 2 (doc 2 with a
    // 5-token unique prefix), doc 3 disjoint. minLen=4 ⇒ duplicated
    // window starts in doc 1 are 0..26 (27 windows, one island
    // [0, 30)); in doc 2 the same block starts at 5 ⇒ [5, 35).
    val block = (0 until 30).map(i => s"t$i").mkString(" ")
    val d = docs(
      1L -> block,
      2L -> (s"u0 u1 u2 u3 u4 " + block),
      3L -> (0 until 30).map(i => s"z$i").mkString(" "))
    val got = Dedup.dupSubstrings(d, minLen = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0L, 30L, 27L), (2L, 5L, 30L, 27L)))
  }

  test("dupSubstrings: same-doc repeats count, distant islands stay separate, short docs silent") {
    // doc 1 repeats a 4-token phrase at starts 0 and 10 (gap 10 > 4 ⇒
    // two islands of len 4 each — duplication is INTRA-doc, Lee
    // semantics); doc 2 is shorter than minLen and emits nothing.
    val d = docs(
      1L -> "p q r s a b c d e f p q r s x y z w v u",
      2L -> "p q")
    val got = Dedup.dupSubstrings(d, minLen = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0L, 4L, 1L), (1L, 10L, 4L, 1L)))
    // empty corpus: no spans, no crash
    assert(Dedup.dupSubstrings(docs(), minLen = 4).collect().isEmpty)
  }

  test("an injected DupStarts carrier pins the window length — the call-site minLen cannot disagree") {
    // the r11 footgun made unrepresentable: a memoized starts relation
    // built under one minLen paired with a different call-site minLen
    // silently produced wrong span lengths. The length now TRAVELS in
    // the carrier, so an injected starts relation built at L=4 yields
    // L=4 spans even when the call site passes a conflicting default —
    // the span report and the apply fold both read ds.minLen, never the
    // parameter.
    val d = docs(
      1L -> "p q r s a b c d e f p q r s x y z w v u",
      2L -> "p q")
    val starts = Dedup.dupStarts(d, minLen = 4)
    assert(starts.minLen == 4)
    val direct = Dedup.dupSubstrings(d, minLen = 4).collect().toSeq
    // call-site minLen left at the (conflicting) default 20
    assert(Dedup.dupSubstrings(d, starts = Some(starts))
      .collect().toSeq == direct)
    val applyDirect = Dedup.dupSubstringsApply(d, minLen = 4)
      .collect().toSeq
    assert(Dedup.dupSubstringsApply(d, starts = Some(starts))
      .collect().toSeq == applyDirect)
  }

  test("dupSubstringsApply removes exactly the spans dupSubstrings reports") {
    // same corpus as the offsets test: doc 1 = t0..t29 (fully covered ⇒
    // cleaned empty), doc 2 keeps only its 5-token unique prefix, doc 3
    // untouched; counts reconcile with the span report
    val block = (0 until 30).map(i => s"t$i").mkString(" ")
    val d = docs(
      1L -> block,
      2L -> (s"u0 u1 u2 u3 u4 " + block),
      3L -> (0 until 30).map(i => s"z$i").mkString(" "))
    val got = Dedup.dupSubstringsApply(d, minLen = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "", 30L, 30L),
      (2L, "u0 u1 u2 u3 u4", 35L, 30L),
      (3L, (0 until 30).map(i => s"z$i").mkString(" "), 30L, 0L)))
    // removed token mass == span length mass, per doc
    val spanMass = Dedup.dupSubstrings(d, minLen = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    got.foreach { case (id, _, _, removed) =>
      assert(spanMass.getOrElse(id, 0L) == removed, s"doc $id mass")
    }
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps._

/**
 * Document deduplication family (training-data-pipeline brief):
 *
 *  - exact: hash-groupBy on a content digest. One shuffle keyed by the
 *    digest — the only strategy that stays exact at 100 TB (no sort, no
 *    global collect; skew-free because digests are uniform).
 *  - exact n-gram Jaccard pairs: inverted-index self-join on shingles —
 *    the classical exact set-similarity join. Scales as Σ (postings²) per
 *    shingle; hot shingles are the skew risk, so ubiquitous shingles
 *    (doc-frequency > threshold) are dropped before the join, the standard
 *    prefix-filtering surrogate.
 *  - MinHash + LSH banding: the approximate scale path. Signatures build in
 *    ONE pass over exploded shingles (64 min-aggregates); banding turns
 *    quadratic pair generation into equi-join buckets; candidates are then
 *    verified with exact Jaccard, so precision is 1.0 and only recall is
 *    probabilistic (16 bands × 4 rows ⇒ P[detect | J=0.8] ≈ 1-(1-0.8⁴)¹⁶ ≈ .9997).
 *  - SimHash: 64-bit fingerprint; near-dup = Hamming ≤ 3. Banded by four
 *    16-bit chunks (pigeonhole: distance ≤ 3 ⇒ ≥ 1 chunk equal), then exact
 *    Hamming verify via bit_count(xor) — never the O(n²) cross join.
 *  - embedding cosine near-dup: LSH-bucketed candidate pairs verified by
 *    exact cosine (see Similarity for the signature machinery).
 */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per identical text.
    * Output: (keep_id, n_copies) per distinct content. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** (doc_id, shingle) postings, deduped per doc — the tokenize-once
    * prefix of the whole candidate-join family (Jaccard, containment,
    * MinHash-LSH all consume this same table; SparkEntry checkpoints it
    * once per corpus and fans the family out from the materialization). */
  def postings(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("sh"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index join.
    *
    * The skew guard is LIVE by default: shingles whose document frequency
    * exceeds `maxDf` are dropped before the self-join. A single ubiquitous
    * shingle contributes df² candidate pairs — the classic skewed-key
    * scale-killer at 100 TB — so the cap is an ABSOLUTE posting-list bound
    * (df > 1000 ⇒ ≤10⁶ pairs from any one shingle), not a corpus fraction:
    * a fraction stops guarding exactly when the corpus grows. The cap must
    * stay above the largest duplicate-group size (dup groups share all
    * their shingles at df ≈ group size; run exact dedup first), which is
    * why the default is 1000 and not single digits.
    *
    * Hot detection runs on a `samplePermille`‰ DETERMINISTIC hash-sample
    * of documents (portable h60 keying — the identical sample on every
    * engine, so the oracle mirrors it exactly): an exact df would shuffle
    * every posting just to find a handful of hot keys, the sample costs
    * 1/1000·samplePermille of that, and a shingle at df ≫ maxDf appears
    * in the sample w.h.p. (df = 1000 at 1% ⇒ E[hits] = 10; misses near
    * the cap only soften the guard, never correctness — the cut is
    * mirrored, whatever it drops). The hot-shingle set broadcasts into an
    * anti-join — no shuffle of the postings. Doc sizes |A| are still
    * counted over the UNfiltered postings; pairs whose overlap rests on
    * dropped boilerplate score lower (standard df-cut semantics, mirrored
    * by the oracle). */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double = 0.5,
      n: Int = 3, maxDf: Long = 1000, samplePermille: Int = 10): DataFrame =
    ngramJaccardPairsFrom(
      overlapWithSizesFrom(postings(documents, n), maxDf, samplePermille),
      threshold)

  /** The Jaccard scorer over a precomputed overlap relation (see
    * [[overlapWithSizesFrom]]) — lets the jaccard and containment gates
    * share ONE generator materialization. */
  def ngramJaccardPairsFrom(overlap: DataFrame,
      threshold: Double = 0.5): DataFrame =
    overlap
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard6"))
      .orderBy(col("id_a"), col("id_b"))

  /** Candidate-pair Jaccard HISTOGRAM — the dedup-threshold tuning view:
    * decile counts of the similarity mass across every candidate pair
    * the inverted index surfaces (bucket = ⌊J·10⌋, so bucket 8 = pairs
    * with J ∈ [0.8, 0.9)). Reading this before picking a threshold is
    * how a curation run chooses 0.7 vs 0.8 — the histogram shows where
    * the near-dup mode separates from the background. Rides the SAME
    * memoized overlap relation as the jaccard/containment gates (zero
    * extra corpus work); J is the exact micro floor n_common·10⁶ div
    * (n_a + n_b − n_common), all nonnegative, and the decile is one
    * more integral division — no floats anywhere. Output is ≤ 11 rows
    * per corpus: broadcast-sized at any scale. */
  def jaccardHistogramFrom(overlap: DataFrame): DataFrame =
    overlap
      .withColumn("j_micro",
        expr("n_common * 1000000 div (n_a + n_b - n_common)"))
      .withColumn("bucket", expr("j_micro div 100000"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("j_micro")).as("max_j_micro"))
      .orderBy(col("bucket"))

  /** Candidate pairs with shared-shingle counts and both set sizes —
    * the shared generator under the Jaccard and containment scorers
    * (identical df-cut skew guard, identical plan shape), over a
    * postings table the caller may have materialized once for the whole
    * family. The hot-shingle sample filters the POSTINGS by the same
    * portable doc hash (per-doc explode commutes with a doc filter, so
    * this equals sampling the documents first). */
  def overlapWithSizesFrom(post: DataFrame, maxDf: Long = 1000,
      samplePermille: Int = 10): DataFrame = {
    import graft.functions.PortableHash.h60
    val sampleDf = math.max(1L, maxDf * samplePermille / 1000)
    val sampled = post.filter(
      pmod(h60(col("doc_id").cast("string")), lit(1000L)) < samplePermille)
    val hot = sampled.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > sampleDf)
      .select("sh")
    val filtered = post.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = post.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = filtered.as("a")
      .join(filtered.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), "id_b")
  }

  /** CONTAINMENT near-dup pairs — the asymmetric cousin of Jaccard:
    * c(A→B) = |A∩B| / |A| finds documents largely CONTAINED in another
    * (quote farms, page subsets, prefix crawls) that symmetric Jaccard
    * misses whenever the container is much larger (J ≈ |A|/|B| stays
    * low while c(A→B) ≈ 1). The sub-document dedup rule of the
    * RefinedWeb/Dolma-style curation stacks. Same inverted-index
    * generator, df-cut skew guard, and single-IEEE-divide scoring as
    * [[ngramJaccardPairs]]; a pair survives if EITHER direction clears
    * `threshold`, and both directions are reported. */
  def containmentPairs(documents: DataFrame, threshold: Double = 0.6,
      n: Int = 3, maxDf: Long = 1000, samplePermille: Int = 10): DataFrame =
    containmentPairsFrom(
      overlapWithSizesFrom(postings(documents, n), maxDf, samplePermille),
      threshold)

  /** The containment scorer over a precomputed overlap relation. */
  def containmentPairsFrom(overlap: DataFrame,
      threshold: Double = 0.6): DataFrame =
    overlap
      .withColumn("cont_a", col("n_common").cast("double") / col("n_a").cast("double"))
      .withColumn("cont_b", col("n_common").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a"), 6).as("cont_a6"),
        round(col("cont_b"), 6).as("cont_b6"))
      .orderBy(col("id_a"), col("id_b"))

  /** Sparse TERM-FREQUENCY cosine near-dup pairs via inverted-index
    * join — the bag-of-shingles vector-space scorer completing the
    * lexical pair kit: Jaccard and containment see only SET overlap, so
    * two docs that repeat the same shingles at very different RATES
    * (a template stamped once vs. ten times) score identically there;
    * tf-cosine is the standard all-pairs-similarity form (Bayardo et
    * al., WWW'07) that weighs multiplicity, and it is the exact-lexical
    * twin of the dense embedding cosine the semantic gates use.
    *
    * cos(a,b) = Σ_s tf_a(s)·tf_b(s) / √(‖a‖²·‖b‖²) over word-`n`-gram
    * counts. The dot product only receives shingles BOTH docs contain,
    * so the inverted-index self-join on the shingle key generates
    * exactly the nonzero terms — never all pairs — with the family's
    * sampled df-cut guard bounding any one posting list (df > maxDf ⇒
    * dropped from pair generation; norms stay over the UNCUT vectors,
    * so pairs resting on dropped boilerplate score lower — the same
    * semantics the Jaccard/containment gates document).
    *
    * Determinism: dot and both squared norms are exact BIGINT sums of
    * integer products; the cosine is ONE final float expression over
    * those three integers (the single-IEEE-divide ladder), emitted
    * rounded alongside the exact integers so the oracle re-derives it
    * bit-for-bit.
    *
    * Shape at 100 TB: rides the memoized positions census when
    * SparkEntry supplies it (tf is one bounded reaggregation of that
    * materialization); the self-join shuffles (shingle, doc, tf)
    * triples — never text — and the df-cut keeps per-key fan-out
    * quadratic only in the cap, not the corpus. */
  /** Per-doc shingle term frequencies — served from the memoized
    * (doc_id, sh, tf) census when the registry supplies it (both
    * cosine gates' first aggregate, run once per process), else
    * computed inline off the positions explode. */
  private def shingleTf(documents: DataFrame, n: Int,
      tfCensus: Option[DataFrame]): DataFrame =
    tfCensus.getOrElse(documents
      .select(col("doc_id"),
        posexplode(graft.functions.WordShingles.word_ngrams(
          normalize(col("text")), n)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("sh"))
      .groupBy(col("doc_id"), col("sh"))
      .agg(count(lit(1)).as("tf")))

  /** The family's sampled hot-shingle set over a per-doc-keyed shingle
    * relation (see [[overlapWithSizesFrom]] for the calculus). */
  private def hotShingles(perDoc: DataFrame, maxDf: Long,
      samplePermille: Int): DataFrame = {
    import graft.functions.PortableHash.h60
    val sampleDf = math.max(1L, maxDf * samplePermille / 1000)
    perDoc.filter(
        pmod(h60(col("doc_id").cast("string")), lit(1000L)) < samplePermille)
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > sampleDf)
      .select("sh")
  }

  def tfCosinePairs(documents: DataFrame, threshold: Double = 0.35,
      n: Int = 3, maxDf: Long = 1000, samplePermille: Int = 10,
      shingleTfIn: Option[DataFrame] = None): DataFrame = {
    val tf = shingleTf(documents, n, shingleTfIn)
    val hot = hotShingles(tf, maxDf, samplePermille)
    val kept = tf.join(broadcast(hot), Seq("sh"), "left_anti")
    val norms = tf.groupBy("doc_id")
      .agg(sum(col("tf") * col("tf")).cast("long").as("n2"))
    kept.as("a")
      .join(kept.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).cast("long").as("dot"))
      .join(norms.select(col("doc_id").as("id_a"), col("n2").as("norm2_a")),
        "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("n2").as("norm2_b")),
        "id_b")
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("norm2_a").cast("double") * col("norm2_b").cast("double")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("dot"),
        col("norm2_a"), col("norm2_b"), round(col("cos"), 6).as("cos6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** IDF-WEIGHTED cosine near-dup pairs — [[tfCosinePairs]] with each
    * shingle's tf scaled by ⌊ln(N/df)·10³⌋: the form that DOWNWEIGHTS
    * boilerplate instead of amputating it. The df-cut guard only
    * removes shingles past the hard posting-list bound; everything
    * below it still contributes, but common shingles contribute little
    * — two docs sharing only near-ubiquitous phrasing score near 0
    * here while raw tf-cosine can still pair them. Standard tf-idf
    * retrieval weighting (Salton & Buckley 1988) applied to the pair
    * mining shape.
    *
    * Determinism: the idf enters ONCE per shingle as a milli-floored
    * log over two exact counts; weights w = tf·idf_milli are exact
    * integers, and dot/norms sum through DECIMAL(38,0) (w² passes 2⁶³
    * once tf·idf reaches ~3·10⁹ — million-token docs put it there).
    * The cosine is one final IEEE expression over the three exact
    * sums. A shingle in every doc (df = N) gets idf exactly 0 and
    * drops out of all scores identically on both engines.
    *
    * Shape: identical to [[tfCosinePairs]] — the idf join adds one
    * shingle-keyed merge of the df census (an aggregate of the same tf
    * relation) before the self-join; norms stay over the UNCUT
    * weighted vectors. */
  def tfidfCosinePairs(documents: DataFrame, threshold: Double = 0.35,
      n: Int = 3, maxDf: Long = 1000, samplePermille: Int = 10,
      shingleTfIn: Option[DataFrame] = None): DataFrame = {
    val tf = shingleTf(documents, n, shingleTfIn)
    val nDocs = tf.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n"))
    val df = tf.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val wgt = tf.join(df, Seq("sh"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("sh"),
        expr("tf * CAST(floor(ln(CAST(n AS DOUBLE) / df) * 1000)" +
          " AS BIGINT)").as("w"))
    val hot = hotShingles(tf, maxDf, samplePermille)
    val kept = wgt.join(broadcast(hot), Seq("sh"), "left_anti")
    val norms = wgt.groupBy("doc_id")
      .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("n2"))
    kept.as("a")
      .join(kept.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum(expr("CAST(a.w AS DECIMAL(38,0)) * b.w")).as("dot"))
      .join(norms.select(col("doc_id").as("id_a"), col("n2").as("n2_a")),
        "id_a")
      .join(norms.select(col("doc_id").as("id_b"), col("n2").as("n2_b")),
        "id_b")
      // a zero-norm vector (every shingle at df = N) has no direction:
      // cosine is undefined, and under ANSI the 0/0 divide would raise
      // where DuckDB yields NaN — the shared guard drops such pairs on
      // both engines before the division exists
      .filter(col("n2_a") > 0 && col("n2_b") > 0)
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("n2_a").cast("double") * col("n2_b").cast("double")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Corpus-level LINE dedup (the C4 rule): drop every repeated
    * occurrence of a duplicated span, keeping exactly one. The corpus
    * has no newlines, so a "line" is a fixed block of `blockTokens`
    * whitespace tokens (the final block may run short); the keeper of a
    * duplicated block is its occurrence at the smallest (doc_id,
    * block_idx) — deterministic where C4's shard-order keeper is not,
    * which is what makes an exact cross-engine oracle possible.
    *
    * Scale shape: block building is map-side array arithmetic (slice +
    * concat_ws, no token-level explode); keeper election is a
    * partial→final min(struct) aggregate — map-side combine absorbs
    * boilerplate-block skew (a row_number window over the block key
    * would put every copy of a hot block in one partition); the join
    * back on the block key is AQE's skew-join case; reassembly is one
    * doc_id shuffle. The transform lambda runs interpreted but only
    * over per-doc block arrays (~doc_len/blockTokens elements). */
  def lineDedup(documents: DataFrame, blockTokens: Int = 8): DataFrame = {
    val toks = split(col("text"), " ")
    val nBlocks = expr(
      s"(size(split(text, ' ')) + ${blockTokens - 1}) div $blockTokens")
    val blocks = documents
      .select(col("doc_id"), toks.as("t"),
        explode(sequence(lit(0L), nBlocks - 1)).as("block_idx"))
      .select(col("doc_id"), col("block_idx"),
        concat_ws(" ", slice(col("t"),
          (col("block_idx") * blockTokens + 1).cast("int"),
          lit(blockTokens))).as("block"))
    val keepers = blocks
      .groupBy(col("block"))
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("keeper"))
    blocks.join(keepers, "block")
      .withColumn("keep", col("doc_id") === col("keeper.doc_id") &&
        col("block_idx") === col("keeper.block_idx"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("block_idx"), col("block"))))),
          s => s.getField("block"))).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signature columns via the 2-universal family
    * h_i(x) = (a_i·h60(x) + b_i) mod P: ONE portable base hash per
    * shingle, k derived components by arithmetic — one aggregation pass,
    * and the DuckDB oracle reproduces every signature bit-for-bit.
    * The same pass also emits `n_sh` (the doc's shingle-set size) so the
    * LSH verify stage doesn't need a second corpus scan for sizes. */
  def minhashSignatures(documents: DataFrame, k: Int = 64): DataFrame =
    minhashSignaturesFrom(postings(documents, 3), k)

  /** Signature build over a precomputed postings table (the family's
    * shared tokenize-once prefix). */
  def minhashSignaturesFrom(post: DataFrame, k: Int = 64): DataFrame = {
    import graft.functions.PortableHash.{h60, minhashParams, MinhashP}
    val params = minhashParams(k)
    val based = post
      .withColumn("h1", pmod(h60(col("sh")), lit(MinhashP)))
    def sig(i: Int) = {
      val (a, b) = params(i)
      min((lit(a) * col("h1") + lit(b)) % lit(MinhashP))
    }
    based
      .groupBy(col("doc_id"))
      .agg(sig(0).as("sig_0"),
        (1 until k).map(i => sig(i).as(s"sig_$i")) :+
          count(lit(1)).as("n_sh"): _*)
  }

  /** Band-bucket rows (doc_id, n_sh, band, bh) for the LSH join —
    * shingle-set sizes ride along so the verify stage needs no extra
    * corpus scan for them. */
  private def lshBuckets(documents: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    lshBucketsFromSigs(minhashSignatures(documents, bands * rowsPerBand),
      bands, rowsPerBand)

  private def lshBucketsFromSigs(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"sig_${b * rowsPerBand + r}").cast("string")): _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), col("n_sh"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("n_sh"), col("bk.band"), col("bk.bh"))
  }

  /** MinHash-LSH candidate pairs, verified with exact Jaccard.
    * bands × rowsPerBand must equal the signature length. */
  def minhashLshPairs(documents: DataFrame, threshold: Double = 0.5,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    minhashLshPairsFrom(postings(documents, 3), threshold, bands, rowsPerBand)

  /** The LSH pipeline over a precomputed postings table — signature
    * build, band join, and the exact-Jaccard verify all read the ONE
    * materialized prefix instead of re-shingling the corpus (three
    * scans' worth at default params). */
  /** The DISTINCT band-collision candidate pairs (with set sizes riding
    * along) — the blocking stage of [[minhashLshPairsFrom]], exposed so
    * the blocking-quality audit can count candidates BEFORE the exact
    * verify cuts them. */
  def lshCandidatesFrom(post: DataFrame,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val buckets = lshBucketsFromSigs(
      minhashSignaturesFrom(post, bands * rowsPerBand), bands, rowsPerBand)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .distinct()
  }

  /** Blocking-quality audit — the record-linkage evaluation pair
    * (Christen 2012) for the MinHash-LSH blocking scheme: REDUCTION
    * RATIO (what fraction of the N·(N−1)/2 pair universe the bands
    * never generate — the work saved) and PAIRS COMPLETENESS (what
    * fraction of the true ≥-threshold pairs the bands recall — the
    * dups risked). Tuning bands × rowsPerBand is exactly trading these
    * two numbers; this is the read that says whether 16×4 still holds
    * as the corpus mix changes, the lexical sibling of the ANN family's
    * `ann_recall`.
    *
    * Ground truth is the df-cut inverted-index exact pair set (the same
    * relation `ngram_jaccard_pairs` ships) — at 100 TB "exact truth" is
    * only ever computable UNDER the same hot-shingle guard, and using
    * the shared relation means the audit measures the banding, not a
    * different guard. All four counts are exact; the two ratios are
    * integral micro divisions (÷0 → NULL when no true pairs exist, the
    * engines' shared integer-division convention). The pair-universe
    * product N·(N−1) is widened through DECIMAL(38,0) — it passes 2⁶³
    * at ~4.3·10⁹ docs.
    *
    * Shape at 100 TB: three one-row aggregates off relations the family
    * already materializes (candidates, exact pairs, and their left-semi
    * intersection) cross-joined broadcast — no new corpus-sized work
    * beyond what the gates themselves run. */
  def blockingQuality(documents: DataFrame, post: DataFrame,
      overlap: DataFrame, threshold: Double = 0.8,
      bands: Int = 16, rowsPerBand: Int = 4,
      candidates: Option[DataFrame] = None): DataFrame = {
    val cand = candidates
      .getOrElse(lshCandidatesFrom(post, bands, rowsPerBand))
      .select(col("id_a"), col("id_b"))
    val truth = ngramJaccardPairsFrom(overlap, threshold)
      .select(col("id_a"), col("id_b"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    nDocs.crossJoin(broadcast(nCand)).crossJoin(broadcast(nTrue))
      .crossJoin(broadcast(nHit))
      .select(col("n_docs"), col("n_cand"), col("n_true"), col("n_hit"),
        expr("CASE WHEN n_docs > 1 THEN" +
          " CAST(1000000 - CAST(n_cand AS DECIMAL(38,0)) * 1000000" +
          " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2)" +
          " AS BIGINT) ELSE NULL END").as("rr_micro"),
        // explicit n_true guard: ANSI `div` raises on 0 where DuckDB's
        // `//` yields NULL — the CASE makes both engines emit NULL
        expr("CASE WHEN n_true > 0 THEN n_hit * 1000000 div n_true" +
          " ELSE NULL END").as("pc_micro"))
  }

  def minhashLshPairsFrom(post: DataFrame, threshold: Double = 0.5,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    // sizes ride through the band join on the bucket rows — no sizes
    // joins and no extra corpus scans (each extra DataFrame reference is
    // a recompute of its whole subtree unless the runtime can reuse the
    // exchange; the two bucket sides are identical subtrees and can).
    minhashVerifyFrom(lshCandidatesFrom(post, bands, rowsPerBand),
      post, threshold)
  }

  /** The exact-Jaccard verify stage over a (possibly memoized)
    * candidate relation — split from [[minhashLshPairsFrom]] so the
    * pairs gate and the blocking-quality audit share ONE candidate
    * materialization (the 64-hash signature build is the expensive
    * half; recomputing it per consumer is the postingsFor lesson). */
  def minhashVerifyFrom(candidates: DataFrame, post: DataFrame,
      threshold: Double): DataFrame = {
    // exact-Jaccard verification of candidates only (precision = 1.0)
    candidates
      .join(post.select(col("doc_id").as("id_a"), col("sh")), "id_a")
      .join(post.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(col("sh") === col("sh_b"))
      // n_a/n_b are functionally dependent on the pair — grouping on them
      // adds nothing to the key cardinality
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Synthetic chunk id base: cid = doc_id · 10⁵ + chunk_idx, so the
    * whole minhash/LSH machinery (keyed on one BIGINT "doc_id") reuses
    * verbatim at chunk granularity and both engines decode with the
    * same integer div/mod. Valid while chunk_idx < 10⁵ — i.e. docs
    * under stride·10⁵ chars (15 M at defaults), far past web-doc
    * length; a longer doc should be split upstream anyway. */
  private[graft] val ChunkIdBase = 100000L

  /** Representative chunks for the FUZZY chunk-dedup family: the corpus
    * is cut into stride-overlapped windows ([[TextAnalysis.chunkTexts]])
    * and EXACT-duplicate chunk contents collapse to their keeper (min
    * cid per content digest — the [[TextAnalysis.chunkDedup]] election).
    * That collapse IS the skew guard's first line: a boilerplate
    * paragraph shared by 10⁴ docs is one representative here, not 10⁴
    * band-bucket rows exploding into 10⁸ candidate pairs — exact copies
    * are already priced by chunk_dedup, so the fuzzy pass only needs
    * DISTINCT contents. Output renames to (doc_id, text) so the
    * shared [[postings]]/minhash prefix applies unchanged (doc_id = the
    * cid). */
  def chunkReps(documents: DataFrame, window: Int = 200,
      stride: Int = 150): DataFrame =
    TextAnalysis.chunkTexts(
        documents.select(col("doc_id"), col("text")), window, stride)
      .select((col("doc_id") * ChunkIdBase + col("chunk_idx")).as("cid"),
        col("chunk"))
      .groupBy(md5(col("chunk")).as("d"))
      .agg(min(struct(col("cid"), col("chunk"))).as("k"))
      .select(col("k.cid").as("doc_id"), col("k.chunk").as("text"))

  /** Verified near-dup pairs between representative chunks — cid-level,
    * the shared core of [[chunkMinhashPairs]] and [[chunkFuzzyAudit]].
    * The LSH chain is the document family's, reused verbatim over the
    * chunk postings, with the df-cut skew guard LIVE: shingles whose
    * representative-frequency exceeds `maxDf` are dropped from BOTH the
    * signature build and the exact-Jaccard verify (self-consistent, so
    * the oracle replays the cut exactly; the df census is one
    * partial-agg'd (shingle → count) shuffle — at corpus sizes where
    * even that is hot, the sampled [[hotShingles]] census substitutes).
    * Candidates are restricted to chunks of DIFFERENT documents: a
    * doc's stride-overlapped self-repeats are by design, not
    * duplication (the chunkDedup reading). */
  def chunkMinhashPairsRaw(reps: DataFrame, threshold: Double = 0.6,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxDf: Long = 1000): DataFrame = {
    val post0 = postings(reps, 3)
    val hot = post0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("sh"))
    val post = post0.join(broadcast(hot), Seq("sh"), "left_anti")
    minhashVerifyFrom(
      lshCandidatesFrom(post, bands, rowsPerBand)
        .filter(expr(s"id_a div $ChunkIdBase <> id_b div $ChunkIdBase")),
      post, threshold)
  }

  /** FUZZY chunk-level dedup — the C4/RefinedWeb-class pass
    * [[TextAnalysis.chunkDedup]] (digest-exact) cannot make: LIGHTLY
    * EDITED boilerplate paragraphs (a templated header with the date
    * swapped, quoted passages with typo fixes) share most but not all
    * of their shingles, so no digest matches, yet a training pipeline
    * wants them dead too. Chunks → exact-collapse to representatives →
    * banded MinHash candidates over chunk shingles → exact-Jaccard
    * verify on candidates only ([[chunkMinhashPairsRaw]]'s chain, the
    * document family's machinery at paragraph granularity).
    *
    * Output: one row per verified cross-document near-dup chunk pair,
    * decoded to (doc_a, idx_a, doc_b, idx_b, jaccard6).
    *
    * Shape at 100 TB: chunk fan-out is the chunk_docs explode (map-side,
    * ~len/stride rows per doc); the exact collapse is one digest-keyed
    * shuffle; signatures/bands are per-REPRESENTATIVE (never per copy);
    * candidates only from band collisions under the live df-cut guard;
    * verify touches candidates only. No cartesian anywhere
    * (plan-asserted). */
  def chunkMinhashPairs(documents: DataFrame, window: Int = 200,
      stride: Int = 150, threshold: Double = 0.6, bands: Int = 16,
      rowsPerBand: Int = 4, maxDf: Long = 1000): DataFrame =
    chunkMinhashDecode(chunkMinhashPairsRaw(
      chunkReps(documents, window, stride), threshold, bands, rowsPerBand,
      maxDf))

  /** Decode cid-level pairs to (doc, chunk) coordinates. */
  def chunkMinhashDecode(pairsRaw: DataFrame): DataFrame =
    pairsRaw.select(
        expr(s"id_a div $ChunkIdBase").as("doc_a"),
        expr(s"id_a % $ChunkIdBase").as("idx_a"),
        expr(s"id_b div $ChunkIdBase").as("doc_b"),
        expr(s"id_b % $ChunkIdBase").as("idx_b"),
        col("jaccard6"))
      .orderBy(col("doc_a"), col("idx_a"), col("doc_b"), col("idx_b"))

  /** Per-document kept/dup audit over the fuzzy pass — for each doc
    * owning representative chunks: how many it keeps, and how many of
    * those fuzzy-duplicate an EARLIER representative (the pair's lower
    * cid wins, the keeper convention everywhere here). Docs owning no
    * representatives (every chunk an exact copy of an earlier doc's)
    * are chunk_dedup's report, not this one's. */
  def chunkFuzzyAudit(documents: DataFrame, window: Int = 200,
      stride: Int = 150, threshold: Double = 0.6, bands: Int = 16,
      rowsPerBand: Int = 4, maxDf: Long = 1000): DataFrame = {
    val reps = chunkReps(documents, window, stride)
    chunkFuzzyAuditFrom(reps, chunkMinhashPairsRaw(reps, threshold,
      bands, rowsPerBand, maxDf))
  }

  /** The audit rollup over (possibly memoized) reps + raw pairs. */
  def chunkFuzzyAuditFrom(reps: DataFrame, pairsRaw: DataFrame): DataFrame = {
    val victims = pairsRaw.select(col("id_b").as("cid")).distinct()
    reps.select(col("doc_id").as("cid"))
      .join(victims.withColumn("hit", lit(1L)), Seq("cid"), "left")
      .groupBy(expr(s"cid div $ChunkIdBase").as("doc_id"))
      .agg(count(lit(1)).as("n_rep_chunks"),
        sum(coalesce(col("hit"), lit(0L))).as("n_fuzzy_dup"))
      .orderBy(col("doc_id"))
  }

  /** A batch's chunk units WITHOUT exact collapse — every incoming
    * chunk gets its own verdict (what an admission gate needs; the
    * corpus side collapses, the probe side never does). */
  private[graft] def chunkUnits(docs: DataFrame, window: Int,
      stride: Int): DataFrame =
    TextAnalysis.chunkTexts(docs.select(col("doc_id"), col("text")),
        window, stride)
      .select((col("doc_id") * ChunkIdBase + col("chunk_idx")).as("doc_id"),
        col("chunk").as("text"))

  /** CROSS-CORPUS fuzzy chunk check — the chunk-granularity member of
    * the against-family ([[dedupAgainst]] for whole docs,
    * [[Similarity.semanticDedupAgainstStore]] for embeddings,
    * `Multimodal` phash for media, `SubstrStore` for exact substrings):
    * which chunks of an INCOMING batch near-duplicate a paragraph the
    * corpus already holds? Exact copies inside the corpus collapse to
    * representatives ([[chunkReps]] — also the bucket-skew first line:
    * 10⁴ corpus copies of a boilerplate paragraph probe as ONE band
    * unit); the df-cut census is computed over CORPUS representative
    * shingles and applied to BOTH sides (the corpus census is
    * write-time state the batch consults — `ChunkStore` persists all
    * three corpus relations). Incoming chunks are NOT collapsed.
    *
    * Output: (new_doc, new_idx, corpus_doc, corpus_idx, jaccard6) per
    * flagged pair, ≥ threshold, exact-Jaccard verified; exact matches
    * flag at 1.0 (sides collapse separately, so cross-side identity
    * survives as a pair — an admission gate must see it).
    *
    * This parquet-only form recomputes the corpus state (the
    * [[dedupAgainst]] test-store convention); the probe half is
    * [[chunkDedupAgainstStore]], which `StreamChunkFuzzyCheck` feeds
    * from the persisted index. */
  def chunkDedupAgainst(newDocs: DataFrame, corpus: DataFrame,
      window: Int = 200, stride: Int = 150, threshold: Double = 0.6,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxDf: Long = 1000): DataFrame = {
    val (sigs, posts, hot) = chunkIndexRelations(corpus, window, stride,
      bands, rowsPerBand, maxDf)
    chunkDedupAgainstStore(newDocs, sigs, posts, hot,
      window, stride, threshold, bands, rowsPerBand)
  }

  /** The three corpus relations `ChunkStore` persists, built from a
    * corpus slice: representative-chunk band rows (cid, n_sh, band,
    * bh), cut postings (cid, sh), and the hot-shingle census (sh).
    * When `frozenHot` is given (an append under an EXISTING index),
    * the batch's shingles are cut by THAT census instead of a fresh
    * one — probe and appended state must agree on the cut, so the
    * census freezes at index build; re-censusing is a full index
    * rebuild (the IVF re-cluster analog). */
  private[graft] def chunkIndexRelations(corpus: DataFrame,
      window: Int, stride: Int, bands: Int, rowsPerBand: Int,
      maxDf: Long, frozenHot: Option[DataFrame] = None,
      cp: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame, DataFrame) = {
    val reps = chunkReps(corpus, window, stride)
    // `cp` is the caller's materialization seam (identity by default;
    // Memo.chunkIndexFor passes a pinned localCheckpoint so the gated
    // probe never re-shingles the corpus): each stage checkpoints in
    // DEPENDENCY order, so hot/post/sigs build off the materialized
    // postings, not three re-derivations of the shingle explosion.
    val post0 = cp(postings(reps, 3))
    val hot = cp(frozenHot.getOrElse(
      post0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select(col("sh"))))
    val post = cp(post0.join(broadcast(hot.select(col("sh"))),
      Seq("sh"), "left_anti"))
    val sigs = cp(lshBucketsFromSigs(
      minhashSignaturesFrom(post, bands * rowsPerBand), bands, rowsPerBand)
      .select(col("doc_id").as("cid"), col("n_sh"), col("band"),
        col("bh")))
    (sigs, post.select(col("doc_id").as("cid"), col("sh")), hot)
  }

  /** The probe half over persisted corpus state: band rows
    * (cid, n_sh, band, bh), cut postings (cid, sh) and the hot-shingle
    * census (sh) — `ChunkStore`'s three relations. Per-batch cost is
    * batch-proportional: the batch's own chunks/signatures, a band
    * equi-join against band-partitioned state, and a candidates-only
    * verify (corpus postings joined on the candidate cids — an
    * output-sized broadcast at any corpus size). */
  def chunkDedupAgainstStore(newDocs: DataFrame, corpusSigs: DataFrame,
      corpusPosts: DataFrame, corpusHot: DataFrame,
      window: Int = 200, stride: Int = 150, threshold: Double = 0.6,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val newUnits = chunkUnits(newDocs, window, stride)
    val postNew = postings(newUnits, 3)
      .join(broadcast(corpusHot.select(col("sh"))), Seq("sh"), "left_anti")
    val bucketsNew = lshBucketsFromSigs(
      minhashSignaturesFrom(postNew, bands * rowsPerBand),
      bands, rowsPerBand)
    val cand = bucketsNew.as("a")
      .join(corpusSigs.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("new_id"), col("b.cid").as("corpus_id"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .distinct()
      // SELF-EXCLUSION (doc granularity): index chunks whose doc id is
      // ANY of the probing batch's doc ids can only exist via an
      // at-least-once REPLAY after the batch's own append (the
      // admitting loop appends after the probe; doc ids are unique per
      // ingest otherwise). Without the cut a crash-replayed
      // micro-batch self-flags every chunk at jaccard 1.0 and
      // cross-flags its own batch-internal near-dups — the replayed
      // gate decision would differ from the original run. The batch's
      // doc-id set is broadcast; candidates are batch-bounded, so the
      // anti-join is output-sized.
      .join(broadcast(
          newDocs.select(col("doc_id").as("corpus_doc")).distinct()),
        expr(s"corpus_id div $ChunkIdBase") === col("corpus_doc"),
        "left_anti")
    cand
      .join(postNew.select(col("doc_id").as("new_id"), col("sh")),
        "new_id")
      .join(corpusPosts.select(col("cid").as("corpus_id"),
        col("sh").as("sh_b")), "corpus_id")
      .filter(col("sh") === col("sh_b"))
      // SET semantics on the common-shingle count (the SubstrStore
      // probe-harmless contract): a redelivered append duplicates
      // posts rows, and a row-counted n_common would then overshoot
      // the set bound (denominator n_a+n_b−n_common reaches 0 — a
      // loud ANSI error at best). The distinct makes the probe
      // invariant under duplicate index rows; only storage and scan
      // cost grow until compaction reclaims them.
      .select(col("new_id"), col("corpus_id"), col("n_a"), col("n_b"),
        col("sh"))
      .distinct()
      .groupBy(col("new_id"), col("corpus_id"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(
        expr(s"new_id div $ChunkIdBase").as("new_doc"),
        expr(s"new_id % $ChunkIdBase").as("new_idx"),
        expr(s"corpus_id div $ChunkIdBase").as("corpus_doc"),
        expr(s"corpus_id % $ChunkIdBase").as("corpus_idx"),
        round(col("jaccard"), 6).as("jaccard6"))
      .orderBy(col("new_doc"), col("new_idx"), col("corpus_doc"),
        col("corpus_idx"))
  }

  /** CROSS-CORPUS near-dup check — the incremental-ingest operator: which
    * INCOMING documents near-duplicate something already IN the corpus?
    * Self-dedup ([[minhashLshPairs]]) compares a set to itself; ingest
    * compares a small new batch against the accumulated store, and the
    * asymmetry is the scale story: the corpus side's band table is
    * write-time state (computed once per doc ever, exactly like
    * `EmbeddingStore`'s IVF cells — here it's recomputed because the test
    * store is parquet-only), while the new batch's signatures are a
    * per-ingest cost proportional to the BATCH, not the corpus. The band
    * join probes corpus buckets with new-batch buckets; verification is
    * exact Jaccard on candidates only. */
  def dedupAgainst(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val candidates = lshBuckets(newDocs, bands, rowsPerBand).as("a")
      .join(lshBuckets(corpus, bands, rowsPerBand).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .distinct()
      // self-exclusion: corpus rows carrying ANY of the probing batch's
      // doc ids can only be the batch re-probed after its own admission
      // (at-least-once replay) — without the cut a replayed batch
      // self-flags at jaccard 1.0 and cross-flags its batch-internal
      // near-dups, so the replayed gate decision would differ from the
      // original run (batch ids broadcast, candidates batch-bounded)
      .join(broadcast(
          newDocs.select(col("doc_id").as("corpus_id")).distinct()),
        Seq("corpus_id"), "left_anti")
    candidates
      .join(postings(newDocs, 3).select(col("doc_id").as("new_id"), col("sh")),
        "new_id")
      .join(postings(corpus, 3).select(col("doc_id").as("corpus_id"),
        col("sh").as("sh_b")), "corpus_id")
      .filter(col("sh") === col("sh_b"))
      .groupBy(col("new_id"), col("corpus_id"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard6"))
      .orderBy(col("new_id"), col("corpus_id"))
  }

  /** CORPUS-level distinct-shingle overlap between every SOURCE pair via
    * mergeable bottom-k (KMV) sketches — the "how much does source A
    * repeat source B" audit that decides mixing weights and dedup order
    * before any doc-level pass runs. Doc-pair dedup answers "which
    * documents collide"; this answers the planning question "which
    * CORPORA overlap, and by how much" at a cost independent of the
    * overlap size.
    *
    * Estimator: per source, keep the k smallest distinct h60 shingle
    * hashes (the [[graft.operators.EventsOps.kmvDistinct]] bottom-k
    * family). Bottom-k sets are MIN-UNION MERGEABLE, so the bottom-k of
    * (sketch_A ∪ sketch_B) is exactly the bottom-k of the union
    * corpus's distinct hashes; the fraction of that union sample
    * present in BOTH sketches is the classic min-wise Jaccard estimate
    * (Bar-Yossef et al., ±~1/√k). Every step — h60 hashing, ranking,
    * membership flags, the integer micro ratio — is engine-exact, so
    * the oracle reproduces the estimate INCLUDING its sketch error.
    *
    * Scale shape: one corpus scan explodes shingles; the distinct pass
    * dedups (source, h) map-side; per-source bottom-k is a
    * WindowGroupLimit (per-partition top-k heaps, never a full sort).
    * Everything after operates on |sources|·k sketch rows —
    * localCheckpoint'ed once, then the |sources|² pair expansion,
    * union re-rank and flag count are all sketch-cardinality, corpus
    * never touched again. At 100 TB the sketches are write-time state
    * maintained per ingest (min-union = the StreamKmv fold). */
  def corpusOverlapKmv(documents: DataFrame, n: Int = 3,
      k: Int = 128): DataFrame =
    overlapFromSketches(
      graft.plans.PlanTrace.cp(sourceSketch(documents, n, k),
        tag = "kmv_sketch"), k)

  /** Per-source bottom-k sketch of distinct shingle hashes — the
    * write-time state [[corpusOverlapKmv]] (and its streaming fold,
    * [[graft.streaming.StreamSourceSketch]]) maintain: (source, h)
    * rows, ≤ k per source. Map-side distinct, WindowGroupLimit cut. */
  def sourceSketch(documents: DataFrame, n: Int = 3,
      k: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PortableHash.h60
    val hashes = documents
      .select(col("source"), explode(shingles(col("text"), n)).as("sh"))
      .select(col("source"), h60(col("sh")).as("h"))
      .distinct()
    val wS = Window.partitionBy(col("source")).orderBy(col("h"))
    hashes.withColumn("rn", row_number().over(wS))
      .filter(col("rn") <= k).select(col("source"), col("h"))
  }

  /** The pair-estimate readout over a (source, h) sketch relation —
    * shared by the batch operator and the streaming fold's readout so
    * streamed ≡ batch by construction. */
  def overlapFromSketches(sketch: DataFrame, k: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcs = sketch.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .crossJoin(srcs.select(col("source").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    val fromA = pairs
      .join(sketch.select(col("source").as("src_a"), col("h")), "src_a")
      .select(col("src_a"), col("src_b"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val fromB = pairs
      .join(sketch.select(col("source").as("src_b"), col("h")), "src_b")
      .select(col("src_a"), col("src_b"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val wU = Window.partitionBy(col("src_a"), col("src_b"))
      .orderBy(col("h"))
    fromA.unionByName(fromB)
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rn", row_number().over(wU))
      .filter(col("rn") <= k)
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).cast("long").as("n_both"))
      .withColumn("jaccard_micro", expr("n_both * 1000000 div k_used"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** INGEST NOVELTY — "how much genuinely NEW content does this drop
    * add?", the planning read an ingest runs before paying for a full
    * dedup pass: bottom-k (KMV) sketches of the batch's and the
    * corpus's distinct shingle hashes, merged into the union sample
    * ([[corpusOverlapKmv]]'s estimator — min-union mergeable, so at
    * 100 TB the corpus side is the standing [[sourceSketch]] fold, and
    * the batch pays only its own sketch). Within the union's bottom-k:
    * `n_batch`/`n_corpus`/`n_both` membership tallies,
    * `novelty_micro` = (n_batch − n_both)/n_batch — the estimated
    * fraction of the batch's distinct shingles the corpus has never
    * seen (1 − containment) — and the Jaccard estimate. Every step is
    * engine-exact integer/hash algebra, so the oracle reproduces the
    * estimate INCLUDING its sketch error. */
  def ingestNoveltyKmv(newDocs: DataFrame, corpus: DataFrame,
      n: Int = 3, k: Int = 128): DataFrame = {
    val lab = newDocs.select(lit("batch").as("source"), col("text"))
      .unionByName(corpus.select(lit("corpus").as("source"), col("text")))
    noveltyFromSketches(graft.plans.PlanTrace.cp(sourceSketch(lab, n, k),
      tag = "novelty_sketch"), k)
  }

  /** The novelty readout over a two-side (source ∈ batch/corpus, h)
    * sketch relation — shared verbatim by the batch operator and the
    * streaming admission loop ([[graft.streaming.StreamNovelty]]), so
    * streamed ≡ batch by construction. */
  def noveltyFromSketches(sk: DataFrame, k: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val both = sk.groupBy(col("h")).agg(
      max(when(col("source") === "batch", 1L).otherwise(0L)).as("in_a"),
      max(when(col("source") === "corpus", 1L).otherwise(0L)).as("in_b"))
    // union re-rank over ≤2k sketch rows (aggregate-bounded window)
    val wU = Window.partitionBy(lit(1)).orderBy(col("h"))
    both.withColumn("rn", row_number().over(wU))
      .filter(col("rn") <= k)
      .agg(count(lit(1)).as("k_used"),
        sum(col("in_a")).cast("long").as("n_batch"),
        sum(col("in_b")).cast("long").as("n_corpus"),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L)
          .otherwise(0L)).cast("long").as("n_both"))
      .select(col("k_used"), col("n_batch"), col("n_corpus"),
        col("n_both"),
        expr("CASE WHEN n_batch > 0 THEN" +
          " CAST((n_batch - n_both) * 1000000 div n_batch AS BIGINT)" +
          " END").as("novelty_micro"),
        expr("CASE WHEN k_used > 0 THEN" +
          " CAST(n_both * 1000000 div k_used AS BIGINT) END")
          .as("jaccard_micro"))
  }

  /** Connected components over a near-dup pair set: label propagation to
    * the minimum reachable doc_id — turning PAIRS into dedup GROUPS (the
    * step production dedup actually needs: pick one representative per
    * transitive cluster). Deterministic (min label), driver-side loop.
    * Each step is a neighbor-min round followed by a POINTER JUMP
    * (lab ← lab(lab), the hash-to-min idea from Rastogi et al.,
    * "Finding Connected Components in Map-Reduce"): the jump propagates
    * through labels rather than edges, so reachable distance DOUBLES per
    * step and convergence is O(log diameter) rounds — a chain-shaped
    * component of diameter d (MinHash chains arise whenever A≈B≈C but
    * A≉C) converges in ~log₂d steps where pure neighbor-min needs d.
    * Near-clique components still finish in one step. `localCheckpoint`
    * truncates the growing lineage each batch — the standard iterative-
    * algorithm hygiene on Spark (GraphX does the same internally).
    * Output: (doc_id, rep_id) for every doc that appears in a pair. */
  def connectedComponents(pairs: DataFrame,
      roundsPerCheck: Int = 2,
      driverMaxPairs: Long = 1L << 20): DataFrame = {
    // the (possibly expensive) pair pipeline materializes ONCE — checkpoint
    // BEFORE the symmetric union: the two union branches are separate
    // references to the pairs subtree, and Spark does no logical CSE across
    // DataFrame references, so unioning first would execute the whole pair
    // pipeline twice inside the checkpoint job
    val p = graft.plans.PlanTrace.cp(
      pairs.select(col("id_a"), col("id_b")), tag = "cc_pairs")
    // SIZE-GATED DRIVER PATH (r16): a dedup pair set is orders of
    // magnitude smaller than the corpus by construction (pairs are rare
    // by definition), and below `driverMaxPairs` (default 2²⁰ pairs =
    // 16 MB of primitive longs collected, plus one sorted id array and
    // one int array per distinct id — far under any driver budget) the
    // distributed loop's cost is pure job-scheduling overhead: each
    // batch is a checkpoint job + a fixpoint probe over a table of a
    // few thousand rows. A driver union-find over the
    // already-checkpointed pairs computes the identical min-label
    // components in ONE collect: every partition ships its pairs as one
    // interleaved long array (no per-row objects), ids are ranked in a
    // sorted array, and the union-find runs over those ranks with union
    // by MIN root + path compression, so every root is its component's
    // minimum id at all times — the same deterministic representative
    // the distributed min-label fixpoint elects. Above the bound the
    // pointer-jumping loop below runs unchanged, so the operator stays
    // scale-safe: the gate reads a count of the materialized
    // checkpoint, never the corpus.
    val nPairs = p.count()
    if (nPairs <= driverMaxPairs) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val ends = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .queryExecution.toRdd
        .mapPartitions { rows =>
          val b = Array.newBuilder[Long]
          rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
          Iterator.single(b.result())
        }.collect().flatten
      val ids = {
        val s = ends.clone()
        java.util.Arrays.sort(s)
        var n = 0
        for (j <- s.indices) if (n == 0 || s(n - 1) != s(j)) { s(n) = s(j); n += 1 }
        java.util.Arrays.copyOf(s, n)
      }
      val parent = Array.range(0, ids.length)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      var i = 0
      while (i < ends.length) {
        val ra = find(java.util.Arrays.binarySearch(ids, ends(i)))
        val rb = find(java.util.Arrays.binarySearch(ids, ends(i + 1)))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
        i += 2
      }
      return ids.indices.map(k => (ids(k), ids(find(k))))
        .toDF("doc_id", "rep_id")
        .orderBy(col("doc_id"))
    }
    // symmetric edges PLUS a self-loop per node: neighbor-min over this
    // table keeps each node's own label with no union inside the loop
    // (one operator fewer per round, and Union + self-join aliasing in an
    // iterated plan trips Catalyst's union constraint rewrite)
    val und = graft.plans.PlanTrace.cp(
      p.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
        .union(p.select(col("id_a").as("src"), col("id_a").as("dst"))
          .union(p.select(col("id_b").as("src"), col("id_b").as("dst")))
          .distinct()), tag = "cc_edges")
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("lab", col("id"))
    def round(cur: DataFrame): DataFrame = {
      // neighbor min: pull labels across the edges (self-loop included,
      // so a node's own label competes in the min)
      val nm = und
        .join(cur.select(col("id").as("src"), col("lab")), "src")
        .select(col("dst").as("id"), col("lab"))
        .groupBy("id").agg(min(col("lab")).as("lab"))
      // pointer jump: lab ← lab(lab). Every label is itself a member id
      // (labels start as own-id and only existing ids propagate), so the
      // self-join hits a row for every label; left+coalesce is belt and
      // braces, not a semantic need
      nm.as("x")
        .join(nm.select(col("id").as("j_id"), col("lab").as("j_lab")).as("y"),
          col("x.lab") === col("y.j_id"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("y.j_lab"), col("x.lab")).as("lab"))
    }
    var converged = false
    while (!converged) {
      // several LAZY rounds per convergence check: the label table is
      // tiny, so chaining rounds in one plan beats a job + checkpoint per
      // round; one checkpoint per batch bounds the iterative lineage
      var prev = labels
      var next = labels
      for (_ <- 0 until roundsPerCheck) { prev = next; next = round(next) }
      val batch = graft.plans.PlanTrace.cp(next, tag = "cc_batch")
      // fixpoint test INSIDE the batch: min-label propagation is monotone
      // decreasing, so last-round == second-to-last-round means THE
      // fixpoint — near-clique dedup graphs (diameter ≤ roundsPerCheck-1)
      // finish in ONE batch instead of running a no-op second batch just
      // to observe stability. `prev` recomputes its (tiny, checkpointed-
      // rooted) subtree inside this one job — cheaper than another full
      // batch + checkpoint
      converged = batch
        .join(prev.withColumnRenamed("lab", "prev"), "id")
        .filter(col("lab") < col("prev")).isEmpty
      labels = batch
    }
    labels.select(col("id").as("doc_id"), col("lab").as("rep_id"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup groups of the corpus: MinHash-LSH pairs (exact-verified at
    * `threshold`) closed under transitivity. */
  def dedupGroups(documents: DataFrame, threshold: Double = 0.8): DataFrame =
    connectedComponents(minhashLshPairs(documents, threshold))

  /** Per-source near-duplicate rate — the corpus-health dashboard read
    * that decides which FEED to fix (a boilerplate-heavy source shows
    * up here long before it skews a global dedup pass): every source
    * with its doc count, the number of docs that sit in a near-dup
    * group, and the exact micro rate. `groups` is the (doc_id, rep_id)
    * membership relation from [[dedupGroups]] — one row per member doc,
    * so membership is a doc_id-keyed left join, and SparkEntry serves
    * the memoized family prefix (no LSH re-run). Output is
    * source-cardinality. */
  def sourceDupRate(documents: DataFrame, groups: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("source"))
      .join(groups.select(col("doc_id"), lit(1L).as("is_dup")),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).cast("long").as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        expr("n_dup_docs * 1000000 div n_docs").as("dup_frac_micro"))
      .orderBy(col("source"))

  /** LEAKAGE-SAFE train/test split: the eval-integrity operator a naive
    * per-document hash split gets wrong. If a test document's near-dups
    * land in train, the holdout is contaminated — so the split key is the
    * document's near-dup GROUP representative (its own id for
    * singletons), and whole groups move together by construction. The
    * assignment itself is the deterministic hash-mod rule (h60 mod 1000 <
    * testPermille → test), so the split is reproducible across runs,
    * engines, and repartitioning. The groups table is the vanishing
    * group-members fraction of the corpus, broadcast into one left join
    * over a single corpus scan. */
  def leakageSafeSplit(documents: DataFrame, threshold: Double = 0.8,
      testPermille: Int = 100): DataFrame =
    leakageSafeSplitFrom(documents, dedupGroups(documents, threshold),
      testPermille)

  /** [[leakageSafeSplit]] over a precomputed groups relation — the shape
    * a pipeline that already ran [[dedupGroups]] uses (compute the LSH+CC
    * prefix once, consume it from split/best/audit stages; SparkEntry
    * memoizes it per run the same way). */
  def leakageSafeSplitFrom(documents: DataFrame, groups: DataFrame,
      testPermille: Int = 100): DataFrame = {
    import graft.functions.PortableHash.h60
    documents.select(col("doc_id"))
      .join(broadcast(groups), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("rep_id"), col("doc_id")))
      .select(col("doc_id"), col("split_key"),
        when(pmod(h60(col("split_key").cast("string")), lit(1000L))
            < testPermille, lit("test"))
          .otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** The step production dedup ends with: per near-dup group, KEEP THE
    * BEST copy — here the highest quality score (ties to the lowest id),
    * not the arbitrary lowest id. Exact dedup can keep any copy
    * (identical text ⇒ identical everything); near-dup groups hold
    * genuinely different texts, so which one survives changes the
    * training corpus. Selection is a row_number window over the groups
    * (portable across engines, unlike packed arg-max conventions); the
    * join is group-members-only, a vanishing fraction of the corpus. */
  def dedupGroupsBest(documents: DataFrame,
      threshold: Double = 0.8): DataFrame =
    // checkpoint: groups is referenced twice below, and each DataFrame
    // reference recomputes its subtree — without this the whole LSH+CC
    // pipeline would run twice
    dedupGroupsBestFrom(documents,
      graft.plans.PlanTrace.cp(dedupGroups(documents, threshold),
        tag = "groups"))

  /** [[dedupGroupsBest]] over a precomputed (already materialized —
    * checkpointed or table-backed) groups relation; see
    * [[leakageSafeSplitFrom]] for why the split exists. */
  def dedupGroupsBestFrom(documents: DataFrame,
      groups: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // score ONLY group members (a vanishing fraction of the corpus at
    // scale — never compute corpus-wide quality for a members-only join);
    // the tiny groups table broadcasts into the restriction
    val members = documents
      .join(broadcast(groups.select(col("doc_id"))), "doc_id")
    val quality = TextAnalysis.qualityScore(members)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("rep_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    groups.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(col("rep_id"))))
      .filter(col("rk") === 1)
      .select(col("rep_id"), col("doc_id").as("best_id"), col("group_size"),
        col("quality").as("best_quality"))
      .orderBy(col("rep_id"))
  }

  /** Character-level verification of near-dup candidates: Levenshtein
    * distance + similarity ratio over the normalized texts, computed ONLY
    * for LSH/inverted-index candidates (edit distance is O(len²) per pair
    * — never run it on the cross product). */
  def editDistancePairs(documents: DataFrame,
      candidateThreshold: Double = 0.5, maxDf: Long = 1000,
      samplePermille: Int = 10): DataFrame = {
    // same candidate generator (and df-cut) as ngramJaccardPairs — one
    // shared inverted-index implementation, one shared oracle mirror
    val cands = ngramJaccardPairs(documents, candidateThreshold, 3, maxDf,
      samplePermille)
      .select("id_a", "id_b")
    val norm = documents.select(col("doc_id"), normalize(col("text")).as("t"))
    cands
      .join(norm.select(col("doc_id").as("id_a"), col("t").as("ta")), "id_a")
      .join(norm.select(col("doc_id").as("id_b"), col("t").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb")).as("edit_dist"),
        round(lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
          greatest(length(col("ta")), length(col("tb"))).cast("double"), 6)
          .as("sim6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-dup pairs, blocked by a coarse partition column
    * (here the cluster label — in production an IVF/LSH bucket id, see
    * Similarity.lshSignature): pairs are generated only within blocks, so
    * the quadratic blow-up is bounded by block size, then verified with
    * exact cosine. */
  def embeddingCosineDups(embeddings: DataFrame, threshold: Double = 0.3,
      blockCol: String = "label"): DataFrame = {
    import graft.functions.VectorOps.dot
    // norm precomputed per vector, not per pair
    val e = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"),
      col(blockCol).as("blk"))
    e.as("a")
      .join(e.as("b"), col("a.blk") === col("b.blk") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        when(col("a.nrm") * col("b.nrm") =!= 0.0,
          dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos6"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Triangle count per block over the embedding near-dup graph — the
    * graph-density audit on top of [[embeddingCosineDups]]: a near-dup
    * cluster that is also triangle-dense is a true template family
    * (transitive), while a triangle-poor pair set is chained false
    * positives — the cheap structural signal before committing to
    * connected-components dedup at corpus scale.
    *
    * The pair list is materialized ONCE (localCheckpoint, as in
    * [[connectedComponents]] — three plan references would otherwise
    * re-derive the whole cosine join per self-join arm), then the
    * standard two-hop + closing-edge join counts each triangle exactly
    * once via the id_a < id_b < id_c ordering the pair generator already
    * guarantees. Pairs are block-bounded by construction, so the
    * self-joins are block-local and never quadratic in the corpus. */
  def dupTriangles(embeddings: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = graft.plans.PlanTrace.cp(
      embeddingCosineDups(embeddings, threshold)
        .select(col("id_a"), col("id_b")), tag = "dup_pairs")
    val labels = embeddings.select(col("vec_id"), col("label"))
    pairs.as("p1")
      .join(pairs.as("p2"), col("p1.id_b") === col("p2.id_a"))
      .join(pairs.as("p3"), col("p3.id_a") === col("p1.id_a") &&
        col("p3.id_b") === col("p2.id_b"))
      .join(labels, col("vec_id") === col("p1.id_a"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("label"))
  }

  /** Degree HISTOGRAM of the embedding near-dup graph — the structural
    * audit run before committing to connected-components at corpus
    * scale: a long low-degree tail means chained borderline pairs (CC
    * will build giant fragile components; raise the threshold), a thick
    * high-degree head means true template families (CC is safe and the
    * keep-best step will reclaim the most rows). Pairs checkpoint once
    * (two union arms would re-derive the cosine join); degrees are one
    * aggregate on node ids, the histogram one more on the ≤ max-degree
    * distinct degree values. */
  def dupDegrees(embeddings: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = graft.plans.PlanTrace.cp(
      embeddingCosineDups(embeddings, threshold)
        .select(col("id_a"), col("id_b")), tag = "dup_pairs")
    pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))
  }

  /** Damped PAGERANK over the near-dup graph — centrality for the
    * keep-best election and template-hub detection (the highest-rank
    * node of a near-dup family is its most-connected exemplar; a rank
    * spike across families flags a boilerplate hub that pairwise counts
    * miss because its edges spread over many blocks).
    *
    * EXACT INTEGER fixed-iteration form, so the oracle reproduces every
    * bit with three unrolled CTEs:
    *   r_0(v)     = 10⁶
    *   r_{k+1}(v) = 0.15·10⁶ + Σ_{u~v} (r_k(u)·85) div (deg(u)·100)
    * Per-edge floors then an order-independent integer sum — no float
    * mass to diverge across engines or partitionings. Every graph node
    * has deg ≥ 1 (it appears in a pair), so each iteration covers all
    * nodes: no row-count drift between iterations.
    *
    * Shape at 100 TB: the classic edge-partitioned PageRank — K
    * (edges ⋈ ranks) shuffles on src over the BOUNDED near-dup pair
    * relation (block-local by construction, not corpus-quadratic);
    * pairs and the degree-weighted edge list materialize once
    * (localCheckpoint) so no iteration re-derives the cosine join. */
  def dupPagerank(embeddings: DataFrame, threshold: Double = 0.3,
      iters: Int = 3): DataFrame = {
    val pairs = graft.plans.PlanTrace.cp(
      embeddingCosineDups(embeddings, threshold)
        .select(col("id_a"), col("id_b")), tag = "dup_pairs")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val outW = graft.plans.PlanTrace.cp(
      edges.join(deg, Seq("src")), tag = "pr_outw")
    var r = deg.select(col("src").as("id"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      r = outW.join(r, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + sum(expr("(r * 85) div (deg * 100)"))).as("nr"))
        .select(col("dst").as("id"), col("nr").as("r"))
    }
    deg.select(col("src").as("vec_id"), col("deg").as("degree"))
      .join(r, col("id") === col("vec_id"))
      .select(col("vec_id"), col("degree"), col("r").as("pr_micro"))
      .orderBy(col("vec_id"))
  }

  /** 60-bit SimHash of the token multiset: bit j is the sign of the
    * count-weighted sum of ±1 over token-hash bit j. Single explode +
    * groupBy; the 60 per-bit sums are one aggregation pass. 60 bits (not
    * 64) because the portable h60 hash makes the fingerprint reproducible
    * by the SQL oracle. */
  def simhash(documents: DataFrame): DataFrame = {
    import graft.functions.PortableHash.h60
    val tok = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), h60(col("t")).as("h"))
    val bitSums = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s_$j")
    }
    val assembled = (0 until 60).map { j =>
      when(col(s"s_$j") > 0, shiftleft(lit(1L), j)).otherwise(0L)
    }.reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ maxDist (< 4), banded by
    * four 15-bit chunks so candidate generation is an equi-join. */
  def simhashPairs(documents: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist < 4, "pigeonhole banding assumes maxDist < bands")
    val sh = simhash(documents)
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL).as("cv"))
    }
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array(chunks: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.chunk"), col("bk.cv"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist"))
      // Hamming filter BEFORE the dedup: dist is a function of the pair, so
      // filtering first cannot change the distinct's result — it only
      // shrinks its input (most banded candidates fail the distance test)
      .filter(col("dist") <= maxDist)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** EXACT SUBSTRING dedup spans (the Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" family): per document,
    * the maximal token spans removable because every token in them lies
    * inside SOME length-`minLen` token window that occurs at least
    * twice in the corpus (same-document repeats count, as in the
    * ExactSubstr tool's suffix-array semantics). [[TextAnalysis
    * .dupSpans]] measures COVERAGE; this emits the removable (doc_id,
    * start, len) intervals themselves.
    *
    * Construction: census every length-`minLen` word-window occurrence
    * (doc_id, pos, h60(window)); a start is DUPLICATED when its window
    * hash occurs ≥ 2 times corpus-wide; per doc, the union of
    * [p, p+minLen) over duplicated starts p is computed by
    * gaps-and-islands (new island when the gap to the previous
    * duplicated start exceeds minLen — adjacent/overlapping windows
    * merge). Every reported span has len ≥ minLen and each of its
    * tokens is part of a duplicated length-minLen substring — exact by
    * construction, never a suffix array over the corpus. Window
    * identity is the 60-bit portable hash (the digest-as-identity
    * convention the whole dedup family carries; the oracle hashes the
    * identical strings, so the candidate set matches bit-for-bit).
    *
    * Shape at 100 TB: the (doc, pos, h) census is one data-sized
    * relation (ids+hash, never text); the duplicated-hash set is one
    * hash-keyed aggregate + semi join back (AQE absorbs hot windows —
    * they are precisely the duplicated ones, so no df-cut applies);
    * the island window runs per doc over its own duplicated starts.
    * minLen defaults to 20 tokens — the testdata documents average ~54
    * tokens, so 20 plays the role Lee et al.'s 50 plays on web-scale
    * pages; at production scale pass 50. */
  /** A duplicated-starts relation TAGGED with the window length it was
    * built under. The span/coverage arithmetic downstream is only
    * correct for this exact `minLen`, so the length travels with the
    * relation — a caller can no longer pair a memoized starts relation
    * with a different length and get silently wrong span lengths. */
  final case class DupStarts(rel: DataFrame, minLen: Int)

  /** The (doc_id, pos, h) length-`minLen` window census under the
    * exact-substring family — one data-sized explode carrying ids and
    * the 60-bit portable window hash, never text. Exposed so the
    * ingest-check side ([[dupSubstringsAgainst]],
    * `store.SubstrStore.writeWindowCensus`) probes and persists the
    * SAME hashes the batch dedup elects duplicates from. */
  def windowCensus(documents: DataFrame, minLen: Int = 20): DataFrame = {
    import graft.functions.PortableHash.h60
    import graft.functions.WordShingles.word_ngrams
    documents
      .select(col("doc_id"),
        posexplode(word_ngrams(normalize(col("text")), minLen))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"), h60(col("g")).as("h"))
  }

  /** The duplicated window-start relation (doc_id, pos) under
    * [[dupSubstrings]] and [[dupSubstringsApply]] — exposed so
    * SparkEntry can materialize it ONCE per corpus and fan both
    * queries out from the same localCheckpoint (the postingsFor
    * family-prefix pattern). */
  def dupStarts(documents: DataFrame, minLen: Int = 20): DupStarts = {
    val census = windowCensus(documents, minLen)
    val dup = census.groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"))
    DupStarts(census.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos")), minLen)
  }

  /** CROSS-CORPUS starts: the window starts of `newDocs` whose hash
    * already exists in `corpusHashes` (any relation with an `h` column —
    * [[windowCensus]] output or the persisted
    * `store.SubstrStore` census). The ingest-check counterpart of
    * [[dupStarts]]: duplication is against the CORPUS, not within the
    * batch. */
  def dupStartsAgainst(newDocs: DataFrame, corpusHashes: DataFrame,
      minLen: Int = 20): DupStarts =
    DupStarts(windowCensus(newDocs, minLen)
      .join(corpusHashes.select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos")), minLen)

  /** Exact-substring INGEST CHECK (cross-corpus `dup_substrings`): per
    * new document, the (start, len, n_windows) spans whose every token
    * is part of a length-`minLen` window already present in the corpus
    * — the report an ingest gate acts on (reject, or feed the spans to
    * [[dupSubstringsApply]]'s coverage fold to admit a cleaned doc).
    * The span fold IS [[dupSubstrings]] over the probe-derived starts —
    * streamed, batch and gated-query paths share this one code path.
    *
    * Shape at 100 TB: the batch census is batch-sized; the corpus side
    * is a distinct-hash semi join — with the persisted
    * `store.SubstrStore` census the corpus pays nothing at ingest time
    * beyond the hash-keyed probe, the same asymmetric contract as
    * [[dedupAgainst]] and the banded semantic check. */
  def dupSubstringsAgainst(newDocs: DataFrame, corpusHashes: DataFrame,
      minLen: Int = 20): DataFrame =
    dupSubstrings(newDocs,
      starts = Some(dupStartsAgainst(newDocs, corpusHashes, minLen)))

  /** The APPLY half of the ingest check — the action [[
    * dupSubstringsAgainst]] only reports: per NEW document, the cleaned
    * normalized token stream with every token covered by a
    * length-`minLen` window ALREADY IN THE CORPUS removed, plus the
    * kept/removed tallies. This is Lee et al.'s ExactSubstr dedup
    * actually applied at admission time: the gate admits the cleaned
    * doc instead of rejecting the whole thing.
    *
    * Pure composition of the two halves that already gate: the
    * probe-derived starts ([[dupStartsAgainst]] — batch census, corpus
    * semi join) feed [[dupSubstringsApply]]'s running-max coverage walk
    * verbatim, so batch, gated-query and streaming paths share one
    * code path and the streamed result equals the batch one by
    * construction. Shape at 100 TB: identical to the check — batch
    * census ∝ batch tokens, hash-keyed probe against the persisted
    * `store.SubstrStore` census, per-doc-bounded coverage fold. */
  def dupSubstringsAgainstApply(newDocs: DataFrame, corpusHashes: DataFrame,
      minLen: Int = 20): DataFrame =
    dupSubstringsApply(newDocs,
      starts = Some(dupStartsAgainst(newDocs, corpusHashes, minLen)))

  def dupSubstrings(documents: DataFrame, minLen: Int = 20,
      starts: Option[DupStarts] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = starts.getOrElse(dupStarts(documents, minLen))
    val L = ds.minLen
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    ds.rel
      .withColumn("nf",
        when(col("pos") - lag(col("pos"), 1).over(w) > L, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("nf")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("start"),
        (max(col("pos")) + lit(L.toLong) - min(col("pos")))
          .cast("long").as("len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("start"), col("len"), col("n_windows"))
      .orderBy(col("doc_id"), col("start"))
  }

  /** APPLY half of [[dupSubstrings]]: emit the cleaned corpus — per doc,
    * the normalized token stream with every token covered by a
    * duplicated length-`minLen` window REMOVED (the transform the Lee
    * et al. ExactSubstr tool performs; `dupSubstrings` reports the
    * spans, this executes them). Output text is in the census's own
    * coordinate system, i.e. the normalized token stream — the same
    * convention [[lineDedup]]'s reassembly uses.
    *
    * Coverage without a range join: the duplicated starts land on the
    * token census by (doc, pos) equi join; a running max-start window
    * per doc then marks pos covered iff the latest start at-or-before
    * it is within minLen — one per-doc ordered pass, no interval
    * explosion. Reassembly is the per-doc sort_array(collect_list)
    * fold, bounded by doc length like every reassembly here.
    *
    * Shape at 100 TB: census + starts are the [[dupStarts]] relation
    * (share it via the `starts` hook when both queries run); the token
    * census is one data-sized explode that shuffles (id, pos, token)
    * once on doc_id; everything downstream is per-doc-bounded. */
  def dupSubstringsApply(documents: DataFrame, minLen: Int = 20,
      starts: Option[DupStarts] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ds = starts.getOrElse(dupStarts(documents, minLen))
    val L = ds.minLen
    val st = ds.rel.withColumn("is_start", lit(true))
    val toks = documents
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = toks
      .join(st, Seq("doc_id", "pos"), "left")
      .withColumn("cs", max(when(col("is_start"), col("pos"))).over(w))
      .filter(col("cs").isNull || col("cs") + L <= col("pos"))
      .groupBy(col("doc_id"))
      .agg(expr("array_join(transform(array_sort(" +
          "collect_list(struct(pos, tok))), x -> x.tok), ' ')")
          .as("clean_text"),
        count(lit(1)).as("n_kept"))
    documents
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-width token blocks of every doc, carrying `source` — the
    * block relation [[boilerplateCensus]] / [[boilerplateStrip]] share
    * (the [[lineDedup]] slicing convention: 1-based `slice`, ceil'd
    * block count, short tail block kept). */
  private def sourceBlocks(documents: DataFrame,
      blockTokens: Int): DataFrame = {
    val nBlocks = expr(
      s"(size(split(text, ' ')) + ${blockTokens - 1}) div $blockTokens")
    documents
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"),
        explode(sequence(lit(0L), nBlocks - 1)).as("block_idx"))
      .select(col("doc_id"), col("source"), col("block_idx"),
        concat_ws(" ", slice(col("t"),
          (col("block_idx") * blockTokens + 1).cast("int"),
          lit(blockTokens))).as("block"))
  }

  /** Boilerplate-line census (the C4/CCNet cleaning gate [[lineDedup]]
    * does NOT cover): a block repeated across MANY DISTINCT DOCS of the
    * same source is template chrome — cookie banners, nav bars,
    * subscribe footers — that a keeper election would keep once per
    * corpus when the right call is to strip it from every doc. The
    * census reports, per source, each block occurring in ≥ `minDocs`
    * distinct documents; [[boilerplateStrip]] is the apply half.
    * Granularity is the corpus's line surrogate: fixed `blockTokens`
    * token blocks (the [[lineDedup]] convention — this corpus has no
    * newlines).
    *
    * Shape at 100 TB: one scan explodes blocks, the shuffle is keyed by
    * the 60-bit block digest (never the block text — rows stay narrow),
    * and the per-(source, digest) distinct-doc count is a two-level
    * aggregate (partial distinct per map task first). Boilerplate
    * blocks are hot BY DEFINITION, but the hot key's row count is
    * bounded by docs-per-source, and the census output is tiny (only
    * blocks over the threshold survive). Cf. Raffel et al. 2020 (C4,
    * §2.2 line dedup) and Wenzek et al. 2020 (CCNet paragraph dedup) —
    * public-pipeline precedents for exactly this census. */
  def boilerplateCensus(documents: DataFrame, minDocs: Long = 3L,
      blockTokens: Int = 8): DataFrame =
    boilerplateReadout(boilerplateCensusRaw(documents, blockTokens), minDocs)

  /** UNthresholded census relation (source, bh, block, n_docs) — the
    * standing state: per-doc-distinct, so counts are SUM-mergeable
    * across disjoint doc sets (each doc's blocks arrive together; the
    * streaming twin folds per-batch censuses by exactly this merge). */
  def boilerplateCensusRaw(documents: DataFrame,
      blockTokens: Int = 8): DataFrame = {
    import graft.functions.PortableHash.h60
    sourceBlocks(documents, blockTokens)
      .select(col("source"), h60(col("block")).as("bh"), col("block"),
        col("doc_id"))
      .distinct()
      .groupBy(col("source"), col("bh"))
      .agg(count(lit(1)).as("n_docs"), min(col("block")).as("block"))
  }

  /** Threshold readout over a (folded or one-shot) raw census — the
    * batch/streaming-shared half of [[boilerplateCensus]]. */
  def boilerplateReadout(raw: DataFrame, minDocs: Long = 3L): DataFrame =
    raw.filter(col("n_docs") >= minDocs)
      .select(col("source"), col("block"), col("n_docs").cast("long")
        .as("n_docs"))
      .orderBy(col("source"), col("block"))

  /** APPLY half of [[boilerplateCensus]]: strip every flagged block
    * from every doc of its source and reassemble the remainder (same
    * ordered concat_ws reassembly as [[lineDedup]]); emits per doc the
    * block counts plus an md5 receipt of the cleaned text (the
    * `encoding_repair` receipt convention — the oracle verifies the
    * reassembled bytes without shipping them).
    *
    * The census side is output-of-[[boilerplateCensus]]-sized (tiny by
    * construction: only over-threshold blocks), so the strip join is a
    * broadcast against the block stream — no second shuffle; the only
    * wide move is the per-doc reassembly groupBy the dedup family
    * already pays everywhere. */
  def boilerplateStrip(documents: DataFrame, census: DataFrame,
      blockTokens: Int = 8): DataFrame = {
    import graft.functions.PortableHash.h60
    val flagged = census
      .select(col("source"), h60(col("block")).as("bh"),
        lit(true).as("is_bp"))
    sourceBlocks(documents, blockTokens)
      .withColumn("bh", h60(col("block")))
      .join(broadcast(flagged), Seq("source", "bh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("is_bp"), 1L).otherwise(0L)).as("n_stripped"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("is_bp").isNull,
            struct(col("block_idx"), col("block"))))),
          s => s.getField("block")))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }
}

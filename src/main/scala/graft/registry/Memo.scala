package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.plans.{PlanFingerprint, PlanTrace}

/** Cross-query memoized prefixes, shared SQL constants and oracle CTE
  * builders — extracted verbatim from SparkEntry (round 11 split).
  * One process = one Bench/Verify run, so memo lifetime is the
  * process; see the pinning note on [[pinnedRddIds]].
  *
  * Every memo is one cell in one map, reached through [[cell]]: built
  * once under the cell's own lock, its build time noted in
  * [[buildSecs]], its build-time structural sha recorded into
  * `PlanTrace` on every access. Every memo checkpoint goes through the
  * one seam [[checkpointPinned]], which pins exactly the blocks read
  * off the checkpointed plan. */
private[graft] object Memo {
  // Filter range for the events-table trends queries: interior of the
  // generated Jan-2024 span at every scale factor, bounds inclusive
  // (reference semantics, trends/listing/service.go:56-57).
  private[graft] val TrendsFrom = "2024-01-05 00:00:00"
  private[graft] val TrendsTo = "2024-01-25 00:00:00"

  // Written in the common Spark∩DuckDB dialect: these strings are BOTH
  // the oracle and (via the `*_sql` entries) the Spark query itself —
  // one piece of SQL, two engines, hash-matched (graft.Sql parity).
  private[graft] val Q1PricingSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private[graft] val Q6ForecastSql =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount >= CAST(0.02 AS DOUBLE) AND l_discount <= CAST(0.04 AS DOUBLE)
      |  AND l_quantity < 10""".stripMargin

  // ── Cross-query memo (one process = one Bench/Verify run) ──
  /** Checkpoint RDD ids the per-query unpersist sweep in Bench/Verify
    * must SKIP: the memoized relations below are consumed by several
    * queries in the same process (dedup_groups, dedup_groups_best and
    * leakage_safe_split all start from one LSH+CC groups prefix) — a
    * localCheckpoint has truncated lineage, so sweeping its blocks would
    * strand every later reader, not just waste a recompute. Filled only
    * by [[checkpointPinned]]. */
  val pinnedRddIds: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  /** Build seconds per (memo tag, data dir) — recorded at FIRST build,
    * which happens inside Bench's first timed pass (memo lifetime is
    * the process, so only that one query's first sample carries the
    * cost and the min-of-3 drops it). Bench emits the sfDir entries as
    * `memo_sec` in the bench JSON so cross-round totals can be read
    * both WITH the one-time build cost and amortized (the r15 verdict's
    * accounting directive: make the memo cost visible, not hidden). */
  private[graft] val buildSecs =
    scala.collection.concurrent.TrieMap.empty[(String, String), Double]

  private def noteBuild[T](tag: String, dir: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val v = build
    val dt = (System.nanoTime() - t0) / 1e9
    buildSecs.synchronized {
      buildSecs((tag, dir)) = buildSecs.getOrElse((tag, dir), 0.0) + dt
    }
    v
  }

  /** One memo entry: the built value and the structural sha its tag
    * records on every access (None: the tag records nothing). */
  private final class Cell { var built: (Any, Option[String]) = null }

  /** Every memo below, keyed (tag, SparkContext identity, data dir,
    * extra) — `extra` is the groups threshold, `()` elsewhere. */
  private val cells = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, String, Any), Cell]()

  /** The one memo path: build once (timed by [[noteBuild]]), then on
    * EVERY access record the build-time sha into [[PlanTrace]] under
    * `trace` (default: the tag), so Bench's fingerprint pass sees the
    * prefix plan a checkpoint's LogicalRDD readout hides even when the
    * memo was built in an untraced pass (the r11 plan_sha blind spot).
    * The map only ever creates an empty cell; the build runs under the
    * cell's own lock. Memos build on memos (shingle_tf → positions,
    * overlap/lsh_cands → postings, token_tf → tokens, chunk_pairs →
    * chunk_reps); building inside one shared map's atomic compute
    * would throw "Recursive update" on the nested build and stall every
    * key in the bin for the length of a build. A build that throws
    * leaves the cell empty, so the next access retries it. */
  private def cell[T](tag: String, s: SparkSession, dir: String,
      extra: Any = (), trace: String = "")(
      build: => (T, Option[String])): T = {
    val c = cells.computeIfAbsent(
      (tag, System.identityHashCode(s.sparkContext), dir, extra), _ => new Cell)
    val (v, sha) = c.synchronized {
      if (c.built == null) c.built = noteBuild(tag, dir)(build)
      c.built
    }
    sha.foreach(h => PlanTrace.record(if (trace.isEmpty) tag else trace, h))
    v.asInstanceOf[T]
  }

  /** The one checkpoint seam: eager localCheckpoint, then pin the block
    * ids read off the checkpointed plan itself
    * (GraftBridge.checkpointedRddIds). A global registry diff would
    * capture blocks a concurrently-building memo or folding standing
    * table creates in the same window (the r14 StandingTable lesson). */
  private def checkpointPinned(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    org.apache.spark.sql.GraftBridge.checkpointedRddIds(out)
      .foreach(id => pinnedRddIds.add(id))
    out
  }

  /** A checkpointed memo: the frame's PRE-checkpoint structural sha (taken
    * before the checkpoint runs it), then the frame through
    * [[checkpointPinned]]. */
  private def memoizedCp(tag: String, s: SparkSession, dir: String,
      extra: Any = ())(build: => DataFrame): DataFrame =
    cell(tag, s, dir, extra) {
      val raw = build
      val sha = PlanFingerprint.structSha(raw)
      (checkpointPinned(raw), Some(sha))
    }

  /** Temp parquet state (band index, window census) lives for ONE
    * process by design — delete it on JVM exit so repeated bench/verify
    * invocations on a shared host don't accumulate /tmp state (each
    * dir is corpus-sized sketch/hash parquet, not payload). */
  private def tempDirFor(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.store.Swap.deleteRecursively(p.toFile)))
    p.toString
  }

  /** Banded LSH index persisted ONCE per (SparkContext, corpus dir) via
    * `EmbeddingStore.writeBanded` — the write-time state the
    * cross-corpus semantic check probes. The indexed corpus is the
    * store split the gated query checks against (vec_id ≢ 0 mod 5);
    * queries pay only the batch-side signatures + the probe. */
  private[graft] def bandStoreFor(s: SparkSession, dir: String): String =
    cell("band_store", s, dir) {
      val corpus = Tables.embeddings(s, dir)
      val path = tempDirFor("graft_emb_index")
      graft.store.EmbeddingStore.writeBanded(
        corpus.filter(pmod(col("vec_id"), lit(5)) =!= 0), path)
      (path, Some(PlanFingerprint.structSha(corpus)))
    }

  /** Window-hash census persisted ONCE per (SparkContext, corpus dir)
    * via `store.SubstrStore.writeWindowCensus` — the write-time state
    * the exact-substring ingest check probes. The indexed corpus is the
    * store split the gated query checks against (doc_id ≢ 0 mod 5);
    * queries pay only the batch-side census + the hash-keyed probe. */
  private[graft] def substrStoreFor(s: SparkSession, dir: String): String =
    cell("substr_store", s, dir) {
      val corpus = Tables.documents(s, dir)
      val path = tempDirFor("graft_substr_census")
      graft.store.SubstrStore.writeWindowCensus(
        corpus.filter(pmod(col("doc_id"), lit(5)) =!= 0), path)
      (path, Some(PlanFingerprint.structSha(corpus)))
    }

  /** IVF centroids trained ONCE per (SparkContext, corpus dir) — the
    * write-time clustering (`store.EmbeddingStore`); the `ann_ivf_topk`
    * serving path probes them without re-training, mirroring how a real
    * index is built on ingest and read by every query. Driver-sized
    * (nCentroids × dims doubles), so no RDD pinning involved. */
  private[graft] def centroidsFor(s: SparkSession,
      dir: String): Array[Array[Double]] =
    cell("ivf_centroids", s, dir)(
      (Similarity.kmeansCentroids(Tables.embeddings(s, dir)), None))

  /** PQ codebooks fit ONCE per (SparkContext, corpus dir) — the
    * write-time quantizer state the encode query and the aux dump
    * share, same lifecycle as [[centroidsFor]]. */
  private[graft] def pqFor(s: SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    cell("pq_codebooks", s, dir)(
      (Similarity.pqCodebooks(Tables.embeddings(s, dir)), None))

  /** The (doc_id, shingle) postings table shingled ONCE per
    * (SparkContext, corpus dir) and localCheckpointed — the family
    * prefix under ngram_jaccard_pairs, containment_pairs and
    * minhash_lsh_pairs, which otherwise each re-tokenize the corpus
    * (the bm25 exchange-reuse lesson applied ACROSS queries: share the
    * materialization, not just the plan subtree). */
  private[graft] def postingsFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("postings", s, dir)(
      Dedup.postings(Tables.documents(s, dir), 3))

  /** The candidate-overlap relation (pairs + shared-shingle counts +
    * sizes) computed ONCE over [[postingsFor]] — the jaccard and
    * containment scorers differ only ABOVE this generator. */
  private[graft] def overlapFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("overlap", s, dir)(
      Dedup.overlapWithSizesFrom(postingsFor(s, dir)))

  /** The duplicated length-20-window start relation materialized ONCE
    * per (SparkContext, corpus dir) — the family prefix under
    * dup_substrings (span report) and dup_substrings_apply (cleaned
    * corpus), which otherwise each re-census the L-gram windows. The
    * window length travels inside [[Dedup.DupStarts]], so both
    * consumers are structurally pinned to the length the census was
    * built under. */
  private[graft] def dupStartsFor(s: SparkSession, dir: String): Dedup.DupStarts =
    cell("dup_starts", s, dir) {
      val d = Dedup.dupStarts(Tables.documents(s, dir), 20)
      val sha = PlanFingerprint.structSha(d.rel)
      (d.copy(rel = checkpointPinned(d.rel)), Some(sha))
    }

  /** The (doc_id, pos, sh) word-trigram OCCURRENCE census tokenized ONCE
    * per (SparkContext, corpus dir) and localCheckpointed — the
    * positions-bearing sibling of [[postingsFor]], the family prefix
    * under winnow_pairs and dup_spans (both need positions, so they can
    * never join the distinct postings prefix; before this memo each
    * re-ran normalize + the trigram posexplode over the corpus). */
  private[graft] def positionsFor(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps.normalize
    import graft.functions.WordShingles.word_ngrams
    memoizedCp("positions", s, dir)(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(word_ngrams(normalize(col("text")), 3))
            .as(Seq("pos", "sh"))))
  }

  /** The (doc_id, bucket) corpus-order decile relation ranked ONCE per
    * (SparkContext, corpus dir) and localCheckpointed — the family
    * prefix under vocab_growth and ngram_growth, which rank the SAME
    * doc relation into the SAME ten arrival buckets; before this memo
    * each curve re-ran the closed-form ranker's stats + histogram +
    * checkpoint passes (the round-7 bench regression: 0.72→1.62 s /
    * 0.66→1.28 s when the curves moved off the global-ntile window). */
  private[graft] def docBucketsFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("doc_buckets", s, dir)(
      graft.operators.Ranks.withNtileBucket(
        Tables.documents(s, dir).select(col("doc_id")),
        10, col("doc_id"), Nil, "bucket"))

  /** The (doc_id, b, tf) word-bigram COUNT census aggregated ONCE per
    * (SparkContext, corpus dir) and localCheckpointed — the family
    * prefix under lm_perplexity, kn_perplexity, lm_coverage,
    * dsir_weights, gopher_repetition and bigram_pmi. Round 15 moved the
    * memo one aggregate UP from the raw occurrence table: every
    * consumer's first step was the same groupBy(doc_id, b) count (or a
    * lossless derivation of it — distinct keys for coverage, Σtf
    * rollups for pmi/dsir), so each paid the occurrence-table shuffle
    * per query. The census is that shuffle run once; it is also the
    * smaller relation (occurrences collapse by the within-doc repeat
    * factor), so the per-query scans shrink too. */
  private[graft] def bigramTfFor(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps.normalize
    import graft.functions.WordShingles.word_ngrams
    memoizedCp("bigram_tf", s, dir)(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(word_ngrams(normalize(col("text")), 2)).as("b"))
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("tf")))
  }

  /** The (doc_id, sh, tf) word-trigram COUNT census aggregated ONCE
    * over [[positionsFor]] and localCheckpointed — the family prefix
    * under tf_cosine_pairs and tfidf_cosine_pairs, whose first step
    * was each the same groupBy(doc_id, sh) count over the positions
    * census (and each query then read that aggregate three times:
    * hot-shingle cut, kept postings, norms — all served from this one
    * materialization now). */
  private[graft] def shingleTfFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("shingle_tf", s, dir)(
      positionsFor(s, dir)
        .select(col("doc_id"), col("sh"))
        .groupBy(col("doc_id"), col("sh"))
        .agg(count(lit(1)).as("tf")))

  /** The (doc_id, tok) word-token OCCURRENCE table tokenized ONCE per
    * (SparkContext, corpus dir) and localCheckpointed — the unigram
    * sibling of [[bigramTfFor]], the family prefix under the vocabulary/
    * richness/tf-idf consumers. Corpus-level, per-source (via a
    * broadcast doc→source join) and per-doc census views all DERIVE
    * from the occurrence table. */
  private[graft] def tokensFor(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps.tokens
    memoizedCp("tokens", s, dir)(
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
  }

  /** The (doc_id, tok, tf) word-token COUNT census aggregated ONCE over
    * [[tokensFor]] and localCheckpointed — the unigram sibling of
    * [[bigramTfFor]]: source_confusion, zipf_slope, vocab_topk,
    * token_gini, tfidf_top_term, vocab_cms, source_kl, js_divergence
    * and bigram_pmi's unigram side all started with the same
    * groupBy(doc_id, tok) count (or a Σtf/distinct-keys derivation of
    * it), so each paid the occurrence-table shuffle per query; the
    * census is that shuffle run once. [[tokensFor]] itself stays for
    * the one consumer that needs raw occurrence multiplicity inside a
    * positional frame (vocab_growth's growth curve). */
  private[graft] def tokenTfFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("token_tf", s, dir)(
      tokensFor(s, dir)
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf")))

  /** BPE training (merge table + final rewritten corpus) run ONCE per
    * (SparkContext, corpus dir) — `bpe_merges` serves the table,
    * `bpe_encode` the per-doc encodings, off one training run (the
    * dedup-family prefix pattern: share the materialization). The final
    * corpus is checkpointed through [[checkpointPinned]], so the pins are
    * exactly the returned frame's own blocks, and bpeTrain's persisted
    * copy is released. Its trace records under `bpe_final` the sha of
    * that persisted frame (chained replaces off the scan), which
    * distinguishes the BPE family's driver-local result relations in
    * the plan fingerprint. */
  private[graft] def bpeFor(s: SparkSession,
      dir: String): (Seq[(Long, String, Long)], DataFrame) =
    cell("bpe", s, dir, trace = "bpe_final") {
      val (learned, fin) = TextAnalysis.bpeTrain(Tables.documents(s, dir), 5)
      val sha = PlanFingerprint.structSha(fin)
      val encoded = checkpointPinned(fin)
      fin.unpersist(blocking = false)
      ((learned, encoded), Some(sha))
    }

  /** The corpus BM25 score relation (default query terms) computed ONCE
    * per (SparkContext, corpus dir) and localCheckpointed — the family
    * prefix under `bm25_scores` (the relation itself) and `hybrid_rrf`
    * (its lexical rank list), which otherwise each re-run the
    * tokenize + tf/df/dl chain over the corpus. */
  private[graft] def bm25For(s: SparkSession, dir: String): DataFrame =
    memoizedCp("bm25", s, dir)(
      TextAnalysis.bm25Scores(Tables.documents(s, dir)))

  /** The seeded boilerplate RAW block census (source, bh, block,
    * n_docs) built ONCE per (SparkContext, corpus dir) and
    * localCheckpointed — the family prefix under `boilerplate_census`
    * (threshold readout) and `boilerplate_strip` (whose flagged-block
    * side is the same census; the strip's own block explode +
    * reassembly remain per-query). Both consumers previously re-ran
    * the explode + per-doc-distinct + census aggregate over the
    * decorated corpus. */
  private[graft] def bpCensusFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("bp_census", s, dir)(
      Dedup.boilerplateCensusRaw(
        DedupReg.decorateBoilerplate(Tables.documents(s, dir))))

  /** The lineitem per-column DISTINCT-VALUE census built ONCE per
    * (SparkContext, corpus dir) and localCheckpointed — the family
    * prefix under `profile_lineitem` (exact readout) and
    * `profile_lineitem_approx` (register readout), which otherwise
    * EACH pay the 11-way per-row explode over the corpus's widest
    * table (the two slowest queries on every bench board, ~5 s each at
    * sf0.1; the census is Σ per-column distincts — a fraction of the
    * explode — and both readouts are census-sized). */
  private[graft] def lineitemCensusFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("lineitem_census", s, dir)(
      graft.operators.Profiling.valueCensus(Tables.lineitem(s, dir)))

  /** The shard-local token LAYOUT relation (doc_id, shard, n_tokens,
    * tokens_before) cumulated ONCE per (SparkContext, corpus dir) and
    * localCheckpointed — the family prefix under `pack_sequences`,
    * `pack_spans` and `epoch_order`, which each re-ran the tokenize
    * (normalize + token_profile over text) + closed-form prefix-sum
    * chain before their map-side readout arithmetic. The layout is
    * text-free and narrow (4 numeric columns/doc), so the checkpoint is
    * a fraction of the corpus it derives from; defaults pinned to the
    * gated queries' (nShards = 8). */
  private[graft] def packLayoutFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("pack_layout", s, dir)(
      graft.operators.Sampling.layoutFromMeta(
        graft.operators.Sampling.packMeta(Tables.documents(s, dir), 8)))

  /** The epoch ALLOCATION relation (source-cardinality, driver-computed
    * by the largest-remainder allocator) built ONCE per (SparkContext,
    * corpus dir) — `epoch_allocate` serves it directly and `mix_order`
    * injects it as its copies quota (same defaults: budgetChars 280000,
    * maxEpochs 2). The result is a LocalRelation (the allocator
    * collects a source-cardinality aggregate), so no checkpoint/pin is
    * involved — memoizing skips the per-query corpus scan + collect; its
    * trace records the sha of that driver-local relation. */
  private[graft] def epochAllocFor(s: SparkSession, dir: String): DataFrame =
    cell("epoch_alloc", s, dir) {
      val v = graft.operators.Sampling.epochAllocate(Tables.documents(s, dir))
      (v, Some(PlanFingerprint.structSha(v)))
    }

  /** The graded-decontamination fraction relation computed ONCE per
    * (SparkContext, corpus dir) — `decontaminate_frac` serves it
    * directly, `contamination_deciles` rolls it up, and (round 16)
    * `decontaminate` reads its flagged rows: the binary gate's
    * n_hit_ngrams IS the fraction relation's n_hits (same eval slice,
    * same broadcast hit-count join), so the family runs one scoring
    * pass instead of two. */
  private[graft] def fracFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("decontam_frac", s, dir)(
      TextAnalysis.decontaminationFraction(Tables.documents(s, dir)))

  /** The decontamination Bloom BITMAP (eval-slice n-gram hashes folded
    * into 2²⁰ bits) built ONCE per (SparkContext, corpus dir) — the
    * eval side of `decontaminate_bloom` is benchmark-suite state,
    * computed once like the IVF centroids; the gated query then pays
    * only the corpus-side scan + filter + per-doc count. Driver-sized
    * (16 K longs), no RDD pinning involved. */
  private[graft] def decontamBloomBitsFor(s: SparkSession,
      dir: String): Array[Long] = {
    import graft.functions.BloomBits
    import graft.functions.PortableHash.h60
    import graft.functions.TextOps.shingles
    cell("decontam_bloom_bits", s, dir) {
      val rel = Tables.documents(s, dir)
        .filter(pmod(h60(col("doc_id").cast("string")), lit(1000L)) < 20)
        .select(explode(shingles(col("text"), 3)).as("sh"))
        .distinct()
        .select(h60(col("sh")).as("h"))
      val sha = PlanFingerprint.structSha(rel)
      (BloomBits.build(rel, 1 << 20, 4), Some(sha))
    }
  }

  /** The distinct LSH band-collision candidate relation built ONCE per
    * (SparkContext, corpus dir) over [[postingsFor]] — the 64-hash
    * signature build is the expensive half of the minhash gate, and
    * both `minhash_lsh_pairs` (verify stage) and `blocking_quality`
    * (candidate counting) consume the same relation. */
  private[graft] def lshCandidatesFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("lsh_cands", s, dir)(
      Dedup.lshCandidatesFrom(postingsFor(s, dir)))

  /** Representative chunks (exact-collapsed) built ONCE per corpus —
    * the shared prefix of the fuzzy chunk-dedup pair gate and its
    * per-doc audit. */
  private[graft] def chunkRepsFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("chunk_reps", s, dir)(
      Dedup.chunkReps(Tables.documents(s, dir)))

  /** Verified cid-level fuzzy chunk pairs built ONCE per corpus — the
    * 64-hash signature build over representatives is the expensive
    * half; both consumers read this one materialization. */
  private[graft] def chunkPairsFor(s: SparkSession, dir: String): DataFrame =
    memoizedCp("chunk_pairs", s, dir)(
      Dedup.chunkMinhashPairsRaw(chunkRepsFor(s, dir)))

  /** The three `chunk_dedup_against` corpus relations (band rows, cut
    * postings, hot-shingle census) built ONCE per (SparkContext, corpus
    * dir) over the store split (doc_id ≢ 0 mod 5) and localCheckpointed
    * in dependency order — write-time INDEX state, exactly what
    * `ChunkStore` persists for the streaming twin, held in memory here
    * so the gated query measures the batch-proportional PROBE, not a
    * per-run index rebuild (the bandStoreFor / substrStoreFor
    * precedent). */
  private[graft] def chunkIndexFor(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) =
    cell("chunk_index", s, dir) {
      val shas = Seq.newBuilder[String]
      val triple = Dedup.chunkIndexRelations(
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(5)) =!= 0),
        window = 200, stride = 150, bands = 16, rowsPerBand = 4,
        maxDf = 1000,
        cp = df => {
          shas += PlanFingerprint.structSha(df)
          checkpointPinned(df)
        })
      (triple, Some(PlanFingerprint.sha6(shas.result().mkString(","))))
    }

  /** Near-dup groups (Dedup.dedupGroups) computed ONCE per
    * (SparkContext, corpus dir, threshold) and localCheckpointed — the
    * production shape: run the expensive LSH + connected-components
    * prefix once, then serve every downstream consumer (keep-best,
    * leakage-safe split, the groups listing itself) from the
    * materialized result. All checkpoint blocks the build creates are
    * pinned against the sweep. */
  private[graft] def groupsFor(s: SparkSession, dir: String,
      threshold: Double): DataFrame =
    memoizedCp("groups", s, dir, threshold)(
      Dedup.dedupGroups(Tables.documents(s, dir), threshold))

  /** CTE list (no WITH keyword) reproducing Dedup.minhashLshPairs up to a
    * `pairs(id_a, id_b, jaccard6)` relation — shared by the pairs oracle
    * and the connected-components (dedup_groups) oracle. */
  /** UNION-ALL per-column profile oracle (the Spark side is one Expand
    * scan; DuckDB re-scans per column — fine at oracle scale). */
  /** Register-exact portable-HLL profile oracle: rebuilds the identical
    * h60 m=64 register table per column (the hll_distinct CTE chain,
    * keyed by column name) plus the null/row tallies. `kind` selects the
    * portable rendering: "dbl" = micro-grid floor, "ts" = epoch micros,
    * anything else = plain VARCHAR cast. */
  private[graft] def portableProfileOracle(table: String,
      cols: Seq[(String, String)]): String = {
    val hashed = cols.map { case (c, kind) =>
      val sv = kind match {
        case "dbl" => s"CAST(CAST(floor($c * 1000000) AS BIGINT) AS VARCHAR)"
        case "ts"  => s"CAST(epoch_us($c) AS VARCHAR)"
        case _     => s"CAST($c AS VARCHAR)"
      }
      s"SELECT '$c' AS col, $sv AS sv FROM $table"
    }.mkString("\n  UNION ALL ")
    // tallies are per-column ungrouped aggregates (one row per column
    // even on an EMPTY table — the schema-spine contract the exact
    // profiler and EmptyInputSpec share); the register assembly LEFT
    // JOINs onto them, so sketch state is NULL when no values exist
    val tallies = cols.map { case (c, _) =>
      s"""SELECT '$c' AS col, CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(count(*) - count($c) AS BIGINT) AS n_nulls
         |  FROM $table""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH hashed AS (
       |  $hashed
       |), h AS (
       |  SELECT col, CASE WHEN sv IS NULL THEN NULL
       |    ELSE ('0x' || substr(md5(sv), 1, 15))::BIGINT END AS h FROM hashed
       |), cells AS (
       |  SELECT col,
       |    CASE WHEN h IS NULL THEN -1 ELSE h % 64 END AS bucket,
       |    count(*) AS cnt,
       |    max(CASE WHEN h IS NULL THEN NULL
       |        WHEN h // 64 = 0 THEN 55
       |        ELSE 55 - length(bin(h // 64)) END) AS reg
       |  FROM h GROUP BY 1, 2
       |), tallies AS (
       |  $tallies
       |), regs AS (
       |  SELECT col, bucket, reg FROM cells WHERE bucket >= 0
       |), per AS (
       |  SELECT col, count(*) AS n_used, max(reg) AS max_reg
       |  FROM regs GROUP BY 1
       |), asm AS (
       |  SELECT r.col, p.n_used, p.max_reg,
       |    CAST(sum(CAST(1 AS BIGINT) << CAST(p.max_reg - r.reg AS INT))
       |      AS BIGINT) AS s_present
       |  FROM regs r JOIN per p USING (col)
       |  GROUP BY 1, 2, 3
       |)
       |SELECT t.col AS "column", t.n_nulls, t.n_rows,
       |  CAST(64 - a.n_used AS BIGINT) AS v_zero,
       |  a.max_reg,
       |  a.s_present + (64 - a.n_used) *
       |    (CAST(1 AS BIGINT) << CAST(a.max_reg AS INT)) AS s_num,
       |  round(0.709 * 64 * 64 * pow(2.0, a.max_reg) /
       |    CAST(a.s_present + (64 - a.n_used) *
       |      (CAST(1 AS BIGINT) << CAST(a.max_reg AS INT)) AS DOUBLE), 6)
       |    AS hll_est
       |FROM tallies t LEFT JOIN asm a USING (col)
       |ORDER BY "column"""".stripMargin
  }

  private[graft] def profileOracle(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT '$c' AS "column",
         |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(count(*) AS BIGINT) AS n_rows FROM $table""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  private[graft] lazy val minhashPairsCtes: String =
    minhashCtes("a.doc_id < b.doc_id")

  /** CTE list (no WITH keyword) reproducing the FUZZY chunk-dedup chain
    * up to `cpairs(id_a, id_b, jaccard6)` + the `reps(cid, chunk)`
    * relation — the minhash chain verbatim at chunk granularity: chunk
    * cut (the chunk_dedup CTEs), exact-collapse to representatives
    * (min cid per content digest), the SAME norm/token/shingle/
    * signature/band arithmetic, the LIVE df-cut guard (shingles with
    * representative-frequency > maxDf dropped from signature AND
    * verify), cross-document candidates only, exact-Jaccard verify.
    * Shared by the pairs gate and the per-doc audit. */
  private[graft] def chunkMinhashCtes(threshold: String = "0.6",
      maxDf: Long = 1000): String = {
    val base = graft.operators.Dedup.ChunkIdBase
    s"""$chunkCutCtes, reps AS (
       |  SELECT cid, chunk FROM (
       |    SELECT cid, chunk, row_number() OVER (
       |      PARTITION BY md5(chunk) ORDER BY cid) AS rn FROM ch)
       |  WHERE rn = 1
       |), units AS (SELECT cid, chunk FROM reps
       |), ${chunkChainTail(
          s"a.cid < b.cid AND a.cid // $base <> b.cid // $base",
          "", threshold, maxDf)}""".stripMargin
  }

  /** The against-variant: incoming side (doc_id ≡ 0 mod 5) probes the
    * corpus side (rest) — corpus chunks exact-collapse to
    * representatives, incoming chunks do NOT (every chunk its own
    * verdict), the df-cut census counts CORPUS shingles only and cuts
    * both sides (the write-time-state reading), candidates are
    * new × corpus. Mirrors `Dedup.chunkDedupAgainst` exactly. */
  private[graft] def chunkAgainstCtes(threshold: String = "0.6",
      maxDf: Long = 1000): String = {
    val base = graft.operators.Dedup.ChunkIdBase
    s"""$chunkCutCtes, reps AS (
       |  SELECT cid, chunk FROM (
       |    SELECT cid, chunk, row_number() OVER (
       |      PARTITION BY md5(chunk) ORDER BY cid) AS rn FROM ch
       |    WHERE (cid // $base) % 5 <> 0)
       |  WHERE rn = 1
       |), units AS (
       |  SELECT cid, chunk FROM reps
       |  UNION ALL
       |  SELECT cid, chunk FROM ch WHERE (cid // $base) % 5 = 0
       |), ${chunkChainTail(
          s"(a.cid // $base) % 5 = 0 AND (b.cid // $base) % 5 <> 0",
          s"WHERE (cid // $base) % 5 <> 0", threshold, maxDf)}""".stripMargin
  }

  /** The chunk cut shared by both chains: every doc's stride-overlapped
    * windows with the synthetic cid. */
  private def chunkCutCtes: String = {
    val base = graft.operators.Dedup.ChunkIdBase
    s"""sized AS (
       |  SELECT doc_id, text, length(text) AS len,
       |    1 + (greatest(len - 200, 0) + 149) // 150 AS n_chunks
       |  FROM documents WHERE length(text) > 0
       |), ch AS (
       |  SELECT doc_id * $base + chunk_idx AS cid,
       |    substr(text, CAST(chunk_idx * 150 + 1 AS INT), 200) AS chunk
       |  FROM (SELECT doc_id, text,
       |    unnest(generate_series(CAST(0 AS BIGINT), n_chunks - 1)) AS chunk_idx
       |    FROM sized)
       |)""".stripMargin
  }

  /** The shared norm→shingle→df-cut→signature→band→verify tail over a
    * `units(cid, chunk)` relation; `hotDomain` restricts which rows the
    * df census counts (empty = all), `candCond` orients the band join. */
  private def chunkChainTail(candCond: String, hotDomain: String,
      threshold: String, maxDf: Long): String = {
    val params = graft.functions.PortableHash.minhashParams(64)
    val seedRows = params.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val p = graft.functions.PortableHash.MinhashP
    s"""cnorm AS (
       |  SELECT cid, trim(regexp_replace(regexp_replace(lower(chunk),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t FROM units
       |), ctoks AS (
       |  SELECT cid, list_filter(string_split(t, ' '), x -> len(x) > 0) AS w FROM cnorm
       |), cshl AS (
       |  SELECT cid, list_distinct(CASE WHEN len(w) >= 3
       |    THEN list_transform(generate_series(1, len(w)-2),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS shs FROM ctoks
       |), cpost0 AS (
       |  SELECT cid, unnest(shs) AS s FROM cshl
       |), chot AS (
       |  SELECT s FROM cpost0 $hotDomain GROUP BY s HAVING count(*) > $maxDf
       |), cpost AS (
       |  SELECT cid, s FROM cpost0 WHERE s NOT IN (SELECT s FROM chot)
       |), csizes AS (
       |  SELECT cid, count(*) AS n_sh FROM cpost GROUP BY 1
       |), cbased AS (
       |  SELECT cid, s,
       |    ('0x' || substr(md5(s), 1, 15))::BIGINT % $p AS h1
       |  FROM cpost
       |), cseeds(seed, a, b) AS (VALUES $seedRows
       |), csigs AS (
       |  SELECT cid, seed, min((a * h1 + b) % $p) AS sig
       |  FROM cbased, cseeds GROUP BY cid, seed
       |), cbands AS (
       |  SELECT cid, seed // 4 AS band,
       |    string_agg(sig::VARCHAR, ',' ORDER BY seed) AS bv
       |  FROM csigs GROUP BY cid, seed // 4
       |), ccand AS (
       |  SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
       |  FROM cbands a JOIN cbands b
       |    ON a.band = b.band AND a.bv = b.bv AND $candCond
       |), ccommon AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_common
       |  FROM ccand c
       |  JOIN cpost pa ON pa.cid = c.id_a
       |  JOIN cpost pb ON pb.cid = c.id_b AND pb.s = pa.s
       |  GROUP BY 1, 2
       |), cpairs AS (
       |  SELECT id_a, id_b,
       |    round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard6
       |  FROM ccommon
       |  JOIN csizes na ON na.cid = id_a
       |  JOIN csizes nb ON nb.cid = id_b
       |  WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= $threshold
       |)""".stripMargin
  }

  /** Same signature/band/verify chain with a parameterized candidate
    * condition — `a.doc_id < b.doc_id` for self-dedup, side predicates
    * for the cross-corpus (ingest-vs-store) variant. */
  private[graft] def minhashCtes(candCond: String): String = {
    val params = graft.functions.PortableHash.minhashParams(64)
    val seedRows = params.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    val p = graft.functions.PortableHash.MinhashP
    s"""norm AS (
       |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t FROM documents
       |), toks AS (
       |  SELECT doc_id, list_filter(string_split(t, ' '), x -> len(x) > 0) AS w FROM norm
       |), shl AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
       |    THEN list_transform(generate_series(1, len(w)-2),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS shs FROM toks
       |), post AS (
       |  SELECT doc_id, unnest(shs) AS s FROM shl
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n_sh FROM post GROUP BY 1
       |), based AS (
       |  SELECT doc_id, s,
       |    ('0x' || substr(md5(s), 1, 15))::BIGINT % $p AS h1
       |  FROM post
       |), seeds(seed, a, b) AS (VALUES $seedRows
       |), sigs AS (
       |  SELECT doc_id, seed, min((a * h1 + b) % $p) AS sig
       |  FROM based, seeds GROUP BY doc_id, seed
       |), bands AS (
       |  SELECT doc_id, seed // 4 AS band,
       |    string_agg(sig::VARCHAR, ',' ORDER BY seed) AS bv
       |  FROM sigs GROUP BY doc_id, seed // 4
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND $candCond
       |), common AS (
       |  SELECT c.id_a, c.id_b, count(*) AS n_common
       |  FROM cand c
       |  JOIN post pa ON pa.doc_id = c.id_a
       |  JOIN post pb ON pb.doc_id = c.id_b AND pb.s = pa.s
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard6
       |  FROM common
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.8
       |)""".stripMargin
  }


  /** The BPE training loop replayed as chained CTEs: stage i counts the
    * bigrams of text table t{i}, elects the top pair (count desc, pair
    * asc — the operator's tie-break), and rewrites t{i+1} with the same
    * space-doubling replace the operator uses (left-to-right
    * non-overlapping `replace` is identical in both engines). */
  private[graft] def bpeStagesSql(steps: Int): String = {
    val stages = (0 until steps).map { i =>
      s"""p$i AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(CASE WHEN len(w) >= 2
         |      THEN list_transform(generate_series(1, len(w)-1),
         |           j -> w[j] || ' ' || w[j+1]) ELSE [] END) AS b FROM (
         |      SELECT list_filter(string_split(t, ' '), x -> len(x) > 0) AS w
         |      FROM t$i))
         |  GROUP BY 1 ORDER BY cnt DESC, b LIMIT 1
         |), t${i + 1} AS (
         |  SELECT doc_id, trim(replace(replace(
         |    ' ' || replace(t, ' ', '  ') || ' ',
         |    ' ' || replace(p.b, ' ', '  ') || ' ',
         |    ' ' || replace(p.b, ' ', '_') || ' '), '  ', ' ')) AS t
         |  FROM t$i CROSS JOIN p$i p
         |)""".stripMargin
    }.mkString(", ")
    s"""t0 AS (
       |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
       |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t FROM documents
       |), $stages""".stripMargin
  }

  private[graft] def bpeOracleSql(steps: Int): String = {
    val union = (0 until steps).map { i =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, b AS pair, cnt AS pair_count FROM p$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeStagesSql(steps)}
       |$union
       |ORDER BY step""".stripMargin
  }

  /** The encode oracle replays the same chained-CTE training, then
    * counts tokens per doc in t0 vs t`steps`. */
  private[graft] def bpeEncodeOracleSql(steps: Int): String =
    s"""WITH ${bpeStagesSql(steps)},
       |cnt AS (
       |  SELECT t0.doc_id,
       |    CAST(len(list_filter(string_split(t0.t, ' '),
       |      x -> len(x) > 0)) AS BIGINT) AS n_raw,
       |    CAST(len(list_filter(string_split(tn.t, ' '),
       |      x -> len(x) > 0)) AS BIGINT) AS n_bpe
       |  FROM t0 JOIN t$steps tn USING (doc_id))
       |SELECT doc_id, n_raw, n_bpe,
       |  CAST(CASE WHEN n_raw > 0
       |    THEN (n_raw - n_bpe) * 1000000 // n_raw
       |    ELSE 0 END AS BIGINT) AS saved_micro
       |FROM cnt ORDER BY doc_id""".stripMargin

  private[graft] def bpeFertilityOracleSql(steps: Int): String =
    s"""WITH ${bpeStagesSql(steps)},
       |cnt AS (
       |  SELECT t0.doc_id,
       |    CAST(len(list_filter(string_split(t0.t, ' '),
       |      x -> len(x) > 0)) AS BIGINT) AS n_raw,
       |    CAST(len(list_filter(string_split(tn.t, ' '),
       |      x -> len(x) > 0)) AS BIGINT) AS n_bpe
       |  FROM t0 JOIN t$steps tn USING (doc_id))
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(n_raw) AS BIGINT) AS raw_tokens,
       |  CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(CASE WHEN sum(n_raw) > 0
       |    THEN sum(n_bpe) * 1000000 // sum(n_raw)
       |    ELSE 0 END AS BIGINT) AS tokens_per_word_micro
       |FROM cnt JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin
}

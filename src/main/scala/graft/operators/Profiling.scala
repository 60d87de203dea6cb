package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Schema-driven data profiling — the audit a pipeline runs on every new
 * corpus drop before trusting it (null saturation, key cardinality,
 * constant columns). The operator is generic over ANY input schema: the
 * per-column aggregate list is built from `df.schema`, so the same code
 * profiles a 10-column TPC-H table or a 3000-column feature store.
 *
 * Shape at 100 TB: ONE scan. Spark plans the N exact count-distincts as
 * a single Expand (N× row fan-out) + two-phase hash aggregate — each
 * expanded row carries one column's value, so the shuffle is
 * per-column-distinct-keyed and partial aggregation collapses
 * duplicates map-side. For columns whose cardinality itself is at data
 * scale (primary keys), [[profileApprox]] swaps count_distinct for
 * approx_count_distinct (HLL++): the per-column state crossing the
 * shuffle becomes a FIXED-SIZE register set instead of the distinct
 * values themselves — AND the Expand disappears entirely (the fan-out
 * only exists to split exact distincts into per-column groups; sketch
 * aggregates each carry their own buffer through one HashAggregate),
 * so the 100 TB variant is one scan + one tiny shuffle of N register
 * sets. The exact form is kept as the oracle-gated query; the approx
 * swap is gated rows-only plus a relative-error + plan-shape spec
 * (Spark's HLL++ is not rebuildable in the oracle engine).
 */
object Profiling {

  /** One row per column: nulls, exact distincts, and the global row
    * count (the denominators a null-rate/constancy check needs). */
  def profile(df: DataFrame): DataFrame =
    assemble(df, c => count_distinct(col(c)))

  /** The 100 TB variant: HLL++ distincts (bounded sketch state per
    * column across the shuffle), identical one-scan Expand plan —
    * asserted in ProfilingSpec, not just claimed. Kept as the
    * Spark-built-in form; the ORACLE-GATED sketch profile is
    * [[profilePortable]], whose registers the oracle rebuilds exactly
    * (HLL++'s bias-corrected state is not replayable cross-engine). */
  def profileApprox(df: DataFrame, rsd: Double = 0.05): DataFrame =
    assemble(df, c => approx_count_distinct(col(c), rsd))

  /** Register-exact portable-HLL profile — the sketch profile the
    * correctness gate can hash: per column, nulls + rows + an m=2^b
    * register HLL over the h60 portable hash, so the DuckDB oracle
    * rebuilds the identical registers from the raw data and the
    * estimate is one correctly-rounded IEEE divide over exact integers
    * (the [[EventsOps.hllEstimate]] assembly, reused verbatim).
    *
    * Hash input per type is the repo's portable rendering: integers /
    * strings / dates / decimals cast to string (identical text both
    * engines), DOUBLE floored onto the 10⁻⁶ grid first (distincts are
    * counted on the micro grid — the same convention the value-hash
    * operators use), TIMESTAMP via epoch micros.
    *
    * Shape at 100 TB: ONE scan fans each row out to N tiny (column, h)
    * structs (explode, not Expand — the fan-out collapses map-side:
    * partial aggregation reduces to ≤ N·(m+1) groups per partition, so
    * the shuffle carries register cells, never values); the cell
    * relation is localCheckpoint'ed once and feeds both the null/row
    * tallies and the register assembly — column-count-bounded work from
    * there. EAGER note: the checkpoint runs the scan at construction
    * time, the localCheckpointed-prefix convention. */
  /** The sketch-grid rendering per type — the portable hash input of
    * [[profilePortable]] and the `svm` column of [[valueCensus]]. */
  private def sketchKeyExpr(f: StructField): Column = f.dataType match {
    case DoubleType | FloatType =>
      floor(col(f.name) * lit(1000000.0)).cast("long").cast("string")
    case TimestampType => unix_micros(col(f.name)).cast("string")
    // NTZ wall clocks are UTC instants engine-wide (Tables chokepoint):
    // cast-to-instant under the pinned UTC session, then epoch micros —
    // the same integer DuckDB's epoch_us reads off the parquet value
    case TimestampNTZType =>
      unix_micros(col(f.name).cast(TimestampType)).cast("string")
    case _ => col(f.name).cast("string")
  }

  def profilePortable(df: DataFrame, b: Int = 6): DataFrame = {
    import graft.functions.PortableHash.h60
    val m = 1 << b
    val zeroRank = (61 - b).toLong
    // integer column ids ride the 6.6M-row explode; the name string
    // joins back on the |columns|-row spine only
    val entries = df.schema.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) => struct(lit(i).as("cid"), sketchKeyExpr(f).as("sv"))
    }
    val cells = df
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.cid").as("event_type"),
        when(col("e.sv").isNull, lit(null).cast("long"))
          .otherwise(h60(col("e.sv"))).as("h"))
      .withColumn("bucket",
        when(col("h").isNull, lit(-1L)).otherwise(pmod(col("h"), lit(m.toLong))))
      .withColumn("rem", expr(s"h div $m"))
      .withColumn("rho",
        when(col("h").isNull, lit(null).cast("long"))
          .when(col("rem") === 0, lit(zeroRank))
          .otherwise(lit(zeroRank) - length(bin(col("rem")))))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), max(col("rho")).as("reg"))
      .transform(d => graft.plans.PlanTrace.cp(d, tag = "hll_cells"))
    portableAssemble(df.sparkSession, cells,
      df.schema.fieldNames.toIndexedSeq, b)
  }

  /** The register-assembly tail shared by [[profilePortable]] (cells
    * from the raw scan) and [[profilePortableFromCensus]] (cells from
    * the distinct-value census): tallies + HLL estimate + the
    * schema-driven per-column spine. */
  private def portableAssemble(spark: org.apache.spark.sql.SparkSession,
      cells: DataFrame, names: Seq[String], b: Int): DataFrame = {
    val tallies = cells.groupBy("event_type")
      .agg(sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("bucket") === -1L, col("cnt"))), lit(0L))
          .as("n_nulls"))
    val est = EventsOps.hllEstimate(
      cells.filter(col("bucket") >= 0)
        .select(col("event_type"), col("bucket"), col("reg")), b)
    // schema-driven spine: like the exact profiler, one row PER COLUMN
    // unconditionally — an empty table still reports every column with
    // zero tallies (and NULL sketch state, mirroring the oracle's LEFT
    // JOIN of an empty register assembly); names re-attach here
    val spine = spark
      .createDataset(names.toIndexedSeq.zipWithIndex
        .map { case (n, i) => (i, n) })(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.Encoders.STRING))
      .toDF("event_type", "column_name")
    spine.join(tallies, Seq("event_type"), "left")
      .join(est, Seq("event_type"), "left")
      .select(col("column_name").as("column"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("v_zero"), col("max_reg"), col("s_num"), col("hll_est"))
      .orderBy(col("column"))
  }

  /** Per-column DISTINCT-VALUE CENSUS — the shared base relation under
    * the exact AND sketch profiles of one table when both gates run
    * (the `profile_lineitem` pair): one explode carries TWO portable
    * renderings per cell — `sv`, the identity rendering (Spark's
    * shortest-roundtrip cast-to-string: distinct raw values ⇒ distinct
    * strings, so exact distinctness is preserved), and `svm`, the
    * sketch-grid rendering ([[sketchKeyExpr]]: micro-floored doubles,
    * epoch-micro timestamps — constant within an `sv` group by
    * construction) — collapsed to (cid, sv, svm, cnt). |census| =
    * Σ per-column distincts, orders of magnitude below the N×rows
    * explode, and BOTH profiles then read the census instead of
    * re-scanning the table: the expensive pass is paid once
    * (memoize-checkpoint it — the `Memo` family-prefix pattern).
    *
    * Caveat (why [[profile]] keeps its own one-scan Expand form as the
    * generic default): cast-to-string renders −0.0 and 0.0 distinctly
    * while count_distinct treats them equal, so the census route is
    * wired only where the data can't carry signed zeros (the TPC-H
    * money/ship-date columns). */
  def valueCensus(df: DataFrame): DataFrame = {
    val entries = df.schema.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) => struct(lit(i).as("cid"),
        col(f.name).cast("string").as("sv"),
        sketchKeyExpr(f).as("svm"))
    }
    df.select(explode(array(entries: _*)).as("e"))
      .groupBy(col("e.cid").as("cid"), col("e.sv").as("sv"))
      .agg(max(col("e.svm")).as("svm"), count(lit(1)).as("cnt"))
  }

  /** [[profile]]'s exact readout over a [[valueCensus]] relation: per
    * column, nulls (the census's one null-sv group carries their
    * count), exact distincts (non-null census groups), and the row
    * count (Σ cnt). `names` re-attaches column names to the census's
    * integer ids; the spine keeps the one-row-per-column contract on
    * an empty table. */
  def profileFromCensus(census: DataFrame, names: Seq[String]): DataFrame = {
    val spark = census.sparkSession
    val byCol = census.groupBy(col("cid"))
      .agg(
        coalesce(sum(when(col("sv").isNull, col("cnt"))), lit(0L))
          .cast("long").as("n_nulls"),
        count(when(col("sv").isNotNull, lit(1))).cast("long")
          .as("n_distinct"),
        sum(col("cnt")).cast("long").as("n_rows"))
    val spine = spark
      .createDataset(names.toIndexedSeq.zipWithIndex
        .map { case (n, i) => (i, n) })(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.Encoders.STRING))
      .toDF("cid", "column_name")
    spine.join(byCol, Seq("cid"), "left")
      .select(col("column_name").as("column"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
      .orderBy(col("column"))
  }

  /** [[profilePortable]]'s readout over a [[valueCensus]] relation:
    * register cells from the census's distinct sketch-grid values
    * (h60(svm) — h is a function of svm, so per-bucket max-rho over
    * census groups equals the per-row build exactly) with row tallies
    * carried by the cnt weights; the assembly tail is shared verbatim,
    * so the output is bit-identical to [[profilePortable]]
    * (spec-pinned). */
  def profilePortableFromCensus(census: DataFrame, names: Seq[String],
      b: Int = 6): DataFrame = {
    import graft.functions.PortableHash.h60
    val m = 1 << b
    val zeroRank = (61 - b).toLong
    val cells = census
      .select(col("cid").as("event_type"),
        when(col("svm").isNull, lit(null).cast("long"))
          .otherwise(h60(col("svm"))).as("h"),
        col("cnt"))
      .withColumn("bucket",
        when(col("h").isNull, lit(-1L)).otherwise(pmod(col("h"), lit(m.toLong))))
      .withColumn("rem", expr(s"h div $m"))
      .withColumn("rho",
        when(col("h").isNull, lit(null).cast("long"))
          .when(col("rem") === 0, lit(zeroRank))
          .otherwise(lit(zeroRank) - length(bin(col("rem")))))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"), max(col("rho")).as("reg"))
      .transform(d => graft.plans.PlanTrace.cp(d, tag = "hll_cells"))
    portableAssemble(census.sparkSession, cells, names, b)
  }

  /** SHARD-MERGE algebra of the portable register HLL — the property
    * that makes sketch profiling work on a 100 TB corpus: every shard
    * builds its register table independently (one local pass, no
    * cross-shard traffic), and the corpus sketch is the per-bucket
    * register MAX — a cells-sized merge, never a re-scan. Output: one
    * row per shard plus the `merged` row, each carrying the
    * [[EventsOps.hllEstimate]] assembly over its registers. The merged
    * registers are by construction identical to an unsharded build
    * (max is associative over any partitioning), and the oracle replays
    * BOTH levels from raw data, so the gate pins the algebra itself.
    * Distinct key = user_id on the h60 grid; shards = event_id mod
    * `shards` — an arbitrary horizontal split, which is the point.
    *
    * Shape at 100 TB: one scan fans to ≤ shards·m register cells
    * map-side; the merge groups m cells; everything after the scan is
    * sketch-sized. */
  def hllShardMerge(events: DataFrame, b: Int = 6,
      shards: Int = 4): DataFrame = {
    import graft.functions.PortableHash.h60
    val m = 1 << b
    val zeroRank = (61 - b).toLong
    val shardRegs = events
      .select(pmod(col("event_id"), lit(shards.toLong)).cast("string")
          .as("shard"),
        h60(col("user_id").cast("string")).as("h"))
      .withColumn("bucket", pmod(col("h"), lit(m.toLong)))
      .withColumn("rem", expr(s"h div $m"))
      .withColumn("rho",
        when(col("rem") === 0, lit(zeroRank))
          .otherwise(lit(zeroRank) - length(bin(col("rem")))))
      .groupBy(col("shard"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
      .transform(d => graft.plans.PlanTrace.cp(d, tag = "hll_shards"))
    val merged = shardRegs.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(lit("merged").as("shard"), col("bucket"), col("reg"))
    EventsOps.hllEstimate(
      shardRegs.unionByName(merged)
        .select(col("shard").as("event_type"), col("bucket"), col("reg")), b)
      .select(col("event_type").as("shard"), col("v_zero"),
        col("max_reg"), col("s_num"), col("hll_est"))
      .orderBy(col("shard"))
  }

  /** Shard-merge law for the OTHER mergeable-distinct sketch: KMV
    * bottom-k sets merge by bottom-k-of-union — bottom_k(∪ᵢ
    * bottom_k(Aᵢ)) = bottom_k(∪ᵢ Aᵢ) exactly (an element outside its
    * own shard's bottom-k can never enter the union's: its shard
    * already holds k smaller elements), so a 1000-shard census ships
    * k·8 bytes per shard and the merged estimate is IDENTICAL to the
    * direct corpus sketch, not approximately so. Gated the same way as
    * [[hllShardMerge]]: per-shard bottom-k tables built independently
    * (the persisted shard state), the merged row assembled from the
    * shard tables alone, and the `direct` row re-sketched from raw data
    * — the output itself exhibits the law (merged ≡ direct row-for-row,
    * spec-asserted also under 1/2/4/7-way sharding). All three levels
    * ride [[EventsOps.kmvEstimate]], so the estimate arithmetic is the
    * `kmv_distinct` convention verbatim and the oracle replays every
    * level bit-for-bit. */
  def kmvShardMerge(events: DataFrame, k: Int = 64,
      shards: Int = 4): DataFrame = {
    import graft.functions.PortableHash.h60
    import org.apache.spark.sql.expressions.Window
    val hashed = events.select(
      pmod(col("event_id"), lit(shards.toLong)).cast("string").as("shard"),
      h60(col("user_id").cast("string")).as("h"))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"))
    val shardTops = hashed.distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("shard"), col("h"))
      .transform(d => graft.plans.PlanTrace.cp(d, tag = "kmv_shards"))
    val merged = shardTops.select(lit("merged").as("shard"), col("h"))
    val direct = hashed.select(lit("direct").as("shard"), col("h"))
    EventsOps.kmvEstimate(
      shardTops.unionByName(merged).unionByName(direct)
        .select(col("shard").as("event_type"), col("h")), k)
      .select(col("event_type").as("shard"), col("n_kept"),
        col("kth_min"), col("n_est"))
      .orderBy(col("shard"))
  }

  /** Shard-merge law for the THIRD mergeable sketch, completing the
    * trio: HLL merges by register MAX ([[hllShardMerge]]), KMV by
    * bottom-k-of-union ([[kmvShardMerge]]), and the BLOOM membership
    * filter by bitwise OR — set bits are a position SET, so the merged
    * filter is exactly the union of the shard filters' positions and
    * equals the direct full-corpus build bit-for-bit (OR is idempotent
    * and associative; duplicate elements across shards change
    * nothing). Beside the law, the per-level summary is the filter-
    * health audit a dedup/decontamination gate reads before trusting a
    * shipped filter: set-bit count, an order-independent position
    * checksum (bit_xor, the manifest convention), the fill factor, and
    * the implied false-positive probability ≈ fill^k — computed as the
    * exact integral micro floor n_set⁴·10⁶ div m⁴ through
    * DECIMAL(38,0) (n_set⁴ passes BIGINT at m = 2²⁰), no float pow.
    * Same 2-universal position family as the production
    * `decontaminate_bloom` path, so the oracle replays every position. */
  def bloomShardMerge(events: DataFrame, mBits: Int = 1 << 20,
      k: Int = 4, shards: Int = 4): DataFrame = {
    import graft.functions.PortableHash.{h60, minhashParams, MinhashP}
    val seeds = minhashParams(k).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }
    val pos = events
      .select(pmod(col("event_id"), lit(shards.toLong)).cast("string")
          .as("shard"),
        h60(col("user_id").cast("string")).as("h"))
      .select(col("shard"), explode(array(seeds: _*)).as("s"), col("h"))
      .select(col("shard"),
        expr(s"(s.a * (h % $MinhashP) + s.b) % $MinhashP % $mBits")
          .as("pos"))
    val shardBits = pos.distinct()
      .transform(d => graft.plans.PlanTrace.cp(d, tag = "bloom_shards"))
    val merged = shardBits.select(lit("merged").as("shard"), col("pos"))
    val direct = pos.select(lit("direct").as("shard"), col("pos"))
    shardBits.unionByName(merged).unionByName(direct)
      .distinct()
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_set"), expr("bit_xor(pos)").as("pos_xor"))
      .select(col("shard"), col("n_set"), col("pos_xor"),
        expr(s"CAST(n_set * 1000000 div $mBits AS BIGINT)")
          .as("fill_micro"),
        expr(s"CAST(CAST(n_set AS DECIMAL(38,0)) * n_set * n_set * n_set" +
          s" * 1000000 div (CAST($mBits AS DECIMAL(38,0)) * $mBits" +
          s" * $mBits * $mBits) AS BIGINT)").as("fpp_micro"))
      .orderBy(col("shard"))
  }

  /** JOIN-KEY SKEW audit — the OTHER pre-join planner read beside
    * [[joinSizeAudit]] (that one prices the output cardinality; this
    * one prices the shuffle): per-key row counts collapsed to the
    * skew sufficient statistics — row/key totals, the hottest key's
    * count and integral micro share, and the SALT FACTOR the standard
    * skew mitigation needs: ceil(max_cnt / avg_cnt) = the number of
    * salt buckets that flattens the hottest key to the average load
    * (AQE's skew-join threshold reasoning, computed as an explicit
    * standing audit). All integer arithmetic — ceil as
    * (max·keys + rows − 1) div rows, no floats — so the oracle replays
    * it exactly. One key-shuffle to the count table, then a 1-row
    * aggregate: the audit costs what one side of the join costs. */
  /** CONCENTRATION report over a (k, cnt) mass relation — exact Gini
    * via the rank identity G = (2·Σᵢ i·cᵢ − (n+1)·Σc) / (n·Σc) with
    * counts ranked ascending (ties by k — deterministic) plus the
    * top-decile mass share; the shared core of `user_gini` (events per
    * user) and `source_gini` (corpus chars per source). Wide-decimal
    * products mirror the oracle's HUGEINT; the numerator is provably
    * nonnegative under ascending rank, so floor division is
    * engine-identical.
    *
    * SCALE SHAPE — the rank is never materialized per key: every
    * emitted stat is a function of rank RANGES, so the whole report
    * assembles from the COUNT HISTOGRAM (group by `cnt`; distinct
    * count values — a bounded domain — not key cardinality, which at
    * 100× is ~10⁹ users through what used to be ONE row_number task).
    * A count value c held by m keys occupies the contiguous ascending
    * rank range (start, start+m]; the (cnt, k) tiebreak permutes ranks
    * only WITHIN that range, so
    *   Σ rk·cnt  = Σ_c c·(m·start + m(m+1)/2)   (arithmetic series)
    *   top-decile cut = per-range overlap with ranks > n − ceil(n/10)
    * — both exact, key-order-free. The only windows left (cumulative m
    * and the global n) run over the histogram AGGREGATE, the same
    * bounded-relation shape as `lengthDecilesFromHist`; the
    * unpartitioned-window-over-data anti-pattern is gone
    * (plan-asserted in GiniPlanSpec). */
  def giniFrom(keyCounts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = keyCounts.groupBy(col("cnt"))
      .agg(count(lit(1)).cast("long").as("m"))
    val wCum = Window.orderBy(col("cnt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      // endr = rank of the LAST key holding this count value
      .withColumn("endr", sum(col("m")).over(wCum))
      .withColumn("n", sum(col("m")).over(Window.partitionBy(lit(1))))
      // keys of this range inside the top ceil(n/10) ranks
      .withColumn("in_top", greatest(lit(0L),
        least(col("m"), col("endr") - (col("n") - expr("(n + 9) div 10")))))
      .agg(
        // coalesce: an EMPTY mass relation must report n_keys = 0 (the
        // count(*) the per-key form emitted), not a NULL sum
        coalesce(sum(col("m")), lit(0L)).cast("long").as("n_keys"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * m")).cast("long").as("total"),
        // Σ rk·cnt over the range (endr−m, endr]: the series closed form
        sum(expr("CAST(cnt AS DECIMAL(38,0)) *" +
          " (CAST(endr - m AS DECIMAL(38,0)) * m +" +
          " (CAST(m AS DECIMAL(38,0)) * (m + 1)) div 2)")).as("wsum"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * in_top")).cast("long")
          .as("top_cnt"))
      .select(col("n_keys"), col("total"),
        expr("CASE WHEN n_keys > 0 AND total > 0 THEN" +
          " CAST((2 * wsum * 1000000 -" +
          " CAST(n_keys + 1 AS DECIMAL(38,0)) * total * 1000000)" +
          " div (CAST(n_keys AS DECIMAL(38,0)) * total)" +
          " AS BIGINT) ELSE NULL END").as("gini_micro"),
        expr("CASE WHEN total > 0 THEN" +
          " CAST(top_cnt * 1000000 div total AS BIGINT)" +
          " ELSE NULL END").as("top_decile_share_micro"))
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** REFERENTIAL-INTEGRITY audit — per foreign-key edge: child rows
    * (and distinct keys) whose parent is missing, with the integral
    * micro orphan rate. The post-curation read every multi-table
    * pipeline needs: a parent-side delete (dedup, PII purge, retention)
    * silently strands child rows, and the damage must be measured
    * BEFORE a training join drops or fabricates them.
    *
    * Shape at 100 TB, one scan per child (guide §3.1 + §6): edges sharing a child table
    * resolve through CHAINED BROADCAST LEFT JOINS against the distinct
    * parent key sets — the child is scanned once and never shuffled —
    * and ONE aggregate counts every edge's orphan rows (flag sum over
    * non-null fks) and orphan keys (count-distinct of flagged fks) at
    * once; per-edge rows unfold map-side. Keys are compared as longs, so
    * every fk and pk must be an integral column: a string key would be
    * cast and its non-numeric values read as NULL, silently uncounted. */
  def fkOrphansGrouped(
      children: Seq[(DataFrame, Seq[(String, String, DataFrame, String)])])
      : DataFrame =
    children.map { case (child, edges) =>
      edges.foreach { case (name, fk, parent, pk) =>
        Seq(child -> fk, parent -> pk).foreach { case (df, k) =>
          require(integral(df.schema(k).dataType),
            s"fkOrphansGrouped edge $name: key $k is ${df.schema(k).dataType.simpleString}, not integral")
        }
      }
      var cur = child.select(edges.map(e => col(e._2)): _*)
      edges.zipWithIndex.foreach { case ((_, fk, parent, pk), i) =>
        cur = cur.join(
          broadcast(parent.select(col(pk).cast("long").as(s"__p$i")).distinct()),
          col(fk).cast("long") === col(s"__p$i"), "left")
      }
      def orphanFk(i: Int, fk: String) =
        when(col(fk).isNotNull && col(s"__p$i").isNull, col(fk))
      val aggs = count(lit(1)).as("n_child_rows") +:
        edges.zipWithIndex.flatMap { case ((_, fk, _, _), i) => Seq(
          count(orphanFk(i, fk)).cast("long").as(s"__or$i"),
          countDistinct(orphanFk(i, fk)).as(s"__ok$i"))
        }
      cur.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(edges.zipWithIndex.map { case ((name, _, _, _), i) =>
            struct(lit(name).as("edge"), col(s"__or$i").as("n_orphan_rows"),
              col(s"__ok$i").as("n_orphan_keys"))
          }: _*)).as("e"), col("n_child_rows"))
        .select(col("e.edge").as("edge"), col("n_child_rows"),
          col("e.n_orphan_rows").as("n_orphan_rows"),
          col("e.n_orphan_keys").as("n_orphan_keys"),
          expr("CASE WHEN n_child_rows > 0 THEN" +
            " n_orphan_rows * 1000000 div n_child_rows" +
            " ELSE NULL END").as("orphan_micro"))
    }.reduce(_.unionByName(_)).orderBy(col("edge"))

  /** KEY-UNIQUENESS audit — for each candidate key (possibly
    * composite): row count, distinct-key count, duplicate-row count
    * and the is-key verdict. The schema-contract read that separates
    * true identifiers from almost-keys before anything dedups,
    * upserts or joins on them. One exact count-distinct per candidate
    * (two-phase partial agg); candidate-cardinality output.
    *
    * One scan per table (guide §6): all candidate keys over one table
    * share a single aggregate (Spark plans the count-distincts through
    * one Expand), and the per-candidate rows unfold from that one row
    * map-side — a table audited for several keys is scanned once. */
  def keyUniquenessGrouped(
      tables: Seq[(DataFrame, Seq[(String, Seq[String])])]): DataFrame =
    tables.map { case (df, cands) =>
      val aggs = count(lit(1)).as("n_rows") +:
        cands.zipWithIndex.map { case ((_, cols), i) =>
          countDistinct(col(cols.head), cols.tail.map(col): _*).as(s"__k$i")
        }
      val one = df.agg(aggs.head, aggs.tail: _*)
      // unfold per-candidate rows from the single aggregate row so the
      // agg subtree appears ONCE in the plan (no reuse gamble)
      one.select(explode(array(cands.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("candidate"), col(s"__k$i").as("n_keys"))
        }: _*)).as("c"), col("n_rows"))
        .select(col("c.candidate").as("candidate"), col("n_rows"),
          col("c.n_keys").as("n_keys"),
          (col("n_rows") - col("c.n_keys")).as("n_dup_rows"),
          when(col("n_rows") === col("c.n_keys"), 1L).otherwise(0L)
            .as("is_key"))
    }.reduce(_.unionByName(_)).orderBy(col("candidate"))

  def skewAudit(df: DataFrame, key: String): DataFrame =
    skewAuditFrom(
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt")))

  /** The audit readout over a standing per-key count relation (k, cnt)
    * — the half [[skewAudit]] shares with its streaming twin
    * (`StreamJoinSize.skewAudit` reads it over the continuously-folded
    * key table, so streamed ≡ batch by construction): counts collapse
    * to one row of integer-exact skew statistics. */
  def skewAuditFrom(keyCounts: DataFrame): DataFrame =
    keyCounts
      .agg(sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        expr("CAST(max_cnt * 1000000 div n_rows AS BIGINT)")
          .as("top_share_micro"),
        expr("CAST((max_cnt * n_keys + n_rows - 1) div n_rows AS BIGINT)")
          .as("salt_factor"))

  /** JOIN-SIZE audit WITHOUT running the join — the planner read a
    * 100 TB pipeline takes before committing to an equi-join that might
    * explode: |A ⋈_k B| exactly, from the two per-key count tables
    * (Σ cntₐ(k)·cnt_b(k) — one shuffle per side, a keys-sized join,
    * never the pair materialization), next to the Count-Min
    * INNER-PRODUCT estimate (Cormode & Muthukrishnan 2005, §4.2: the
    * min over seeds of Σ_pos cmsₐ[s,p]·cms_b[s,p] upper-bounds and
    * estimates a₁·a₂ within εN₁N₂) — the form a planner keeps per
    * table as standing sketch state, so the prediction costs two d·w
    * cell tables instead of touching either side. Both levels are
    * integer arithmetic over the portable h60/2-universal family, so
    * the oracle replays cells, inner products, the min AND the exact
    * count bit-for-bit. A seed with zero bucket overlap means a true
    * zero inner product, so fewer than `d` seed rows forces the
    * estimate to 0 (mirrored in SQL).
    *
    * Output is ONE row: (n_left, n_right, exact_pairs, cms_est_pairs).
    * Scale shape: two key-shuffles + a keys-sized join for the exact
    * half; two d·w-bounded cell tables and a cells-sized join for the
    * sketch half. */
  def joinSizeAudit(left: DataFrame, right: DataFrame, key: String,
      w: Int = 1024, d: Int = 4): DataFrame = {
    // ONE scan + ONE key shuffle per side: the per-key count table is
    // the sufficient statistic for everything downstream (row counts,
    // the exact product sum AND the CMS cells — a key with cnt rows
    // contributes cnt to its bucket), so it is materialized once
    // (keys-sized, the localCheckpointed-prefix convention) and the
    // audit never touches the data again. Plan-asserted in PlanSpec.
    def keyed(df: DataFrame): DataFrame = df
      .groupBy(col(key).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .transform(d => graft.plans.PlanTrace.cp(d, tag = "keyed_counts"))
    val lk = keyed(left)
    val rk = keyed(right)
    joinSizeAuditFrom(lk, rk, keyCells(lk, w, d), keyCells(rk, w, d), d)
  }

  /** The d·w CMS cell table OF a per-key count table (k, cnt): a key
    * with cnt rows contributes cnt to its bucket under each seed. Cells
    * are LINEAR in the counts, so per-batch cell tables sum-merge into
    * exactly the corpus table — the property the streaming twin
    * ([[graft.streaming.StreamJoinSize]]) folds on. */
  private[graft] def keyCells(kdf: DataFrame, w: Int = 1024,
      d: Int = 4): DataFrame = {
    import graft.functions.PortableHash.{h60, MinhashP}
    kdf
      .select(pmod(h60(col("k")), lit(MinhashP)).as("h1"), col("cnt"))
      .select(explode(array((0 until d).map(i =>
        struct(lit(i).as("seed"),
          TextAnalysis.cmsPosOf(i, col("h1"), w).as("pos"))): _*)).as("c"),
        col("cnt"))
      .groupBy(col("c.seed").as("seed"), col("c.pos").as("pos"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** The audit READOUT over standing state — per-key count tables plus
    * their d·w cell tables — shared VERBATIM by the batch audit above
    * and the streaming twin's readout, so streamed ≡ batch is by
    * construction (the doc's own premise: these four relations are the
    * standing sketch state a planner keeps per table). */
  private[graft] def joinSizeAuditFrom(lk: DataFrame, rk: DataFrame,
      lCells: DataFrame, rCells: DataFrame, d: Int = 4): DataFrame = {
    val exact = lk
      .join(rk.select(col("k"), col("cnt").as("cr")), Seq("k"))
      .agg(coalesce(sum(col("cnt") * col("cr")), lit(0L)).cast("long")
        .as("exact_pairs"))
    val est = lCells.as("a")
      .join(rCells.as("b"),
        col("a.seed") === col("b.seed") && col("a.pos") === col("b.pos"))
      .groupBy(col("a.seed"))
      .agg(sum(col("a.cnt") * col("b.cnt")).cast("long").as("ip"))
      .agg(count(lit(1)).as("n_seeds"), min(col("ip")).as("mn"))
      .select(when(col("n_seeds") < d, lit(0L)).otherwise(col("mn"))
        .cast("long").as("cms_est_pairs"))
    lk.agg(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n_left"))
      .crossJoin(rk.agg(coalesce(sum(col("cnt")), lit(0L)).cast("long")
        .as("n_right")))
      .crossJoin(exact)
      .crossJoin(est)
      .select(col("n_left"), col("n_right"),
        col("exact_pairs"), col("cms_est_pairs"))
  }

  private def assemble(df: DataFrame,
      distinctAgg: String => Column): DataFrame = {
    val cols = df.schema.fieldNames.toIndexedSeq
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        distinctAgg(c).as(s"${c}__distinct"))
    } :+ count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // wide 1-row frame → long (column, n_nulls, n_distinct, n_rows):
    // stack() is driver-built from the schema, evaluated executor-side
    val stackArgs = cols
      .map(c => s"'$c', `${c}__nulls`, `${c}__distinct`").mkString(", ")
    wide.select(
      expr(s"stack(${cols.length}, $stackArgs) AS (column, n_nulls, n_distinct)"),
      col("__rows").as("n_rows"))
      .orderBy(col("column"))
  }
}

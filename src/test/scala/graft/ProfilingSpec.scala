package graft

import graft.operators.Profiling

/** Schema-generic profiler: exact null/distinct counts from one scan. */
class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("profile counts nulls, distincts, and rows per column") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (None, Some("b")),
      (Some(3), Some("a"))).toDF("x", "s")
    val r = Profiling.profile(df).collect()
      .map(row => row.getString(0) ->
        (row.getLong(1), row.getLong(2), row.getLong(3))).toMap
    assert(r("x") == (1L, 2L, 4L)) // one null, distinct {1,3}
    assert(r("s") == (1L, 2L, 4L)) // one null, distinct {a,b}
  }

  test("census route ≡ direct route for BOTH lineitem profiles, bit-for-bit") {
    // the registered pair reads one memoized valueCensus instead of two
    // corpus explodes — the readouts must reproduce the direct
    // operators exactly (including null tallies and register state)
    val li = Tables.lineitem(spark, sf0001)
    val names = li.schema.fieldNames.toIndexedSeq
    val census = Profiling.valueCensus(li).localCheckpoint(true)
    assert(Profiling.profileFromCensus(census, names).collect().toSeq ==
      Profiling.profile(li).collect().toSeq)
    assert(
      Profiling.profilePortableFromCensus(census, names).collect().toSeq ==
        Profiling.profilePortable(li).collect().toSeq)
    // null handling: the census's null-sv group carries the null count
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (None, Some("b")),
      (Some(3), Some("a"))).toDF("x", "s")
    val c2 = Profiling.valueCensus(df)
    assert(Profiling.profileFromCensus(c2, Seq("x", "s")).collect().toSeq ==
      Profiling.profile(df).collect().toSeq)
    assert(
      Profiling.profilePortableFromCensus(c2, Seq("x", "s")).collect().toSeq ==
        Profiling.profilePortable(df).collect().toSeq)
  }

  test("profile is schema-generic and single-scan over any table") {
    val docs = Tables.documents(spark, sf0001)
    val r = Profiling.profile(docs).collect()
    assert(r.map(_.getString(0)).sorted.toSeq ==
      docs.schema.fieldNames.sorted.toSeq)
    // exactly one parquet scan in the physical plan — the whole point
    val plan = Profiling.profile(docs).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"profiler must read the table once:\n$plan")
  }

  test("approx profiler: one scan, NO Expand fan-out, HLL++ error envelope") {
    val li = Tables.lineitem(spark, sf0001)
    val approxPlan =
      Profiling.profileApprox(li).queryExecution.executedPlan.toString
    // one scan like the exact form — and strictly better: N exact
    // distincts force an Expand (N× row fan-out); N HLL++ aggregates
    // each carry a fixed register buffer, so no fan-out at all
    assert("Scan parquet".r.findAllIn(approxPlan).length == 1, approxPlan)
    assert(!approxPlan.contains("Expand"), approxPlan)
    val exact = Profiling.profile(li).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val approx = Profiling.profileApprox(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    exact.foreach { case (c, n) =>
      val (_, nd, _) = approx(c)
      // rsd = 0.05 ⇒ allow 4σ = 20% relative error
      assert(math.abs(nd - n) <= math.max(1L, (0.2 * n).toLong),
        s"$c: approx $nd vs exact $n")
    }
    // null counts and row count are EXACT in both variants
    val exactFull = Profiling.profile(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    exactFull.foreach { case (c, (nulls, rows)) =>
      assert((approx(c)._1, approx(c)._3) == (nulls, rows), c)
    }
  }

  test("portable-HLL profiler: exact tallies, register-based error envelope, cell-only shuffle") {
    val li = Tables.lineitem(spark, sf0001)
    val m = 64
    val port = Profiling.profilePortable(li).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(6))).toMap
    val exact = Profiling.profile(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    exact.foreach { case (c, (nulls, nd, rows)) =>
      val (pNulls, pRows, vZero, est) = port(c)
      assert((pNulls, pRows) == (nulls, rows), s"$c tallies")
      // doubles are profiled on the micro grid (same distincts here);
      // small cardinalities go through the driver-side linear-counting
      // read of v_zero (the raw harmonic estimate is the portable,
      // oracle-hashed artifact; corrections live where bit-portability
      // no longer matters — the hllEstimate contract)
      if (nd <= (2.5 * m).toLong) {
        assert(vZero > 0, s"$c: small column with no empty registers")
        val lc = m * math.log(m.toDouble / vZero)
        assert(math.abs(lc - nd) <= math.max(2.0, 0.25 * nd),
          s"$c: linear count $lc vs exact $nd")
      } else {
        assert(math.abs(est - nd) <= 0.5 * nd,
          s"$c: portable HLL $est vs exact $nd (σ=13% at m=64)")
      }
    }
    // scale shape: ONE scan; the shuffle exchange carries register
    // cells (post partial-agg), never the exploded values — the
    // partial HashAggregate must sit below the exchange
    val plan = Profiling.profilePortable(li)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("hllShardMerge: merged row equals an unsharded build for ANY shard count") {
    val ev = Tables.events(spark, sf0001)
    def mergedRow(shards: Int) =
      Profiling.hllShardMerge(ev, shards = shards).collect()
        .filter(_.getString(0) == "merged")
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSeq
    // the merge law: per-bucket max is associative over any horizontal
    // split, so the merged sketch is partitioning-invariant — 1 shard
    // IS the unsharded build
    val one = mergedRow(1)
    assert(one.nonEmpty)
    Seq(2, 4, 7).foreach { s =>
      assert(mergedRow(s) == one, s"merge law broken at $s shards")
    }
    // and the merged sketch tracks the true distinct-user count: small
    // cardinalities read through linear counting on v_zero (the
    // hllEstimate contract — raw harmonic is the portable artifact,
    // corrections live reader-side), large through the raw estimate
    val exact = ev.select("user_id").distinct().count()
    val (vZero, est) = (one.head._1, one.head._4)
    val m = 64
    if (exact <= (2.5 * m).toLong) {
      assert(vZero > 0, "small cardinality with no empty registers")
      val lc = m * math.log(m.toDouble / vZero)
      assert(math.abs(lc - exact) <= math.max(2.0, 0.25 * exact),
        s"linear count $lc vs exact $exact")
    } else assert(math.abs(est - exact) <= 0.5 * exact,
      s"merged estimate $est vs exact $exact")
  }
  test("kmvShardMerge: merged row EQUALS the direct re-sketch, any shard count") {
    val ev = Tables.events(spark, sf0001)
    def rows(shards: Int) =
      Profiling.kmvShardMerge(ev, shards = shards).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val four = rows(4)
    // the law itself: bottom-k of the shard-top union is bit-identical
    // to the corpus bottom-k — merged ≡ direct, not approximately
    assert(four("merged") == four("direct"))
    // and it is shard-count invariant (the direct row never moves; the
    // merged row always equals it)
    Seq(1, 2, 7).foreach { s =>
      val m = rows(s)
      assert(m("merged") == m("direct"), s"merge law broken at $s shards")
      assert(m("direct") == four("direct"))
    }
    // the estimate tracks the exact distinct-user count (σ ≈ 1/√62)
    val exact = ev.select("user_id").distinct().count()
    val (nKept, est) = (four("merged")._1, four("merged")._3)
    if (nKept < 64) assert(est == exact.toDouble)
    else assert(math.abs(est - exact) <= 0.6 * exact,
      s"KMV estimate $est vs exact $exact")
  }

  test("bloomShardMerge: merged bit set EQUALS the direct build, any shard count") {
    val ev = Tables.events(spark, sf0001)
    def rows(shards: Int) =
      Profiling.bloomShardMerge(ev, shards = shards).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val four = rows(4)
    // OR-merge: the union of shard position sets IS the direct set
    assert(four("merged") == four("direct"))
    Seq(1, 2, 7).foreach { s =>
      val m = rows(s)
      assert(m("merged") == m("direct"), s"OR law broken at $s shards")
      assert(m("direct") == four("direct"))
    }
    // fill/fpp arithmetic at a toy m where the floors are visible
    import spark.implicits._
    val tiny = Seq((0L, 1L), (1L, 2L), (2L, 3L))
      .toDF("event_id", "user_id")
    val t = Profiling.bloomShardMerge(tiny, mBits = 64, k = 4, shards = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3),
        r.getLong(4))).toMap
    val (nSet, fill, fpp) = t("direct")
    assert(nSet > 0 && nSet <= 12) // ≤ 3 users × 4 positions
    assert(fill == nSet * 1000000L / 64L)
    assert(fpp == BigInt(nSet).pow(4) * 1000000 / BigInt(64).pow(4))
  }

  test("skewAudit: hot key prices the salt factor; uniform keys price 1") {
    import spark.implicits._
    // one key with 10 rows over 9 singletons: avg 1.9 → salt ceil(5.26)=6
    val hot = ((1 to 10).map(_ => "hot") ++ (1 to 9).map(i => s"k$i"))
      .toDF("user_id")
    val h = graft.operators.Profiling.skewAudit(hot, "user_id")
      .collect().head
    assert((h.getLong(0), h.getLong(1), h.getLong(2)) == ((19L, 10L, 10L)))
    assert(h.getLong(3) == 10L * 1000000L / 19L)
    assert(h.getLong(4) == 6L)
    // uniform: 5 keys × 4 rows → hottest = average → salt 1
    val uni = (0 until 20).map(i => s"k${i % 5}").toDF("user_id")
    val u = graft.operators.Profiling.skewAudit(uni, "user_id")
      .collect().head
    assert(u.getLong(4) == 1L && u.getLong(3) == 200000L)
  }

  test("joinSizeAudit: exact matches the real join; CMS estimate dominates and converges") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf0001)
    val l = ev.filter(col("event_type") === "view")
    val r = ev.filter(col("event_type") === "purchase")
    val got = Profiling.joinSizeAudit(l, r, "user_id").collect().head
    val (nl, nr, exact, est) =
      (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
    assert(nl == l.count() && nr == r.count())
    // the exact half must equal ACTUALLY running the join
    val real = l.select(col("user_id"))
      .join(r.select(col("user_id")), "user_id").count()
    assert(exact == real, s"exact_pairs $exact vs real join $real")
    assert(exact > 0, "fixture degenerated: empty join")
    // CMS inner product only ever ADDS collision mass: estimate >= exact,
    // and with w >> keys (no collisions) it equals exact
    assert(est >= exact, s"CMS estimate $est below exact $exact")
    val wide = Profiling.joinSizeAudit(l, r, "user_id", w = 1 << 20)
      .collect().head.getLong(3)
    assert(wide == exact, s"collision-free estimate $wide != exact $exact")
    // empty side: everything zero, no NULLs
    val empty = Profiling.joinSizeAudit(
      l.filter(col("user_id") < 0), r, "user_id").collect().head
    assert(empty.getLong(0) == 0 && empty.getLong(2) == 0 &&
      empty.getLong(3) == 0)
  }

  test("fkOrphansGrouped: integral keys count orphans; a string-keyed edge fails at construction") {
    val parent = Seq(1L, 2L).toDF("pk")
    // child keys 1, 3 (orphan, twice), NULL (never an orphan)
    val child = Seq(Some(1), Some(3), Some(3), None).toDF("fk")
    val r = Profiling.fkOrphansGrouped(Seq(
      (child, Seq(("child_parent", "fk", parent, "pk"))))).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ("child_parent", 4L, 2L, 1L, 500000L))
    // "x1" would cast to a NULL long and never count as an orphan
    val strChild = Seq("1", "x1").toDF("fk")
    val e = intercept[IllegalArgumentException](Profiling.fkOrphansGrouped(Seq(
      (strChild, Seq(("str_parent", "fk", parent, "pk"))))))
    assert(e.getMessage.contains("str_parent") && e.getMessage.contains("string"))
  }
}

package graft

/** The mains' shared runner: a failing query is a failure, never a
  * timing; a passing one is timed and leaves only pinned blocks behind. */
class HarnessSpec extends SparkSpec {

  test("a query that throws comes back as a failure carrying its message") {
    val thrown = Harness.measure(spark)(throw new IllegalStateException("boom"))
    assert(thrown.failed.get.getMessage == "boom")
    // a registry query that cannot build: the engine's message, not seconds
    val missing = Harness.run(spark, "trends_10min", "/nonexistent/sf")
    assert(missing.isFailure)
    assert(missing.failed.get.getMessage.contains("/nonexistent/sf"))
  }

  test("a passing query returns its seconds and sweeps unpinned blocks, keeping pinned ones") {
    val sc = spark.sparkContext
    val pinned = sc.parallelize(1 to 10).persist()
    pinned.count()
    SparkEntry.pinnedRddIds.add(pinned.id)
    try {
      val before = sc.getPersistentRDDs.keySet.toSet
      var cpIds = Set.empty[Int]
      val secs = Harness.measure(spark) {
        val cp = spark.range(100).toDF("id").localCheckpoint()
        cpIds = sc.getPersistentRDDs.keySet.toSet -- before
        cp
      }.map(_._1)
      assert(secs.get > 0.0)
      assert(cpIds.nonEmpty, "fixture degenerated: localCheckpoint persisted nothing")
      val live = sc.getPersistentRDDs.keySet.toSet
      assert(live.contains(pinned.id), "pinned block swept")
      assert((cpIds & live).isEmpty, s"unpinned checkpoint blocks ${cpIds & live} survived")
      assert(Harness.run(spark, "trends_10min", sf0001).get > 0.0)
      assert(sc.getPersistentRDDs.contains(pinned.id))
    } finally {
      SparkEntry.pinnedRddIds.remove(pinned.id)
      pinned.unpersist(blocking = false)
    }
  }
}

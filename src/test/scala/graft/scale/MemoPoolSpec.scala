package graft.scale

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** The byte cap of the session-lifetime memo pool must really evict
  * (VERDICT r14 item 2): before the pool, the memo bases were
  * MEMORY_AND_DISK frames that nothing ever unpersisted — memory
  * pressure only moved them to disk, where blocks are NOT
  * LRU-reclaimed, so a long session accumulated every family's base
  * on disk without bound. */
class MemoPoolSpec extends SparkSpec {

  private def entry(name: String, rows: Long) =
    MemoPool.getOrBuild(spark, "memo_pool_spec", name) {
      spark.range(rows).selectExpr("id", "id * 2 AS v")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  test("over-cap builds evict the least-recently-used entry") {
    MemoPool.clear(spark)
    MemoPool.capOverrideBytes = Some(64L * 1024) // 64 KB — tiny
    try {
      // NOTE: distinct row counts — Spark's CacheManager keys cached
      // data by PLAN EQUALITY, so two identical plans would share one
      // cache entry and the eviction arithmetic would alias
      val a = entry("spec_a", 100000L)
      a.count() // materialize: ~1.6 MB cached, already over the cap
      assert(MemoPool.pooledBytes(spark) > 64L * 1024)
      val b = entry("spec_b", 120000L)
      b.count() // materializing b makes a the LRU victim...
      entry("spec_b", 120000L) // ...on the next pool access
      assert(!MemoPool.pooledNames(spark).contains("spec_a"),
        "LRU entry survived an over-cap access")
      assert(a.storageLevel == StorageLevel.NONE,
        "evicted entry's frame was not unpersisted")
      // an evicted entry transparently rebuilds on next use
      val a2 = entry("spec_a", 100000L)
      assert(a2.count() === 100000L)
    } finally {
      MemoPool.capOverrideBytes = None
      MemoPool.clear(spark)
    }
  }

  test("under-cap entries stay memoized (same instance back)") {
    MemoPool.clear(spark)
    try {
      val a = entry("spec_stable", 10L)
      a.count()
      assert(entry("spec_stable", 10L) eq a)
      assert(MemoPool.pooledNames(spark).contains("spec_stable"))
    } finally MemoPool.clear(spark)
  }

  test("nested builds past a table resize: one build per key") {
    // minhashPairs builds hashArrays inside its own build. Here each
    // build nests the next key's getOrBuild, so up to 256 keys are
    // mid-build while the inner inserts cross the map's resize
    // threshold (0.75 x capacity, for any table of up to 256 bins). A
    // build run inside computeIfAbsent throws "Recursive update" then.
    val depth = 256
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def nested(i: Int): String =
      MemoPool.getOrBuild(spark, "memo_pool_spec_nested", s"n$i") {
        builds.incrementAndGet()
        if (i == 0) "leaf" else nested(i - 1)
      }(_ => Seq.empty)
    MemoPool.clear(spark)
    try {
      var failure: Option[Throwable] = None
      // a thread with a deep stack for the nested frames
      val t = new Thread(null, () =>
        try nested(depth) catch { case e: Throwable => failure = Some(e) },
        "memo-pool-spec-nested", 64L << 20)
      t.start()
      t.join()
      failure.foreach(throw _)
      assert(builds.get == depth + 1)
      assert(nested(depth) == "leaf") // memoized: no nesting, no build
      assert(builds.get == depth + 1)
      assert((0 to depth).map(i => s"n$i").toSet
        .subsetOf(MemoPool.pooledNames(spark)))
    } finally MemoPool.clear(spark)
  }

  test("a failed build leaves no entry; the next call builds again") {
    MemoPool.clear(spark)
    try {
      intercept[IllegalStateException] {
        MemoPool.getOrBuild[String](spark, "memo_pool_spec", "spec_fail") {
          throw new IllegalStateException("build failed")
        }(_ => Seq.empty)
      }
      assert(!MemoPool.pooledNames(spark).contains("spec_fail"))
      assert(MemoPool.getOrBuild(spark, "memo_pool_spec", "spec_fail")(
        "rebuilt")(_ => Seq.empty) == "rebuilt")
    } finally MemoPool.clear(spark)
  }

  test("clear unpersists and forgets") {
    val a = entry("spec_clear", 10L)
    a.count()
    MemoPool.clear(spark)
    assert(!MemoPool.pooledNames(spark).contains("spec_clear"))
    assert(a.storageLevel == StorageLevel.NONE)
  }
}

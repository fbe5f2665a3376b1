package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** SessionCaches weight-budget + LRU eviction (VERDICT r15 item 2):
  * over-budget sessions unpersist their least-recently-used entries,
  * forget them in the map, and rebuild them correctly on re-access —
  * registry growth must not tax cache-heavy iterative queries through
  * unbounded persisted state. Each test pins `budgetBytes` and
  * restores it in `finally`: suites run one at a time in the forked
  * test JVM (`Test / fork := true`, `testForkedParallel` unset), so no
  * other suite's cached() call sees a pinned budget.
  */
class SessionCacheBudgetSpec extends SparkSpecBase {

  private val configuredBudget = SessionCaches.budgetBytes

  /** Distinct `mult` per entry is load-bearing: cache-manager identity
    * is plan `sameResult`, which canonicalizes away alias NAMES — two
    * entries differing only in output name share ONE cache entry, and
    * unpersisting either drops both (the SessionCaches scaladoc
    * hazard). The spec separates plans structurally to isolate them.
    */
  private def mkBuild(s: org.apache.spark.sql.SparkSession, name: String,
      mult: Int,
      counter: scala.collection.mutable.Map[String, Int]): DataFrame = {
    counter(name) = counter.getOrElse(name, 0) + 1
    val df = s.range(1000).select(col("id"), (col("id") * mult).as(name))
      .persist()
    df.count() // materialize so the budget meters real bytes
    df
  }

  test("1-byte budget: LRU entry is unpersisted + forgotten, keep survives, re-access rebuilds correctly") {
    val s = spark.newSession()
    val m = SessionCaches.newCache[(org.apache.spark.sql.SparkSession, String)]()
    val builds = scala.collection.mutable.Map.empty[String, Int]
    SessionCaches.budgetBytes = 1L
    try {
      val a1 = SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
      assert(SessionCaches.entryCount(s) === 1)
      val b1 = SessionCaches.cached(m, (s, "b"))(mkBuild(s, "b", 3, builds))
      // a was LRU: evicted from the map AND its data unpersisted; b —
      // the entry the call returns — must never be evicted by its own
      // admission
      assert(SessionCaches.entryCount(s) === 1)
      assert(a1.storageLevel === StorageLevel.NONE,
        "evicted entry should be unpersisted")
      assert(b1.storageLevel !== StorageLevel.NONE,
        "the just-returned entry must survive its own budget check")
      // re-access a: the map forgot it, so the build runs again and the
      // rebuilt frame is correct (re-materialization correctness)
      val a2 = SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
      assert(builds("a") === 2, "evicted entry must rebuild on re-access")
      assert(a2.count() === 1000)
      assert(a2.agg(sum(col("a"))).collect()(0).getLong(0) === 999000L)
      // and now b was the LRU entry -> it paid the eviction
      assert(SessionCaches.entryCount(s) === 1)
    } finally {
      SessionCaches.budgetBytes = configuredBudget
      SessionCaches.clear(s)
    }
  }

  test("generous budget: entries stable across repeated access, each built once") {
    val s = spark.newSession()
    val m = SessionCaches.newCache[(org.apache.spark.sql.SparkSession, String)]()
    val builds = scala.collection.mutable.Map.empty[String, Int]
    SessionCaches.budgetBytes = java.lang.Long.MAX_VALUE
    try {
      SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
      SessionCaches.cached(m, (s, "b"))(mkBuild(s, "b", 3, builds))
      assert(SessionCaches.entryCount(s) === 2)
      (1 to 3).foreach { _ =>
        SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
        SessionCaches.cached(m, (s, "b"))(mkBuild(s, "b", 3, builds))
      }
      assert(SessionCaches.entryCount(s) === 2)
      assert(builds === Map("a" -> 1, "b" -> 1))
    } finally {
      SessionCaches.budgetBytes = configuredBudget
      SessionCaches.clear(s)
    }
  }

  test("non-registry storage over budget never thrashes registry entries (ADVICE r16: meter owned bytes only)") {
    val s = spark.newSession()
    val m = SessionCaches.newCache[(org.apache.spark.sql.SparkSession, String)]()
    val builds = scala.collection.mutable.Map.empty[String, Int]
    // foreign residency the registry cannot evict: a localCheckpoint RDD
    // far over the budget (1M longs ≈ 8 MB; budget 1 MB)
    val ckpt = s.range(1000000).toDF("id").localCheckpoint()
    assert(ckpt.count() === 1000000L)
    SessionCaches.budgetBytes = 1024L * 1024
    try {
      // two tiny entries: owned bytes are KBs, far under the budget —
      // under context-wide metering (the r16 bug) the checkpoint alone
      // would force every access to evict ALL other registry entries
      val a = SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
      val b = SessionCaches.cached(m, (s, "b"))(mkBuild(s, "b", 3, builds))
      (1 to 3).foreach { _ =>
        SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
        SessionCaches.cached(m, (s, "b"))(mkBuild(s, "b", 3, builds))
      }
      assert(SessionCaches.entryCount(s) === 2,
        "foreign storage must not evict registry entries")
      assert(builds === Map("a" -> 1, "b" -> 1),
        "no rebuild thrash under foreign residency")
      assert(a.storageLevel !== StorageLevel.NONE)
      assert(b.storageLevel !== StorageLevel.NONE)
    } finally {
      SessionCaches.budgetBytes = configuredBudget
      SessionCaches.clear(s)
    }
  }

  test("telemetry counts admissions, evictions and rebuilds") {
    val s = spark.newSession()
    val m = SessionCaches.newCache[(org.apache.spark.sql.SparkSession, String)]()
    val builds = scala.collection.mutable.Map.empty[String, Int]
    SessionCaches.budgetBytes = 1L
    try {
      val t0 = SessionCaches.telemetry
      SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds))
      SessionCaches.cached(m, (s, "b"))(mkBuild(s, "b", 3, builds)) // evicts a
      SessionCaches.cached(m, (s, "a"))(mkBuild(s, "a", 2, builds)) // REBUILD of a
      val d = SessionCaches.telemetry - t0
      assert(d.admissions === 3, s"3 builds ran: $d")
      assert(d.evictions >= 2, s"a then b evicted under budget 1: $d")
      assert(d.rebuilds === 1, s"only a's second build is a rebuild: $d")
    } finally {
      SessionCaches.budgetBytes = configuredBudget
      SessionCaches.clear(s)
    }
  }

  test("eviction never touches another session's entries") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val m = SessionCaches.newCache[(org.apache.spark.sql.SparkSession, String)]()
    val builds = scala.collection.mutable.Map.empty[String, Int]
    SessionCaches.budgetBytes = java.lang.Long.MAX_VALUE
    try {
      val f1 = SessionCaches.cached(m, (s1, "x1"))(mkBuild(s1, "x1", 5, builds))
      SessionCaches.budgetBytes = 1L
      // two s2 builds, budget 1: s2 evicts its own LRU, never s1's
      SessionCaches.cached(m, (s2, "x2"))(mkBuild(s2, "x2", 7, builds))
      SessionCaches.cached(m, (s2, "y2"))(mkBuild(s2, "y2", 11, builds))
      assert(SessionCaches.entryCount(s1) === 1)
      assert(f1.storageLevel !== StorageLevel.NONE,
        "another session's eviction must not unpersist this session's entry")
    } finally {
      SessionCaches.budgetBytes = configuredBudget
      SessionCaches.clear(s1)
      SessionCaches.clear(s2)
    }
  }

  test("a session that only hits is brought back under budget within 32 hits") {
    val s = spark.newSession()
    val m = SessionCaches.newCache[(org.apache.spark.sql.SparkSession, String)]()
    // lazy builds: both entries pass their admission check at 0 bytes
    def lazyBuild(name: String, mult: Int): DataFrame =
      s.range(1000).select(col("id"), (col("id") * mult).as(name)).persist()
    SessionCaches.budgetBytes = 1L
    try {
      val a = SessionCaches.cached(m, (s, "a"))(lazyBuild("a", 2))
      val b = SessionCaches.cached(m, (s, "b"))(lazyBuild("b", 3))
      assert(SessionCaches.entryCount(s) === 2)
      // materialized after admission: the session is now over budget
      assert(a.count() === 1000L && b.count() === 1000L)
      val (_, jobs, _) = jobsOf("budget-hits") {
        (1 to 32).foreach { _ =>
          SessionCaches.cached(m, (s, "b"))(fail("b was admitted already"))
        }
      }
      assert(jobs.isEmpty, "the budget check must start no Spark job")
      assert(SessionCaches.entryCount(s) === 1)
      assert(a.storageLevel === StorageLevel.NONE,
        "the LRU entry should be evicted by a hit-path budget check")
      assert(b.storageLevel !== StorageLevel.NONE)
    } finally {
      SessionCaches.budgetBytes = configuredBudget
      SessionCaches.clear(s)
    }
  }
}

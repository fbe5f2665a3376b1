package graft

/** Smoke gate over every declared query: runs on sf0.001 and asserts
  * non-empty, deterministic output (two evaluations hash identically).
  * The value-level gate is the driver's DuckDB compare (tools/check_oracle.py).
  */
class QueriesSpec extends SparkSpecBase {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every query has an oracle — no silent downgrade to rows-only checks") {
    // the driver records only a weak rows>0 check for a query without an
    // oracleSql entry; this repo's contract is that EVERY query is
    // oracle-gated, so an omission is a build error, not a quiet default
    val unorcled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unorcled.isEmpty, s"queries without oracleSql: $unorcled")
  }

  /** Both evaluations of every query, started ONCE on a small driver
    * thread pool when the first per-query test runs (r18, VERDICT r17
    * item on the test budget): the 2 × 360 sequential sf0.001
    * executions were ~9 of the suite's 25 minutes, almost all of it
    * per-query fixed cost that parallelizes cleanly — Spark's driver
    * and the session caches are thread-safe, and overlapping
    * independent jobs is the guide §2.6 device. Each per-query test
    * waits for its own future with a finite timeout and rethrows the
    * query's own failure, so a failing or hung query fails only its
    * own test. Daemon threads: a hung query cannot keep the JVM alive.
    */
  private lazy val evals: Map[String, concurrent.Future[(Seq[org.apache.spark.sql.Row],
      Seq[org.apache.spark.sql.Row])]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "queries-spec"); t.setDaemon(true); t
    })
    implicit val ec: concurrent.ExecutionContext =
      concurrent.ExecutionContext.fromExecutorService(pool)
    try SparkEntry.queries.map { case (name, fn) =>
      name -> concurrent.Future {
        val a = fn(spark, sf0001).collect().toSeq
        val b = fn(spark, sf0001).collect().toSeq
        (a, b)
      }
    } finally pool.shutdown() // queued work still runs; no new work
  }

  /** Per-query wait, counted from when its test starts: the slowest
    * query takes seconds at sf0.001, and up to 7 others share the pool.
    */
  private val perQueryTimeout = concurrent.duration.Duration(300, "s")

  SparkEntry.queries.keys.foreach { name =>
    test(s"$name: non-empty + deterministic on sf0.001") {
      val (a, b) = concurrent.Await.result(evals(name), perQueryTimeout)
      assert(a.nonEmpty, s"$name returned 0 rows")
      assert(a === b, s"$name is non-deterministic")
    }
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites: GraftSession's settings at
  * 4 cores, so the specs check the session the mains run.
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` under job group `group` and returns its result, the ids
    * of the jobs it started and of those that did not succeed, as a
    * listener saw them.
    */
  def jobsOf[T](group: String)(body: => T): (T, Set[Int], Set[Int]) = {
    import org.apache.spark.scheduler._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.add(e.jobId)
          case Some("jobs-of-sentinel") => sentinel.countDown()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId) && e.jobResult != JobSucceeded) failed.add(e.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val result = body
      // the bus delivers in order: once the sentinel job's start arrives,
      // every job `body` started has ended
      spark.sparkContext.setJobGroup("jobs-of-sentinel", "sentinel")
      spark.range(1).count()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (result, Set.from(started.asScala), Set.from(failed.asScala))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Runs `body` and returns its result with every query execution it
    * ran on this session, as (action name, execution), in the order
    * Spark reported them: actions, writes and `localCheckpoint`s (eager
    * or lazy), on any thread.
    */
  def plansOf[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val probe = spark.range(1)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def report(name: String, qe: QueryExecution): Unit =
        if (qe eq probe.queryExecution) sentinel.countDown()
        else seen.add((name, qe))
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        report(name, qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        report(name, qe)
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      // the bus delivers in order: once the sentinel's execution
      // arrives, every execution `body` ran has been reported
      probe.collect()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}

object SparkSpecBase {
  lazy val session: SparkSession =
    GraftSession.builder(4).appName("graft-tests").getOrCreate()
}

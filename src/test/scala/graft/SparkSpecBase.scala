package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites: GraftSession's settings at
  * 4 cores, so the specs check the session the mains run.
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession =
    GraftSession.builder(4).appName("graft-tests").getOrCreate()
}

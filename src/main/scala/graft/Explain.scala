package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import scala.util.Try

/** Plan-audit tool: EXECUTE the named queries (or all), discarding rows
  * as the bench's noop sink does, then print the formatted plan. The
  * query's own plan is run (a `df.write` would plan and run a copy and
  * leave this one un-finalized), so with AQE on the output holds both
  * the Final Plan (runtime re-optimization: ReusedExchange,
  * AQEShuffleRead coalescing, join-strategy rewrites) and the Initial
  * Plan (PushedFilters / ReadSchema pruning, broadcast choices,
  * WholeStageCodegen spans). A query that fails prints its plan from
  * before execution plus the error.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val df = Try(fn(spark, sfDir))
          val ran = df.map(_.queryExecution.toRdd.foreach(_ => ()))
          df.flatMap(d => Try(formatted(d))).foreach(println)
          ran.failed.foreach(e =>
            println(s"FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}

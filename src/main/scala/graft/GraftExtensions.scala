package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.expressions.{CosineSimilarity, LshSignBucket}

/** Session extension registering the engine's native expressions for the
  * SQL surface (SURVEY.md §1.1: the API is dual — DSL and SQL), so
  * `SELECT cosine_similarity(a, b)` works anywhere `spark.sql` does.
  *
  * Install with
  * `GraftSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; [[GraftExtensions.register]]
  * does the same on an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity",
      info("cosine_similarity",
        "_FUNC_(a, b) - cosine similarity of two float arrays in double precision"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("lsh_bucket",
      info("lsh_bucket",
        "_FUNC_(v, nPlanes[, seed]) - deterministic sign-LSH bucket of a float array"),
      (es: Seq[Expression]) => {
        if (es.length < 2 || es.length > 3)
          throw new IllegalArgumentException(
            s"lsh_bucket expects 2 or 3 arguments, got ${es.length}")
        def integral(e: Expression, what: String): Long = {
          if (!e.foldable)
            throw new IllegalArgumentException(
              s"lsh_bucket: $what must be a literal integer")
          e.eval() match {
            case i: Int => i.toLong
            case l: Long => l
            case s: Short => s.toLong
            case b: Byte => b.toLong
            case other => throw new IllegalArgumentException(
              s"lsh_bucket: $what must be integral, got $other")
          }
        }
        val planes = integral(es(1), "nPlanes").toInt
        // >63 overflows the Long bucket (silent plane aliasing); <1 is a
        // constant bucket that degrades any bucket join to all-pairs
        if (planes < 1 || planes > 63)
          throw new IllegalArgumentException(
            s"lsh_bucket: nPlanes must be in [1, 63], got $planes")
        // optional table seed — the multi-table ANN path (SimilarityOps
        // AND-OR amplification) needs distinct hyperplane sets per table
        val seed = if (es.length == 3) integral(es(2), "seed") else 42L
        LshSignBucket(es(0), planes, seed)
      }))

  /** Register on a live session (tests / REPL convenience). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}

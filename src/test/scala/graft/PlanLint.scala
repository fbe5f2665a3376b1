package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{PlanExpression, PythonUDF, ScalaUDF}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan-walk utilities behind PlanLintSpec: extract the scale-killer
  * shapes (partitionless windows, cartesian products, nested-loop
  * joins, UDF nodes) from a query's pre-AQE physical plan, including
  * subquery plans and the build plans of the cached frames it reads.
  * Pre-AQE (`sparkPlan`, and a cached build's AQE `inputPlan`) is
  * deliberate: window partitioning, cartesian-ness and UDF presence
  * are fixed before adaptive re-planning, while join-strategy picks
  * (broadcast vs SMJ) flip with cache state and are NOT pinned here
  * (the q223 lesson).
  *
  * A `localCheckpoint`ed frame appears as a scan; the plan before the
  * checkpoint is its own `localCheckpoint` execution, which
  * `SparkSpecBase.plansOf` collects along with every other action a
  * query runs while it is built.
  */
object PlanLint {

  /** Every node of the physical plan, descending into the plans a node
    * holds outside its children.
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap(hidden).flatMap(allNodes)
  }

  /** Subquery plans, the build plan behind an in-memory scan, and an
    * adaptive plan's pre-AQE `inputPlan`.
    */
  private def hidden(n: SparkPlan): Seq[SparkPlan] = n match {
    case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
    case s: InMemoryTableScanExec => subqueries(s) :+ s.relation.cachedPlan
    case _ => subqueries(n)
  }

  private def subqueries(n: SparkPlan): Seq[SparkPlan] =
    n.expressions.flatMap(_.collect { case pe: PlanExpression[_] => pe.plan })
      .collect { case sp: SparkPlan => sp }

  def physical(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan

  /** Partitionless windows as (nodeClass, head order-column name). */
  def partitionlessWindows(p: SparkPlan): Seq[(String, String)] =
    allNodes(p).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        ("WindowExec", w.orderSpec.headOption.map(_.child.sql).getOrElse(""))
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        ("WindowGroupLimitExec",
          w.orderSpec.headOption.map(_.child.sql).getOrElse(""))
    }

  def cartesians(p: SparkPlan): Seq[String] =
    allNodes(p).collect { case c: CartesianProductExec => c.nodeName }

  def nestedLoopJoins(p: SparkPlan): Seq[String] =
    allNodes(p).collect { case j: BroadcastNestedLoopJoinExec =>
      s"${j.joinType}/${j.condition.map(_.sql).getOrElse("conditionless")}"
    }

  def udfs(p: SparkPlan): Seq[String] =
    allNodes(p).flatMap(_.expressions.flatMap(_.collect {
      case u: ScalaUDF => s"ScalaUDF(${u.udfName.getOrElse("?")})"
      case u: PythonUDF => s"PythonUDF(${u.name})"
    }))
}

package graft.analytics

import graft.SparkSpecBase
import graft.etl.{DictionaryParser, EtlPipeline, Fixtures, RefBuilders, Schemas, Sinks,
  SyntheticI94}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, LeafExecNode, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

class I94AnalyticsSpec extends SparkSpecBase {

  lazy val raw = Fixtures.rawI94(spark)
  lazy val trips = RefBuilders.i94Trips(spark, raw)
  lazy val immigrations = RefBuilders.i94Immigrations(raw)
  lazy val visitors = RefBuilders.i94Visitors(spark, raw)
  lazy val countries = DictionaryParser.toDF(spark, Fixtures.dictionary,
    DictionaryParser.sections.find(_.table == "i94_countries").get)
  lazy val modes = DictionaryParser.toDF(spark, Fixtures.dictionary,
    DictionaryParser.sections.find(_.table == "i94_travel_mode").get)
  lazy val visa = DictionaryParser.toDF(spark, Fixtures.dictionary,
    DictionaryParser.sections.find(_.table == "i94_visa").get)
  lazy val portState = DictionaryParser.portStateMapping(spark, Fixtures.dictionary)
  lazy val states = RefBuilders.i94UsStatesDemographic(spark, Fixtures.demographics(spark))

  test("q1 monthly trend counts all trips") {
    val t = monthlyByKey()
    assert(t === Map((2016, 4) -> 3L))
  }
  private def monthlyByKey() =
    I94Analytics.monthlyTrend(trips).collect()
      .map(r => (r.getAs[Int]("i94_year"), r.getAs[Int]("i94_month")) -> r.getAs[Long]("n_trips")).toMap

  test("q2 top countries: fact⋈dictionary join resolves names") {
    val rows = I94Analytics.topCountries(trips, countries).collect()
    // residents: 102 (FRANCE) ×2, 104 (unmapped, dropped by inner join)
    assert(rows.map(r => r.getAs[String]("country") -> r.getAs[Long]("n_visitors")).toMap
      === Map("FRANCE" -> 2L))
  }

  test("q3 top cities via immigrations⋈port_state_mapping") {
    val rows = I94Analytics.topCities(immigrations, portState).collect()
    assert(rows.map(_.getAs[String]("city")).toSet
      .subsetOf(Set("NEW YORK", "LOS ANGELES", "CHICAGO")))
    assert(rows.map(_.getAs[Long]("n_visitors")).sum === 3)
  }

  test("q4 favourite mode per country picks rank 1 deterministically") {
    val rows = I94Analytics.favouriteModePerCountry(trips, immigrations, modes, countries).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("country")).distinct.length === rows.length)
  }

  test("q5/q6/q8: months, visa categories, purpose") {
    assert(I94Analytics.preferredMonths(trips).head().getAs[Long]("n_trips") === 3)
    val vc = I94Analytics.topVisaCategories(trips, visa).collect()
    assert(vc.map(_.getAs[Long]("n")).sum === 3)
    val vp = I94Analytics.visitPurpose(trips, visa).collect()
    assert(vp.map(r => r.getAs[String]("visa_purpose")).toSet
      === Set("Business", "Pleasure", "Student"))
  }

  test("q7 demographics: age bands + null gender kept") {
    val rows = I94Analytics.travellerDemographics(visitors).collect()
    assert(rows.map(_.getAs[Long]("n")).sum === 3)
    assert(rows.exists(_.getAs[String]("age_band") === "unknown")) // null birth_year row
  }

  test("q9 avg stay uses only completed trips") {
    val r = I94Analytics.avgStayDuration(trips).head()
    assert(r.getAs[Long]("n_completed_trips") === 1) // only cicid=1 has both dates
    assert(r.getAs[Double]("avg_stay_days") === 5.0) // 20550 - 20545
  }

  test("q10 busiest ports + census mash-up") {
    val ports = I94Analytics.busiestPorts(immigrations).collect()
    assert(ports.map(_.getAs[Long]("n_arrivals")).sum === 3)
    val census = I94Analytics.arrivalsVsCensus(immigrations, portState, states).collect()
    assert(census.map(_.getAs[Long]("n_arrivals")).sum === 3)
    // NYC row joins NY → no matching state in fixture demographics (MA/GA) → null median_age
    assert(census.forall(r => r.getAs[Long]("n_arrivals") > 0))
  }

  /** The ETL's tables over the synthetic sf0.001 raw trips (four months,
    * three visa categories, three genders), read back from parquet as the
    * analytics read them.
    */
  private lazy val etlOut = {
    val out = Files.createTempDirectory("graft-i94-analytics").toString
    val raw = spark.createDataFrame(
      SyntheticI94.raw(spark, sf0001).rdd, Schemas.rawI94)
    EtlPipeline.runAll(spark, Seq(raw), SyntheticI94.airports(spark),
      SyntheticI94.demographics(spark), SyntheticI94.dictionary, out)
    out
  }
  private def table(name: String): DataFrame =
    Sinks.readTable(spark, Sinks.registry.find(_.name == name).get, etlOut)

  /** Each question whose answer a dimension bounds, with its documented
    * sort keys (column, descending).
    */
  private lazy val bounded: Seq[(String, DataFrame, Seq[(String, Boolean)])] = {
    val (trips, imm) = (table("i94_trips"), table("i94_immigrations"))
    Seq(
      ("monthlyTrend", I94Analytics.monthlyTrend(trips),
        Seq("i94_year" -> false, "i94_month" -> false)),
      ("dailyArrivals", I94Analytics.dailyArrivals(trips),
        Seq("arrival_date" -> false)),
      ("favouriteModePerCountry", I94Analytics.favouriteModePerCountry(trips, imm,
        table("i94_travel_mode"), table("i94_countries")),
        Seq("n" -> true, "country" -> false)),
      ("preferredMonths", I94Analytics.preferredMonths(trips),
        Seq("n_trips" -> true, "i94_month" -> false)),
      ("topVisaCategories", I94Analytics.topVisaCategories(trips, table("i94_visa")),
        Seq("n" -> true, "visa_purpose" -> false, "visa_category" -> false)),
      ("travellerDemographics", I94Analytics.travellerDemographics(table("i94_visitors")),
        Seq("gender" -> false, "age_band" -> false)),
      ("visitPurpose", I94Analytics.visitPurpose(trips, table("i94_visa")),
        Seq("n" -> true, "visa_purpose" -> false)),
      ("arrivalsVsCensus", I94Analytics.arrivalsVsCensus(imm,
        table("i94_port_state_mapping"), table("i94_us_states_demographic")),
        Seq("n_arrivals" -> true, "port_state_code" -> false)))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }).flatMap(nodes)

  /** The operators that run in the same tasks as `p`: down to the
    * nearest exchange or query stage.
    */
  private def sameStage(p: SparkPlan): Seq[SparkPlan] =
    p +: p.children.filter {
      case _: Exchange | _: QueryStageExec => false
      case _ => true
    }.flatMap(sameStage)

  /** `rows` stably sorted by `keys`, nulls first ascending and last
    * descending, as Spark orders them.
    */
  private def sortedBy(rows: Seq[Row], keys: Seq[(String, Boolean)]): Seq[Row] =
    rows.sortWith { (a, b) =>
      keys.iterator.map { case (c, desc) =>
        val cmp = (a.getAs[Any](c), b.getAs[Any](c)) match {
          case (null, null) => 0
          case (null, _) => -1
          case (_, null) => 1
          case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
        }
        if (desc) -cmp else cmp
      }.find(_ != 0).exists(_ < 0)
    }

  test("bounded questions sort in one task: no range exchange, Coalesce 1 right above the final aggregate") {
    bounded.foreach { case (name, df, keys) =>
      val rows = df.collect().toSeq
      assert(rows.size > 1, name)
      assert(rows === sortedBy(rows, keys), s"$name is not ordered by $keys")
      val plan = nodes(df.queryExecution.executedPlan)
      assert(!plan.exists {
        case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }, s"$name plans a range exchange:\n${df.queryExecution.executedPlan}")
      val coalesces = plan.collect { case c: CoalesceExec => c }
      assert(coalesces.map(_.numPartitions) === Seq(1), name)
      // the single task starts from the shuffled partial aggregates: the
      // scans and joins stay in the parallel stages below it
      val below = coalesces.head.child match {
        case w: WholeStageCodegenExec => w.child
        case p => p
      }
      assert(below.isInstanceOf[BaseAggregateExec], s"$name: Coalesce 1 sits on $below")
      val task = sameStage(coalesces.head)
      assert(!task.exists {
        case _: LeafExecNode | _: BaseJoinExec => true
        case _ => false
      }, s"$name: the one task scans or joins:\n${df.queryExecution.executedPlan}")
    }
  }

  test("monthlyTrend runs in at most 2 jobs on a warm session") {
    val trips = table("i94_trips")
    I94Analytics.monthlyTrend(trips).collect()
    val (rows, jobs, failed) = jobsOf("monthly-trend")(I94Analytics.monthlyTrend(trips).collect())
    assert(rows.length === 4)
    assert(failed.isEmpty)
    assert(jobs.size <= 2, s"monthlyTrend ran ${jobs.size} jobs")
  }
}

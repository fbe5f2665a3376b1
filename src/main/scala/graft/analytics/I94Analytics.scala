package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The join layer the reference only implies (SURVEY.md §2.4): its 10
  * published analytical questions (/root/reference/Capstone/README.md:21-30)
  * as named queries over the snowflake tables the ETL emits. The reference
  * never materializes a join — the model was written out for downstream
  * engines; here the questions are first-class, answered with fact⋈dim
  * joins, top-k aggregations and per-group window ranks.
  *
  * All inputs are the ETL output tables (RefBuilders). Dims are broadcast
  * — they are small by construction (countries/modes/visa are dictionary
  * tables); the fact side only shuffles for its aggregations.
  */
object I94Analytics {

  /** Finishes a question whose answer is bounded by a dimension (months,
    * dates, visa categories, gender × age band, country × mode, states)
    * in one task. A global `orderBy` over a parallel answer plans a
    * range-partition exchange, which under AQE costs three jobs to order
    * a few hundred rows: a sampling job and a shuffle-map job that each
    * compute the final aggregate, then the result job. `SinglePartition`
    * satisfies both the sort and a per-group window, so neither needs an
    * exchange. Apply it right after the last fact-sized aggregate: the
    * scans, dimension joins and partial aggregates stay parallel, and the
    * one task reads only (map tasks × groups) partial rows.
    */
  private def inOneTask(answer: DataFrame): DataFrame = answer.coalesce(1)

  /** Q1 — monthly arrival trend: trips per (year, month). */
  def monthlyTrend(trips: DataFrame): DataFrame =
    inOneTask(trips.groupBy(col("i94_year"), col("i94_month"))
      .agg(count(lit(1)).as("n_trips")))
      .orderBy(col("i94_year"), col("i94_month"))

  /** Q1b — daily arrival counts inside a date window. Built to consume
    * [[graft.etl.ZoneMapReader.readRange]]'s pruned i94_trips frame:
    * the fact table's physical layout (Sinks.TableSpec sortCols =
    * arrival_date) range-clusters dates across files, so the window
    * read schedules only the overlapping files — the read-side
    * completion of the write-side zone maps. Semantics are identical
    * over a full-table filtered read (ZoneMapReaderSpec pins both).
    */
  def dailyArrivals(trips: DataFrame): DataFrame =
    inOneTask(trips.filter(col("arrival_date").isNotNull)
      .groupBy(col("arrival_date"))
      .agg(count(lit(1)).as("n_arrivals")))
      .orderBy(col("arrival_date"))

  /** Q2 — countries sending the most visitors: trips ⋈ countries. */
  def topCountries(trips: DataFrame, countries: DataFrame, k: Int = 10): DataFrame =
    trips.join(broadcast(countries),
        trips("resident_country_id") === countries("country_id"))
      .groupBy(col("country"))
      .agg(count(lit(1)).as("n_visitors"))
      .orderBy(col("n_visitors").desc, col("country"))
      .limit(k)

  /** Q3 — cities receiving the most visitors:
    * trips ⋈ immigrations ⋈ port_state_mapping.
    */
  def topCities(immigrations: DataFrame, portState: DataFrame, k: Int = 10): DataFrame =
    immigrations.join(broadcast(portState),
        immigrations("i94_port") === portState("i94_port"))
      .groupBy(col("city"), col("state"))
      .agg(count(lit(1)).as("n_visitors"))
      .orderBy(col("n_visitors").desc, col("city"))
      .limit(k)

  /** Q4 — favourite mode of entry per country (window rank — "do some
    * visitors prefer a more obvious mode given closeness?"). Mode lives on
    * the immigrations dim, country on the fact: a genuine snowflake
    * 3-way join (trips ⋈ immigrations ⋈ two dictionary dims).
    */
  def favouriteModePerCountry(trips: DataFrame, immigrations: DataFrame,
      modes: DataFrame, countries: DataFrame): DataFrame = {
    val counts = inOneTask(trips
      .join(immigrations.select(col("custom_client_id"), col("mode_of_entry")),
        Seq("custom_client_id"))
      .join(broadcast(modes),
        col("mode_of_entry").cast("string") === modes("mode_id"))
      .join(broadcast(countries), trips("resident_country_id") === countries("country_id"))
      .groupBy(col("country"), col("mode"))
      .agg(count(lit(1)).as("n")))
    val w = Window.partitionBy(col("country")).orderBy(col("n").desc, col("mode"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("country"), col("mode").as("favourite_mode"), col("n"))
      .orderBy(col("n").desc, col("country"))
  }

  /** Q5 — preferred months: trips ⋈ dates (or directly off i94_month). */
  def preferredMonths(trips: DataFrame): DataFrame =
    inOneTask(trips.groupBy(col("i94_month"))
      .agg(count(lit(1)).as("n_trips")))
      .orderBy(col("n_trips").desc, col("i94_month"))

  /** Trips per (visa_purpose, visa_category): trips ⋈ visa, aggregated. */
  private def visaCounts(trips: DataFrame, visa: DataFrame): DataFrame =
    trips.join(broadcast(visa), trips("visa_id") === visa("visa_id"))
      .groupBy(col("visa_purpose"), col("visa_category"))
      .agg(count(lit(1)).as("n"))

  /** Q6 — most popular visa category. */
  def topVisaCategories(trips: DataFrame, visa: DataFrame): DataFrame =
    inOneTask(visaCounts(trips, visa))
      .orderBy(col("n").desc, col("visa_purpose"), col("visa_category"))

  /** Q7 — age / gender demographics of travellers (visitors dim). */
  def travellerDemographics(visitors: DataFrame): DataFrame =
    inOneTask(visitors
      .withColumn("age_band",
        when(col("birth_year").isNull, lit("unknown"))
          .when(col("i94_year") - col("birth_year") < 18, lit("0-17"))
          .when(col("i94_year") - col("birth_year") < 35, lit("18-34"))
          .when(col("i94_year") - col("birth_year") < 55, lit("35-54"))
          .otherwise(lit("55+")))
      .groupBy(col("gender"), col("age_band"))
      .agg(count(lit(1)).as("n")))
      .orderBy(col("gender").asc_nulls_first, col("age_band"))

  /** Q8 — purpose of visit = visa purpose distribution (dictionary dim).
    * The per-category counts are the last fact-sized aggregate; rolling
    * them up to purposes happens in the same one task.
    */
  def visitPurpose(trips: DataFrame, visa: DataFrame): DataFrame =
    inOneTask(visaCounts(trips, visa))
      .groupBy(col("visa_purpose"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("visa_purpose"))

  /** Q9 — average duration of stay in days (datediff over the fact). */
  def avgStayDuration(trips: DataFrame): DataFrame =
    trips.filter(col("arrival_date").isNotNull && col("depature_date").isNotNull)
      .agg(
        round(avg(datediff(col("depature_date"), col("arrival_date"))), 2).as("avg_stay_days"),
        count(lit(1)).as("n_completed_trips"))

  /** Q10 — busiest ports/airports: immigrations by port, ranked. */
  def busiestPorts(immigrations: DataFrame, k: Int = 10): DataFrame =
    immigrations.groupBy(col("i94_port"))
      .agg(count(lit(1)).as("n_arrivals"))
      .orderBy(col("n_arrivals").desc, col("i94_port"))
      .limit(k)

  /** Census mash-up (README.md:32): arrivals per state (via the
    * port→state dictionary mapping) ⋈ state demographics.
    */
  def arrivalsVsCensus(immigrations: DataFrame, portState: DataFrame,
      states: DataFrame): DataFrame = {
    val ps = portState.select(col("i94_port"),
      trim(col("state")).as("port_state_code"))
    inOneTask(immigrations
      .join(broadcast(ps), Seq("i94_port"))
      .join(broadcast(states),
        col("port_state_code") === states("state_code"), "left")
      .groupBy(col("port_state_code"), states("state"))
      .agg(count(lit(1)).as("n_arrivals"),
        first(col("median_age")).as("median_age")))
      .orderBy(col("n_arrivals").desc, col("port_state_code"))
  }
}

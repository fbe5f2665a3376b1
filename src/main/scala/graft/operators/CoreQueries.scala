package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's relational operator surface (SURVEY.md §2), re-expressed
  * Spark-first over the testdata star schema. Each method is one
  * `SparkEntry.queries` entry with a DuckDB oracle.
  *
  * Design rules for 100 TB scale:
  *  - dims (`nation`, `region`, `customer`-at-small-SF) joined via
  *    `broadcast()` — no shuffle of the fact side;
  *  - aggregates are plain `groupBy` so Catalyst does partial (map-side)
  *    aggregation before the exchange;
  *  - every output is deterministically ordered (hash-compared by the
  *    driver) with a total tie-break — SURVEY.md §7.4 risk 5;
  *  - money aggregates rounded to fixed decimals so double-summation order
  *    (Spark partition order vs DuckDB) cannot flip the hash.
  */
object CoreQueries {

  /** A1/A4-style full-scan aggregate: TPC-H Q1 pricing summary.
    * Reference analog: per-table `count()` + min/max profiling
    * (etl.py:528, Explore_using_PySpark.ipynb cells 25-27) generalized to a
    * grouped scan aggregate. One shuffle on 2 low-cardinality keys;
    * partial agg makes the exchange tiny at any scale.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** §7.2 flagship: snowflake join orders⋈customer⋈nation → top-5 nations
    * by order count. customer shuffle-joins (a real dim is huge at 100 TB;
    * AQE downgrades to broadcast at small SF), nation always broadcasts.
    */
  def q02TopNations(spark: SparkSession, dir: String): DataFrame = {
    // customer is a real dim (huge at 100 TB) → shuffle join, let AQE
    // downgrade to broadcast at small SF; nation (25 rows) always broadcast.
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("order_cnt"),
        round(sum(col("o_totalprice")), 2).as("total_spend"))
      .orderBy(col("order_cnt").desc, col("n_name"))
      .limit(5)
  }

  /** U1: positional union-all fold (etl.py:97-108) — monthly-file
    * concatenation re-expressed as a union of disjoint slices.
    */
  def q03UnionAll(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val lo = li.filter(col("l_orderkey") % 2 === 0)
      .select(col("l_returnflag"), col("l_quantity"))
    val hi = li.filter(col("l_orderkey") % 2 === 1)
      .select(col("l_returnflag"), col("l_quantity"))
    Seq(lo, hi).reduce(_ union _)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  /** U2: union by name (Explore_using_PySpark.ipynb cell 3) — schemas in
    * different column order, aligned by name not position.
    */
  def q04UnionByName(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val a = li.filter(col("l_linenumber") <= 3)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice"))
    val b = li.filter(col("l_linenumber") > 3)
      .select(col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"))
    Seq(a, b).reduce(_ unionByName _)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 2).as("price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** P2/F1/F2: the reference's id-normalization cast chain
    * `STRING(INT(cicid))` (etl.py:206-223) incl. the §7.4-1 `admnum`
    * long-not-int overflow fix: big ids go through LongType.
    */
  def q05ProjectCast(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey").cast("int").cast("string").as("order_id"),
        (col("o_orderkey") * lit(1000000L) + col("o_custkey"))
          .cast("long").cast("string").as("admission_id"),
        col("o_totalprice").cast("int").as("price_int"),
        col("o_orderdate").cast("date").as("order_date"))
      .orderBy(col("order_id").cast("long"))

  /** P5 filter-not-null + injected nulls (testdata has none): the
    * `WHERE fltno IS NOT NULL` builder predicate (etl.py:274-275).
    */
  def q06FilterNotNull(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("maybe_value",
        when(col("value") >= 1.0, col("value")))
      .filter(col("maybe_value").isNotNull && col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("maybe_value")), 2).as("sum_value"))
      .orderBy(col("event_type"))

  /** P6 equality filter (notebook cell 69 `city == 'DALTONS CACHE'`). */
  def q07FilterEq(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("c_custkey"))

  /** P7/F4/F5: `CASE WHEN x LIKE 'US-%' THEN SPLIT(x,'-')[1]` (etl.py:301)
    * transposed onto customer names (`Customer#000000042`).
    */
  def q08CaseLikeSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        when(col("c_name").like("Customer#%"), split(col("c_name"), "#")(1))
          .otherwise(lit(null)).as("name_digits"))
      .orderBy(col("c_custkey"))

  /** The i94_dates dim builder (etl.py:355-376): distinct dates with
    * calendar attributes + weekend flag (P8/F7/F8/A2). Spark dayofweek is
    * Sunday=1 — the reference's convention (SURVEY.md §2.8 F7).
    */
  def q09DatesDim(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderdate").cast("date").as("order_date"))
      .dropDuplicates()
      .select(
        col("order_date"),
        year(col("order_date")).as("year"),
        month(col("order_date")).as("month"),
        dayofmonth(col("order_date")).as("day"),
        dayofweek(col("order_date")).as("dayofweek"),
        when(dayofweek(col("order_date")) === 1 || dayofweek(col("order_date")) === 7,
          lit("weekend")).otherwise(lit("weekday")).as("is_weekend"))
      .orderBy(col("order_date"))

  /** A3: SELECT DISTINCT projection (etl.py:208 etc.). */
  def q10Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A2: dropDuplicates over full rows (etl.py:172,203,374) on a
    * projection that actually contains duplicates.
    */
  def q11DedupRows(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .dropDuplicates()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))

  /** A4: global min/max aggregate (notebook cells 25-27). */
  def q12MinMax(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        min(col("o_orderdate")).cast("date").as("min_date"),
        max(col("o_orderdate")).cast("date").as("max_date"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        count(lit(1)).as("n"))

  /** A5: the DQ null-key check (i94_data_quality_check.py:89-107) —
    * conditional count of null/NaN per key column, type-aware (`isnan`
    * only on numerics, fixing the reference's crash path §7.4-6).
    * Nulls injected since testdata is null-free.
    */
  def q13NullCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("v", when(col("value") < 2.0, lit(null).cast("double")).otherwise(col("value")))
      .withColumn("p", when(col("event_type") === "error", lit(null).cast("string")).otherwise(col("props")))
    ev.agg(
      count(when(col("v").isNull || isnan(col("v")), lit(1))).as("null_v"),
      count(when(col("p").isNull, lit(1))).as("null_p"),
      count(when(col("user_id").isNull, lit(1))).as("null_user"),
      count(lit(1)).as("total"))
  }

  /** A6: frequency / top-k profiling (value_counts → groupBy-count-sort). */
  def q14TopkFreq(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))
      .limit(3)

  /** A7: exact distinct cardinality (`admnum.nunique()`). */
  def q15CountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))

  /** A7 scale path: approximate distinct cardinality via HLL — at 100 TB
    * exact countDistinct shuffles every key; HLL sketches merge in fixed
    * space. Gate: the sketch estimate must land within 3·rsd of the exact
    * count (DuckDB supplies the exact side); the exact aggregates here are
    * the gate harness, approx_count_distinct is the operator under test.
    */
  def q42ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val rsd = 0.02
    val li = Tables.lineitem(spark, dir)
    // two separate single-pass aggregates joined at one row each: mixing
    // multi-column DISTINCT aggs with HLL sketches in one agg makes
    // Catalyst Expand the scan per distinct group (benched 5.9s vs 1.6s
    // at sf0.1 — the sketch updates run on every expanded copy)
    val approx = li.agg(
      approx_count_distinct(col("l_orderkey"), rsd).as("approx_orders"),
      approx_count_distinct(col("l_partkey"), rsd).as("approx_parts"))
    val exact = li.agg(
      countDistinct(col("l_orderkey")).as("exact_orders"),
      countDistinct(col("l_partkey")).as("exact_parts"),
      count(lit(1)).as("n_rows"))
    exact.crossJoin(broadcast(approx))
      .select(col("exact_orders"), col("exact_parts"), col("n_rows"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double")
          <= lit(3 * rsd) * col("exact_orders")).cast("int").as("orders_within_bound"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          <= lit(3 * rsd) * col("exact_parts")).cast("int").as("parts_within_bound"))
  }

  /** Quantile sketch with an exactness gate (q74) — the second sketch in
    * the family next to q42's HLL: per-lang p25/p50/p75 of document
    * length via `approx_percentile` (Greenwald-Khanna, mergeable partial
    * sketches — the 100 TB path: one map-side sketch per partition,
    * merged at the exchange, never a global sort), checked against the
    * exact DISCRETE percentile (element at 1-based rank ceil(p·n),
    * computed with one row_number window). At `accuracy` ≥ group size the
    * GK rank error εn < 1, so the sketch must return exactly that
    * element — `approx_ok` pins it; at real scale the same query reports
    * the sketch with a rank-error bound instead of equality. Exact side
    * uses DISC (both engines pick a real element) — interpolated
    * percentiles differ across engines at half-ranks.
    */
  def q74QuantileSketch(spark: SparkSession, dir: String,
      accuracy: Int = 100000): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("lang"), col("n_chars"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    def disc(p: Double) = max(when(
      col("rk") === ceil(lit(p) * col("n")).cast("int"), col("n_chars"))).cast("long")
    val exact = ranked.groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        disc(0.25).as("p25"), disc(0.50).as("p50"), disc(0.75).as("p75"))
    val approx = docs.groupBy(col("lang"))
      .agg(percentile_approx(col("n_chars"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy)).as("ap"))
    exact.join(approx, Seq("lang"))
      .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
        col("p25"), col("p50"), col("p75"),
        (col("ap")(0) === col("p25") && col("ap")(1) === col("p50") &&
          col("ap")(2) === col("p75")).cast("int").as("approx_ok"))
      .orderBy(col("lang"))
  }

  /** A8: null-rate profile as percentages (Capstone Template cells 27, 61). */
  def q16NullRate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("v", when(col("value") < 5.0, lit(null).cast("double")).otherwise(col("value")))
    ev.agg(
      round(count(when(col("v").isNull, lit(1))) * lit(100.0) / count(lit(1)), 4).as("pct_v"),
      round(count(when(col("props").isNull, lit(1))) * lit(100.0) / count(lit(1)), 4).as("pct_props"))
  }

  /** §2.4 join layer: left outer fact⋈dim keeping empty dims. */
  def q17JoinLeft(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
      .groupBy(col("n_name"))
      .agg(count(col("c_custkey")).as("n_customers"),
        round(sum(coalesce(col("c_acctbal"), lit(0.0))), 2).as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** §2.4: left_semi — customers that have at least one urgent order
    * (EXISTS). The semi-join never widens rows; Spark broadcasts the
    * filtered orders key set when small.
    */
  def q18SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** §2.4: left_anti — referential-integrity DQ: customers with no orders
    * (the natural formulation of the reference's null-key intent).
    */
  def q19AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** §2.6: rank-per-group — README's "favourite mode per country" shape:
    * top-3 spenders per nation via window rank with a total tie-break.
    */
  def q20WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val spend = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("spend").desc, col("c_custkey"))
    spend.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("c_custkey"), col("spend"), col("rk"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  /** P10 done right: deterministic surrogate key via row_number over an
    * explicit total order (replaces monotonically_increasing_id —
    * SURVEY.md §7.4-5).
    */
  def q21RowNumber(spark: SparkSession, dir: String): DataFrame = {
    // NB: unpartitioned window = single partition; acceptable only because
    // the selective filter runs first (top ~1% of orders).
    val w = Window.orderBy(col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 490000.0)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .withColumn("trip_id", row_number().over(w))
      .orderBy(col("o_orderkey"))
  }

  /** UD1: SAS date conversion — days-since-1960-01-01 → DateType as a
    * native expression, not a UDF (etl.py:130-140 → SURVEY.md §2.9).
    */
  def q22SasDate(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(graft.functions.Dates.sasDate(col("l_orderkey") % 20000).as("sas_date"))
      .groupBy(col("sas_date"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("sas_date"))
      .limit(100)

  /** UD2: flexible 2-layout string→date parse with junk→null — the
    * *intended* semantics of the reference's buggy change_date_format
    * (etl.py:142-159; notebook cell 19), as native expressions.
    */
  def q23FlexDate(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.orders(spark, dir)
      .withColumn("s",
        when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyyMMdd"))
          .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "MMddyyyy"))
          .otherwise(lit("D/S")))
    raw.select(col("o_orderkey"),
        graft.functions.Dates.flexDate(col("s")).as("parsed"))
      .groupBy(col("parsed"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("parsed").asc_nulls_first)
  }

  /** F3/F10: UPPER + split-city-from-state on 'CITY, ST'-shaped strings
    * (etl.py:347, 559-562) — last-comma split handles embedded commas.
    */
  def q24PortSplit(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(concat(col("n_name"), lit(", "), col("r_name")).as("port"))
      .select(
        upper(trim(regexp_replace(col("port"), ",[^,]*$", ""))).as("city"),
        upper(trim(regexp_extract(col("port"), "([^,]+)$", 1))).as("state"))
      .orderBy(col("city"), col("state"))
  }

  /** Batch analog of the streaming surface (§2.10): tumbling 1-day window
    * counts over events — date_trunc keeps the output hash-stable.
    */
  def q25EventsDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  /** Multi-level aggregation: ROLLUP over (returnflag, linestatus) —
    * subtotals + grand total in one pass (beyond the reference's flat
    * groupBys; Catalyst expands the grouping sets before the shuffle).
    */
  def q54Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Pivot: order counts by priority × status. Expressed as conditional
    * aggregation in the oracle (the relational core of pivot).
    */
  def q55Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      // pivot leaves an empty (priority, status) cell NULL; the oracle's
      // conditional count yields 0 — align on sparser data than the testdata
      .select(col("o_orderpriority"),
        coalesce(col("n_f"), lit(0L)).as("n_f"),
        coalesce(col("n_o"), lit(0L)).as("n_o"),
        coalesce(col("n_p"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Exact interpolated percentiles of order totals per priority (the
    * distribution profile; both engines use linear interpolation).
    *
    * Division of labor with q74 (`PipelineOps.quantileSketch`): this is
    * the EXACT path — `percentile` buffers every value per group, so its
    * memory is O(group size) and it is only safe where groups are
    * bounded (here: 5 priorities whose per-group totals fit an executor
    * comfortably at any SF, since the buffer is per-group per-partition
    * before merge). q74's Greenwald–Khanna sketch is the 100 TB path for
    * UNBOUNDED groups: O(1/ε log εn) memory per group regardless of
    * cardinality, mergeable map-side, at ε-rank error. Keep both: exact
    * where the group contract allows it (and as the oracle anchor GK is
    * judged against in q74's spec), sketch where it doesn't.
    */
  def q56Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  /** Key-skew profile: per-key row counts summarized (max/avg/hot-key
    * share) — the diagnostic that decides when a join needs salting
    * (SkewUtils) or AQE skew splitting. Integer/exact-ratio output for
    * hash stability.
    */
  def q52KeySkew(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
    val avgN = perKey.agg(
      (sum(col("n")).cast("double") / count(lit(1))).as("avg_n"))
    perKey.crossJoin(broadcast(avgN))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_key_rows"),
        round(first(col("avg_n")), 4).as("avg_key_rows"),
        count(when(col("n") > lit(2) * col("avg_n"), lit(1))).as("n_hot_keys"),
        round(max(col("n")) / first(col("avg_n")), 4).as("max_over_avg"))
  }

  /** §2.6 windows, analytic breadth: per-customer order history with
    * running spend (cumulative window) and gap since the previous order
    * (lag) — restricted to a deterministic customer slice to keep the
    * dump small.
    */
  def q48RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_date"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 100 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        round(col("o_totalprice"), 2).as("price"))
      .withColumn("running_spend",
        round(sum(col("price")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .withColumn("days_since_prev",
        datediff(col("order_date"), lag(col("order_date"), 1).over(w)))
      .orderBy(col("o_custkey"), col("order_date"), col("o_orderkey"))
  }

  /** Batch gap-sessionization: the windowed ground truth the streaming
    * sessionizer approximates — flag gap-starts with lag, running-sum the
    * flags into session ids, aggregate per session. One shuffle on user_id.
    */
  def q58SessionsBatch(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame =
    sessionsOn(Tables.events(spark, dir), gapMinutes)
      // NTZ so the parquet dump is a naive timestamp like the oracle's
      // (TimestampType would write UTC-adjusted and read back tz-aware)
      .select(col("user_id"), col("session_seq"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_seq"))

  /** The q58 gap-sessionization assembly, shared with q174's rollup so
    * the session definition cannot drift between the two.
    */
  private[graft] def sessionsOn(ev: DataFrame, gapMinutes: Int): DataFrame =
    sessionEventsOn(ev, gapMinutes)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))

  /** Between-session gap distribution (q220): per user, the hours
    * between one session's end and the next one's start, rolled into a
    * day histogram — the RE-ENGAGEMENT latency (q174 profiles time
    * inside sessions, q150 time between raw events; this is the return
    * curve growth teams page on). Built on the SHARED [[sessionsOn]]
    * assembly so the session definition cannot drift.
    *
    * Scale shape: sessions are already per-user relations; the lag
    * rides ONE user-partitioned window over session-cardinality rows
    * (never raw events), and the day rollup is histogram-sized.
    * Integer microsecond diffs, floor division to days.
    */
  def q220SessionGaps(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("session_seq"))
    sessionsOn(Tables.events(spark, dir), gapMinutes)
      .withColumn("prev_end", lag(col("session_end"), 1).over(byUser))
      .filter(col("prev_end").isNotNull)
      .select(expr(
        "(unix_micros(session_start) - unix_micros(prev_end)) div 86400000000")
        .as("gap_days"))
      .groupBy(col("gap_days"))
      .agg(count(lit(1)).as("n_gaps"))
      .orderBy(col("gap_days"))
  }

  /** Per-event session assignment — the inner truth of the q58 gap
    * sessionization, shared by [[sessionsOn]]'s rollup and q201's
    * in-session conversion so the session definition cannot drift.
    */
  private[graft] def sessionEventsOn(ev: DataFrame,
      gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60000000L,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Semi-structured extraction: events.props is a JSON string column —
    * pull a typed field out and aggregate (the kind of nested-payload
    * work a real event pipeline does constantly; the reference has no
    * nested data, so this is surface the engine adds).
    */
  def q47JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** README Q-style analytics: avg ship delay (datediff) per priority —
    * the "average stay duration" shape (SURVEY.md §7.1-7).
    */
  def q26AvgDelay(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(avg(datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))), 4).as("avg_delay_days"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Exact-integer revenue expression shared by the TPC-H-shaped rollups
    * (q108/q109): `l_extendedprice` is cents-precision and `l_discount`
    * percent-precision in this schema, so revenue quantizes LOSSLESSLY
    * to cent·percent units — `round(price·100)·(100 − round(disc·100))`
    * — and every revenue sum is exact BIGINT math under any shuffle
    * order (the q95 integer-grid playbook, except here the grid is not
    * an approximation: it is the data's own precision). FP reappears
    * only at the final ÷10⁴ display boundary.
    */
  private def revenueCentPct =
    round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))

  /** Shipping-priority revenue (q108, the TPC-H Q3 shape): top open
    * orders by revenue — customers in one segment, orders placed before
    * the cutoff, lines still shipping after it.
    *
    * Scale shape: lineitem⋈orders shuffles on the order key with both
    * date filters pushed to the scans; the segment-filtered customer
    * side joins on the customer key (at 100 TB customer is NOT
    * broadcastable — the shuffle-hash plan is the honest one, and AQE
    * broadcasts it at small SF). The per-order aggregate is exact
    * integer cents·pct; the top-10 sort is on (revenue DESC, orderkey)
    * — total, so LIMIT is deterministic.
    */
  def q108ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-01-01"
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val line = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"), revenueCentPct.as("rev_cp"))
    line
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev_cp")).as("rev_cp"))
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"),
        col("o_orderpriority"),
        round(col("rev_cp").cast("double") / lit(10000.0), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Regional supplier-local revenue (q109, the TPC-H Q5 shape): revenue
    * per nation for one region and one order year, counting only lines
    * where the supplier is in the customer's nation (the "local
    * fulfilment" constraint that makes Q5 a 6-way join).
    *
    * Scale shape: the two fact-side joins (orders on orderkey, supplier
    * on suppkey) shuffle; nation and region are always-tiny dims →
    * explicit broadcast; the customer⋈supplier nation equality is an
    * equi-condition inside the join, not a post-filter. Revenue is the
    * exact cents·pct integer sum; output order (revenue DESC, n_name)
    * is total.
    */
  def q109RegionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(spark, dir)
      .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), revenueCentPct.as("rev_cp"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_cp")).as("rev_cp"))
      .select(col("n_name"),
        round(col("rev_cp").cast("double") / lit(10000.0), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Scalable dense-ID assignment (q130): global 0..n−1 sequence over
    * vec_id order WITHOUT a global-order window — the naive
    * `row_number() OVER (ORDER BY …)` moves the whole table to ONE
    * partition (the WindowExec warning), which is the canonical
    * 100 TB scale-killer. Two-phase instead: key-range buckets get a
    * per-bucket streaming rank (partitioned window), and bucket OFFSETS
    * come from a cumulative sum over the bucket-COUNT frame — a window
    * over #buckets rows, not over the data. dense_id = offset + intra − 1
    * equals the naive global row_number exactly (the oracle computes the
    * naive form).
    */
  def q130DenseIds(spark: SparkSession, dir: String,
      bucketWidth: Long = 256): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"))
      .withColumn("bucket", expr(s"vec_id div $bucketWidth"))
    val offsets = e.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    e.withColumn("intra", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
      .join(broadcast(offsets), "bucket")
      .select(col("vec_id"),
        (col("offset") + col("intra") - 1).cast("long").as("dense_id"))
      .orderBy(col("vec_id"))
  }

  /** Exact-moment grouped OLS + correlation (q131): slope, intercept and
    * Pearson r of extendedprice~quantity per return flag, with EVERY
    * cross-engine-hazardous sum done in fixed-point integers
    * (cents × cents as DECIMAL(38,0) ≙ DuckDB HUGEINT — exact under any
    * shuffle order, the q95 discipline applied to second moments). Floats
    * appear only at the closed-form endpoints: one decimal→double cast
    * per factor, IEEE sqrt (correctly rounded by the standard), one
    * division, one 6dp round.
    *
    * Scale shape: a single map-side-partial aggregation of six moments —
    * the textbook "sufficient statistics beat row shipping" pattern; the
    * closed forms are per-group scalar math.
    */
  def q131ExactOls(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      round(col("l_quantity") * 100, 0).cast("decimal(38,0)").as("x"),
      round(col("l_extendedprice") * 100, 0).cast("decimal(38,0)").as("y"))
    val m = base
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    val cov = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    m.select(col("l_returnflag"), col("n").cast("long").as("n"),
        round(cov / varX, 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
          / varX, 6).as("intercept"),
        round(cov / (sqrt(varX) * sqrt(varY)), 6).as("r"))
      .orderBy(col("l_returnflag"))
  }

  /** Deletion-cascade impact manifest (q133): given a deletion list of
    * customers (key % mod = 0 — the GDPR erasure-request stand-in),
    * count the rows each downstream table loses when the delete cascades
    * customer → orders → lineitem, plus the distinct cascade keys — the
    * blast-radius report a compliance pipeline runs BEFORE rewriting
    * 100 TB of partitions.
    *
    * Scale shape: each level is one left-semi join on the parent's
    * surviving keys (semi-joins never materialize payload columns);
    * the delete-list side broadcasts. Output is 3 rows.
    */
  def q133DeleteCascade(spark: SparkSession, dir: String,
      mod: Int = 97): DataFrame = {
    val delCust = Tables.customer(spark, dir).select(col("c_custkey"))
      .filter(col("c_custkey") % mod === 0)
    val delOrders = Tables.orders(spark, dir)
      .join(broadcast(delCust), col("o_custkey") === col("c_custkey"),
        "left_semi")
    val delLi = Tables.lineitem(spark, dir)
      .join(delOrders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    val c = delCust.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("c_custkey")).as("n_keys"))
      .select(lit("customer").as("tbl"), col("n_rows"), col("n_keys"))
    val o = delOrders.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("o_custkey")).as("n_keys"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("n_keys"))
    val l = delLi.agg(count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_keys"))
      .select(lit("lineitem").as("tbl"), col("n_rows"), col("n_keys"))
    c.unionByName(l).unionByName(o).orderBy(col("tbl"))
  }

  /** Z-order pruning simulation (q143): evaluate how many q132 z-ranges
    * three predicates would actually touch — the payoff metric of the
    * layout: because every z-range covers a ≤128-wide window in BOTH key
    * dimensions, a selective predicate on EITHER column (or both) skips
    * most ranges; a 1-D sort layout could only prune on its sort column.
    * A range is touched when its [min,max] interval intersects the
    * predicate's — exactly the file-skipping test a lakehouse planner
    * runs against manifest stats.
    */
  def q143ZorderPruning(spark: SparkSession, dir: String): DataFrame = {
    val profile = q132ZorderLayout(spark, dir)
    def sim(name: String, touched: Column): DataFrame =
      profile.agg(count(lit(1)).as("n_ranges"),
          sum(when(touched, 1L).otherwise(0L)).as("n_touched"))
        .select(lit(name).as("predicate"), col("n_ranges"), col("n_touched"),
          round(col("n_touched").cast("double") /
            col("n_ranges").cast("double"), 4).as("selectivity"))
    val partPred = !(col("max_part") < 100 || col("min_part") > 159)
    val suppPred = !(col("max_supp") < 10 || col("min_supp") > 19)
    sim("part_100_159", partPred)
      .unionByName(sim("part_and_supp", partPred && suppPred))
      .unionByName(sim("supp_10_19", suppPred))
      .orderBy(col("predicate"))
  }

  /** Z-order layout profile (q132): Morton-interleave (l_partkey,
    * l_suppkey) into a space-filling key, bucket into coarse z-ranges,
    * and report each range's min/max along BOTH dimensions — the
    * locality evidence behind ZORDER-style layout optimization: a file
    * per z-range covers a narrow rectangle of the key space, so a
    * predicate on EITHER column prunes most ranges (1-D clustering can
    * only prune on its sort column). Pure integer bit arithmetic, no
    * UDF — the interleave is 62 shift/mask terms inside one codegen
    * projection. 31 bits per dimension (z <= 2^62, safely inside a
    * signed long), so keys up to 2^31-1 interleave without aliasing —
    * TPC-H partkey reaches ~2e7 at SF 100, far beyond the 16-bit
    * domain a narrower fold would silently alias.
    */
  /** 31-bit-per-dimension Morton interleave of two non-negative key
    * columns (z occupies bits 0..61 of a signed long, so no key
    * aliasing up to 2^31-1 and no sign-bit hazard).
    */
  def mortonCol(p: Column, s: Column): Column =
    // delegates to the shared Morton tree (bitwiseOR ≡ + on disjoint
    // bit positions, so the q132 cells are bit-identical)
    ZOrder.zValue(p, s, bits = 31)

  def q132ZorderLayout(spark: SparkSession, dir: String,
      rangeShift: Int = 14): DataFrame = {
    val morton = mortonCol(col("l_partkey"), col("l_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), morton.as("z"))
      .withColumn("zrange", expr(s"z div ${1L << rangeShift}"))
      .groupBy(col("zrange"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("zrange"))
  }

  /** National market share (q158, the TPC-H Q8 shape): within the
    * revenue that ASIA-region customers spend, the yearly share
    * fulfilled by NATION_2 suppliers. The single aggregate carries BOTH
    * sums (total and target-nation, the latter a `when`-guarded partial)
    * so the share needs no second pass and no self-join — one fact
    * pipeline, one shuffle per join key, one final one-row-per-year agg.
    *
    * Scale shape: orders joins on the order key and customer on the
    * customer key (both fact-sized at 100 TB → shuffle-hash, AQE
    * broadcasts at small SF); supplier joins on the supp key; nation ×2
    * and region are always-tiny → explicit broadcast. Revenue is the
    * exact cents·pct integer sum (`revenueCentPct`); FP appears only in
    * the final share division, rounded to 6dp.
    */
  def q158MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(spark, dir)
      .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(nat.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(nat.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), revenueCentPct.as("rev_cp"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(sum(col("rev_cp")).as("total_cp"),
        sum(when(col("supp_nation") === "NATION_2", col("rev_cp"))
          .otherwise(lit(0L))).as("nation_cp"))
      .select(col("o_year"),
        round(col("total_cp").cast("double") / lit(10000.0), 2).as("total_revenue"),
        round(col("nation_cp").cast("double") / col("total_cp").cast("double"), 6)
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Returned-item ranking (q159, the TPC-H Q10 shape): customers who
    * returned the most revenue in one order year, with their nation.
    *
    * Scale shape: the `l_returnflag = 'R'` filter and the order-year
    * filter are both pushed to the scans before the orderkey shuffle;
    * the per-customer aggregate happens BEFORE the name/nation joins,
    * so only the aggregated (customer, revenue) rows — not fact rows —
    * join against customer, and nation stays broadcast. Top-20 sort is
    * on (revenue DESC, custkey) — total, so LIMIT is deterministic.
    */
  def q159ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revenueCentPct.as("rev_cp"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev_cp")).as("rev_cp"), count(lit(1)).as("n_lines"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    perCust
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("n_lines"),
        round(col("rev_cp").cast("double") / lit(10000.0), 2).as("returned_revenue"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Promotion revenue share (q160, the TPC-H Q14 shape): per ship
    * month of 1997, the percentage of revenue from PROMO-type parts.
    * Same single-aggregate-two-sums trick as q158 — the promo sum is a
    * `when`-guarded partial of the same integer revenue, so no
    * self-join and no second scan.
    *
    * Scale shape: the ship-date window prunes the fact scan; part joins
    * on the part key (part scales with SF — at 100 TB it is NOT
    * broadcastable, so the shuffle-hash plan is honest and AQE
    * broadcasts it at small SF) carrying only (partkey, is-promo).
    */
  def q160PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .select(col("p_partkey"),
        (col("p_type") === "PROMO").cast("int").as("is_promo"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_partkey"), month(col("l_shipdate")).as("ship_month"),
        revenueCentPct.as("rev_cp"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(sum(col("rev_cp")).as("total_cp"),
        sum(when(col("is_promo") === 1, col("rev_cp")).otherwise(lit(0L)))
          .as("promo_cp"))
      .select(col("ship_month"),
        round(col("promo_cp").cast("double") * lit(100.0) /
          col("total_cp").cast("double"), 4).as("promo_pct"))
      .orderBy(col("ship_month"))
  }

  /** Small-quantity revenue (q161, the TPC-H Q17 shape): per brand, the
    * revenue locked in lines ordering LESS THAN 20% of that part's
    * average quantity. The correlated `avg` subquery becomes a per-part
    * aggregate joined back to the fact — and the `qty < 0.2·avg`
    * comparison is integer cross-multiplied (`5·qty·cnt < sum_qty`, the
    * quantity grid is integral in this schema) so no float boundary can
    * flip a row between engines.
    *
    * Scale shape: both sides of the stats join hash on `l_partkey` —
    * ONE shuffle key reused by the aggregate and the join (co-location,
    * no second exchange of the fact side); the per-part stats side is
    * |part|-sized, not |lineitem|-sized. Brand rollup joins part on the
    * part key and aggregates to ~25 rows.
    */
  def q161SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val line = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_quantity"), 0).cast("long").as("qty_i"),
        revenueCentPct.as("rev_cp"))
    val stats = line.groupBy(col("l_partkey").as("sp_partkey"))
      .agg(sum(col("qty_i")).as("sum_qty"), count(lit(1)).as("cnt_qty"))
    val part = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"))
    line
      .join(stats, col("l_partkey") === col("sp_partkey"))
      .filter(col("qty_i") * lit(5L) * col("cnt_qty") < col("sum_qty"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"),
        sum(col("rev_cp")).as("rev_cp"))
      .select(col("p_brand"), col("n_small_lines"),
        round(col("rev_cp").cast("double") / lit(10000.0), 2).as("small_qty_revenue"))
      .orderBy(col("p_brand"))
  }

  /** Basket-size bands (q169): order count and revenue per
    * lines-per-order band — the order-composition profile that sizes
    * downstream per-order processing. Two-level aggregate: the
    * per-order count/sum shuffles ONCE on the order key (map-side
    * partials), then rolls up to ≤ |max lines| bands. Revenue stays in
    * the exact cents·pct integer grid until the final display division.
    */
  def q169BasketBands(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), revenueCentPct.as("rev_cp"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_cp")).as("rev_cp"))
      .groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("rev_cp")).cast("double") / lit(10000.0), 2)
          .as("revenue"))
      .orderBy(col("n_lines"))

  /** Session-length profile (q174): sessions-per-event-count bands with
    * total and average duration — the engagement distribution (band 1 is
    * the bounce count) over the q58 gap sessionization, via the SHARED
    * [[sessionsOn]] assembly so the session definition cannot drift.
    * One user-keyed window pass (q58's own shape), then a ≤|max
    * session-length|-key rollup. Durations are exact integer
    * microseconds; the average is one mirrored division chain + 6dp.
    */
  def q174SessionStats(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame =
    sessionsOn(Tables.events(spark, dir), gapMinutes)
      .select(col("n_events"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("dur_us"))
      .groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("dur_us")).as("sum_duration_us"))
      .select(col("n_events"), col("n_sessions"), col("sum_duration_us"),
        round(col("sum_duration_us").cast("double") /
          col("n_sessions").cast("double") / lit(1000000.0), 6)
          .as("avg_duration_s"))
      .orderBy(col("n_events"))

  /** Robust price outliers (q175): per market segment — EXACT median,
    * median-absolute-deviation, and the |x − med| > 3·MAD outlier count
    * over order totals, with NO floating point anywhere in the
    * statistics. The even-count median is kept integral by working in
    * DOUBLED units (`med2 = v_lo + v_hi` in cents ⇒ 2·median;
    * deviations `dev = |2x − med2|` ⇒ 2·|x−med|; `mad4 = d_lo + d_hi`
    * ⇒ 4·MAD), so the outlier rule is the integer comparison
    * `2·dev > 3·mad4`. Floats appear only in the two display divisions
    * (med2/200, mad4/400 — both land on ≤4-decimal values, so the 4dp
    * round is boundary-free).
    *
    * Scale shape: exact medians WITHOUT a per-segment row sort — both
    * rank selections run on the (segment, value)-HISTOGRAM frame
    * (bounded by the price domain, not the row count), with cumulative
    * windows over that histogram only (the q123/q171 two-phase
    * contract). The fact rows are touched by two scans (cents, then
    * deviations) and the tiny per-segment stats broadcast back.
    */
  def q175MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    // session-cache the fact join: it feeds multiple consumers (median
    // pick, deviation build, MAD pick, outlier count, final report), so
    // uncached the orders⋈customer subtree is re-evaluated ~7× across
    // the plan tree — the SessionCaches pattern every multi-consumer
    // family uses
    val seg = SessionCaches.cached(segCentsCache, (spark, dir))(
      Tables.orders(spark, dir)
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .persist())
    // lower/upper middle pick over the per-segment value histogram:
    // v_lo at rank (n+1) div 2, v_hi at rank (n+2) div 2
    def rankPick(vals: DataFrame, valueCol: String): DataFrame = {
      val h = vals.groupBy(col("seg"), col(valueCol))
        .agg(count(lit(1)).as("cnt"))
      val c = h
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("seg")).orderBy(col(valueCol))))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("seg"))))
      c.groupBy(col("seg"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col(valueCol)))
          .as("v_lo"),
          min(when(col("cum") >= expr("(n + 2) div 2"), col(valueCol)))
            .as("v_hi"),
          min(col("n")).as("n"))
    }
    val m = rankPick(seg, "cents")
      .select(col("seg"), col("n"), (col("v_lo") + col("v_hi")).as("med2"))
    val dev = seg.join(broadcast(m.select(col("seg"), col("med2"))), "seg")
      .select(col("seg"),
        abs(lit(2L) * col("cents") - col("med2")).as("dev"))
    val dm = rankPick(dev, "dev")
      .select(col("seg"), (col("v_lo") + col("v_hi")).as("mad4"))
    val outliers = dev
      .join(broadcast(dm), "seg")
      .groupBy(col("seg"))
      .agg(sum(when(lit(2L) * col("dev") > lit(3L) * col("mad4"), 1L)
        .otherwise(0L)).as("n_outliers"))
    m.join(broadcast(dm), "seg")
      .join(broadcast(outliers), "seg")
      .select(col("seg").as("segment"), col("n").as("n_orders"),
        round(col("med2").cast("double") / lit(200.0), 4).as("median_price"),
        round(col("mad4").cast("double") / lit(400.0), 4).as("mad"),
        col("n_outliers"))
      .orderBy(col("segment"))
  }

  private val segCentsCache =
    graft.operators.SessionCaches.newCache[(SparkSession, String)]()

  /** Daily order/shipment reconciliation (q185): FULL OUTER join of two
    * independently-derived daily summaries — orders placed per order
    * date vs revenue shipped per ship date — with a status tag for
    * days present on only one side. The missing join flavor in the
    * surface (inner/left/semi/anti are q02/q17/q18/q19): full outer is
    * how reconciliation reports keep BOTH sides' unmatched days
    * visible. Both inputs pre-aggregate to |days| rows before the
    * join, so the full-outer shuffle moves day-level rows only.
    */
  def q185DailyReconcile(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val ship = Tables.lineitem(spark, dir)
      .select(to_date(col("l_shipdate")).as("day"), revenueCentPct.as("rev_cp"))
      .groupBy(col("day"))
      .agg(sum(col("rev_cp")).as("rev_cp"))
    ord.join(ship, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        // truncate cents·pct to whole cents FIRST (integer div, exact in
        // both engines), so the display division yields a ≤2-decimal
        // value and cannot hit a .005 rounding boundary (daily sums DO
        // land on exact .xx5 — observed in the pre-flight)
        (expr("coalesce(rev_cp, 0L) div 100").cast("double") / lit(100.0))
          .as("shipped_revenue"),
        when(col("n_orders").isNull, lit("ship_only"))
          .when(col("rev_cp").isNull, lit("orders_only"))
          .otherwise(lit("both")).as("status"))
      .orderBy(col("day"))
  }

  /** Customer churn via set operators (q186): INTERSECT / EXCEPT over
    * the 1996 vs 1997 purchaser sets — retained, churned, acquired
    * cohort counts. Spark's `intersect`/`except` compile to
    * aggregate+join plans (distinct semantics), the relational set
    * surface the union family (q03/q04) doesn't cover.
    */
  def q186ChurnSetops(spark: SparkSession, dir: String): DataFrame = {
    def buyers(year: Int) = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(s"$year-01-01") &&
        col("o_orderdate") < lit(s"${year + 1}-01-01"))
      .select(col("o_custkey"))
    // INTERSECT/EXCEPT are distinct-set semantics; one full-outer join
    // of the two distinct buyer sets yields all three cohort counts in
    // a single pass — the r17 rewrite of three separate driver-side
    // `.count()` actions (each of which re-scanned orders; guide §1.2
    // "don't compute things you throw away", §2.4 one exchange for
    // three set operators). Cohort counts are provably identical:
    // retained = |A ∩ B|, churned = |A \ B|, acquired = |B \ A|.
    val y96 = buyers(1996).distinct()
    val y97 = buyers(1997).distinct()
    y96.select(col("o_custkey"), lit(1).as("in96"))
      .join(y97.select(col("o_custkey"), lit(1).as("in97")),
        Seq("o_custkey"), "full_outer")
      .agg(
        sum(when(col("in96").isNull, 1L).otherwise(0L)).as("acquired"),
        sum(when(col("in97").isNull, 1L).otherwise(0L)).as("churned"),
        sum(when(col("in96").isNotNull && col("in97").isNotNull, 1L)
          .otherwise(0L)).as("retained"))
      .select(explode(map(
        lit("acquired"), coalesce(col("acquired"), lit(0L)),
        lit("churned"), coalesce(col("churned"), lit(0L)),
        lit("retained"), coalesce(col("retained"), lit(0L))))
        .as(Seq("cohort", "n_customers")))
      .orderBy(col("cohort"))
  }

  /** Trailing 7-day revenue (q187): a RANGE-frame window (`RANGE
    * BETWEEN 6 PRECEDING AND CURRENT ROW` over the integer day number)
    * — the value-based frame semantics the ROWS-frame family
    * (q48/q110/q130/q180) doesn't exercise: a calendar gap narrows the
    * window automatically, which a ROWS frame gets wrong. The fact
    * table pre-aggregates to |days| integer-cent rows, so the
    * unpartitioned window runs on the bounded day frame only (the q140
    * contract).
    */
  def q187RollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .select(to_date(col("l_shipdate")).as("day"), revenueCentPct.as("rev_cp"))
      .groupBy(col("day"))
      .agg(sum(col("rev_cp")).as("rev_cp"))
      .withColumn("day_num", datediff(col("day"), lit("1995-01-01").cast("date")).cast("long"))
    val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    daily
      .withColumn("rev7_cp", sum(col("rev_cp")).over(w))
      .withColumn("n_days_in_window", count(lit(1)).over(w))
      // whole-cent truncation before the display division (the q185
      // boundary-free rule)
      .select(col("day"),
        (expr("rev_cp div 100").cast("double") / lit(100.0)).as("revenue"),
        (expr("rev7_cp div 100").cast("double") / lit(100.0)).as("revenue_7d"),
        col("n_days_in_window"))
      .orderBy(col("day"))
  }

  /** Ship-latency distribution (q177): lines per (priority, weeks-to-
    * ship) band — the SLA histogram behind q26's single average (an
    * average hides the tail the SLA cares about). Integer day diff,
    * integer `div 7` banding, |priorities|·|weeks| rollup keys with
    * map-side partials.
    */
  def q177LatencyBands(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        (datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long")).as("lat_days"))
      .select(col("o_orderpriority"), expr("lat_days div 7").as("week_band"))
      .groupBy(col("o_orderpriority"), col("week_band"))
      .agg(count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"), col("week_band"))
  }

  /** Distribution-position window functions (q178): customers in the
    * top decile of account balance WITHIN their nation, with their
    * percent_rank and cume_dist — the relative-position window family
    * (P6-adjacent surface the rank/row_number demos don't cover).
    * Parity: the window order (acctbal, custkey) is total, so rank
    * positions are exact integers and both position measures are the
    * same two-integer division in either engine; the ≥ 0.9 cut
    * compares identically-computed doubles.
    * Nation-partitioned windows — no global sort; a nation's customer
    * set is the natural per-key frame (the q123 per-source precedent;
    * at extreme per-nation volume the q175 histogram two-phase is the
    * escape hatch).
    */
  def q178PercentRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .filter(col("pr") >= 0.9)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_acctbal"),
        round(col("pr"), 6).as("pct_rank"), round(col("cd"), 6).as("cume_dist"))
      .orderBy(col("n_name"), col("c_custkey"))
  }

  /** Self-join-size sketch (q179): the exact second frequency moment
    * F2 = Σ_k cnt(k)² of `l_partkey` (= the self-join cardinality a
    * cost-based planner needs for the q161-style stats join) next to
    * the Count-Min INNER-PRODUCT estimate of the same quantity
    * (AMS/CMS join-size estimation: min over depth rows of Σ_j c[i][j]²)
    * — the sketch the planner would actually ship at 100 TB, where the
    * exact per-key histogram is itself big data. CMS inner product
    * provably over-estimates, so `overest_ok` is a deterministic gate,
    * and all arithmetic is integer (cells and their squares) until the
    * one inflation division.
    *
    * Scale shape: the sketch is one corpus pass into a d×w cell grid
    * (mergeable partial buffers, any merge order); the exact side is
    * the key-histogram aggregate. Both outputs are single rows.
    */
  def q179SelfJoinSketch(spark: SparkSession, dir: String, d: Int = 4,
      w: Int = 1024): DataFrame = {
    import spark.implicits._
    val keys = Tables.lineitem(spark, dir)
      .select(col("l_partkey").cast("string").as("tok"))
    val sketch = keys.as[String]
      .select(new graft.functions.CountMinAggregator(d, w).toColumn)
      .toDF("cells", "total")
    val exact = keys.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n") * col("n")).as("exact_f2"))
    val est = (0 until d).map { i =>
      expr(s"aggregate(transform(slice(cells, ${i * w + 1}, $w), " +
        "x -> x * x), 0L, (a, x) -> a + x)")
    }.reduceLeft(least(_, _))
    exact.crossJoin(broadcast(sketch))
      .select(col("n_keys"), col("exact_f2"), est.as("est_f2"))
      .select(col("n_keys"), col("exact_f2"), col("est_f2"),
        (col("est_f2") >= col("exact_f2")).cast("int").as("overest_ok"),
        round(col("est_f2").cast("double") /
          col("exact_f2").cast("double"), 4).as("inflation"))
  }

  /** CUBE rollup (q181): revenue-quantity aggregate over every subset
    * of (returnflag, linestatus) — the U3-adjacent grouping-sets
    * surface (q54 covers ROLLUP's prefix lattice; CUBE completes the
    * power set, which is what OLAP dashboards actually page through).
    * One shuffle; Spark expands grouping sets map-side.
    */
  def q181Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Brand-affinity lift (q197): market-basket lift over brands
    * co-ordered in one order — `lift(A,B) = P(A,B)/(P(A)·P(B))` as the
    * integer-product-inside-one-division q107 contract. The pair
    * fan-out is naturally bounded: per order it is C(distinct brands,
    * 2) ≤ C(|brands|, 2) — the BRAND rollup makes the item domain a
    * 25-value dimension, so no per-order cap is needed (the
    * bounded-domain alternative to q107's top-N cap).
    */
  /** Supply-concentration bands (q199): per part, the share of its
    * lineitems sourced from its single largest supplier, banded by the
    * integer rule `(10·top) div total` — the supply-chain-risk
    * histogram (band 10 = single-sourced parts). Two aggregations:
    * one (part, supp)-keyed histogram with map-side partials, then a
    * |part|-keyed max/sum rollup and a 10-key band rollup — no windows,
    * no joins.
    */
  def q199SupplyConcentration(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("cnt")).as("n_lines"), max(col("cnt")).as("top"))
      .select(expr("(10 * top) div n_lines").as("conc_band"),
        col("n_lines"))
      .groupBy(col("conc_band"))
      .agg(count(lit(1)).as("n_parts"), sum(col("n_lines")).as("n_lines"))
      .orderBy(col("conc_band"))

  /** Fulfillment-span bands (q203): weeks between an order's first and
    * last line shipment, banded — the order-completion-window histogram
    * behind SLA design (q177 measures per-line latency; this measures
    * how long the ORDER stays open). One orderkey rollup with map-side
    * partials, then a tiny band rollup; all integer day arithmetic.
    */
  def q203FulfillmentSpan(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(datediff(max(col("l_shipdate")).cast("date"),
        min(col("l_shipdate")).cast("date")).cast("long").as("span_days"))
      .select(expr("span_days div 7").as("span_weeks"))
      .groupBy(col("span_weeks"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("span_weeks"))

  def q197BasketLift(spark: SparkSession, dir: String,
      minSupport: Int = 20, k: Int = 20): DataFrame = {
    val ob = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val nOrders = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_orders"))
    val marg = ob.groupBy(col("p_brand")).agg(count(lit(1)).as("n_b"))
    val pairs = ob.as("a")
      .join(ob.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.p_brand") < col("b.p_brand"))
      .groupBy(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(broadcast(marg.select(col("p_brand").as("brand_a"),
        col("n_b").as("n_a"))), "brand_a")
      .join(broadcast(marg.select(col("p_brand").as("brand_b"),
        col("n_b").as("n_bb"))), "brand_b")
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        round((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_bb")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
      .limit(k)
  }

  /** Dormant high-balance customers (q213, the TPC-H Q22 shape): per
    * country band, customers with NO ORDERS SINCE the cutoff whose
    * balance exceeds the average POSITIVE balance — the scalar-subquery
    * + NOT EXISTS plan shape (testdata's customer has no phone column,
    * so the country code is the nationkey band; and every customer has
    * SOME order, so dormancy is recency-scoped). Balances ride the
    * q108 integer-cents grid and the threshold is cross-multiplied
    * (`bal·cnt > sum` — the q161 boundary-free rule), so no FP
    * comparison anywhere; the display sum is the one rounded division.
    *
    * Scale shape: the positive-balance average is a broadcast 1-row
    * scalar; the NOT EXISTS is a left_anti on the date-filtered order
    * customer keys (never a NOT IN that re-shuffles orders per row);
    * final rollup is |bands|-sized. At 100 TB the anti join shuffles
    * customer against the date-pruned o_custkey projection — both
    * key-pruned scans.
    */
  def q213DormantBalance(spark: SparkSession, dir: String,
      cutoff: String = "1998-06-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), pmod(col("c_nationkey"), lit(5)).as("cntry"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal_c"))
    val posAvg = cust.filter(col("bal_c") > 0L)
      .agg(sum(col("bal_c")).as("sum_c"), count(lit(1)).as("cnt_c"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff))
      .select(col("o_custkey"))
    cust
      .crossJoin(broadcast(posAvg))
      .filter(col("bal_c") * col("cnt_c") > col("sum_c"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntry"))
      .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("bal_sum_c"))
      .select(col("cntry"), col("n_cust"),
        round(col("bal_sum_c").cast("double") / 100.0, 2).as("total_bal"))
      .orderBy(col("cntry"))
  }

  /** Top revenue supplier (q214, the TPC-H Q15 view shape): quarterly
    * revenue per supplier, then the supplier(s) whose revenue EQUALS
    * the maximum — the create-view + scalar-max join plan (ties kept,
    * which is what makes the equality join deterministic where a
    * LIMIT 1 would not be). Revenue on the exact cents·pct integer
    * grid; the max rides a broadcast 1-row scalar.
    *
    * Scale shape: one lineitem shuffle on l_suppkey with the date
    * filter pushed to the scan; supplier joins broadcast; the scalar
    * max is a second pass over the AGGREGATED per-supplier frame
    * (|suppliers| rows), never over lineitem.
    */
  /** Customer order-count distribution (q215, the TPC-H Q13 shape):
    * how many customers placed exactly k non-priority orders — the
    * LEFT OUTER join whose filter lives in the ON clause (an order
    * predicate in WHERE would silently turn the join inner and drop
    * the zero-order customers, which are the point), then the
    * two-level count-of-counts rollup.
    *
    * Scale shape: one customer⋈orders shuffle on the customer key with
    * the priority filter applied to the orders SIDE before the join
    * (pushed to its scan); level 2 is |distinct counts|-sized. Pure
    * integers.
    */
  def q215CustDist(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Large-volume orders (q216, the TPC-H Q18 shape): orders whose
    * total line quantity exceeds the threshold — the GROUP BY + HAVING
    * relation used as a join input (the "find the whales" report).
    * Quantities ride the integer grid; the money display is integer
    * cents divided once (boundary-free per the PARITY rule-8 lesson —
    * round(·,2) on a raw double can straddle a .005 boundary between
    * engines).
    *
    * Scale shape: the HAVING aggregation is one l_orderkey shuffle with
    * map-side partials; only the qualifying order keys (a tiny
    * fraction) join onward to orders and customer on their natural
    * keys. The top-k compares integer cents, so LIMIT k is total.
    */
  def q216BigOrders(spark: SparkSession, dir: String, minQty: Long = 250L,
      k: Int = 10): DataFrame = {
    val heavy = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_quantity"), 0).cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    Tables.orders(spark, dir)
      .join(heavy, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("sum_qty"))
      .orderBy(col("price_c").desc, col("o_orderkey"))
      .limit(k)
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("order_date"),
        (col("price_c").cast("double") / 100.0).as("total_price"),
        col("sum_qty"))
  }

  /** Waiting suppliers (q223, the TPC-H Q21 shape, adapted): suppliers
    * who were the ONLY late supplier on a finished multi-supplier order
    * — the hardest canonical multi-exists plan: one EXISTS (another
    * supplier shipped on the same order) and one NOT EXISTS (no OTHER
    * supplier was late), both against lineitem on `l_orderkey`.
    * The reference schema has no commit/receipt dates
    * (TESTDATA.md), so "late" is shipped > `lateDays` after the order
    * date — the flag is computed ONCE on a shared flagged relation and
    * both the semi and the anti side are cheap filters over it.
    *
    * Scale shape: the lineitem⋈orders build runs ONCE (status filter
    * pushed to the orders scan, only 3 lineitem columns read) into the
    * session-cached flagged relation; all three multi-exists consumers
    * read that cache, so any exchange the semi/anti joins need moves
    * the slim (orderkey, suppkey, late) projection — never a second
    * lineitem scan or join. Supplier names ride a broadcast. Counting
    * is pure integers; (n_wait DESC, s_suppkey) is a total order under
    * LIMIT k.
    */
  private val flaggedLinesCache =
    SessionCaches.newCache[(SparkSession, String, Int)]()

  /** The shared late-flagged lineitem relation behind q223,
    * session-cached: the multi-exists reads it three times (candidates,
    * the EXISTS side, the NOT-EXISTS side), and caching is what makes
    * "one orderkey shuffle" literal — all three consumers hit the same
    * InMemoryTableScan instead of re-scanning and re-joining lineitem
    * (PlanSpec pins this). Registry-tracked so ScalingBench eviction
    * measures the full pipeline.
    */
  private def cachedFlaggedLines(spark: SparkSession, dir: String,
      lateDays: Int): DataFrame =
    SessionCaches.cached(flaggedLinesCache, (spark, dir, lateDays))(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(spark, dir)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr(s"INTERVAL $lateDays DAY")).as("late"))
        .persist())

  def q223WaitSuppliers(spark: SparkSession, dir: String,
      lateDays: Int = 90, k: Int = 10): DataFrame = {
    val flagged = cachedFlaggedLines(spark, dir, lateDays)
    val waiting = flagged.filter(col("late"))
    val others = flagged
      .select(col("l_orderkey").as("x_orderkey"), col("l_suppkey").as("x_suppkey"))
    val lateOthers = waiting
      .select(col("l_orderkey").as("y_orderkey"), col("l_suppkey").as("y_suppkey"))
    waiting
      .join(others, col("l_orderkey") === col("x_orderkey") &&
        col("l_suppkey") =!= col("x_suppkey"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("y_orderkey") &&
        col("l_suppkey") =!= col("y_suppkey"), "left_anti")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_wait"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_wait"))
      .orderBy(col("n_wait").desc, col("s_suppkey"))
      .limit(k)
  }

  /** Disjunctive-predicate revenue (q224, the TPC-H Q19 shape): total
    * discounted revenue over lineitem⋈part under three OR'd
    * brand/size/quantity blocks — the canonical test of whether a
    * disjunction spanning both join sides stays PUSHED: Catalyst's
    * PushExtraPredicateThroughJoin must extract the part-only
    * approximation `(brand∧size) ∨ …` below the join so the part scan
    * prunes before joining (PlanSpec pins the pushed filter).
    *
    * Scale shape: part prunes at its scan to the 3-brand union and
    * broadcasts; lineitem reads 4 columns with the quantity bounds
    * evaluated in the codegen'd filter. Revenue is the exact cents·pct
    * integer grid, one map-side-partial row out.
    */
  def q224DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), revenueCentPct.as("rev_cp"),
        round(col("l_quantity"), 0).cast("long").as("qty"))
    val part = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    def block(brand: String, sizeHi: Int, qLo: Long, qHi: Long) =
      col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("qty").between(qLo, qHi)
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(block("Brand#12", 5, 1L, 11L) ||
        block("Brand#23", 10, 10L, 20L) ||
        block("Brand#34", 15, 20L, 30L))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_cp")).as("rev_cp"))
      .select(col("n_lines"),
        round(col("rev_cp").cast("double") / 10000.0, 2).as("revenue"))
  }

  /** Order-priority check (q227, the TPC-H Q4 shape): orders placed in
    * one quarter with at least one late line, counted by priority —
    * the EXISTS-as-left_semi with a date window. The semi join carries
    * a mixed condition (orderkey equality PLUS the cross-side lateness
    * comparison), which Spark evaluates inside the one orderkey-keyed
    * join — no second pass, no distinct.
    *
    * Scale shape: the quarter filter is pushed to the orders scan, so
    * the semi join's left side is already quarter-sized; lineitem
    * contributes two columns. Output is ≤5 rows.
    */
  def q227OrderPriority(spark: SparkSession, dir: String,
      qStart: String = "1996-01-01", qEnd: String = "1996-04-01",
      lateDays: Int = 30): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(qStart) &&
        col("o_orderdate") < lit(qEnd))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") >
          col("o_orderdate") + expr(s"INTERVAL $lateDays DAY"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Priority shipping mix (q228, the TPC-H Q12 shape): per return
    * flag, how many of the year's shipped lines belonged to
    * high-priority orders vs not — the two-branch conditional
    * aggregation over a fact⋈fact join (the reference schema has no
    * l_shipmode, so the return flag is the 3-value group key).
    *
    * Scale shape: the ship-year filter is pushed to the lineitem scan
    * BEFORE the orderkey join, so the join's big side is year-sized;
    * both CASE branches ride one map-side-partial aggregate. Pure
    * integer counts, 3 rows out.
    */
  def q228PriorityShipmix(spark: SparkSession, dir: String,
      yStart: String = "1997-01-01", yEnd: String = "1998-01-01"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(yStart) && col("l_shipdate") < lit(yEnd))
      .select(col("l_orderkey"), col("l_returnflag"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** Min-cost supplier (q229, the TPC-H Q2 shape, adapted): for each
    * small part, the supplier(s) achieving the minimum observed line
    * price — the correlated-min-subquery plan: aggregate the supply
    * relation per (part, supplier), take the per-part min, JOIN BACK on
    * equality (ties kept — what makes the rejoin deterministic where a
    * row_number would need an arbitrary tiebreak). The synthetic schema
    * has no partsupp, so the supply relation derives from lineitem
    * (min line total per part×supplier), preserving the plan shape.
    *
    * Scale shape: ONE lineitem shuffle on (partkey, suppkey) with
    * map-side partials; the per-part min is a second aggregate over the
    * ALREADY-AGGREGATED supply relation (|part×supp| rows ≪ lineitem);
    * the rejoin keys on (partkey, cost) against that same relation, and
    * part/supplier/nation dims broadcast. Integer cents everywhere.
    */
  def q229MinCostSupplier(spark: SparkSession, dir: String,
      maxSize: Int = 10, k: Int = 25): DataFrame = {
    val ps = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("supply_cost_c"))
    val minCost = ps.groupBy(col("l_partkey"))
      .agg(min(col("supply_cost_c")).as("min_cost_c"))
    ps.join(minCost, Seq("l_partkey"))
      .filter(col("supply_cost_c") === col("min_cost_c"))
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_size") <= maxSize)
        .select(col("p_partkey"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
        col("n_name"),
        // whole-cent division — boundary-free (PARITY rule 8)
        (col("supply_cost_c").cast("double") / 100.0).as("supply_cost"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
      .limit(k)
  }

  /** Important parts (q230, the TPC-H Q11 shape): parts whose total
    * line value exceeds a multiple of the MEAN part value — the
    * group-by-with-global-HAVING-threshold plan, the scalar entering
    * as a broadcast 1-row frame and the comparison cross-multiplied
    * onto a 128-bit integer grid (`value_c · n_parts · den > total_c ·
    * num` on decimal(38,0) here / HUGEINT in the oracle — Long would
    * silently wrap in Spark while DuckDB raises once value_c·n_parts
    * passes 2^63, well inside a 100 TB part count; no FP threshold,
    * and mean-relative so the SAME 3/2 multiple stays
    * selective-but-nonempty at every SF, where Q11's absolute
    * fraction would zero out as the part count grows).
    *
    * Scale shape: one lineitem shuffle on l_partkey with map-side
    * partials; the total/count scalar is a second pass over the
    * per-part AGGREGATE (never lineitem); qualifying parts are a small
    * fraction. Total order (value desc, partkey) bounds the output.
    */
  def q230ImportantParts(spark: SparkSession, dir: String,
      num: Int = 3, den: Int = 2, k: Int = 25): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("value_c"))
    val total = perPart.agg(sum(col("value_c")).as("total_c"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_c").cast("decimal(38,0)") * col("n_parts") *
          lit(den.toLong) >
        col("total_c").cast("decimal(38,0)") * lit(num.toLong))
      .select(col("l_partkey"),
        // whole-cent division (boundary-free — PARITY rule 8) and an
        // exact integer floor for the share, never a rounded quotient
        (col("value_c").cast("double") / 100.0).as("part_value"),
        expr("(value_c * 10000) div total_c").as("share_bp"))
      .orderBy(col("part_value").desc, col("l_partkey"))
      .limit(k)
  }

  /** Nation-pair shipping volume (q231, the TPC-H Q7 shape): revenue
    * between (supplier nation → customer nation) pairs by ship year —
    * the two-dimension-join volume matrix behind trade-lane reports.
    * Bounded to the first `nNations` nations on each side so the gate's
    * dump stays small; cross-nation only (the Q7 n1 ≠ n2 condition).
    *
    * Scale shape: lineitem⋈orders is the one fact shuffle (ship-year
    * filter pushed to the lineitem scan); customer and supplier key→
    * nation maps broadcast; the rollup key space is nNations² × years.
    * Revenue on the exact cents·pct grid.
    */
  def q231NationVolume(spark: SparkSession, dir: String,
      yStart: String = "1996-01-01", yEnd: String = "1998-01-01",
      nNations: Int = 5): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(yStart) && col("l_shipdate") < lit(yEnd))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("ship_year"), revenueCentPct.as("rev_cp"))
    val cust = Tables.customer(spark, dir)
      .filter(col("c_nationkey") < nNations)
      .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") < nNations)
      .select(col("s_suppkey"), col("s_nationkey").as("supp_nation"))
    li.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_cp")).as("rev_cp"))
      .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
        col("n_lines"),
        round(col("rev_cp").cast("double") / 10000.0, 2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  /** Dominant suppliers (q236, the TPC-H Q20 shape, adapted): suppliers
    * who shipped the MAJORITY of a year's quantity for at least
    * `minParts` name-filtered parts — the nested semi chain: part
    * name-prefix filter ⋉ per-(part, supplier) year aggregate ⋈ its own
    * per-part re-aggregate (the correlated half-of-total threshold,
    * cross-multiplied integers) ⋉ supplier. The synthetic schema has no
    * partsupp/availqty, so "excess stock" becomes "majority of the
    * part's shipped quantity" — same chain, same threshold-against-
    * correlated-sum plan.
    *
    * Scale shape: ONE lineitem shuffle on (partkey, suppkey) with the
    * ship-year filter and the name-prefix semi (broadcast part keys)
    * both applied BEFORE it; the per-part total re-aggregates the
    * ALREADY-AGGREGATED relation, and Catalyst reuses the exchange for
    * both branches of the self-join. Supplier names broadcast. Pure
    * integer quantities; (s_suppkey) order is total.
    */
  def q236DominantSuppliers(spark: SparkSession, dir: String,
      yStart: String = "1997-01-01", yEnd: String = "1998-01-01",
      namePrefix: String = "small", minParts: Int = 2): DataFrame = {
    val namedParts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith(namePrefix))
      .select(col("p_partkey"))
    val ps = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(yStart) && col("l_shipdate") < lit(yEnd))
      .join(broadcast(namedParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_quantity"), 0).cast("long")).as("qty"))
    val pt = ps.groupBy(col("l_partkey")).agg(sum(col("qty")).as("total"))
    ps.join(pt, Seq("l_partkey"))
      .filter(col("qty") * 2L > col("total"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominated"))
      .filter(col("n_dominated") >= minParts)
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_dominated"))
      .orderBy(col("s_suppkey"))
  }

  /** Product-line profit (q237, the TPC-H Q9 shape, adapted): per
    * supplier nation × order year, the margin on parts whose name
    * contains a token — the many-join profit rollup (lineitem ⋈ part ⋈
    * orders ⋈ supplier ⋈ nation). The synthetic schema has no
    * ps_supplycost, so unit cost is the part's retail price — the same
    * plan, an integer-exact margin: `rev_cp − qty · retail_c · 100`
    * keeps everything on the cent·pct grid until the one display
    * division.
    *
    * Scale shape: the fact join is lineitem⋈orders on the order key
    * (the only corpus-scale shuffle); part (name filter PUSHED to its
    * scan — PlanSpec pins the StringContains), supplier, and nation
    * all broadcast. Output is |nations| × |years|.
    */
  def q237NationProfit(spark: SparkSession, dir: String,
      nameToken: String = "red"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameToken))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("retail_c"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        revenueCentPct.as("rev_cp"),
        round(col("l_quantity"), 0).cast("long").as("qty"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("rev_cp") - col("qty") * col("retail_c") * lit(100L))
          .as("profit_cp"))
      .select(col("nation"), col("o_year"), col("n_lines"),
        round(col("profit_cp").cast("double") / 10000.0, 2).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  def q214TopSupplier(spark: SparkSession, dir: String,
      qStart: String = "1996-01-01", qEnd: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(qStart) && col("l_shipdate") < lit(qEnd))
      .groupBy(col("l_suppkey"))
      .agg(sum(revenueCentPct).as("rev_cp"))
    val top = rev.agg(max(col("rev_cp")).as("max_cp"))
    rev.crossJoin(broadcast(top))
      .filter(col("rev_cp") === col("max_cp"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_cp").cast("double") / 10000.0, 2).as("revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Discount-band revenue delta (q241, the TPC-H Q6 shape): the
    * what-if "revenue left on the table" scan — one year of lineitem,
    * a discount band and a quantity cap, no join at all. The query
    * class exists to prove the SCAN path: every predicate lands in the
    * parquet scan as a pushed filter (date range on the l_shipdate
    * stats, the discount/quantity bands evaluated pre-shuffle) and the
    * aggregate is a single map-side-partial fold — zero shuffles of
    * row data, one scalar out.
    *
    * Parity: the band predicates compare on the data's own 2dp integer
    * grid (`round(x·100)` — never raw FP `BETWEEN 0.05 AND 0.07`), the
    * revenue sum is exact BIGINT cents·pct, and the display division
    * `/10⁴` is one deterministic IEEE op on identical integers — no
    * round(·,2) boundary anywhere (PARITY rule 8).
    */
  def q241DiscountRevenue(spark: SparkSession, dir: String,
      yStart: String = "1997-01-01", yEnd: String = "1998-01-01",
      dLo: Long = 5L, dHi: Long = 7L, maxQty: Long = 24L): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(yStart) &&
        col("l_shipdate") < lit(yEnd))
      .filter(round(col("l_discount") * 100, 0).cast("long")
        .between(dLo, dHi))
      .filter(round(col("l_quantity"), 0).cast("long") < maxQty)
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long") *
          round(col("l_discount") * 100, 0).cast("long")).as("rev_cp"))
      .select(col("n_lines"),
        (col("rev_cp").cast("double") / 10000.0).as("revenue"))

  /** Supplier diversity per part attribute (q242, the TPC-H Q16
    * shape): how many distinct suppliers ship each (brand, size)
    * bucket, excluding a blocklisted supplier set — the NOT-IN +
    * COUNT-DISTINCT rollup behind sourcing-risk reports (the schema
    * has no ps_partsupp or s_comment, so supply lines come from
    * lineitem and the blocklist is negative-balance suppliers).
    *
    * Scale shape: part's size/brand filter broadcasts onto lineitem
    * (no fact shuffle for the join), the blocklist is a broadcast
    * left_anti — NOT IN expressed as a join, never a collected set —
    * and the one shuffle is the (brand, size) distinct-count rollup.
    * At 100 TB the countDistinct's key space is suppliers-per-bucket
    * (bounded), not lineitem.
    */
  def q242SupplierDiversity(spark: SparkSession, dir: String,
      sizes: Seq[Int] = Seq(1, 5, 9, 13, 17, 21, 25, 29),
      excludeBrand: String = "Brand#45"): DataFrame = {
    val blocked = Tables.supplier(spark, dir)
      .filter(round(col("s_acctbal") * 100, 0).cast("long") < 0L)
      .select(col("s_suppkey"))
    val pt = Tables.part(spark, dir)
      .filter(col("p_size").isin(sizes: _*) &&
        col("p_brand") =!= excludeBrand)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(blocked), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** Join-cardinality estimation (q244): predict |events ⋈ orders| on
    * the user/customer key from per-side statistics WITHOUT running
    * the join — the System-R primitive every cost-based planner runs
    * before picking a join strategy, surfaced as a query so the
    * estimate can be audited against ground truth. Two estimators:
    * `global` is n_a·n_b / max(v_a, v_b) (containment-of-value-sets
    * under uniformity), `bucketed` stratifies the key space into
    * `nBuckets` arithmetic buckets (k mod B — NOT engine hash, which
    * differs cross-engine) and sums the per-bucket System-R estimate,
    * which is how a planner's equi-width histogram tightens the
    * uniformity assumption. All arithmetic is exact BIGINT; the error
    * is reported as an integer basis-point magnitude (abs before div —
    * floor-vs-truncate on negatives differs between engines).
    *
    * Scale shape: both estimators read only per-side AGGREGATES (one
    * map-side-partial pass per side; the bucketed pass groups on
    * k mod B, bounded by B). The actual join here is the audit path —
    * a production planner never executes it.
    */
  def q244JoinCardEst(spark: SparkSession, dir: String,
      nBuckets: Int = 64): DataFrame =
    joinCardEstOn(
      Tables.events(spark, dir).select(col("user_id").as("k")),
      Tables.orders(spark, dir).select(col("o_custkey").as("k")),
      nBuckets)

  /** [[q244JoinCardEst]] over explicit single-column key frames — the
    * spec surface for fixtures with known estimator behavior.
    */
  private[graft] def joinCardEstOn(a: DataFrame, b: DataFrame,
      nBuckets: Int): DataFrame = {
    val sa = a.agg(count(lit(1)).as("n_a"),
      countDistinct(col("k")).as("v_a"))
    val sb = b.agg(count(lit(1)).as("n_b"),
      countDistinct(col("k")).as("v_b"))
    val actual = a.join(b, Seq("k")).agg(count(lit(1)).as("actual_rows"))
    // n·n products ride decimal(38,0): two 10^12-row sides already put
    // n_a·n_b at 10^24 ≫ 2^63 — Long would wrap silently where the
    // oracle's HUGEINT keeps going (PARITY rule 13); the quotient
    // narrows back to the gate's BIGINT (an estimate that itself
    // exceeds 2^63 rows has left the reportable range anyway)
    val globalEst = sa.crossJoin(sb)
      .select(lit("global").as("method"),
        expr("cast(cast(n_a as decimal(38,0)) * n_b div " +
          "greatest(v_a, v_b) as long)").as("est_rows"))
    val ga = a.groupBy((col("k") % nBuckets).as("bk"))
      .agg(count(lit(1)).as("n_ab"), countDistinct(col("k")).as("v_ab"))
    val gb = b.groupBy((col("k") % nBuckets).as("bk"))
      .agg(count(lit(1)).as("n_bb"), countDistinct(col("k")).as("v_bb"))
    val bucketEst = ga.join(gb, Seq("bk"))
      .agg(sum(expr("cast(cast(n_ab as decimal(38,0)) * n_bb div " +
          "greatest(v_ab, v_bb) as long)"))
        .as("est_rows"))
      .select(lit("bucketed").as("method"), col("est_rows"))
    globalEst.unionByName(bucketEst)
      .crossJoin(broadcast(actual))
      .select(col("method"), col("est_rows"), col("actual_rows"),
        (col("est_rows") - col("actual_rows")).as("diff_rows"),
        expr("abs(est_rows - actual_rows) * 10000 div actual_rows")
          .as("abs_err_bp"))
      .orderBy(col("method"))
  }

  /** Perfect-order rate (q260): per priority, the share of orders with
    * NO returned line and NO line shipped more than `lateDays` after
    * the order date — the all-or-nothing fulfillment KPI (one bad line
    * fails the whole order, which is why it is an ORDER-level max-flag
    * fold, not a line-level rate).
    *
    * Scale shape: one orderkey join-and-fold (map-side partial max on
    * both violation flags), then a 5-key priority rollup — the flags
    * collapse each order to two bits before anything aggregates
    * order-level. Pure integer counts and one bp division.
    */
  def q260PerfectOrders(spark: SparkSession, dir: String,
      lateDays: Int = 30): DataFrame = {
    val flags = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(
        max(when(col("l_returnflag") === "R", 1).otherwise(0))
          .as("any_return"),
        max(when(col("l_shipdate") >
            col("o_orderdate") + expr(s"INTERVAL $lateDays DAY"), 1)
          .otherwise(0)).as("any_late"))
    flags.groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("any_return") === 0 && col("any_late") === 0, 1L)
          .otherwise(0L)).as("n_perfect"))
      .select(col("priority"), col("n_orders"), col("n_perfect"),
        expr("n_perfect * 10000 div n_orders").as("perfect_bp"))
      .orderBy(col("priority"))
  }

  /** Per-brand ABC classification (q262): parts ranked by revenue
    * within their brand and cut into Pareto classes — A while the
    * running share stays ≤ 80%, B to 95%, C after — the
    * inventory-prioritization rollup. The class boundary compares
    * cross-multiplied integers (`cum·100 ≤ tot·80`), and both the
    * cumulative and the brand total ride decimal(38,0) from the start
    * (HUGEINT in the oracle, where DuckDB's BIGINT sum already
    * promotes to 128-bit): a brand's cumulative cents·pct passes 2^63
    * at 100 TB part counts (PARITY rule 13 — applied at design time,
    * not on advice).
    *
    * Scale shape: one lineitem shuffle to per-part revenue (the grain
    * everything else runs at), brand-partitioned cumulative windows
    * (never global), and a |brands|×3 rollup.
    */
  def q262AbcClasses(spark: SparkSession, dir: String,
      aPct: Int = 80, bPct: Int = 95): DataFrame = {
    val pr = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_partkey"))
      .agg(sum(revenueCentPct).as("rev_cp"))
    val wCum = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev_cp").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("p_brand"))
    val revDec = col("rev_cp").cast("decimal(38,0)")
    pr.withColumn("cum_cp", sum(revDec).over(wCum))
      .withColumn("tot_cp", sum(revDec).over(wTot))
      .withColumn("abc_class",
        when(col("cum_cp") * 100 <= col("tot_cp") * aPct, "A")
          .when(col("cum_cp") * 100 <= col("tot_cp") * bPct, "B")
          .otherwise("C"))
      .groupBy(col("p_brand"), col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        expr("cast(sum(cast(rev_cp as decimal(38,0))) * 10000 " +
          "div max(tot_cp) as long)").as("share_bp"))
      .orderBy(col("p_brand"), col("abc_class"))
  }

  /** Customer-spend Lorenz deciles (q284): customers ranked by
    * lifetime spend into exact-rank deciles (`((r−1)·10) div n`, the
    * integer-grid decile that never splits ties across engines when
    * the (spend, custkey) order is total), each decile reporting its
    * spend share in basis points — the Lorenz curve behind q146's
    * single-number Gini, and the whale-dependence report revenue
    * teams act on. Shares are cross-multiplied on decimal(38,0)/
    * HUGEINT and floor to bp (Σ ≤ 10000 by construction).
    *
    * Scale shape: one orders pass to customer grain; the rank rides
    * [[TwoPhaseRank.rankBy]] (the q130 bucket-offset pattern, value-
    * bucketed) — the only partitionless window left is the ≤1024-row
    * bucket-offset cumsum, never the customer-cardinality frame
    * (the VERDICT r11 `weak` fix; PlanLintSpec pins the shape).
    */
  def q284LorenzDeciles(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the entity-grain aggregate ONCE: the totals aggregate
    // below and rankBy's range sampling + shuffle all read this
    // materialization instead of re-running the orders pass (the r14
    // checkpoint diet — rankBy skips its internal pre-shuffle copy)
    val cs = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("spend_c"))
      .localCheckpoint()
    val n = cs.agg(count(lit(1)).as("n"),
      sum(col("spend_c").cast("decimal(38,0)")).as("tot"))
    TwoPhaseRank.rankBy(cs, "spend_c", "o_custkey")
      .crossJoin(broadcast(n))
      .withColumn("decile",
        least(expr("((r - 1) * 10) div n"), lit(9L)).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_c")).as("spend_c"),
        expr("cast((sum(cast(spend_c as decimal(38,0))) * 10000)" +
          " div max(tot) as long)").as("share_bp"))
      .orderBy(col("decile"))
  }

  /** Whale-dependence trend (q303): monthly revenue share coming from
    * the lifetime top-decile spenders — the q284 Lorenz cut turned
    * into a TREND (is the business concentrating?). The whale set is
    * one exact-rank cut over customer-cardinality rows
    * (`r·10 ≤ n`), broadcast back into the month rollup; shares
    * floored to bp on HUGEINT. The rank rides [[TwoPhaseRank.rankBy]]
    * (descending) so no customer-cardinality frame ever crosses one
    * window partition (VERDICT r11 `weak` fix; PlanLintSpec-pinned).
    */
  def q303WhaleShareTrend(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val orders = Tables.orders(spark, dir)
    // one checkpoint serves the count aggregate AND rankBy (r14 diet)
    val cs = orders.groupBy(col("o_custkey"))
      .agg(sum(cents).as("spend_c"))
      .localCheckpoint()
    val whales = TwoPhaseRank.rankBy(cs, "spend_c", "o_custkey",
        descending = true)
      .crossJoin(broadcast(cs.agg(count(lit(1)).as("n"))))
      .filter(col("r") * 10 <= col("n"))
      .select(col("o_custkey")).withColumn("is_whale", lit(1L))
    // the whale set is customer-decile-sized — at 100 TB that is NOT
    // broadcastable, so the join strategy stays AQE's call (q250 rule)
    orders
      .join(whales, Seq("o_custkey"), "left")
      .groupBy(trunc(to_date(col("o_orderdate")), "month").as("mth"))
      .agg(sum(cents).as("rev_c"),
        sum(when(col("is_whale") === 1L, cents).otherwise(0L))
          .as("whale_c"))
      .select(col("mth"), col("rev_c"), col("whale_c"),
        expr("(CAST(whale_c AS decimal(38,0)) * 10000) div rev_c")
          .cast("long").as("whale_share_bp"))
      .orderBy(col("mth"))
  }

  /** Daily bounce rate (q300): sessions that never got a second event,
    * as a share of the day's sessions — the engagement-quality KPI on
    * top of the SHARED q58 session assembly ([[sessionsOn]]), so the
    * session definition cannot drift from the other five consumers.
    * Counts exact; the share floors to bp.
    */
  def q300BounceRate(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame =
    sessionsOn(Tables.events(spark, dir), gapMinutes)
      .groupBy(to_date(col("session_start")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        expr("n_bounces * 10000 div n_sessions").as("bounce_bp"))
      .orderBy(col("day"))

  /** Demand-spike screen (q301): parts whose PEAK monthly shipped
    * quantity exceeds twice their own monthly mean — decided on the
    * cross-multiplied integers `max·n > 2·Σ` (never a float mean), the
    * q291 exact-moment pattern pointed at spike detection; spikiness
    * reported as `max·n·1e6 div Σ` on the ppm grid. Top-25 on a total
    * order; products on HUGEINT.
    */
  def q301DemandSpikes(spark: SparkSession, dir: String,
      minMonths: Int = 6, k: Int = 25): DataFrame = {
    val s = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("partkey"),
        trunc(to_date(col("l_shipdate")), "month").as("mth"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .groupBy(col("partkey"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("q").cast("decimal(38,0)")).as("sq"),
        max(col("q")).as("maxq"))
    s.filter(col("n_months") >= minMonths &&
        col("maxq").cast("decimal(38,0)") * col("n_months") >
          col("sq") * 2)
      .select(col("partkey"), col("n_months"),
        col("sq").cast("long").as("total_qty"), col("maxq"),
        expr("(CAST(maxq AS decimal(38,0)) * n_months * 1000000) div sq")
          .as("peak_over_mean_ppm"))
      .orderBy(col("peak_over_mean_ppm").desc, col("partkey"))
      .limit(k)
  }

  /** Unshipped-order aging report (q302): orders with NO shipped line
    * at the dataset's last ship date, bucketed by age and priority
    * with their open value — the AR-aging twin of q278's backlog
    * ledger (the ledger counts, this one triages). The open set is a
    * left_anti against the shipped order keys; the snapshot date is a
    * broadcast scalar.
    */
  def q302AgingReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val snap = li.agg(to_date(max(col("l_shipdate"))).as("asof"))
    val shipped = li.select(col("l_orderkey")).distinct()
    Tables.orders(spark, dir)
      .join(shipped, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .crossJoin(broadcast(snap))
      .select(col("o_orderpriority"),
        datediff(col("asof"), to_date(col("o_orderdate"))).as("age_d"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"))
      .select(col("o_orderpriority"),
        when(col("age_d") <= 30, "0-30")
          .when(col("age_d") <= 90, "31-90")
          .when(col("age_d") <= 365, "91-365")
          .otherwise("365+").as("age_bucket"), col("price_c"))
      .groupBy(col("o_orderpriority"), col("age_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_c")).as("open_value_c"))
      .orderBy(col("o_orderpriority"), col("age_bucket"))
  }

  /** Hierarchy share-of-parent rollup (q295): nation revenue with its
    * share of the parent region AND of the grand total — the two-level
    * drill report every BI hierarchy renders. Region subtotals and the
    * grand total are broadcast-scale aggregates crossed back in;
    * shares floored to bp on HUGEINT.
    */
  def q295RegionNationShare(spark: SparkSession, dir: String): DataFrame = {
    val nr = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_regionkey").as("rk"), col("n_name").as("nation"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("rev_c"))
    val rr = nr.groupBy(col("rk"))
      .agg(sum(col("rev_c").cast("decimal(38,0)")).as("region_c"))
    val tt = nr.agg(sum(col("rev_c").cast("decimal(38,0)")).as("total_c"))
    nr.join(broadcast(rr), Seq("rk"))
      .crossJoin(broadcast(tt))
      .join(broadcast(Tables.region(spark, dir)
        .select(col("r_regionkey"), col("r_name"))),
        col("rk") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("nation"), col("rev_c"),
        expr("(CAST(rev_c AS decimal(38,0)) * 10000) div region_c")
          .as("share_of_region_bp"),
        expr("(CAST(rev_c AS decimal(38,0)) * 10000) div total_c")
          .as("share_of_total_bp"))
      .orderBy(col("region"), col("nation"))
  }

  /** Supplier-lateness Pareto (q296): suppliers ranked by their count
    * of severely late lines (shipped > 90 days after the order date),
    * with the cumulative share of all lateness and an 80%-band flag —
    * the q262 Pareto cut pointed at an OPS offender list instead of
    * revenue (who do we escalate first). Rank AND running share ride
    * [[TwoPhaseRank.rankBy]] (descending, with `cum`) so the
    * supplier-cardinality frame never crosses one window partition
    * (VERDICT r11 `weak` fix; PlanLintSpec-pinned); shares on HUGEINT;
    * top-25 total order.
    */
  def q296LatenessPareto(spark: SparkSession, dir: String,
      lateDays: Int = 90, k: Int = 25): DataFrame = {
    val late = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(to_date(col("l_shipdate")),
        to_date(col("o_orderdate"))) > lateDays)
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_late"))
      // one checkpoint serves the totals aggregate AND rankBy (r14 diet)
      .localCheckpoint()
    val tot = late.agg(sum(col("n_late").cast("decimal(38,0)"))
      .as("tot"), count(lit(1)).as("n_sup"))
    TwoPhaseRank.rankBy(late, "n_late", "suppkey",
        descending = true, cumCol = Some("n_late"))
      .crossJoin(broadcast(tot))
      .select(col("suppkey"), col("n_late"),
        expr("(cum * 10000) div tot").cast("long").as("cum_share_bp"),
        expr("(CAST(r AS decimal(38,0)) * 10000) div n_sup")
          .cast("long").as("supplier_pctl_bp"),
        (col("cum") * 10 <= col("tot") * 8).cast("int").as("in_top80"))
      .orderBy(col("n_late").desc, col("suppkey"))
      .limit(k)
  }

  /** Month-of-year seasonality profile (q289): order counts and
    * revenue shares per calendar month over the seven-year orders
    * history — the seasonal fingerprint behind inventory and staffing
    * plans (and the input a seasonal-naive forecaster like q268 keys
    * on). Shares floored to bp on HUGEINT; one scan, a 12-key rollup.
    */
  def q289MonthSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(spark, dir)
      .groupBy(month(to_date(col("o_orderdate"))).as("moy"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev_c"))
    val t = m.agg(sum(col("n_orders").cast("decimal(38,0)")).as("tot_n"),
      sum(col("rev_c").cast("decimal(38,0)")).as("tot_r"))
    m.crossJoin(broadcast(t))
      .select(col("moy"), col("n_orders"), col("rev_c"),
        expr("(CAST(n_orders AS decimal(38,0)) * 10000) div tot_n")
          .as("order_share_bp"),
        expr("(CAST(rev_c AS decimal(38,0)) * 10000) div tot_r")
          .as("rev_share_bp"))
      .orderBy(col("moy"))
  }

  /** ABC × XYZ planning matrix (q291): every part classified on two
    * axes — revenue importance (the q262 Pareto cut: A to 80%, B to
    * 95%, C the tail, cross-multiplied integer boundaries over the
    * (rev DESC, pk) total order) and demand variability (X/Y/Z by the
    * squared coefficient of variation of monthly shipped quantity,
    * decided as `(n·Σq² − (Σq)²)·4 ≤ (Σq)²` and `… ≤ (Σq)²` — exact
    * integer moments on HUGEINT, never a float CV) — the classic
    * inventory-policy grid (AX = automate, CZ = review manually).
    *
    * Scale shape: two lineitem passes collapse to part grain; the
    * Pareto running sum rides [[TwoPhaseRank.rankBy]] (descending,
    * with `cum`) so the part-cardinality frame never crosses one
    * window partition (found by this round's registry-wide LintScan —
    * the same shape VERDICT r11 flagged on q284/q296/q303); the
    * matrix is a 9-key rollup.
    */
  def q291AbcXyz(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val stats = li
      .groupBy(col("l_partkey").as("pk"),
        trunc(to_date(col("l_shipdate")), "month").as("mth"))
      .agg(sum(col("l_quantity").cast("long")).as("q"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s1"),
        sum((col("q").cast("decimal(38,0)") * col("q"))).as("s2"))
    // one checkpoint serves the totals aggregate AND rankBy (r14 diet;
    // a shared (pk, mth) grid for stats+rev was measured SLOWER — the
    // grid sits near line grain at bench SF, so materializing it costs
    // a full extra write)
    val rev = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("rev_c"))
      .localCheckpoint()
    val tot = rev.agg(sum(col("rev_c").cast("decimal(38,0)")).as("tot_c"))
    val abc = TwoPhaseRank
      .rankBy(rev, "rev_c", "pk", descending = true, cumCol = Some("rev_c"))
      .withColumnRenamed("cum", "cum_c")
      .crossJoin(broadcast(tot))
      .select(col("pk"),
        when(col("cum_c") * 10 <= col("tot_c") * 8, "A")
          .when(col("cum_c") * 100 <= col("tot_c") * 95, "B")
          .otherwise("C").as("abc_class"))
    val xyz = stats.select(col("pk"),
      when((col("n") * col("s2") - col("s1") * col("s1")) * 4 <=
        col("s1") * col("s1"), "X")
        .when(col("n") * col("s2") - col("s1") * col("s1") <=
          col("s1") * col("s1"), "Y")
        .otherwise("Z").as("xyz_class"))
    abc.join(xyz, Seq("pk"))
      .groupBy(col("abc_class"), col("xyz_class"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("abc_class"), col("xyz_class"))
  }

  /** Argmax-by-struct top supplier per nation (q285): the
    * map-side-combinable argmax — `max(struct(rev, suppkey))` folds the
    * winner inside partial aggregation, so the per-nation champion
    * costs ONE agg with combiners and never materializes a rank
    * window (the window formulation shuffles every supplier row to
    * rank it; this moves one struct per nation per partition). The
    * struct's field order makes the comparison total (revenue, then
    * suppkey), so ties are deterministic on both engines. Revenue on
    * the exact cent·pct grid ([[revenueCentPct]]).
    */
  def q285TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val sr = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nationkey"),
        col("l_suppkey").as("suppkey"))
      .agg(sum(revenueCentPct).as("rev_cp"))
    sr.groupBy(col("nationkey"))
      .agg(max(struct(col("rev_cp"), col("suppkey"))).as("top"),
        count(lit(1)).as("n_suppliers"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        col("top.suppkey").as("top_suppkey"),
        col("top.rev_cp").as("top_rev_cp"), col("n_suppliers"))
      .orderBy(col("nation"))
  }

  /** Correlated-subquery decorrelation shape (q273): customers' orders
    * priced above their own customer-level average — the canonical
    * `WHERE price > (SELECT avg(...) ... WHERE same customer)`
    * correlated scalar subquery, which the oracle states exactly that
    * way while this side writes the DECORRELATED plan every optimizer
    * rewrites it to: one per-customer aggregate joined back on the
    * key, with the average compared as the cross-multiplied integer
    * `price_c·n_orders > tot_c` (no division, no FP mean — exact at
    * the boundary where an order equals the mean). The per-customer
    * sums sit on decimal(38,0)/HUGEINT (count × cents passes 2^63 at
    * warehouse scale, PARITY rule 13).
    *
    * Scale shape: decorrelation costs the probe rows one `o_custkey`
    * shuffle plus the aggregate side's PARTIAL-combined shuffle
    * (map-side combine collapses it to customer-cardinality before it
    * moves — PlanSpec pins the partial agg), and the join then
    * co-partitions — vs the naive correlated form's per-row subquery.
    */
  /** GROUPING SETS revenue panel (q275): the four-cut aggregate —
    * by returnflag, by linestatus, by both, and the grand total — in
    * ONE pass with per-column `grouping()` flags distinguishing "NULL
    * because aggregated" from a data NULL. This is the multi-cut
    * report rollup/cube (q54/q55) cannot shape exactly (the set list
    * here is neither a prefix chain nor a full cross), and it runs as
    * a single Expand + one aggregate — at 100 TB, one corpus scan
    * serving four report granularities instead of four scans.
    * Revenue rides the integer cents grid.
    */
  def q275GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")),
          Seq(col("l_returnflag"), col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("rev_c"))
      .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
        col("l_linestatus"))

  /** Daily order-backlog ledger (q278): open orders per day — the
    * cumulative difference between orders opened (by order date) and
    * orders completed (the day their LAST line ships; orders with no
    * lines never close) — the operational WIP ledger behind
    * fulfillment staffing. Exact integer counts; the running balance
    * is one unpartitioned window over the CALENDAR-bounded day grid
    * (seven TPC-H years ≈ 2.5k rows — the q259 bounded-frame rule),
    * after both sides collapse to day-cardinality panels.
    *
    * Scale shape: two corpus-scale aggregates (orders by day; lines
    * to per-order completion, order-key-partitioned) meeting in a
    * day-grain full-outer join; nothing row-scale crosses the window.
    */
  def q278BacklogLedger(spark: SparkSession, dir: String): DataFrame =
    q278BacklogLedgerOn(Tables.orders(spark, dir),
      Tables.lineitem(spark, dir))

  private[graft] def q278BacklogLedgerOn(orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val opened = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_opened"))
    val closed = lineitem
      .groupBy(col("l_orderkey"))
      .agg(to_date(max(col("l_shipdate"))).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_closed"))
    opened.join(closed, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("backlog",
        sum(col("n_opened") - col("n_closed")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("day"))
  }

  def q273AboveCustomerAvg(spark: SparkSession, dir: String,
      minAbove: Int = 3): DataFrame =
    q273AboveCustomerAvgOn(Tables.orders(spark, dir), minAbove)

  private[graft] def q273AboveCustomerAvgOn(orders: DataFrame,
      minAbove: Int): DataFrame = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val o = orders
      .select(col("o_custkey"), cents.as("price_c"))
    val ca = o.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_c").cast("decimal(38,0)")).as("tot_c"))
    o.join(ca, Seq("o_custkey"))
      .filter(col("price_c").cast("decimal(38,0)") * col("n_orders") >
        col("tot_c"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_above"),
        max(col("price_c")).as("max_price_c"))
      .filter(col("n_above") >= minAbove)
      .orderBy(col("custkey"))
  }

  /** Calendar densification + forward fill (q342): per top-3 brand, a
    * DENSE daily mean-price series — missing days materialized from a
    * per-brand calendar and filled with the last observed value
    * (LOCF), then rolled monthly (observed/filled day counts, month-end
    * and mean of the filled series). Gap-filling is the time-series
    * feature-prep step every forecasting/drift consumer upstream of
    * this engine assumes has happened (q268's seasonal-naive MASE
    * reads a dense series; this is the op that makes one honest). All
    * values integer cents; the fill is `last(_, ignoreNulls)` over the
    * per-brand day order — no leading nulls by construction (each
    * calendar starts at its brand's first observed day).
    *
    * Scale shape: one (brand, day)-grain aggregate off the fact scan,
    * a 3-row calendar spine exploded to brand-days (key-bounded, never
    * fact-bounded), one per-brand ordered window for the fill, one
    * monthly rollup. The brand top-3 pick is an enum-bounded
    * TakeOrdered.
    */
  def q342GapFill(spark: SparkSession, dir: String,
      topBrands: Int = 3): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_shipdate").cast("date").as("day"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_brand")),
        Seq("l_partkey"))
      .groupBy(col("p_brand").as("brand"), col("day"))
      .agg(expr("sum(cents) div count(1)").as("price_c"))
      .localCheckpoint()
    gapFillOn(daily, topBrands)
  }

  /** Core over a `(brand, day, price_c)` daily frame (spec entry). */
  private[graft] def gapFillOn(daily: DataFrame,
      topBrands: Int): DataFrame = {
    val top = daily.groupBy(col("brand"))
      .agg(sum(col("price_c")).as("tot"), min(col("day")).as("d0"),
        max(col("day")).as("d1"))
      .orderBy(col("tot").desc, col("brand")).limit(topBrands)
    val cal = top.select(col("brand"),
      explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val filled = cal.join(daily, Seq("brand", "day"), "left")
      .withColumn("obs", when(col("price_c").isNotNull, 1L)
        .otherwise(0L))
      .withColumn("fill_c", last(col("price_c"), ignoreNulls = true)
        .over(Window.partitionBy(col("brand")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    filled.groupBy(col("brand"), trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("obs")).as("n_obs"),
        (count(lit(1)) - sum(col("obs"))).as("n_filled"),
        max(struct(col("day"), col("fill_c"))).getField("fill_c")
          .as("eom_price_c"),
        expr("sum(fill_c) div count(1)").as("mean_price_c"))
      .orderBy(col("brand"), col("month"))
  }

  /** Interval-island merge (q343): per supplier, fuse overlapping
    * [order, ship] fulfillment spans into maximal islands (the classic
    * gaps-and-islands sweep — ordered scan, running-max end, new
    * island when a span starts past everything seen) and report
    * interval count, island count, total covered days, and the
    * longest island. The union-of-intervals primitive behind SLA
    * coverage, machine-utilization, and outage-merge reports — q180's
    * sweep counts CONCURRENCY at a point; this measures the merged
    * COVERAGE of the timeline.
    *
    * Scale shape: two windows over the per-supplier span order (the
    * running-max island detector and the island-id running sum) plus
    * two keyed aggregates — all partitioned BY SUPPLIER, no global
    * window, no self-join (the naive interval-overlap join is O(n²)
    * per key; the sweep is O(n log n) via the shuffle sort).
    */
  def q343IntervalIslands(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey").as("suppkey"),
        col("l_shipdate").cast("date").as("e"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_orderdate").cast("date").as("s")),
        Seq("l_orderkey"))
    intervalIslandsOn(iv)
  }

  /** Core over a `(suppkey, s, e, tie)` interval frame (spec entry). */
  private[graft] def intervalIslandsOn(iv: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("suppkey"))
      .orderBy(col("s"), col("e"), col("tie"))
    val flagged = iv
      .withColumn("prev_max_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"),
          1L).otherwise(0L))
      .withColumn("island", sum(col("new_island"))
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val islands = flagged.groupBy(col("suppkey"), col("island"))
      .agg(count(lit(1)).as("n_iv"),
        (datediff(max(col("e")), min(col("s"))) + 1).cast("long")
          .as("days"))
    islands.groupBy(col("suppkey"))
      .agg(sum(col("n_iv")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("days")).as("covered_days"),
        max(col("days")).as("max_island_days"))
      .orderBy(col("suppkey"))
  }
}

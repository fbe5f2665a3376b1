package graft.dq

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Data-quality checks (SURVEY.md §3.2): the reference's post-load checker
  * (/root/reference/Capstone/scripts/i94_data_quality_check.py:79-107)
  * re-expressed as typed, single-evaluation functions. Improvements kept
  * deliberately (SURVEY.md §4): each check evaluates its scan once (the
  * reference re-ran the null check up to 3× per table), `isnan` is applied
  * only to numeric columns (the reference crashed on dates and returned a
  * `['failed']` sentinel), and failures are a typed report, not log lines.
  */
object DataQuality {

  case class NullKeyResult(column: String, nullCount: Long)
  case class DqReport(table: String, rowCount: Long,
      nonEmpty: Boolean, nullKeys: Seq[NullKeyResult], fkViolations: Long = 0) {
    def passed: Boolean = nonEmpty && nullKeys.forall(_.nullCount == 0) && fkViolations == 0
  }

  /** Check 1 (i94_data_quality_check.py:79-87): table is non-empty. */
  def nonEmpty(df: DataFrame): Boolean = !df.isEmpty

  /** Check 2 (i94_data_quality_check.py:89-107): null/NaN count per key
    * column, all columns in ONE pass over the data (one aggregate row).
    */
  def nullKeys(df: DataFrame, cols: Seq[String]): Seq[NullKeyResult] = {
    if (cols.isEmpty) return Nil
    val aggs = nullCounts(df, cols)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.zipWithIndex.map { case (c, i) => NullKeyResult(c, row.getLong(i)) }
  }

  /** One null-count aggregate per key column, named after it; NaN counts
    * as null on numeric columns only.
    */
  private def nullCounts(df: DataFrame, cols: Seq[String]): Seq[Column] = {
    val numeric = df.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType]).map(_.name).toSet
    cols.map { c =>
      val pred = if (numeric(c)) col(c).isNull || isnan(col(c)) else col(c).isNull
      count(when(pred, lit(1))).as(c)
    }
  }

  /** Referential-integrity extension (SURVEY.md §2.4): count fact keys
    * missing from the dim — `left_anti` on the key.
    */
  def fkViolations(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): Long =
    fact.filter(col(factKey).isNotNull)
      .join(dim, fact(factKey) === dim(dimKey), "left_anti")
      .count()

  /** Full per-table report: the row count and the null keys in one
    * aggregate, so one pass over the table.
    */
  def check(table: String, df: DataFrame, keyCols: Seq[String]): DqReport = {
    val row = df.agg(count(lit(1)), nullCounts(df, keyCols): _*).collect()(0)
    val n = row.getLong(0)
    DqReport(table, n, n > 0,
      keyCols.zipWithIndex.map { case (c, i) => NullKeyResult(c, row.getLong(i + 1)) })
  }

  /** Schema-wide referential-integrity profile (q125): one row per FK
    * edge of the star schema with child row count and orphan count —
    * [[fkViolations]] widened from a single scalar check to the
    * whole-schema sweep a nightly 100 TB DQ run wants, and kept LAZY
    * (one composed DataFrame, no driver-side counts) so all seven
    * anti-joins run in one job.
    *
    * Scale shape: each edge is a single-column anti-join; dim parents
    * broadcast, fact-sized parents (orders at 100 TB) degrade to a
    * shuffle anti-join under AQE. The per-edge aggregates are 1-row
    * frames, so the assembling cross-joins are broadcast by
    * construction.
    */
  def riProfile(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.Tables
    def edge(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val orphans = child.select(col(childKey))
        .join(parent.select(col(parentKey)),
          col(childKey) === col(parentKey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(broadcast(orphans))
        .select(lit(name).as("edge"), col("n_child"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val p = Tables.part(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    Seq(
      edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", p, "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
      edge("nation->region", n, "n_regionkey", r, "r_regionkey"),
      edge("orders->customer", o, "o_custkey", c, "c_custkey"),
      edge("supplier->nation", s, "s_nationkey", n, "n_nationkey"))
      .reduce(_.unionByName(_))
      .orderBy(col("edge"))
  }

  /** Generic column profile (q188): the `describe`-style per-column
    * report every ingest runs first — row count, null count, exact
    * distinct count, lexicographic min/max — over orders' non-float
    * columns. All columns stack into ONE (column, value-string) frame:
    * a single shuffle keyed on (column, value) computes the distinct
    * side, then a |columns|-key rollup; no per-column pass. Float
    * columns are deliberately excluded: double→string formatting is
    * engine-specific (scientific-notation thresholds), and the numeric
    * min/max surface is q12's.
    */
  def columnProfile(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderdate", "o_orderpriority")
    val stackArgs = cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
    val stacked = Tables.orders(spark, dir)
      .select(expr(s"stack(${cols.size}, $stackArgs) AS (col_name, val)"))
    stacked
      .groupBy(col("col_name"), col("val"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("val").isNull, col("cnt")).otherwise(lit(0L)))
          .as("n_nulls"),
        sum(when(col("val").isNotNull, 1L).otherwise(0L)).as("n_distinct"),
        min(col("val")).as("min_val"), max(col("val")).as("max_val"))
      .orderBy(col("col_name"))
  }

  /** FK cardinality classes (q189): for each star edge, the observed
    * relationship shape — child rows, distinct FK values, max child
    * rows per key, and the inferred class (`1:1` vs `N:1`) — the
    * schema-inference companion to [[riProfile]]'s orphan counts.
    * Each edge is one child-side key histogram (map-side partials);
    * parents are never scanned.
    */
  def fkCardinality(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    def shape(name: String, child: DataFrame, key: String): DataFrame =
      child.groupBy(col(key)).agg(count(lit(1)).as("per_key"))
        .agg(sum(col("per_key")).as("n_child"),
          count(lit(1)).as("n_keys"),
          max(col("per_key")).as("max_per_key"))
        .select(lit(name).as("edge"), col("n_child"), col("n_keys"),
          col("max_per_key"),
          when(col("max_per_key") === 1L, lit("1:1")).otherwise(lit("N:1"))
            .as("class"))
    Seq(
      shape("lineitem->orders", Tables.lineitem(spark, dir), "l_orderkey"),
      shape("lineitem->part", Tables.lineitem(spark, dir), "l_partkey"),
      shape("lineitem->supplier", Tables.lineitem(spark, dir), "l_suppkey"),
      shape("orders->customer", Tables.orders(spark, dir), "o_custkey"))
      .reduce(_.unionByName(_))
      .orderBy(col("edge"))
  }

  /** ZERO-COST in-flight DQ counters via `Dataset.observe` — the
    * production alternative to [[nullKeys]]' separate aggregate pass:
    * the metrics ride the SAME job that writes/consumes the frame (one
    * scan total), collected on the driver through the Observation
    * accumulator when the action finishes. Attach before the terminal
    * action; read after:
    *
    * {{{
    * val (obs, framed) = DataQuality.observedNullCounts(df, Seq("k1"))
    * framed.write.parquet(out)          // the ONLY pass over the data
    * val rows = obs.get("rows"); val nulls = obs.get("null_k1")
    * }}}
    *
    * The spec gates the observed values against the standalone
    * [[nullKeys]] aggregate — the two paths must agree cell-for-cell
    * — and the type-aware isnan rule is shared (the reference's
    * crash-on-dates bug stays designed out on this path too).
    */
  def observedNullCounts(df: DataFrame,
      cols: Seq[String]): (org.apache.spark.sql.Observation, DataFrame) = {
    require(cols.nonEmpty, "observe at least one column")
    val obs = org.apache.spark.sql.Observation()
    val nulls = nullCounts(df, cols).zip(cols).map { case (n, c) => n.as(s"null_$c") }
    (obs, df.observe(obs, count(lit(1)).as("rows"), nulls: _*))
  }

  /** Deletion-propagation audit (q250): given a deletion cohort
    * (modeled as negative-balance customers — the erasure-request
    * list), count how many rows each downstream table still references
    * — directly (orders by custkey, events by user id) and
    * transitively (lineitem through the cohort's orders). This is the
    * right-to-be-forgotten compliance scan a lakehouse runs BEFORE and
    * AFTER a purge job; the per-table basis-point share sizes the
    * rewrite each purge would trigger.
    *
    * Scale shape: the cohort is broadcast into left_semi probes — each
    * table is scanned once, counted with map-side partials, never
    * shuffled; the transitive hop first reduces orders to the cohort's
    * order keys (cohort-sized) before probing lineitem. At 100 TB the
    * scan is the floor for any audit; nothing here exceeds it.
    */
  def deleteAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val del = Tables.customer(spark, dir)
      .filter(round(col("c_acctbal") * 100, 0).cast("long") < 0L)
      .select(col("c_custkey"))
    // the DIRECT probes broadcast (an erasure-request cohort is
    // bounded by definition); the TRANSITIVE key set (the cohort's
    // order keys) grows as cohort × orders-per-customer, so its semi
    // probe carries NO hint — AQE broadcasts while it fits and
    // degrades to a shuffled semi join instead of OOMing on a forced
    // hint (the q72 rule)
    def panel(name: String, df: DataFrame, probe: DataFrame,
        key: String, probeKey: String,
        hintBroadcast: Boolean): DataFrame = {
      val probeSide = if (hintBroadcast) broadcast(probe) else probe
      val refs = df.join(probeSide,
        col(key) === probe(probeKey), "left_semi")
        .agg(count(lit(1)).as("n_referencing"))
      df.agg(count(lit(1)).as("n_rows")).crossJoin(refs)
        .select(lit(name).as("table_name"), col("n_rows"),
          col("n_referencing"),
          expr("n_referencing * 10000 div n_rows").as("ref_bp"))
    }
    val delOrders = Tables.orders(spark, dir)
      .join(broadcast(del), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .select(col("o_orderkey"))
    panel("orders", Tables.orders(spark, dir), del, "o_custkey",
        "c_custkey", hintBroadcast = true)
      .unionByName(panel("events", Tables.events(spark, dir), del,
        "user_id", "c_custkey", hintBroadcast = true))
      .unionByName(panel("lineitem", Tables.lineitem(spark, dir),
        delOrders, "l_orderkey", "o_orderkey", hintBroadcast = false))
      .orderBy(col("table_name"))
  }

  /** Benford first-digit screen (q254): the leading-digit distribution
    * of order totals against Benford's law — the classic
    * fabricated-amounts / unit-mixup tripwire in financial DQ (this
    * synthetic data is NOT Benford-distributed, and the screen's job
    * is exactly to say so, loudly, per digit).
    *
    * Parity: the first digit is pure integer machinery — cents BIGINT →
    * decimal string → first char (BIGINT formatting is exact and
    * identical cross-engine; a log10-based digit would flip at power-
    * of-ten FP boundaries) — and the expectation enters as the literal
    * milli-probability table (301, 176, …) on both engines (PARITY
    * rule 9: never cross-engine transcendentals). One scan,
    * 9-key rollup, LEFT join from the digit domain so absent digits
    * report 0 rather than vanishing.
    */
  def benfordScreen(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val expMilli = Seq(1 -> 301, 2 -> 176, 3 -> 125, 4 -> 97, 5 -> 79,
      6 -> 67, 7 -> 58, 8 -> 51, 9 -> 46)
    import spark.implicits._
    val exp = expMilli.toDF("digit", "exp_milli")
    val obs = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100, 0)
        .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    exp.join(broadcast(obs), Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        expr("coalesce(n_obs, 0) * 10000 div n").as("share_bp"),
        (col("exp_milli") * 10).cast("long").as("exp_bp"),
        abs(expr("coalesce(n_obs, 0) * 10000 div n") -
          col("exp_milli") * 10).cast("long").as("dev_bp"))
      .orderBy(col("digit"))
  }

  /** Functional-dependency audit (q270): for a panel of candidate FDs
    * over `documents` — `source→lang`, `lang→source`, and the key FD
    * `doc_id→source` — count the left-hand values that map to more
    * than one right-hand value and the minimum rows a repair would
    * touch (rows outside each LHS's majority RHS). This is the
    * profiling primitive behind constraint discovery and schema
    * normalization checks (does this column determine that one?), and
    * the exact-counting big sibling of the null/RI profiles (q16/q125).
    *
    * Scale shape: each FD is one `(fd, a, b)` count collapse (map-side
    * partial) followed by an `(fd, a)`-keyed aggregate — the second
    * shuffle's keys are the FIRST aggregate's output, already
    * value-cardinality, not row-cardinality; the final rollup is
    * #FDs rows. All counts exact BIGINT; the verdict is an INT 0/1
    * (PARITY rule 15).
    */
  def fdAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    fdAuditOn(Tables.documents(spark, dir))

  private[graft] def fdAuditOn(docs: DataFrame): DataFrame = {
    def side(fd: String, a: Column, b: Column): DataFrame =
      docs.select(lit(fd).as("fd"), a.cast("string").as("a"),
        b.cast("string").as("b"))
    val pairs = side("source->lang", col("source"), col("lang"))
      .unionByName(side("lang->source", col("lang"), col("source")))
      .unionByName(side("doc_id->source", col("doc_id"), col("source")))
    val perA = pairs.groupBy(col("fd"), col("a"), col("b"))
      .agg(count(lit(1)).as("cnt_b"))
      .groupBy(col("fd"), col("a"))
      .agg(sum(col("cnt_b")).as("n_rows"), count(lit(1)).as("n_b"),
        max(col("cnt_b")).as("max_b"))
    perA.groupBy(col("fd"))
      .agg(count(lit(1)).as("n_lhs"),
        sum(when(col("n_b") > 1, 1L).otherwise(0L)).as("viol_lhs"),
        sum(col("n_rows")).as("total_rows"),
        sum(col("n_rows") - col("max_b")).as("viol_rows"))
      .select(col("fd"), col("n_lhs"), col("viol_lhs"), col("total_rows"),
        col("viol_rows"),
        (col("viol_lhs") === 0L).cast("int").as("holds"))
      .orderBy(col("fd"))
  }

  /** Purchase-velocity screen (q294): (user, day) cells with `minN`
    * or more purchases — the velocity tripwire fraud/abuse review
    * queues run on transaction feeds (a burst of small purchases in
    * one day is the classic stolen-card pattern; q210's bot-burst is
    * the click-side sibling). One corpus pass, one (user, day)
    * aggregate with the threshold applied post-combine; exact counts
    * and cents.
    */
  def velocityScreen(spark: org.apache.spark.sql.SparkSession,
      dir: String, minN: Long = 3L): DataFrame =
    velocityScreenOn(Tables.events(spark, dir), minN)

  private[graft] def velocityScreenOn(ev: DataFrame,
      minN: Long): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(round(col("value") * 100, 0).cast("long")).as("total_c"))
      .filter(col("n_purchases") >= minN)
      .orderBy(col("day"), col("user_id"))

  /** k-anonymity / l-diversity audit (q271): over the quasi-identifier
    * pair (nation, market segment) on `customer`, with account-balance
    * band as the sensitive attribute — the privacy screen a
    * training-data release runs before shipping user-adjacent tables:
    * k = the smallest QI-group size (any group below k re-identifies),
    * l = the smallest count of distinct sensitive values within a
    * group (a group with one sensitive value leaks it even at high k).
    * Reported: both minima plus how many groups and rows sit below the
    * k=5 / l=2 release thresholds. All counts exact.
    *
    * Scale shape: one scan, one (QI)-keyed aggregate with map-side
    * partial distinct on the 3-value sensitive band, one single-row
    * rollup — the same shape at any SF; no per-row output ever leaves
    * the aggregate.
    */
  def kAnonymity(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    kAnonymityOn(Tables.customer(spark, dir))

  private[graft] def kAnonymityOn(cust: DataFrame): DataFrame = {
    val qi = cust.select(col("c_nationkey").as("nation"),
      col("c_mktsegment").as("seg"),
      when(col("c_acctbal") < 0, "neg")
        .when(col("c_acctbal") < 5000, "low")
        .otherwise("high").as("sens"))
    qi.groupBy(col("nation"), col("seg"))
      .agg(count(lit(1)).as("k_size"),
        countDistinct(col("sens")).as("l_div"))
      .agg(count(lit(1)).as("n_groups"),
        min(col("k_size")).as("k_anonymity"),
        min(col("l_div")).as("l_diversity"),
        sum(when(col("k_size") < 5, 1L).otherwise(0L))
          .as("groups_below_k5"),
        sum(when(col("k_size") < 5, col("k_size")).otherwise(0L))
          .as("rows_at_risk_k5"),
        sum(when(col("l_div") < 2, 1L).otherwise(0L))
          .as("groups_below_l2"),
        sum(when(col("l_div") < 2, col("k_size")).otherwise(0L))
          .as("rows_at_risk_l2"))
  }

  /** Column-entropy storage panel (q350): per candidate lineitem
    * column, the Shannon entropy of its value distribution next to
    * the uniform bound log₂(distinct) — the encoding-choice
    * diagnostic a columnar writer reads: entropy_bits is the
    * theoretical dictionary+entropy-coded bits/value, uniform_bits
    * the plain dictionary width, and the gap between them the win
    * from frequency-aware encoding (RLE/bit-packing candidates are
    * the low-entropy rows — flags at ~2 bits vs partkey near its
    * uniform bound). Values are stringified through engine-stable
    * casts only (dates via DATE, quantities via BIGINT — float
    * formatting is NOT cross-engine and never touches this panel);
    * entropy rides the q67 float-log device (4dp round swallows
    * summation-order ULPs; +0.0 normalizes −0.0).
    *
    * Scale shape: one scan with a 5-way stack (constant fan-out),
    * one (column, value) count, column-grain rollups.
    */
  def columnEntropy(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val u = graft.Tables.lineitem(spark, dir).select(expr(
      "stack(5, " +
        "'linestatus', CAST(l_linestatus AS STRING), " +
        "'partkey', CAST(l_partkey AS STRING), " +
        "'quantity', CAST(CAST(l_quantity AS BIGINT) AS STRING), " +
        "'returnflag', CAST(l_returnflag AS STRING), " +
        "'shipdate', CAST(CAST(l_shipdate AS DATE) AS STRING)" +
        ") AS (col_name, v)"))
    val c = u.groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("c"))
    val n = c.groupBy(col("col_name")).agg(sum(col("c")).as("n"))
    c.join(n, "col_name")
      .groupBy(col("col_name"))
      .agg(max(col("n")).as("n_values"),
        count(lit(1)).as("n_distinct"),
        round(-sum((col("c") / col("n")) *
          log(2.0, col("c") / col("n"))) + lit(0.0), 4)
          .as("entropy_bits"),
        round(log(2.0, count(lit(1)).cast("double")), 4)
          .as("uniform_bits"))
      .orderBy(col("col_name"))
  }
}

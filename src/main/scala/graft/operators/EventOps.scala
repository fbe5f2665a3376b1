package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Event-funnel and cohort analytics over the `events` stream table —
  * the behavioral-analytics layer a product pipeline runs next to the
  * curation stack (reference analogue: the per-day event rollups the
  * reference's notebooks sketch; these are the two reports every
  * event warehouse ships beyond daily counts).
  */
object EventOps {

  private val FunnelStages = Seq("signup", "view", "click", "purchase")

  /** Ordered conversion funnel (q103): per user, the earliest `signup`,
    * then the earliest `view` strictly AFTER it, then the earliest
    * `click` after that, then the earliest `purchase` — a user counts
    * toward stage n only if they completed stages 1..n-1 first, in
    * order (the classic ordered-funnel semantics, NOT a bag-of-events
    * count). Output: one row per stage with the surviving user count
    * and its fraction of stage 1.
    *
    * Scale shape: every aggregate and join is keyed on `user_id`, so
    * the whole funnel is one logical hash-partitioning of the events
    * scan reused across stages (exchange reuse; no broadcast of the
    * user frame — at web scale the per-stage user set is NOT small,
    * and the monotone shrinkage stage→stage is exactly what the
    * shuffle-join plan exploits). The stage outputs are single-row
    * aggregates; only the 4-row union and the one division touch the
    * driver-scale plan.
    *
    * Parity: timestamps compare at the µs the nanos narrow to on both
    * engines (see [[graft.Tables.events]]); counts are integers; the
    * only FP cell is ONE division by the stage-1 count, rounded 4dp.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOn(Tables.events(spark, dir))

  /** Per-stage earliest-achievement times (user_id, t) in stage order —
    * the funnel's intermediate truth, shared with the streaming
    * funnel's stream≡batch gate.
    */
  private[graft] def funnelStageTimes(ev: DataFrame): Seq[(String, DataFrame)] = {
    val base = ev.select(col("user_id"), col("event_type"), col("ts"))
    // Stage 1: earliest signup per user; stage n: earliest stage-n event
    // strictly after the user's stage-(n-1) time.
    FunnelStages.tail.foldLeft(
      base.filter(col("event_type") === FunnelStages.head)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t")) :: Nil) {
      (acc, stage) =>
        val prev = acc.head
        val next = base.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("t").as("t_prev")), Seq("user_id"))
          .filter(col("ts") > col("t_prev"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        next :: acc
    }.reverse.zip(FunnelStages).map { case (df, s) => (s, df) }
  }

  private[graft] def funnelOn(ev: DataFrame): DataFrame = {
    val stageTimes = funnelStageTimes(ev).map(_._2)
    val counts = stageTimes.zip(FunnelStages).zipWithIndex.map {
      case ((df, stage), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).cast("int").as("stage"),
            lit(stage).as("event_type"), col("n_users"))
    }.reduce(_.union(_))
    val top = counts.filter(col("stage") === 1)
      .select(col("n_users").as("n_top"))
    counts
      .crossJoin(broadcast(top))
      .withColumn("pct_of_top",
        round(col("n_users").cast("double") / col("n_top"), 4))
      .select(col("stage"), col("event_type"), col("n_users"),
        col("pct_of_top"))
      .orderBy(col("stage"))
  }

  /** Weekly cohort retention (q104): users are cohorted by the week of
    * their first activity (weeks indexed from the corpus epoch
    * 2024-01-01), and each (cohort, offset) cell counts the cohort
    * members active `offset` weeks later. The denominator is the
    * cohort size, so `week_offset = 0` rows read exactly 1.0 — the
    * standard triangular retention report.
    *
    * Scale shape: the per-user-week activity grid is the one corpus
    * shuffle (distinct on (user, week) with map-side partial
    * collapse); cohort assignment is a per-user min; the
    * cohort-size frame is |weeks| rows → broadcast back onto the
    * cell aggregate. Nothing driver-side, nothing quadratic.
    *
    * Parity: day arithmetic on DATE values under the UTC session;
    * integer `div 7` on non-negative days (truncation = floor on both
    * engines); the only FP cell is the final division, rounded 4dp —
    * n_active ≥ 1 so no negative-zero hazard.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionOn(Tables.events(spark, dir))

  private[graft] def cohortRetentionOn(ev: DataFrame): DataFrame = {
    val weeks = ev
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("day"))
      .select(col("user_id"), expr("CAST(day div 7 AS INT)").as("week"))
      .distinct()
    val cohort = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    weeks
      .join(cohort, Seq("user_id"))
      .withColumn("week_offset", (col("week") - col("cohort_week")).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_users"), 4))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Last-touch attribution (q106): for every purchase, the most recent
    * click by the same user that happened strictly before it, and the
    * click→purchase latency — the conversion-attribution join every
    * event warehouse runs. Purchases with no prior click keep a null
    * attribution (dropping them would overstate attributed revenue).
    *
    * Scale shape: NOT a join — one window over (user_id, ts, event_id)
    * carries the running "last click seen" forward, so the whole
    * operator is a single hash-partition of the events scan plus a
    * row-local filter. The per-user ordering key includes event_id, so
    * the order is total even under timestamp ties.
    *
    * Parity: ids and µs-epoch differences are integers; timestamps
    * compare at the µs both engines narrow nanos to. No FP anywhere.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame =
    lastTouchAttributionOn(Tables.events(spark, dir))

  private[graft] def lastTouchAttributionOn(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ev.select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")),
          ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts")))
          .as("latency_us"))
      .orderBy(col("purchase_id"))
  }

  /** Default per-user distinct-item cap for the pair-expanding
    * operators (q107 item-PMI, q113 PageRank edge build). 500 is far
    * above the sf0.1 max per-user activity (67 distinct items), so the
    * cap is LOSSLESS at every test scale (the q121 pick-the-bound-
    * above-the-data trick) while bounding the worst per-user pair
    * fan-out to cap²/2 ≈ 125k rows — a single task's worth — no matter
    * how pathological one bot account gets at 100 TB.
    */
  private[graft] val DefaultUserItemCap = 500

  /** The (user, item) interaction grid with a DETERMINISTIC per-user
    * item cap — the market-basket fan-out guard shared by q107's PMI
    * pairing and q113's PageRank edge build (the `effectiveDfCap`
    * playbook from the dedup postings, applied to users).
    *
    * Per user, items are ranked by (event count DESC, item ASC) — a
    * total order, so the kept set is engine-independent — and only the
    * top `cap` survive to the downstream self-join. Without this, one
    * power user with n distinct items produces n² pair rows inside a
    * single user_id key: a hot-key quadratic task no salting can split
    * (the pairs all carry the same join key). With it, per-user output
    * is ≤ cap(cap−1)/2 rows, period.
    *
    * Scale shape: one corpus shuffle for the (user, item) count grid
    * (map-side partial agg collapses duplicate events first), then a
    * per-user row_number — window input is DISTINCT items per user
    * (linear, already collapsed), not raw events. Loss contract: items
    * beyond a user's top-`cap` are dropped from pairing AND from the
    * marginals, so every downstream statistic is computed over one
    * consistent bounded universe (documented, deterministic loss —
    * same trade as the df-capped dedup postings).
    */
  private[graft] def cappedUserItems(ev: DataFrame,
      cap: Int = DefaultUserItemCap): DataFrame = {
    val counted = ev
      .select(col("user_id"),
        // no filter on the parsed alias: every event carries $.k (pinned
        // at all 3 SFs) and Catalyst would push the predicate back through
        // the project, doubling the JSON parse (VERDICT r12 item 4)
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .groupBy(col("user_id"), col("item"))
      .agg(count(lit(1)).as("n_ev"))
    counted
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("n_ev").desc, col("item"))))
      .filter(col("rk") <= cap)
      .select(col("user_id"), col("item"))
  }

  /** Item co-occurrence with PMI (q107): item pairs interacted with by
    * the same user, scored by pointwise mutual information over user
    * sets — the collocation statistic behind "frequently bought
    * together" and behind keyphrase mining when run over token
    * windows. Output: top `k` pairs with support ≥ `minSupport`.
    *
    * Scale shape: the (user, item) grid is one corpus shuffle with
    * map-side collapse, then [[cappedUserItems]] bounds each user to
    * their top-`userItemCap` items (deterministic, lossless at test
    * scale) so the per-user-key self-join is quadratic only in the CAP,
    * never in raw activity — the standard market-basket guard, same
    * cap family as the dedup postings. Item marginals and the user
    * count are broadcast-scale and computed over the same capped grid
    * (one consistent universe for the PMI denominator).
    *
    * Parity: all counts are integers; PMI = ln of an integer-valued
    * double product ratio, rounded 6dp at the only FP boundary, and
    * the (pmi DESC, i, j) order is total so LIMIT k is deterministic.
    * The oracle replays the identical cap rule.
    */
  def itemCooccurrence(spark: SparkSession, dir: String, k: Int = 25,
      minSupport: Int = 5): DataFrame =
    itemCooccurrenceOn(Tables.events(spark, dir), k, minSupport)

  private[graft] def itemCooccurrenceOn(ev: DataFrame, k: Int = 25,
      minSupport: Int = 5,
      userItemCap: Int = DefaultUserItemCap): DataFrame = {
    // the capped (user, item) grid feeds FOUR consumers (both self-join
    // sides, the marginals, the user count); un-materialized, each one
    // re-runs the full events scan + JSON parse + grid aggregation +
    // cap window — 4 corpus passes for one query. Materialize the grid
    // once (lazy checkpoint): it is the small decision relation, never
    // the event payload.
    val ui = cappedUserItems(ev, userItemCap).localCheckpoint(eager = false)
    val pairs = ui.as("a")
      .join(ui.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_i"), col("b.item").as("item_j"))
      .agg(count(lit(1)).as("n_ij"))
      .filter(col("n_ij") >= minSupport)
    val marg = ui.groupBy(col("item")).agg(count(lit(1)).as("n_u"))
    val nUsers = ui.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    pairs
      .join(broadcast(marg.select(col("item").as("item_i"),
        col("n_u").as("n_i"))), Seq("item_i"))
      .join(broadcast(marg.select(col("item").as("item_j"),
        col("n_u").as("n_j"))), Seq("item_j"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_i"), col("item_j"), col("n_ij"),
        round(log((col("n_ij").cast("double") * col("n_users").cast("double"))
          / (col("n_i").cast("double") * col("n_j").cast("double"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("item_i"), col("item_j"))
      .limit(k)
  }

  /** Rolling 7-day active users (q110): per observed day, the distinct
    * users active that day (DAU), in the trailing 7-day window (WAU7),
    * and the DAU/WAU7 stickiness ratio — the engagement triple every
    * product dashboard plots.
    *
    * Scale shape: a sliding DISTINCT cannot be windowed directly, so
    * each (user, day) activity cell FANS OUT to the ≤7 window days it
    * contributes to (`explode(sequence(day, day+6))` — row-local,
    * codegen) and the window count becomes a plain per-day distinct
    * aggregate: two shuffles total (activity grid, per-day distinct),
    * each with map-side collapse, nothing quadratic in days or users.
    * The exact path is deliberate — the approximate dual is the q42
    * HLL family; at 100 TB swap `countDistinct` for
    * `approx_count_distinct` and keep the identical fan-out shape.
    *
    * Parity: integer day arithmetic (UTC dates), integer counts, one
    * 4dp division; DAU ≥ 1 on observed days so no signed-zero hazard.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    rollingActiveUsersOn(Tables.events(spark, dir))

  /** Daily-volume anomaly detection (q112): z-score of each day's event
    * count against the TRAILING 7 days (excluding the day itself — the
    * day under test must not contaminate its own baseline), flagging
    * |z| > 2 — the alerting primitive every metrics pipeline runs over
    * its daily rollups.
    *
    * Scale shape: the corpus collapses to one row per day first (the
    * only corpus-scale shuffle); the window then runs over the daily
    * SERIES — series length = days observed, independent of corpus
    * size, so the unpartitioned window is a non-issue at any SF (same
    * argument as q48's running total).
    *
    * Parity: the window carries integer sum / sum-of-squares only, so
    * frame accumulation order cannot matter; mean and variance come
    * out of the integers in ONE closed-form expression per cell
    * (`(n·Σx² − (Σx)²) / (n(n−1))`), sqrt is correctly rounded on both
    * engines (the q97 contract), and the z rounds 4dp with the
    * signed-zero normalization on the oracle side. Zero-variance
    * windows yield null z (no fabricated infinities).
    */
  def dailyAnomalies(spark: SparkSession, dir: String): DataFrame =
    dailyAnomaliesOn(Tables.events(spark, dir))

  private[graft] def dailyAnomaliesOn(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
        .as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day")).rowsBetween(-7, -1)
    daily
      .withColumn("cnt7", count(col("n")).over(w))
      .withColumn("sum7", sum(col("n")).over(w))
      .withColumn("sumsq7", sum(col("n") * col("n")).over(w))
      .filter(col("cnt7") === 7)
      .withColumn("num", lit(7L) * col("sumsq7") - col("sum7") * col("sum7"))
      .withColumn("z",
        when(col("num") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("n").cast("double") - col("sum7").cast("double") / 7.0) /
              sqrt(col("num").cast("double") / 42.0), 4)))
      .withColumn("is_anomaly", (abs(col("z")) > 2.0).cast("int"))
      .select(col("day"), col("n"), col("z"), col("is_anomaly"))
      .orderBy(col("day"))
  }

  /** Event-type transition matrix (q126): per-user consecutive event
    * pairs (total order: ts then event_id) rolled into global Markov
    * transition counts and probabilities — the behavioral sequence-
    * mining primitive behind session modeling and anomaly scoring.
    *
    * Scale shape: one shuffle on user_id for the lag window, then a
    * transition-matrix-sized (|types|²) aggregation; the probability is
    * an exact integer ratio — one division, then the 6dp round — and
    * the normalizing sum is a window over ≤ |types| rows.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsOn(Tables.events(spark, dir))

  private[graft] def eventTransitionsOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("prev_type"))
    ev.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n").cast("double") / sum(col("n")).over(wPrev), 6))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** User journey paths (q134): each user's full event-type sequence
    * under the (ts, event_id) total order collapsed to a path signature
    * ("signup->view->click"), then the most common journeys — the
    * funnel-path-mining rollup product teams run over months of events.
    *
    * Scale shape: one shuffle on user_id; the per-user path is built
    * row-locally from a sort_array'd struct list (no window), and the
    * path rollup is journey-cardinality-sized. Per-user event counts
    * bound the array (sessions at 100 TB would pre-split by day); the
    * top-k cut is a count-ordered limit with a total tie order.
    */
  def userPaths(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    userPathsOn(Tables.events(spark, dir), k)

  private[graft] def userPathsOn(ev: DataFrame, k: Int = 10): DataFrame =
    pathCountsOn(ev)
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)

  /** The full (path, n_users) distribution shared by q134's top-k view
    * and q200's entropy — one assembly so the path definition cannot
    * drift.
    */
  private[graft] def pathCountsOn(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
        struct(col("ts"), col("event_id"), col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(concat_ws("->", expr("transform(es, x -> x.event_type)"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))

  /** In-session conversion (q201): of the sessions that contain a
    * click, how many also contain a purchase STRICTLY AFTER the
    * session's first click — conversion measured inside the q58
    * session boundary (the funnel q103 measures lifetime conversion;
    * this measures "did they buy in the same visit", the number
    * product teams actually page on). Built on the SHARED
    * [[CoreQueries.sessionEventsOn]] assignment so the session
    * definition cannot drift from q58/q174. One user-keyed window
    * (q58's own shape) then a per-session aggregate carrying min click
    * ts and the converted flag in one pass; final rollup is one row.
    * Integers + one division.
    */
  def sessionConversion(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame =
    sessionConversionOn(Tables.events(spark, dir), gapMinutes)

  private[graft] def sessionConversionOn(ev: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    val se = CoreQueries.sessionEventsOn(ev, gapMinutes)
    val per = se.groupBy(col("user_id"), col("session_seq"))
      .agg(min(when(col("event_type") === "click", col("ts")))
        .as("first_click"))
    val conv = se
      .join(per, Seq("user_id", "session_seq"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(max(col("first_click").isNotNull.cast("int")).as("has_click"),
        // when() so a clickless session scores 0, not a null max
        max(when(col("event_type") === "purchase" &&
          col("ts") > col("first_click"), 1).otherwise(0)).as("converted"))
    conv.agg(count(lit(1)).as("n_sessions"),
        sum(col("has_click")).cast("long").as("n_with_click"),
        sum(col("converted")).cast("long").as("n_converted"))
      .select(col("n_sessions"), col("n_with_click"), col("n_converted"),
        round(col("n_converted").cast("double") /
          col("n_with_click").cast("double"), 4).as("conversion_rate"))
  }

  /** Item-adoption age profile (q202): events per item-age-in-weeks
    * (weeks since the item's first appearance) with the active-item
    * count per age — the cold-start curve that says how fast new items
    * pick up activity and how long it persists. Two week-keyed
    * aggregates (first-week per item is a min with map-side partials),
    * one broadcast-scale join back; all integers.
    */
  def itemAdoption(spark: SparkSession, dir: String): DataFrame =
    itemAdoptionOn(Tables.events(spark, dir))

  private[graft] def itemAdoptionOn(ev: DataFrame): DataFrame = {
    // ONE corpus scan, ONE JSON parse per row: aggregate the event
    // stream straight down to the bounded (item, week) grid (map-side
    // partials), then localCheckpoint the grid so the self-join below
    // operates at GRID scale — the old shape joined two full
    // event-stream branches (two scans) and Catalyst's inferred
    // join-key not-null filters substituted the parse back in, costing
    // up to three parses per row (VERDICT r12 item 4; Round13OpsSpec
    // pins the single-parse plan). One (item, week) grid row per
    // active cell, so `count(1)` per age IS the distinct-item count —
    // the event stream never Expands through the aggregation (the
    // q42ApproxDistinct trap).
    val counts = ev
      .select(get_json_object(col("props"), "$.k").cast("int").as("item"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') div 7 AS INT)")
          .as("week"))
      .groupBy(col("item"), col("week"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val first = counts.groupBy(col("item"))
      .agg(min(col("week")).as("first_week"))
    counts.join(first, "item")
      .groupBy((col("week") - col("first_week")).as("age_weeks"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_items_active"))
      .orderBy(col("age_weeks"))
  }

  /** Time-decayed item popularity (q315): per-item cent mass under an
    * exponential half-life — the recency weighting a recommendation /
    * curation pipeline applies so last quarter's fad doesn't outrank
    * this week's signal. EXACT on integers: the decay is a binary
    * shift `v_c >> (age_days div half_life)` — halving per elapsed
    * half-life with integer truncation — so both engines compute
    * identical cell values with no float in sight (a float `exp`
    * decay can straddle rounding boundaries between engines; the
    * shift cannot). Anchor date fixed; `retained_ppm` is the
    * decayed/raw mass ratio on the ppm grid.
    *
    * Totality guards (ADVICE r13): the shift count is clamped to
    * [0, 62] on BOTH sides — Spark's `shiftright` masks the count to
    * the low 6 bits (Java `>>`) while DuckDB's `>>` does not, so an
    * unclamped count diverges silently for events newer than the
    * anchor (negative age → no decay under the clamp) or older than
    * 62 half-lives (fully decayed). Negative cents shift on the
    * magnitude with the sign reapplied (truncation toward zero on
    * both engines, PARITY rule 4), and the ratio guards raw_c = 0
    * (Spark DIV → null vs DuckDB // → error).
    *
    * Scale shape: one projection (single JSON parse — the r13 rule) +
    * one map-side-combinable aggregate to the bounded item grid. The
    * shift folds inside partial aggregation, so a hot item costs one
    * partial row per partition.
    */
  def decayedPopularity(spark: SparkSession, dir: String): DataFrame =
    decayedPopularityOn(Tables.events(spark, dir))

  private[graft] def decayedPopularityOn(ev: DataFrame): DataFrame =
    ev.select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        round(col("value") * 100, 0).cast("long").as("v_c"),
        datediff(lit(java.sql.Date.valueOf("2024-02-15")),
          col("ts").cast("date")).as("age"))
      .select(col("k"), col("v_c"),
        expr("CAST(greatest(0L, least(62L, age div 7)) AS INT)").as("sh"))
      .select(col("k"), col("v_c"),
        expr("CASE WHEN v_c >= 0 THEN shiftright(v_c, sh)" +
          " ELSE -shiftright(-v_c, sh) END").as("dv"))
      .groupBy(col("k"))
      .agg(sum(col("v_c")).as("raw_c"), sum(col("dv")).as("decayed_c"))
      .select(col("k"), col("raw_c"), col("decayed_c"),
        when(col("raw_c") =!= 0L,
          expr("CAST(CAST(decayed_c AS decimal(38,0)) * 1000000 DIV raw_c" +
            " AS BIGINT)")).otherwise(lit(0L)).as("retained_ppm"))
      .orderBy(col("k"))

  /** Watermark-delay tuning panel (q317): for each candidate delay,
    * the share of REPEAT-key events arriving within that delay of the
    * key's previous write — the measurement that sizes
    * `dropDuplicatesWithinWatermark`'s delay (streaming op 18) and the
    * watermarked aggs' state budget: `within_ppm` at delay d IS the
    * duplicate-catch rate the bounded-state dedup achieves with delay
    * d, and its complement is the re-admission rate the batch q27
    * backstop must absorb. State cost grows linearly with d (the
    * StreamStateSizeSpec invariant), so this panel is the
    * cost/coverage curve read before choosing.
    *
    * Scale shape: one projection (single JSON parse), one
    * (user, key)-partitioned lag window — per-key frames, never a
    * global sort — one 1-row conditional aggregate, unpivoted over
    * the constant 4-delay grid.
    */
  def dedupDelayPanel(spark: SparkSession, dir: String): DataFrame =
    dedupDelayPanelOn(Tables.events(spark, dir))

  private[graft] def dedupDelayPanelOn(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("k"))
      .orderBy(col("us"), col("event_id"))
    val gaps = ev
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(expr("(us - prev_us) div 1000000").as("gap_s"))
    gaps.agg(count(lit(1)).as("n_repeats"),
        sum(when(col("gap_s") <= 3600L, 1L).otherwise(0L)).as("w1"),
        sum(when(col("gap_s") <= 86400L, 1L).otherwise(0L)).as("w2"),
        sum(when(col("gap_s") <= 259200L, 1L).otherwise(0L)).as("w3"),
        sum(when(col("gap_s") <= 604800L, 1L).otherwise(0L)).as("w4"))
      .select(expr("stack(4, 3600L, w1, 86400L, w2, 259200L, w3, " +
        "604800L, w4) AS (delay_s, n_within)"), col("n_repeats"))
      .select(col("delay_s"), col("n_repeats"), col("n_within"),
        when(col("n_repeats") > 0, expr(
          "CAST(CAST(n_within AS decimal(38,0)) * 1000000 DIV n_repeats" +
            " AS BIGINT)")).otherwise(lit(0L)).as("within_ppm"))
      .orderBy(col("delay_s"))
  }

  /** Value order-of-magnitude histogram (q319): per event type, event
    * counts and cent mass by `floor(log2(cents))` bucket — the
    * monitoring grid that catches magnitude drift (a payments feed
    * suddenly carrying 10× values, a unit-confusion bug) that a mean
    * or a fixed-band histogram blurs. The bucket is integer-exact on
    * both engines as `length(bin(v)) − 1` — never a float log that
    * could straddle a power-of-two boundary.
    *
    * Totality guards (ADVICE r13): the bucket is computed on
    * `abs(v_c)` with an explicit `sgn` grouping column — Spark's
    * `bin()` formats a negative long as the 64-char two's-complement
    * string while DuckDB formats it differently, so a raw negative
    * cent value would both land in a meaningless bucket and diverge
    * between engines. The mass share guards `tot_c = 0` (possible
    * under mixed signs; Spark DIV → null vs DuckDB // → error).
    *
    * Scale shape: one map-side-combinable aggregate to the
    * (type × ~64 buckets) grid, one grid-sized equi-join for the
    * per-type mass shares.
    */
  def valueMagnitudeProfile(spark: SparkSession, dir: String): DataFrame =
    valueMagnitudeProfileOn(Tables.events(spark, dir))

  private[graft] def valueMagnitudeProfileOn(ev: DataFrame): DataFrame = {
    val log = ev.select(col("event_type"),
      round(col("value") * 100, 0).cast("long").as("v_c"))
    val tot = log.groupBy(col("event_type"))
      .agg(sum(col("v_c").cast("decimal(38,0)")).as("tot_c"))
    log.groupBy(col("event_type"),
        when(col("v_c") < 0, -1).otherwise(1).cast("int").as("sgn"),
        (length(bin(abs(col("v_c")))) - 1).cast("int").as("log2_bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_c")).as("cents"))
      .join(tot, Seq("event_type"))
      .select(col("event_type"), col("sgn"), col("log2_bucket"),
        col("n_events"), col("cents"),
        when(col("tot_c") =!= 0,
          expr("CAST(CAST(cents AS decimal(38,0)) * 1000000 DIV tot_c" +
            " AS BIGINT)")).otherwise(lit(0L)).as("mass_ppm"))
      .orderBy(col("event_type"), col("sgn"), col("log2_bucket"))
  }

  /** Sessionization gap tuning panel (q320): session counts and
    * density under candidate inactivity gaps — the measurement behind
    * the 30-minute constant every session consumer (q58/q174/q201 and
    * the streaming sessionizers) hard-codes. A session count that
    * swings hard between adjacent gaps means the threshold sits inside
    * the natural inter-event rhythm (sessions are an artifact); a
    * plateau means it separates real visits. `n_sessions(g) =
    * n_users + #gaps > g` — first events open sessions, and a user's
    * first event is exactly the row whose lag is NULL, so the whole
    * panel is ONE user-partitioned lag window + one conditional
    * aggregate unpivoted over the constant gap grid.
    */
  def sessionGapPanel(spark: SparkSession, dir: String): DataFrame =
    sessionGapPanelOn(Tables.events(spark, dir))

  private[graft] def sessionGapPanelOn(ev: DataFrame): DataFrame = {
    // order by the projected epoch micros — monotone-identical to ts
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = ev
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .select(expr("(us - prev_us) div 1000000").as("gap_s"))
    gaps.agg(
        sum(when(col("gap_s").isNull, 1L).otherwise(0L)).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(when(col("gap_s") > 600L, 1L).otherwise(0L)).as("b1"),
        sum(when(col("gap_s") > 1800L, 1L).otherwise(0L)).as("b2"),
        sum(when(col("gap_s") > 3600L, 1L).otherwise(0L)).as("b3"))
      .select(expr("stack(3, 600L, n_users + b1, 1800L, n_users + b2, " +
        "3600L, n_users + b3) AS (gap_s, n_sessions)"), col("n_events"))
      .select(col("gap_s"), col("n_sessions"),
        expr("CAST(CAST(n_events AS decimal(38,0)) * 1000 DIV n_sessions" +
          " AS BIGINT)").as("events_per_ksession"))
      .orderBy(col("gap_s"))
  }

  /** Half-period share-shift screen (q321): each item's cent-mass
    * share in the first vs second half of the observation window and
    * the signed ppm shift — the drift screen that catches an item
    * whose RELATIVE importance moved even while every absolute total
    * grew (shares are zero-sum, so shifts point at each other). All
    * integer: per-half cents are conditional sums on the bounded item
    * grid, shares divide once onto the ppm grid, and the shift is a
    * difference of the ROUNDED shares so both engines subtract the
    * same integers.
    */
  def shareShift(spark: SparkSession, dir: String): DataFrame =
    shareShiftOn(Tables.events(spark, dir))

  private[graft] def shareShiftOn(ev: DataFrame): DataFrame = {
    val log = ev.select(
      get_json_object(col("props"), "$.k").cast("int").as("k"),
      round(col("value") * 100, 0).cast("long").as("v_c"),
      when(col("ts").cast("date") <=
        lit(java.sql.Date.valueOf("2024-01-15")), 0).otherwise(1).as("h"))
    val per = log.groupBy(col("k")).agg(
      sum(when(col("h") === 0, col("v_c")).otherwise(0L)).as("c1"),
      sum(when(col("h") === 1, col("v_c")).otherwise(0L)).as("c2"))
    per.crossJoin(broadcast(per.agg(
        sum(col("c1").cast("decimal(38,0)")).as("t1"),
        sum(col("c2").cast("decimal(38,0)")).as("t2"))))
      .select(col("k"), col("c1"), col("c2"),
        expr("CAST(CAST(c1 AS decimal(38,0)) * 1000000 DIV t1 AS BIGINT)")
          .as("share1_ppm"),
        expr("CAST(CAST(c2 AS decimal(38,0)) * 1000000 DIV t2 AS BIGINT)")
          .as("share2_ppm"))
      .withColumn("shift_ppm", col("share2_ppm") - col("share1_ppm"))
      .orderBy(col("k"))
  }

  /** Journey-diversity entropy (q200): Shannon entropy of the full
    * user-path distribution — one number separating "everyone walks the
    * same funnel" (≈0 bits) from "every user is unique" (log₂ n bits),
    * the diversity complement of q134's top-k view. Integer path
    * counts; the entropy sum follows the q67 contract (float terms,
    * round AFTER summation, +0.0 for the single-path −0.0 case).
    *
    * Scale shape: the global user total rides in as a broadcast 1-row
    * scalar (the house crossJoin pattern), NEVER an empty-partition
    * window — distinct journeys approach user cardinality in the worst
    * case, and an unpartitioned frame would funnel all of them through
    * one task.
    */
  def journeyEntropy(spark: SparkSession, dir: String): DataFrame =
    journeyEntropyOn(Tables.events(spark, dir))

  private[graft] def journeyEntropyOn(ev: DataFrame): DataFrame = {
    val pc = pathCountsOn(ev)
    val tot = pc.agg(sum(col("n_users")).as("n"))
    pc.crossJoin(broadcast(tot))
      .groupBy()
      .agg(max(col("n")).as("n_users"),
        count(lit(1)).as("n_paths"),
        round(-sum((col("n_users") / col("n")) *
          log(2.0, col("n_users") / col("n"))) + lit(0.0), 4)
          .as("entropy_bits"))
      .select(col("n_users"), col("n_paths"), col("entropy_bits"))
  }

  /** Bot-burst screening (q210): per user, the PEAK number of events
    * inside any rolling 10-minute event-time window, banded — the
    * activity-burst complement of the [[cappedUserItems]] fan-out guard
    * (the cap bounds what a bot can do to downstream joins; this finds
    * the bots). Bands: ≤2, 3–5, 6–10, 11–20, >20 events/10 min.
    *
    * Scale shape: one user_id shuffle; the RANGE frame orders each
    * USER's events by epoch second (per-user partitioned — never a
    * global frame) and counts peers in [t, t+600], so the frame is
    * bounded by per-user activity. Integer counts end to end; the
    * RANGE-on-seconds formulation is tie-stable (peers at the same
    * second are all included, so row order within a second is
    * irrelevant — the q58 determinism rule for time frames).
    */
  def botBurst(spark: SparkSession, dir: String): DataFrame =
    botBurstOn(Tables.events(spark, dir))

  private[graft] def botBurstOn(ev: DataFrame): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("sec")).rangeBetween(0, 600)
    ev.select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
      .withColumn("in_win", count(lit(1)).over(frame))
      .groupBy(col("user_id"))
      .agg(max(col("in_win")).as("peak"))
      .select(col("user_id"),
        when(col("peak") <= 2, 0L).when(col("peak") <= 5, 1L)
          .when(col("peak") <= 10, 2L).when(col("peak") <= 20, 3L)
          .otherwise(4L).as("burst_band"), col("peak"))
      .groupBy(col("burst_band"))
      .agg(count(lit(1)).as("n_users"), max(col("peak")).as("max_peak"))
      .orderBy(col("burst_band"))
  }

  /** Shared sliding-window count frame (10-minute span, 5-minute
    * slide): each event belongs to exactly TWO windows determined by
    * its own event time, so counts are commutative sums and the SAME
    * expression tree serves the batch query (q212) and the streaming
    * operator ([[graft.streaming.BurstStream]]) — the stream ≡ batch
    * gate compares this very plan against itself over a landed file.
    */
  private[graft] def slidingCountsOn(ev: DataFrame,
      span: String = "10 minutes", slide: String = "5 minutes"): DataFrame =
    ev.groupBy(window(col("ts"), span, slide), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("window.start").as("win_start"),
        col("n_events"))

  /** Peak sliding-window load (q212): the top-k hottest (user, 10-min
    * window) cells under a 5-minute slide — q210 reports each user's
    * lifetime peak band; this names WHEN and WHO, the page an on-call
    * abuse rotation actually opens. Total order (n_events DESC,
    * user_id, win_start) so LIMIT k is deterministic.
    *
    * Scale shape: the slide multiplies rows 2× (span/slide) before ONE
    * (window, user) count with map-side partials; the top-k is a
    * TakeOrdered. Integer counts end to end.
    */
  def slidingLoad(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    slidingCountsOn(Tables.events(spark, dir))
      .orderBy(col("n_events").desc, col("user_id"), col("win_start"))
      .limit(k)
      // the q58 emit rule: NTZ on the oracle boundary (wall-clock equal
      // under the UTC session; DuckDB compares naive timestamps)
      .select(col("user_id"),
        col("win_start").cast("timestamp_ntz").as("win_start"),
        col("n_events"))

  /** Partition-stats manifest (q138): per event day — the natural write
    * partition — row count, user-key bounds, and type cardinality: the
    * Iceberg/Delta-style manifest row that lets a planner prune
    * partitions by key range before touching data. Two-level aggregation
    * so the distinct-type count never Expands the row stream (the
    * q42ApproxDistinct trap).
    */
  def partitionStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"), col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("user_id")).as("mnu"),
        max(col("user_id")).as("mxu"))
      .groupBy(col("day"))
      .agg(sum(col("n")).as("n_rows"), min(col("mnu")).as("min_user"),
        max(col("mxu")).as("max_user"), count(lit(1)).as("n_types"))
      .orderBy(col("day"))

  /** RFM segmentation (q149): per user — Recency (days since the user's
    * last event, vs the corpus max day), Frequency (event count),
    * Monetary (value summed in integer CENTS) — each folded into a log2
    * band via `length(bin(x)) − 1` (the q129 idiom), then segment counts
    * per (r, f, m) band triple. Fixed log2 boundaries instead of
    * rank-based terciles on purpose: banding is map-side arithmetic with
    * no global sort/NTILE (which would need a full-corpus window at
    * 100 TB), and the bands are stable across runs/engines.
    *
    * Scale shape: ONE user-keyed aggregation (map-side partial), a
    * 1-row broadcast for the corpus max day, then a ≤(bands³)-key
    * rollup. Monetary is `sum(round(value·100)::long)` — integer-exact,
    * no float-sum ordering hazard.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsOn(Tables.events(spark, dir))

  private[graft] def rfmSegmentsOn(ev: DataFrame): DataFrame = {
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val maxDay = ev.agg(max(to_date(col("ts"))).as("corpus_max_day"))
    perUser.crossJoin(broadcast(maxDay))
      .select(
        (length(bin(datediff(col("corpus_max_day"), col("last_day")) + 1)) - 1)
          .cast("int").as("r_band"),
        (length(bin(col("freq"))) - 1).cast("int").as("f_band"),
        (length(bin(coalesce(col("cents"), lit(0L)) + 1)) - 1)
          .cast("int").as("m_band"))
      .groupBy(col("r_band"), col("f_band"), col("m_band"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("r_band"), col("f_band"), col("m_band"))
  }

  /** Inter-arrival gap stats (q150): per event type, the distribution of
    * time gaps between each user's CONSECUTIVE events (the later event's
    * type claims the gap) — the load-model statistic behind session
    * timeout tuning and bot detection (humans have heavy-tailed gaps;
    * scripts are metronomes).
    *
    * Scale shape: one per-user window (hash-partitioned by user_id —
    * never a global sort), gaps in integer MICROSECONDS end to end;
    * the only float is the final avg division, one per output row.
    */
  def interArrival(spark: SparkSession, dir: String): DataFrame =
    interArrivalOn(Tables.events(spark, dir))

  private[graft] def interArrivalOn(ev: DataFrame): DataFrame = {
    // order by the micros projection itself (ts is projected away)
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        round(sum(col("gap_us")).cast("double") / count(lit(1)) / lit(1e6), 3)
          .as("avg_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Dyadic EWMA of daily counts (q151): per event type, the daily event
    * count plus a 16-term exponentially-weighted moving average with
    * α = 1/2 — `Σ_{k=0..15} cnt(day−k)·2^−(k+1)` as a FIXED expression
    * tree of lag() terms. α = 1/2 is deliberate: every weight is dyadic,
    * every product of an integer count is exactly representable, and the
    * 16-term span keeps all partial sums inside 53 mantissa bits — the
    * sum is EXACT, order-independent, and can never hit a decimal
    * rounding tie (a dyadic value's decimal tail cannot be exactly 5),
    * so both engines produce bit-identical 6dp rounds. The same trick as
    * q83's dyadic classifier weights, applied to smoothing.
    *
    * Scale shape: daily rollup first (events → |types|·|days| rows), so
    * the window runs over a tiny per-type frame regardless of corpus
    * size.
    */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame =
    ewmaDailyOn(Tables.events(spark, dir))

  private[graft] def ewmaDailyOn(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val ewma = (0 until 16).map(k =>
        coalesce(lag(col("cnt"), k).over(w).cast("double"), lit(0.0)) *
          lit(math.pow(0.5, k + 1)))
      .reduce(_ + _)
    daily
      .withColumn("ewma16", round(ewma, 6))
      .select(col("event_type"), col("day"), col("cnt"), col("ewma16"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Day-of-week seasonality profile (q152): per event type, event count
    * and share by day of week. The weekday comes from pure integer date
    * arithmetic — `(days_since_epoch + 4) mod 7` (1970-01-01 was a
    * Thursday; 0 = Sunday) — instead of engine dayofweek() functions,
    * whose numbering conventions differ (Spark 1-7 Sun-first, DuckDB
    * 0-6). Map-side banding, one |types|·7-key rollup, one division per
    * output row.
    */
  def dowProfile(spark: SparkSession, dir: String): DataFrame =
    dowProfileOn(Tables.events(spark, dir))

  private[graft] def dowProfileOn(ev: DataFrame): DataFrame = {
    val counts = ev
      .select(col("event_type"),
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 4,
          lit(7)).cast("int").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"))
    counts
      .withColumn("share", round(col("n_events").cast("double") /
        sum(col("n_events")).over(Window.partitionBy(col("event_type"))), 6))
      .orderBy(col("event_type"), col("dow"))
  }

  private[graft] def rollingActiveUsersOn(ev: DataFrame): DataFrame = {
    val act = ev
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("day"))
      .distinct()
    val wau = act
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wday"))
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    act.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      .join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau7"),
        round(col("dau").cast("double") / col("wau7"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Daily OHLC bars (q176): per (event_type, day) — opening and
    * closing `value` plus low/high/count, the time-series compaction
    * behind any metric dashboard. Open/close are SELECTED by a
    * lexicographic struct min/max on (ts, event_id, value) — a plain
    * aggregate with map-side partials (NOT a per-partition window sort),
    * deterministic because event_id breaks ts ties, and fp-safe because
    * no float is ever accumulated: every output is one of the input
    * doubles, bit-for-bit.
    */
  def dailyOhlc(spark: SparkSession, dir: String): DataFrame =
    dailyOhlcOn(Tables.events(spark, dir))

  private[graft] def dailyOhlcOn(ev: DataFrame): DataFrame =
    ev
      .select(col("event_type"), to_date(col("ts")).as("day"),
        struct(col("ts"), col("event_id").as("eid"), col("value").as("v"))
          .as("rec"),
        col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(min(col("rec")).getField("v").as("open"),
        max(col("rec")).getField("v").as("close"),
        min(col("value")).as("low"), max(col("value")).as("high"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("day"))

  /** Daily peak session concurrency (q180): the interval-counting
    * classic — +1 at each session start, −1 at each end, running sum,
    * per-day max — WITHOUT a global-order window: within-day running
    * sums run in day-partitioned windows, and the cross-day carry (the
    * sessions still open at midnight) is a cumulative sum of per-day
    * nets over the bounded |days| frame — the q130/q140 two-phase
    * pattern applied to interval counting. The spec proves two-phase ≡
    * the naive global running sum.
    *
    * Determinism at timestamp ties: boundaries order by (ts, delta
    * DESC, user, seq) — all starts before all ends at an instant
    * (inclusive-interval convention), and the per-day MAX of the
    * running sum is invariant to permutations inside those tie groups.
    * Pure integer counting throughout. Output covers days that have at
    * least one boundary.
    */
  def peakConcurrency(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame =
    peakConcurrencyOn(Tables.events(spark, dir), gapMinutes)

  /** Exact value quartiles per event type (q196): p25/p50/p75 of the
    * cent-quantized `value` WITHOUT a per-group row sort — the q175
    * doubled-unit rank-pick generalized from the median to all three
    * quartiles: rank r(p) = ⌈p·(n+1)/4⌉-style lower/upper picks,
    * summed in doubled units so every statistic stays integral until
    * one display division per cell. The scale-honest exact complement
    * to q56's sort-based percentiles and q74's GK sketch: the
    * cumulative windows run on the (type, cents)-HISTOGRAM frame
    * (bounded by the value domain), never on event rows.
    */
  def valueQuartiles(spark: SparkSession, dir: String): DataFrame =
    valueQuartilesOn(Tables.events(spark, dir))

  private[graft] def valueQuartilesOn(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = ev
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val c = h
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("event_type")).orderBy(col("cents"))))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("event_type"))))
    // doubled-unit rank picks per quartile q/4: lo = v[ceil(q·n/4)]
    // (smallest value with 4·cum ≥ q·n); when q·n divides by 4 the
    // quantile averages ranks r and r+1, so hi = v[r+1] (smallest with
    // 4·cum ≥ q·n + 4) — the summed pair is 2× the quartile either way
    // (the q175 med2 rule generalized; q=2 reproduces it exactly)
    val agg = c.groupBy(col("event_type")).agg(
      min(col("n")).as("n"),
      min(when(col("cum") * 4L >= col("n") * 1L, col("cents"))).as("lo1"),
      min(when(col("cum") * 4L >= col("n") * 1L + 4L, col("cents"))).as("hi1"),
      min(when(col("cum") * 4L >= col("n") * 2L, col("cents"))).as("lo2"),
      min(when(col("cum") * 4L >= col("n") * 2L + 4L, col("cents"))).as("hi2"),
      min(when(col("cum") * 4L >= col("n") * 3L, col("cents"))).as("lo3"),
      min(when(col("cum") * 4L >= col("n") * 3L + 4L, col("cents"))).as("hi3"))
    def q2(q: Int) =
      when(col("n") * q % 4 === 0L,
        col(s"lo$q") + coalesce(col(s"hi$q"), col(s"lo$q")))
        .otherwise(col(s"lo$q") * 2L)
    agg
      .select(col("event_type"), col("n").as("n_events"),
        round(q2(1).cast("double") / lit(200.0), 4).as("p25"),
        round(q2(2).cast("double") / lit(200.0), 4).as("p50"),
        round(q2(3).cast("double") / lit(200.0), 4).as("p75"))
      .orderBy(col("event_type"))
  }

  private[graft] def peakConcurrencyOn(ev: DataFrame,
      gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = CoreQueries.sessionsOn(ev, gapMinutes)
    val bounds = sess.select(col("user_id"), col("session_seq"),
        unix_micros(col("session_start")).as("ts_us"), lit(1L).as("delta"))
      .union(sess.select(col("user_id"), col("session_seq"),
        unix_micros(col("session_end")).as("ts_us"), lit(-1L).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("ts_us"))))
    val wIn = Window.partitionBy(col("day"))
      .orderBy(col("ts_us"), col("delta").desc, col("user_id"),
        col("session_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDay = bounds
      .withColumn("run", sum(col("delta")).over(wIn))
      .groupBy(col("day"))
      .agg(max(col("run")).as("peak_in"), sum(col("delta")).as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"))
    // cross-day carry over the bounded per-day frame only
    val wOff = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("carry", coalesce(sum(col("net")).over(wOff), lit(0L)))
      .select(col("day"),
        (col("carry") + col("peak_in")).as("peak_concurrency"),
        col("n_starts"), col("n_ends"))
      .orderBy(col("day"))
  }

  /** Daily-load autocorrelation (q239): Pearson correlation of the
    * daily event-count series against itself at lags 1..`maxLag` days
    * — the periodicity screen (weekly seasonality shows as a bump at
    * lag 7) run before capacity planning or anomaly thresholds are
    * set. The q219/q131 exact-moment pattern: the lag alignment is a
    * day-keyed equi self-join of the TINY daily series (≤ corpus-days
    * rows — the series aggregation is the only corpus-scale pass), all
    * five moments are exact integer sums, and FP appears solely in the
    * final covariance/σσ division, rounded 6dp, with the zero-variance
    * guard pinned to 0.0.
    */
  def dailyAutocorr(spark: SparkSession, dir: String,
      maxLag: Int = 7): DataFrame =
    dailyAutocorrOn(Tables.events(spark, dir), maxLag)

  private[graft] def dailyAutocorrOn(ev: DataFrame, maxLag: Int): DataFrame = {
    val daily = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val lagged = daily.select(col("day").as("lday"), col("n").as("y"))
    val lags = ev.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val pairs = daily
      .crossJoin(broadcast(lags))
      .join(lagged, expr("lday = date_add(day, -lag)"))
    val num = col("m") * col("sxy") - col("sx") * col("sy")
    val vx = col("m") * col("sxx") - col("sx") * col("sx")
    val vy = col("m") * col("syy") - col("sy") * col("sy")
    pairs
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("n")).as("sx"),
        sum(col("y")).as("sy"), sum(col("n") * col("y")).as("sxy"),
        sum(col("n") * col("n")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("m").as("n_pairs"),
        when(vx === 0L || vy === 0L, lit(0.0)).otherwise(
          round(num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
          .as("autocorr"))
      .orderBy(col("lag"))
  }

  /** Daily lead-lag cross-correlation (q240): Pearson correlation of
    * `typeX`'s daily counts at day t−lag against `typeY`'s at day t,
    * for lags 0..`maxLag` — "do clicks lead purchases, and by how many
    * days?", the funnel-latency diagnostic at series granularity
    * (q106/q233 answer it per pair; this answers it per corpus).
    * Same exact-integer-moment machinery as [[dailyAutocorr]]; pairs
    * are the INNER alignment (days where both series observed — with
    * daily-active event types every day qualifies; a sparse type
    * would want zero-filling, a documented variant).
    */
  def crossCorr(spark: SparkSession, dir: String,
      typeX: String = "click", typeY: String = "purchase",
      maxLag: Int = 7): DataFrame =
    crossCorrOn(Tables.events(spark, dir), typeX, typeY, maxLag)

  private[graft] def crossCorrOn(ev: DataFrame, typeX: String,
      typeY: String, maxLag: Int): DataFrame = {
    def series(t: String) = ev.filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
    val sx = series(typeX).select(col("day").as("xday"), col("n").as("x"))
    val sy = series(typeY).select(col("day"), col("n").as("y"))
    val lags = ev.sparkSession.range(0, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val num = col("m") * col("sxy") - col("sx") * col("sy")
    val vx = col("m") * col("sxx") - col("sx") * col("sx")
    val vy = col("m") * col("syy") - col("sy") * col("sy")
    sy.crossJoin(broadcast(lags))
      .join(sx, expr("xday = date_add(day, -lag)"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("m").as("n_pairs"),
        when(vx === 0L || vy === 0L, lit(0.0)).otherwise(
          round(num.cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
          .as("crosscorr"))
      .orderBy(col("lag"))
  }

  /** SCD Type-2 dimension history (q245): fold each user's purchase
    * stream into validity-ranged spend-band rows — the lakehouse
    * slowly-changing-dimension primitive (band from exact integer-cent
    * thresholds; a new row ONLY when the band changes, so the history
    * is run-length-compressed; `valid_to` = next change's timestamp,
    * open-ended + `is_current` = 1 on the live row; `version` is the
    * per-user change ordinal). Ordering ties break on event_id, so the
    * history is total-ordered and deterministic.
    *
    * Scale shape: one shuffle on user_id serves all three windows
    * (lag-compress, lead-close, version) — same partitioning, no
    * re-exchange between them; at 100 TB this is the standard
    * merge-into-dim maintenance job, run per ingest batch with the
    * change detection exactly as here.
    */
  def scd2Bands(spark: SparkSession, dir: String,
      highC: Long = 10000L, midC: Long = 2500L): DataFrame =
    scd2BandsOn(Tables.events(spark, dir), highC, midC)

  private[graft] def scd2BandsOn(ev: DataFrame, highC: Long = 10000L,
      midC: Long = 2500L): DataFrame = {
    val valueC = round(col("value") * 100, 0).cast("long")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        when(valueC >= highC, "high")
          .when(valueC >= midC, "mid")
          .otherwise("low").as("band"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changes = p
      .withColumn("prev", lag(col("band"), 1).over(w))
      .filter(col("prev").isNull || col("band") =!= col("prev"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("int"))
      // validity bounds as epoch micros: raw timestamps cross the gate
      // with engine-specific tz-awareness (Spark parquet is
      // UTC-adjusted, DuckDB naive) — integers are representation-free
      .select(col("user_id"), col("band"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(col("valid_to")).as("valid_to_us"),
        col("version"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Point-in-time dimension join (q248): each click enriched with the
    * spend band that was valid AT ITS TIMESTAMP in the [[scd2Bands]]
    * history — the "dimension time travel" lookup every lakehouse
    * feature store runs (joining facts to the dim row as-of the fact,
    * never the current row, avoids label leakage). Clicks before the
    * user's first band change roll up under 'none'.
    *
    * Scale shape: NOT an interval join — the band changes and the
    * clicks are unioned and window-folded per user (the q49 as-of
    * union trick): one user_id shuffle, last-non-null band carried
    * forward, markers sorting before clicks on timestamp ties (a
    * band takes effect AT its valid_from). An interval join would
    * re-scan the history per click; this folds both in one pass.
    */
  def pitBandMix(spark: SparkSession, dir: String): DataFrame =
    pitBandMixOn(Tables.events(spark, dir))

  private[graft] def pitBandMixOn(ev: DataFrame): DataFrame = {
    val dim = scd2BandsOn(ev)
      .select(col("user_id"), col("band"), col("valid_from_us"),
        col("version"))
    val markers = dim.select(col("user_id"),
      col("valid_from_us").as("t_us"), lit(0).as("kind"),
      col("version"), col("band"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("kind"), lit(Int.MaxValue).as("version"),
        lit(null).cast("string").as("band"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("kind"), col("version"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    markers.unionByName(clicks)
      .withColumn("band_at", last(col("band"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .groupBy(coalesce(col("band_at"), lit("none")).as("band"))
      .agg(count(lit(1)).as("n_clicks"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("band"))
  }

  /** Last-touch revenue attribution (q256): each purchase's value
    * credited to the user's most recent NON-purchase event within the
    * lookback window (else 'direct') — the marketing-attribution
    * rollup every event warehouse ships first. Determinism: at equal
    * timestamps a touch sorts before the purchase (a same-instant
    * touch attributes) and the highest event_id wins among tied
    * touches — both pinned against the oracle's `ts DESC,
    * event_id DESC` pick.
    *
    * Scale shape: the q49/q248 as-of union fold — touches and
    * purchases share ONE user_id shuffle and a single carry-forward
    * window (the last-touch struct rides `last(_, ignoreNulls)`),
    * with the lookback enforced AFTER the fold by comparing the
    * carried timestamp. A per-purchase interval join would re-scan
    * each user's history per purchase; this is one pass.
    */
  def lastTouch(spark: SparkSession, dir: String,
      lookbackHours: Int = 6): DataFrame =
    lastTouchOn(Tables.events(spark, dir), lookbackHours)

  private[graft] def lastTouchOn(ev: DataFrame,
      lookbackHours: Int): DataFrame = {
    val base = ev.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t_us"), col("event_type"),
      round(col("value") * 100, 0).cast("long").as("rev_c"))
    val touches = base.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("t_us"), lit(0).as("kind"),
        col("event_id"),
        struct(col("t_us").as("m_us"), col("event_type").as("m_type"))
          .as("touch"), lit(null).cast("long").as("rev_c"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t_us"), lit(1).as("kind"),
        col("event_id"),
        lit(null).cast("struct<m_us:bigint,m_type:string>").as("touch"),
        col("rev_c"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lookbackUs = lookbackHours * 3600L * 1000000L
    touches.unionByName(purchases)
      .withColumn("lt", last(col("touch"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("rev_c"),
        when(col("lt").isNotNull &&
            col("lt.m_us") > col("t_us") - lookbackUs, col("lt.m_type"))
          .otherwise("direct").as("channel"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("rev_c")).as("revenue_c"))
      .orderBy(col("channel"))
  }

  /** A/B experiment readout (q257): users deterministically assigned
    * to arms by `user_id mod 2` (the hash-bucket assignment every
    * experimentation platform uses — reproducible, no RNG), conversion
    * = at least one big-ticket purchase (≥ `thresholdC` integer
    * cents), reported per arm with the exact integer rate and the
    * pooled two-proportion z-score. The z is the ONE float in the
    * panel: computed from exact integer counts through the SAME
    * literal IEEE expression tree on both engines (the q89 rule —
    * no pre-folded constants), rounded 6dp at the display boundary.
    *
    * Scale shape: one events pass to per-user conversion flags
    * (map-side partial max), a 2-key rollup, and a broadcast 1-row
    * scalar frame for the z — nothing here grows past |users|.
    */
  def abTest(spark: SparkSession, dir: String,
      thresholdC: Long = 20000L): DataFrame =
    abTestOn(Tables.events(spark, dir), thresholdC)

  private[graft] def abTestOn(ev: DataFrame, thresholdC: Long): DataFrame = {
    val arms = ev
      .groupBy(col("user_id"), (col("user_id") % 2).as("arm"))
      .agg(max(when(col("event_type") === "purchase" &&
          round(col("value") * 100, 0).cast("long") >= thresholdC, 1)
        .otherwise(0)).as("converted"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).cast("long").as("n_converted"))
    val s = arms.agg(
      max(when(col("arm") === 0, col("n_users"))).as("n0"),
      max(when(col("arm") === 0, col("n_converted"))).as("c0"),
      max(when(col("arm") === 1, col("n_users"))).as("n1"),
      max(when(col("arm") === 1, col("n_converted"))).as("c1"))
    val pbar = (col("c0") + col("c1")).cast("double") /
      (col("n0") + col("n1")).cast("double")
    val z = round(
      (col("c1").cast("double") / col("n1").cast("double") -
        col("c0").cast("double") / col("n0").cast("double")) /
        sqrt(pbar * (lit(1.0) - pbar) *
          (lit(1.0) / col("n0").cast("double") +
            lit(1.0) / col("n1").cast("double"))), 6)
    arms.crossJoin(broadcast(s.select(z.as("z_score"))))
      .select(col("arm").cast("long").as("arm"), col("n_users"),
        col("n_converted"),
        expr("n_converted * 10000 div n_users").as("rate_bp"),
        col("z_score"))
      .orderBy(col("arm"))
  }

  /** Position-based (U-shaped) multi-touch attribution (q258): each
    * purchase's credit split 40/20/40 across its first touch, middle
    * touches, and last touch inside the lookback — the multi-touch
    * counterpart of q256's last-touch rule. Credit lives on the
    * integer MILLIONTHS grid with an exact conservation law: single
    * touch takes 1e6, two touches split 5e5/5e5, n ≥ 3 gives first
    * 4e5, each middle `2e5 div (n−2)`, and the LAST touch absorbs the
    * division remainder — so every purchase's credits sum to exactly
    * 1e6 (spec-pinned), and touchless purchases surface as 'direct'.
    *
    * Scale shape: one user-keyed join bounds pairs by
    * touches-per-lookback-window (the q233 interval shape); the
    * rank/count windows partition by purchase. Fully integer — no FP
    * fractions to drift between engines.
    */
  def positionAttribution(spark: SparkSession, dir: String,
      lookbackHours: Int = 6): DataFrame =
    positionAttributionOn(Tables.events(spark, dir), lookbackHours)

  private[graft] def positionAttributionOn(ev: DataFrame,
      lookbackHours: Int): DataFrame = {
    val lookbackUs = lookbackHours * 3600L * 1000000L
    val base = ev.select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t_us"), col("event_type"))
    val p = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("t_us").as("p_us"))
    val t = base.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("t_id"),
        col("t_us"), col("event_type").as("channel"))
    val pairs = p.join(t, Seq("user_id"))
      .filter(col("t_us") <= col("p_us") &&
        col("t_us") > col("p_us") - lookbackUs)
    val wRk = Window.partitionBy(col("p_id"))
      .orderBy(col("t_us"), col("t_id"))
    val wN = Window.partitionBy(col("p_id"))
    val midEach = expr("200000 div (n_t - 2)")
    val credited = pairs
      .withColumn("rk", row_number().over(wRk))
      .withColumn("n_t", count(lit(1)).over(wN))
      .withColumn("credit_e6",
        when(col("n_t") === 1, lit(1000000L))
          .when(col("n_t") === 2, lit(500000L))
          .when(col("rk") === 1, lit(400000L))
          .when(col("rk") === col("n_t"),
            lit(400000L) + lit(200000L) - midEach * (col("n_t") - 2))
          .otherwise(midEach))
    val touched = credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touch_rows"),
        sum(col("credit_e6")).as("credit_e6"))
    val direct = p.join(pairs.select(col("p_id")).distinct(),
        Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_touch_rows"),
        (count(lit(1)) * 1000000L).as("credit_e6"))
      .select(lit("direct").as("channel"), col("n_touch_rows"),
        col("credit_e6"))
    touched.unionByName(direct)
      .filter(col("n_touch_rows") > 0)
      .orderBy(col("channel"))
  }

  /** Daily conversion-latency quantiles (q261): per purchase day, the
    * exact p50/p90 of the view→purchase latency (each purchase paired
    * with the user's LAST view within 24 h via the as-of union fold —
    * one user shuffle, no interval join). Quantiles are EXPLICIT rank
    * picks over day-partitioned windows — `(n+1) div 2` lower median,
    * `(9n+9) div 10` ceil-rank p90 — single selected values, never an
    * interpolated or averaged float (the q175 selection rule), so the
    * panel is integer-exact end to end.
    *
    * Scale shape: the fold shares one user_id shuffle; the quantile
    * windows partition by day (conversions-per-day frames), and the
    * final rollup reuses the day partitioning.
    */
  def conversionLatency(spark: SparkSession, dir: String,
      maxLagHours: Int = 24): DataFrame =
    conversionLatencyOn(Tables.events(spark, dir), maxLagHours)

  private[graft] def conversionLatencyOn(ev: DataFrame,
      maxLagHours: Int): DataFrame = {
    val maxLagUs = maxLagHours * 3600L * 1000000L
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(0).as("kind"), col("event_id"),
        unix_micros(col("ts")).as("v_us"),
        lit(null).cast("string").as("p_day"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        lit(1).as("kind"), col("event_id"),
        lit(null).cast("long").as("v_us"),
        to_date(col("ts")).cast("string").as("p_day"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lat = views.unionByName(purchases)
      .withColumn("lv", last(col("v_us"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("lv").isNotNull &&
        col("t_us") - col("lv") <= maxLagUs)
      .select(col("p_day").as("day"),
        (col("t_us") - col("lv")).as("latency_us"))
    val wd = Window.partitionBy(col("day")).orderBy(col("latency_us"))
    val wn = Window.partitionBy(col("day"))
    lat.withColumn("rk", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("day"))
      .agg(max(col("n")).as("n_conversions"),
        max(when(col("rk") === expr("(n + 1) div 2"), col("latency_us")))
          .as("p50_us"),
        max(when(col("rk") === expr("(9 * n + 9) div 10"),
          col("latency_us"))).as("p90_us"))
      .orderBy(col("day"))
  }

  /** Theil–Sen robust trend of daily load (q259): the median of all
    * pairwise day-to-day slopes — the outlier-proof trend estimator
    * (one corrupted day moves OLS, not the pairwise median), reported
    * beside the exact-integer-moment OLS slope for the robust-vs-LS
    * gap. Each pairwise slope is ONE double division of exact
    * integers; the median picks rank values explicitly
    * (`(n+1) div 2` / `(n+2) div 2`, averaged — commutative 2-term
    * add) — never an engine-specific percentile.
    *
    * Scale shape: the corpus pass is the daily count; the pair frame
    * is CALENDAR-bounded (≤ days², independent of event volume — a
    * century is ~6.7e8 pairs), so the global rank window runs on a
    * bounded frame by construction (the q182/q252 bounded-rank rule).
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenOn(Tables.events(spark, dir))

  private[graft] def theilSenOn(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
      .agg(count(lit(1)).as("y"))
    val slopes = daily.toDF("xi", "yi")
      .join(daily.toDF("xj", "yj"), col("xi") < col("xj"))
      .select(col("xi"), col("xj"),
        ((col("yj") - col("yi")).cast("double") /
          (col("xj") - col("xi")).cast("double")).as("s"))
    val n = slopes.agg(count(lit(1)).as("n_pairs"))
    val ranked = slopes.withColumn("rn",
      row_number().over(Window.orderBy(col("s"), col("xi"), col("xj"))))
    val med = ranked.crossJoin(broadcast(n))
      .filter(col("rn") === expr("(n_pairs + 1) div 2") ||
        col("rn") === expr("(n_pairs + 2) div 2"))
      .agg(round(avg(col("s")), 6).as("theil_sen"))
    val m = daily.agg(count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    // OLS moment products on decimal(38,0): n·Σxy − Σx·Σy passes 2^63
    // once daily volume × span does (a 10^12-event decade already) —
    // Long wraps silently, the oracle's HUGEINT doesn't (PARITY rule
    // 13); the slope itself is one double division of the exact values
    m.crossJoin(broadcast(n)).crossJoin(broadcast(med))
      .select(col("n_days"), col("n_pairs"), col("theil_sen"),
        round((col("n_days").cast("decimal(38,0)") * col("sxy") -
            col("sx").cast("decimal(38,0)") * col("sy"))
          .cast("double") /
          (col("n_days").cast("decimal(38,0)") * col("sxx") -
            col("sx").cast("decimal(38,0)") * col("sx"))
            .cast("double"), 6).as("ols_slope"))
  }

  /** CUSUM mean-shift changepoint per event type (q263): the day at
    * which the cumulative deviation from the series mean peaks — the
    * classic single-changepoint detector behind pipeline-volume drift
    * alarms. The statistic is cross-multiplied onto integers:
    * `|n_days·cum_d − idx_d·total|` is the CUSUM `|Σ(x−x̄)|` scaled by
    * the constant `n_days`, so argmax (and the reported peak) are
    * integer-exact with no running float sum. Products sit on
    * decimal(38,0)/HUGEINT — day volume × span passes 2^63 well inside
    * a 100 TB year (PARITY rule 13) — and narrow to BIGINT only at the
    * output boundary. Ties break to the earliest day.
    *
    * Scale shape: one corpus pass collapses to the (type, day) panel;
    * the windows all share the per-type partitioning of that
    * day-granularity frame (calendar-bounded, the q151/q259 rule).
    */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame =
    cusumChangepointOn(Tables.events(spark, dir))

  private[graft] def cusumChangepointOn(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val dev = daily
      .withColumn("idx", row_number().over(wOrd)
        .cast("decimal(38,0)"))
      .withColumn("cum", sum(col("cnt"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("decimal(38,0)"))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("cnt")).over(wAll)
        .cast("decimal(38,0)"))
      .withColumn("adev", abs(col("n_days").cast("decimal(38,0)") *
        col("cum") - col("idx") * col("total")))
    dev
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("event_type"))
        .orderBy(col("adev").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n_days").cast("long").as("n_days"),
        col("day").as("cp_day"),
        col("adev").cast("long").as("max_abs_dev_nd"))
      .orderBy(col("event_type"))
  }

  /** Propensity-score calibration (q267): bucket users by a simple
    * behavioral predictor — first-half-of-month click share, on the
    * integer milli grid — and audit it against the second-half
    * big-ticket-purchase outcome: the reliability table (mean predicted
    * vs empirical rate per bucket) plus an exact per-bucket Brier score.
    * This is the eval every learned quality/propensity model gets
    * before its scores gate data (the q83/q123 scores are inputs to
    * exactly this audit). All arithmetic is integer: p and y live on
    * the milli grid, `(p−y)²` sums on decimal(38,0) — 1e6 per row ×
    * 1e13 rows passes 2^63 (PARITY rule 13) — and every division is a
    * floor div at the output boundary.
    *
    * Scale shape: both halves are one events scan each, collapsed to
    * user-grain before the join; the bucket rollup is a ≤10-key
    * aggregate. The month-split (2024-01-16) and big-ticket threshold
    * (10000 cents) are fixture constants of the synthetic feed (the
    * q257 convention).
    */
  def propensityCalibration(spark: SparkSession, dir: String,
      thresholdC: Long = 10000L): DataFrame =
    propensityCalibrationOn(Tables.events(spark, dir), thresholdC)

  /** The (p_milli, y_milli) scored-user frame shared by the q267
    * calibration panel and the q298 exact AUC — one predictor/outcome
    * definition, two audits.
    */
  private[graft] def propensityScoredOn(ev: DataFrame,
      thresholdC: Long): DataFrame = {
    val split = lit("2024-01-16").cast("date")
    val first = ev.filter(to_date(col("ts")) < split)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_click"))
    val outcome = ev.filter(to_date(col("ts")) >= split &&
        col("event_type") === "purchase" &&
        round(col("value") * 100, 0).cast("long") >= thresholdC)
      .select(col("user_id")).distinct()
      .withColumn("hit", lit(1L))
    first.join(outcome, Seq("user_id"), "left")
      .select(expr("n_click * 1000 div n_ev").as("p_milli"),
        (coalesce(col("hit"), lit(0L)) * 1000L).as("y_milli"))
  }

  private[graft] def propensityCalibrationOn(ev: DataFrame,
      thresholdC: Long): DataFrame = {
    val scored = propensityScoredOn(ev, thresholdC)
      .withColumn("bucket", least(expr("p_milli div 50"), lit(9L))
        .cast("int"))
    scored.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("y_milli") === 1000L, 1L).otherwise(0L))
          .as("n_pos"),
        expr("sum(p_milli) div count(1)").as("mean_pred_milli"),
        expr("sum(CASE WHEN y_milli = 1000 THEN 1 ELSE 0 END) * 1000" +
          " div count(1)").as("emp_rate_milli"),
        sum(((col("p_milli") - col("y_milli")) *
          (col("p_milli") - col("y_milli"))).cast("decimal(38,0)"))
          .as("sq_sum"))
      .select(col("bucket"), col("n_users"), col("n_pos"),
        col("mean_pred_milli"), col("emp_rate_milli"),
        expr("sq_sum div (n_users * 1000)").cast("long")
          .as("brier_milli"))
      .orderBy(col("bucket"))
  }

  /** Seasonal-naive forecast skill per event type (q268): MASE — the
    * lag-7 (weekly-seasonal) forecast's MAE against the in-sample
    * lag-1 naive MAE, the scale-free standard for "is this forecast
    * better than persistence". Both MAE numerators stay integer sums;
    * the single reported ratio is cross-multiplied on decimal(38,0)
    * (`mae7·n1·1e6 div (mae1·n7)` — sum × count × 1e6 passes 2^63 at
    * warehouse scale, PARITY rule 13) and floors onto the ppm grid;
    * NULL when the naive MAE is zero (constant series).
    *
    * Scale shape: one corpus pass to the (type, day) panel; lags and
    * sums ride one per-type window partitioning of the
    * calendar-bounded frame.
    */
  def seasonalNaiveMase(spark: SparkSession, dir: String,
      season: Int = 7): DataFrame =
    seasonalNaiveMaseOn(Tables.events(spark, dir), season)

  private[graft] def seasonalNaiveMaseOn(ev: DataFrame,
      season: Int): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("l7", lag(col("cnt"), season).over(w))
      .withColumn("l1", lag(col("cnt"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(col("l7")).as("n7"), count(col("l1")).as("n1"),
        sum(when(col("l7").isNotNull, abs(col("cnt") - col("l7"))))
          .as("mae7_sum"),
        sum(when(col("l1").isNotNull, abs(col("cnt") - col("l1"))))
          .as("mae1_sum"))
      .select(col("event_type"), col("n7").as("n_eval_days"),
        col("mae7_sum"), col("mae1_sum"),
        when(col("mae1_sum") > 0,
          expr("(CAST(mae7_sum AS decimal(38,0)) * n1 * 1000000) div " +
            "(CAST(mae1_sum AS decimal(38,0)) * n7)"))
          .cast("long").as("mase_ppm"))
      .orderBy(col("event_type"))
  }

  /** Time-to-first-purchase hazard table (q283): the discrete
    * survival-analysis panel — per day-since-first-activity, how many
    * users were still unconverted (`at_risk`), how many converted that
    * day, how many ran out of observation window (censored at the
    * dataset's last day, 2024-01-30 in this feed) — with the discrete
    * hazard `converts·1e6 div at_risk` on the ppm grid. The panel is
    * the exact-integer core of Kaplan–Meier; the survival-product
    * chain (a float telescope) is deliberately left to the consumer,
    * so the gate stays integer-exact (the q207 discount-table
    * philosophy applied to survival).
    *
    * Scale shape: two user-grain aggregates meet in one user_id join;
    * the day panel is calendar-bounded, and `at_risk` is a REVERSE
    * cumulative sum over it — no per-user correlated scan.
    */
  def conversionHazard(spark: SparkSession, dir: String): DataFrame =
    conversionHazardOn(Tables.events(spark, dir))

  private[graft] def conversionHazardOn(ev: DataFrame): DataFrame = {
    val firstEv = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("d0"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("dp"))
    val u = firstEv.join(firstP, Seq("user_id"), "left")
      .select(datediff(coalesce(col("dp"),
          lit("2024-01-30").cast("date")), col("d0")).as("t_day"),
        col("dp").isNotNull.cast("int").as("converted"))
    val byDay = u.groupBy(col("t_day"))
      .agg(count(lit(1)).as("n_at_day"),
        sum(col("converted").cast("long")).as("n_convert"),
        sum((col("converted") === 0).cast("long")).as("n_censored"))
    byDay
      .withColumn("at_risk", sum(col("n_at_day")).over(
        Window.orderBy(col("t_day").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("t_day").cast("int").as("t_day"), col("at_risk"),
        col("n_convert"), col("n_censored"),
        expr("n_convert * 1000000 div at_risk").as("hazard_ppm"))
      .orderBy(col("t_day"))
  }

  /** Markov stationary distribution of the event-type chain (q286):
    * where a user's event stream settles in steady state — `iters`
    * exact power iterations of the per-user transition matrix (q126's
    * relation) on the integer ppm grid, the q113 fixed-point playbook
    * applied to a behavior model: each step is one join + one
    * aggregate over (states × states) rows, per-term floor division
    * (`m·c div tot` on decimal(38,0)/HUGEINT — PARITY rule 13), a
    * fixed iteration count, localCheckpoint per round, no driver
    * convergence loop. Floors shed ≤1 ppm per matrix cell per round
    * (deterministic, documented) for a cell-exact gate; the oracle
    * replays the identical rounds as MATERIALIZED CTEs (the q173
    * rule).
    *
    * Scale shape: ONE corpus-scale window builds the transition
    * counts; every iteration after that runs on state-cardinality
    * frames (5 rows here; bounded by the event-type vocabulary).
    */
  def markovStationary(spark: SparkSession, dir: String,
      iters: Int = 8): DataFrame =
    markovStationaryOn(Tables.events(spark, dir), iters)

  private[graft] def markovStationaryOn(ev: DataFrame,
      iters: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = ev
      .select(col("event_type"), lag(col("event_type"), 1).over(w)
        .as("prev_t"))
      .filter(col("prev_t").isNotNull)
      .groupBy(col("prev_t").as("i"), col("event_type").as("j"))
      .agg(count(lit(1)).as("c"))
    val rt = tr.groupBy(col("i")).agg(sum(col("c")).as("tot"))
    val trd = tr.join(rt, Seq("i")).persist()
    // lazy per-round checkpoints (r17): each round's state frame (≤
    // |event-type| rows) has exactly ONE consumer — the next round —
    // so the final action materializes the chain in one job instead
    // of paying `iters` eager-checkpoint jobs of fixed overhead on
    // 5-row frames (the q113/q336 lazy shape; single-consumer, so the
    // q173 multi-consumer race does not apply). Lineage still cut per
    // round.
    var v = ev.select(col("event_type").as("t")).distinct()
      .withColumn("m", lit(200000L))
      .localCheckpoint(eager = false)
    (1 to iters).foreach { i =>
      val cp = v.join(trd, col("t") === col("i"))
        .groupBy(col("j"))
        .agg(sum(expr("CAST(m AS decimal(38,0)) * c div tot")).as("m"))
        .select(col("j").as("t"), col("m"))
      // the LAST round materializes eagerly — trd must stay persisted
      // until the whole chain has evaluated, or the unpersist below
      // would force 8 recomputes of the corpus transition window
      v = cp.localCheckpoint(eager = i == iters)
    }
    trd.unpersist()
    v.select(col("t").as("event_type"), col("m").as("stationary_ppm"))
      .orderBy(col("event_type"))
  }

  /** Weekly-cohort cumulative LTV curve (q290): users bucketed by
    * first-activity week, purchase revenue accumulated by
    * weeks-since-cohort — the lifetime-value curve finance reads next
    * to q104's retention matrix (retention says who stays, LTV says
    * what staying is worth). Cents exact; the per-user LTV is one
    * floor division at the boundary; week index = `days-from-epoch-
    * anchor div 7` on both engines (the q152 arithmetic-calendar
    * rule).
    *
    * Scale shape: user-grain first-touch aggregate joined back on
    * user_id (the q103 partitioning), cohort×week cells are
    * calendar-bounded, and the cumulative window runs per cohort on
    * that bounded panel.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtvOn(Tables.events(spark, dir))

  private[graft] def cohortLtvOn(ev: DataFrame): DataFrame = {
    val firstW = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("d0"))
      .select(col("user_id"),
        expr("datediff(d0, DATE '2024-01-01') div 7").cast("int")
          .as("cohort_w"))
    val sz = firstW.groupBy(col("cohort_w"))
      .agg(count(lit(1)).as("n_users"))
    val cell = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        round(col("value") * 100, 0).cast("long").as("v_c"))
      .join(firstW, Seq("user_id"))
      .select(col("cohort_w"),
        (expr("datediff(d, DATE '2024-01-01') div 7").cast("int") -
          col("cohort_w")).as("w_since"), col("v_c"))
      .groupBy(col("cohort_w"), col("w_since"))
      .agg(sum(col("v_c")).as("rev_c"))
    cell.join(broadcast(sz), Seq("cohort_w"))
      .withColumn("cum_rev_c", sum(col("rev_c")).over(
        Window.partitionBy(col("cohort_w")).orderBy(col("w_since"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("cohort_w"), col("w_since"), col("n_users"),
        col("cum_rev_c"),
        expr("cum_rev_c div n_users").as("ltv_c_per_user"))
      .orderBy(col("cohort_w"), col("w_since"))
  }

  /** Exact AUC of the propensity score (q298): the Mann–Whitney
    * rank-sum AUC of q267's predictor against its outcome, computed
    * ENTIRELY in integers — ties handled with midranks on the DOUBLED
    * grid (a tied group spanning ranks lo..hi has 2·midrank =
    * 2·below + n + 1, an integer), so
    * `AUC = (Σ_pos 2·midrank − n_pos(n_pos+1)) / (2·n_pos·n_neg)`
    * floors once onto the ppm grid. The exact complement to q267's
    * bucketed reliability panel: calibration says the scores are
    * honest, AUC says they discriminate.
    *
    * Scale shape: one user-grain pass collapses to the ≤1001-key
    * score grid; the cumulative-below window runs on that bounded
    * grid, and the result is one row. Products ride decimal(38,0)/
    * HUGEINT (rank sums reach n² — PARITY rule 13).
    */
  def exactAuc(spark: SparkSession, dir: String,
      thresholdC: Long = 10000L): DataFrame =
    exactAucOn(Tables.events(spark, dir), thresholdC)

  private[graft] def exactAucOn(ev: DataFrame,
      thresholdC: Long): DataFrame = {
    val g = propensityScoredOn(ev, thresholdC)
      .groupBy(col("p_milli").as("p"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y_milli") === 1000L, 1L).otherwise(0L))
          .as("n_pos"))
    val b = g.withColumn("below", coalesce(sum(col("n")).over(
        Window.orderBy(col("p"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    b.agg(
        sum((col("n_pos") * (lit(2L) * col("below") + col("n") + 1L))
          .cast("decimal(38,0)")).as("sum2r_pos"),
        sum(col("n_pos").cast("decimal(38,0)")).as("npos"),
        sum((col("n") - col("n_pos")).cast("decimal(38,0)")).as("nneg"))
      .select(col("npos").cast("long").as("n_pos"),
        col("nneg").cast("long").as("n_neg"),
        expr("(sum2r_pos - npos * (npos + 1)) * 1000000 div " +
          "(2 * npos * nneg)").cast("long").as("auc_ppm"))
  }

  /** Funnel stage-gap quantile matrix (q305): for each consecutive
    * stage pair of the q103 ordered funnel (built on the SHARED
    * [[funnelStageTimes]] so the stage semantics cannot drift), the
    * exact p50/p90 of the time users took to advance — the "where does
    * the funnel stall" panel next to q103's "where does it leak".
    * Quantiles are explicit rank picks (the q261 selection rule) on
    * integer µs gaps; windows partition per stage.
    */
  def stageGapQuantiles(spark: SparkSession, dir: String): DataFrame =
    stageGapQuantilesOn(Tables.events(spark, dir))

  private[graft] def stageGapQuantilesOn(ev: DataFrame): DataFrame = {
    val stages = funnelStageTimes(ev)
    val gaps = stages.zip(stages.tail).map { case ((s1, a), (s2, b)) =>
      a.select(col("user_id"), col("t").as("ta"))
        .join(b.select(col("user_id"), col("t").as("tb")), Seq("user_id"))
        .select(lit(s"$s1->$s2").as("stage"),
          (unix_micros(col("tb")) - unix_micros(col("ta")))
            .as("gap_us"))
    }.reduce(_.unionByName(_))
    val wr = Window.partitionBy(col("stage")).orderBy(col("gap_us"))
    val wn = Window.partitionBy(col("stage"))
    gaps.withColumn("r", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("stage"))
      .agg(max(col("n")).as("n_users"),
        max(when(col("r") === expr("(n + 1) div 2"), col("gap_us")))
          .as("p50_gap_us"),
        max(when(col("r") === expr("(9 * n + 9) div 10"),
          col("gap_us"))).as("p90_gap_us"))
      .orderBy(col("stage"))
  }

  /** Daily net-position drawdown panel (q292): cumulative net value
    * (purchase revenue minus a fixed per-error penalty), its running
    * peak, and the drawdown below that peak — the max-drawdown ledger
    * risk/ops teams track, built from three STACKED windows over the
    * calendar-bounded day panel (cumsum → running max → difference),
    * all on exact integer cents. The window composition is the point:
    * each layer reuses the same day ordering, so the whole panel is
    * one bounded-frame pass.
    */
  def drawdownPanel(spark: SparkSession, dir: String,
      errPenaltyC: Long = 5000L): DataFrame =
    drawdownPanelOn(Tables.events(spark, dir), errPenaltyC)

  private[graft] def drawdownPanelOn(ev: DataFrame,
      errPenaltyC: Long): DataFrame = {
    val daily = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase",
        round(col("value") * 100, 0).cast("long")).otherwise(0L))
        .as("rev_c"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
      .select(col("day"),
        (col("rev_c") - col("n_err") * errPenaltyC).as("net_c"))
    val wc = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_c", sum(col("net_c")).over(wc))
      .withColumn("peak_c", max(col("cum_c")).over(wc))
      .select(col("day"), col("net_c"), col("cum_c"), col("peak_c"),
        (col("peak_c") - col("cum_c")).as("drawdown_c"))
      .orderBy(col("day"))
  }

  /** Conversion path trigrams (q293): the two event types immediately
    * preceding each purchase in the user's (ts, event_id)-ordered
    * stream, counted — "what do the last two steps before buying look
    * like", the k=3 sequence-mining cut above q126's bigram
    * transitions. One user-partitioned window (two lags share it),
    * then a vocabulary²-key rollup; top-15 on a total order.
    */
  def conversionPaths(spark: SparkSession, dir: String,
      k: Int = 15): DataFrame =
    conversionPathsOn(Tables.events(spark, dir), k)

  private[graft] def conversionPathsOn(ev: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .select(col("event_type"),
        lag(col("event_type"), 1).over(w).as("p1"),
        lag(col("event_type"), 2).over(w).as("p2"))
      .filter(col("event_type") === "purchase" &&
        col("p1").isNotNull && col("p2").isNotNull)
      .groupBy(col("p2"), col("p1"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("p2"), col("p1"))
      .limit(k)
  }

  /** Wilson 95% confidence intervals per experiment arm (q287): the
    * interval the q257 z-readout should be quoted with — Wilson's
    * score bounds behave at small n and extreme rates where the
    * normal interval fails. Counts are exact integers; the two bounds
    * are the ONLY floats, computed through the IDENTICAL literal
    * expression tree on both engines (the q257 one-float rule:
    * z = 1.96 appears only as the literal, never pre-folded) and
    * rounded 6dp at the boundary.
    */
  def wilsonIntervals(spark: SparkSession, dir: String,
      thresholdC: Long = 10000L): DataFrame =
    wilsonIntervalsOn(Tables.events(spark, dir), thresholdC)

  private[graft] def wilsonIntervalsOn(ev: DataFrame,
      thresholdC: Long): DataFrame = {
    val u = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        round(col("value") * 100, 0).cast("long") >= thresholdC, 1L)
        .otherwise(0L)).as("converted"))
      .select(pmod(col("user_id"), lit(2L)).cast("int").as("arm"),
        col("converted"))
    val a = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"))
    val nD = col("n_users").cast("double")
    val p = col("n_converted").cast("double") / nD
    val center = p + lit(1.96) * lit(1.96) / (lit(2.0) * nD)
    val rad = sqrt(p * (lit(1.0) - p) / nD +
      lit(1.96) * lit(1.96) / (lit(4.0) * nD * nD))
    val denom = lit(1.0) + lit(1.96) * lit(1.96) / nD
    a.select(col("arm"), col("n_users"), col("n_converted"),
        round((center - lit(1.96) * rad) / denom, 6).as("wilson_lo"),
        round((center + lit(1.96) * rad) / denom, 6).as("wilson_hi"))
      .orderBy(col("arm"))
  }

  /** Seasonality-adjusted anomaly ranking (q274): the top-10 days
    * whose volume deviates most from their own day-of-week mean —
    * the q112 daily-anomaly idea with the weekly cycle removed first
    * (a busy Monday is only anomalous relative to Mondays; q152's dow
    * profile shows why the raw mean misleads). The deviation
    * `|cnt·n_dow − sum_dow|·1000 div n_dow` is the milli-scaled
    * distance from the dow mean, cross-multiplied so ranking and
    * report are integer-exact; the weekday index is the engine-neutral
    * `(epoch_days + 4) mod 7` (0 = Sunday, the q152 convention — both
    * engines' native dayofweek disagree on the origin). Products ride
    * decimal(38,0)/HUGEINT (PARITY rule 13).
    *
    * Scale shape: one corpus pass to the daily panel; the dow means
    * are a 7-row broadcast back onto it; top-10 is a TakeOrdered on
    * the calendar-bounded frame.
    */
  def seasonalAnomaly(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    seasonalAnomalyOn(Tables.events(spark, dir), k)

  private[graft] def seasonalAnomalyOn(ev: DataFrame, k: Int): DataFrame = {
    val daily = ev
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("day"),
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")) + 4,
          lit(7)).cast("int").as("dow"), col("cnt"))
    val dowm = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_dow"),
        sum(col("cnt").cast("decimal(38,0)")).as("sum_dow"))
    daily.join(broadcast(dowm), Seq("dow"))
      .select(col("day"), col("dow"), col("cnt"),
        expr("(sum_dow * 1000) div n_dow").as("dow_mean_milli"),
        expr("(abs(CAST(cnt AS decimal(38,0)) * n_dow - sum_dow) * 1000)" +
          " div n_dow").as("dev_milli"))
      .orderBy(col("dev_milli").desc, col("day"))
      .limit(k)
  }

  /** Mergeable rank-strided quantile sketch (q327): the distributed
    * GK/KLL story q74 only gestures at, demonstrated end to end with
    * the merge law and the error bound both VISIBLE in the output.
    * Per logical shard (event_id mod 16 — deterministic, not the
    * physical partitioning), the sketch keeps every t-th element of
    * the shard's (v_c, event_id) order with weight min(t, remaining)
    * — a weighted coreset whose per-shard weighted rank is within t of
    * the true shard rank. Merge = weighted union (no re-ranking of raw
    * rows), query = smallest value whose cumulative merged weight
    * reaches the target rank; the absolute rank error is bounded by
    * Σ_shards t. The stride adapts to shard size (t = max(100,
    * sn div 1000)) so the SKETCH stays O(shards · 1000) rows however
    * large the corpus — the bound the partitionless merge window rides.
    *
    * Output per percentile {50, 90, 99}: the exact value (from the
    * value-domain ECDF grid, the q243 class), the sketch estimate, the
    * measured |rank(estimate) − target|, and the Σt bound the math
    * promises — the gate fails if the sketch ever leaves its envelope.
    */
  def quantileSketchMerge(spark: SparkSession, dir: String): DataFrame =
    quantileSketchMergeOn(Tables.events(spark, dir))

  private[graft] def quantileSketchMergeOn(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_id"),
      round(col("value") * 100, 0).cast("long").as("v_c"),
      pmod(col("event_id"), lit(16L)).as("shard"))
    val wSh = Window.partitionBy(col("shard"))
      .orderBy(col("v_c"), col("event_id"))
    val ranked = base
      .withColumn("rn", row_number().over(wSh).cast("long"))
      .withColumn("sn",
        count(lit(1)).over(Window.partitionBy(col("shard"))))
      .withColumn("t", greatest(lit(100L), expr("sn div 1000")))
    val kept = ranked.filter(expr("(rn - 1) % t = 0"))
      .select(col("shard"), col("v_c"), col("rn"),
        least(col("t"), col("sn") - col("rn") + 1).cast("long").as("w"))
    // the merged sketch: O(shards * 1000) rows by construction — the
    // one partitionless window runs over the SKETCH, never the data
    val merged = kept.withColumn("cw",
      sum(col("w")).over(Window.orderBy(col("v_c"), col("shard"), col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val grid = base.groupBy(col("v_c")).agg(count(lit(1)).as("c"))
    val ecdf = grid.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("v_c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = base.agg(count(lit(1)).as("n"))
    val bound = ranked.select(col("shard"), col("t")).distinct()
      .agg(sum(col("t")).as("err_bound"))
    val tgt = tot.select(expr("stack(3, 50, 90, 99) AS p"), col("n"))
      .withColumn("target_rank", expr("(p * n + 99) div 100"))
      .select(col("p"), col("target_rank")).localCheckpoint()
    val exact = broadcast(tgt).join(ecdf, col("cum") >= col("target_rank"))
      .groupBy(col("p"), col("target_rank"))
      .agg(min(col("v_c")).as("exact_v_c"))
    val est = broadcast(tgt).join(merged, col("cw") >= col("target_rank"))
      .groupBy(col("p"), col("target_rank"))
      .agg(min(col("v_c")).as("sketch_v_c"))
    val estRank = broadcast(est)
      .join(ecdf, col("v_c") <= col("sketch_v_c"), "left")
      .groupBy(col("p"), col("target_rank"), col("sketch_v_c"))
      .agg(coalesce(max(col("cum")), lit(0L)).as("sketch_rank"))
    exact.join(estRank, Seq("p", "target_rank"))
      .crossJoin(broadcast(bound))
      .select(col("p"), col("target_rank"), col("exact_v_c"),
        col("sketch_v_c"),
        abs(col("sketch_rank") - col("target_rank")).as("rank_err"),
        col("err_bound"))
      .orderBy(col("p"))
  }

  /** Markov removal-effect attribution (q344): data-driven channel
    * credit from an absorbing-chain model of user journeys — the
    * principled alternative to the positional heuristics (q106 last
    * touch, q258 U-shaped): START → channel transitions absorb at CONV
    * (first purchase) or NULL (journey end), and each channel's credit
    * is its REMOVAL EFFECT — how much absorption probability the chain
    * loses when that channel's inbound edges are redirected to NULL
    * (paths needing it fail). Absorption probabilities run `iters`
    * fixed ppm rounds of p ← T_chan·p div 1e6 + T_conv (floor once per
    * round AFTER the sum — mirrored exactly in the oracle); effects
    * are clamped at 0 (floor-division noise could otherwise produce a
    * −1-ppm artifact where the true effect is 0) and normalized to
    * attribution shares.
    *
    * Scale shape: ONE corpus pass builds journeys (per-user window,
    * truncate at first purchase) and the transition counts; every
    * scenario after that — base + one per channel — iterates
    * (channels+1)²-bounded frames. 100 TB changes only the first pass.
    */
  def removalAttribution(spark: SparkSession, dir: String,
      iters: Int = 10): DataFrame =
    removalAttributionOn(Tables.events(spark, dir), iters)

  private[graft] def removalAttributionOn(ev: DataFrame,
      iters: Int): DataFrame = {
    val spark = ev.sparkSession
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq0 = ev.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("rn", row_number().over(wU))
    val fp = seq0.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("fp_rn"))
    val kept = seq0.join(fp, Seq("user_id"), "left")
      .filter(col("fp_rn").isNull || col("rn") <= col("fp_rn"))
      .withColumn("dst0", when(col("event_type") === "purchase",
        lit("CONV")).otherwise(col("event_type")))
      .withColumn("src", coalesce(lag(col("dst0"), 1).over(wU),
        lit("START")))
      .withColumn("last_rn", max(col("rn")).over(
        Window.partitionBy(col("user_id"))))
    // observed hops + the NULL-absorption hop for non-converting users
    val hops = kept.select(col("src"), col("dst0").as("dst"))
      .unionByName(kept
        .filter(col("fp_rn").isNull && col("rn") === col("last_rn"))
        .select(col("dst0").as("src"), lit("NULL").as("dst")))
      .filter(col("src") =!= lit("CONV"))
    // ONE corpus-scale aggregation; everything below runs on the
    // collected (channels+2)²-bounded matrix — enum-grain math belongs
    // on the driver, not in 50 micro-shuffle stages (the first cut
    // iterated 6-row frames through Spark jobs and benched 11.4 s of
    // pure scheduler overhead at sf0.1; this form is one job)
    val mat: Map[(String, String), Long] = hops
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val chanNames = mat.keys.map(_._1).filter(_ != "START").toSeq
      .distinct.sorted
    // absorption probability at START after `iters` ppm rounds of
    // p <- T_chan·p div 1e6 + T_conv (floor once per round AFTER the
    // sum — the exact arithmetic the oracle unrolls)
    def absorb(removed: Option[String]): Long = {
      val red = mat.toSeq
        .filter { case ((s, _), _) => !removed.contains(s) }
        .map { case ((s, d), c) =>
          (s, if (removed.contains(d)) "NULL" else d) -> c }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val tot = red.groupBy(_._1._1).map { case (s, v) =>
        s -> v.values.sum }
      // BigInt for the count scale-up: enum-grain COUNTS are corpus-
      // scale magnitudes (PARITY 24 — c·1e6 would overflow long near
      // 1e13 hops); the resulting ppm is always < 1e6
      val ppm = red.map { case ((s, d), c) =>
        (s, d) -> (BigInt(c) * 1000000 / BigInt(tot(s))).toLong }
      val states = tot.keys.toSeq
      var p = states.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        p = states.map { s =>
          val acc = ppm.collect {
            case ((`s`, d), t) if d != "CONV" && d != "NULL" =>
              t * p.getOrElse(d, 0L)
          }.sum / 1000000L
          s -> (ppm.getOrElse((s, "CONV"), 0L) + acc)
        }.toMap
      }
      p.getOrElse("START", 0L)
    }
    val base = absorb(None)
    val effects = chanNames.map { c =>
      val removed = absorb(Some(c))
      (c, base, removed, math.max(base - removed, 0L))
    }
    val sumEff = effects.map(_._4).sum
    import spark.implicits._
    effects.map { case (c, b, r, e) =>
      (c, b, r, e, if (sumEff > 0) e * 1000000L / sumEff else 0L)
    }.toDF("channel", "base_ppm", "removed_ppm", "effect_ppm",
      "share_ppm")
      .orderBy(col("channel"))
  }
}

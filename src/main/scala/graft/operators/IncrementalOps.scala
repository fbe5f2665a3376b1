package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Incremental-processing operators: what a 100 TB corpus pipeline runs
  * BETWEEN full builds — daily crawl drops arrive as a new snapshot and
  * everything downstream (dedup, filtering, packing) wants the delta,
  * not a recompute. The reference pipeline is batch-only
  * (`Capstone/scripts/etl.py:583-847` rebuilds every table per run);
  * this is the extension surface that makes that loop incremental.
  */
object IncrementalOps {

  /** Change manifest between two snapshots keyed by `doc_id`: one row
    * per ADDED / REMOVED / CHANGED document (content compared by raw
    * md5), with `n_chars` of the surviving side. Unchanged rows are
    * filtered out BEFORE the manifest materializes — at 100 TB the
    * unchanged mass dominates and must never be collected, written, or
    * even projected past the join.
    *
    * Scale shape: one full-outer join on the snapshot key. In
    * production both snapshots are bucketed by `doc_id`, so this is a
    * ZERO-shuffle sort-merge over co-located buckets; the output is
    * delta-sized. No skew hazard (keys are unique per side by
    * snapshot contract).
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("fp1"),
      length(col("text")).cast("long").as("len1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("fp2"),
      length(col("text")).cast("long").as("len2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp2").isNull, lit("removed"))
          .when(col("fp1").isNull, lit("added"))
          .when(col("fp1") =!= col("fp2"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"),
        coalesce(col("len2"), col("len1")).as("n_chars"))
      .orderBy(col("doc_id"), col("status"))
  }

  /** The deterministic v2-derivation shared by the q91/q93 gates: drop
    * `% 13`, revise `% 10`, re-key `% 17` as new ids — both engines
    * construct identical snapshots, so the gates are pure
    * string/integer comparison.
    */
  private[operators] def deriveV2(v1: DataFrame): DataFrame = {
    val revised = v1.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    val added = v1.filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    revised.unionByName(added)
  }

  /** q91 gate over the [[deriveV2]] edit script. */
  def q91SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    snapshotDiff(v1, deriveV2(v1))
  }

  /** Incremental aggregate refresh (q93): maintain a grouped aggregate
    * (`n_docs`, `total_chars` per `key`) across a snapshot transition by
    * folding the DELTA into the stored aggregate instead of recomputing
    * over v2 — the materialized-view-maintenance move that turns an
    * O(corpus) nightly rebuild into an O(delta) one. The refresh
    * arithmetic is pure signed-integer fold (added → +1/+len, removed →
    * −1/−len, same-key change → ±char delta, key migration → remove
    * event on the old group + add event on the new one), so it is
    * exact, order-independent, and associative — partial aggregation
    * and AQE can do anything they like to it.
    *
    * The gate is SELF-VERIFYING: the oracle computes the v2 aggregate by
    * full recompute, so any error in the delta fold (a missed status, a
    * sign flip, a dropped group) is a hard mismatch. Groups whose count
    * reaches zero leave the aggregate (the recompute would not have
    * them).
    *
    * Scale shape: the base aggregate is group-cardinality-sized (stored;
    * tiny next to the corpus), the delta join is the [[snapshotDiff]]
    * sort-merge over bucketed ids, and the fold shuffles only
    * delta-sized data on the group key.
    */
  def incrementalAggRefresh(v1: DataFrame, v2: DataFrame,
      key: String): DataFrame = {
    val baseAgg = v1.groupBy(col(key))
      .agg(count(lit(1)).as("b_docs"),
        sum(length(col("text")).cast("long")).as("b_chars"))
    val a = v1.select(col("doc_id"), col(key).as("k1"),
      md5(col("text")).as("fp1"), length(col("text")).cast("long").as("len1"))
    val b = v2.select(col("doc_id"), col(key).as("k2"),
      md5(col("text")).as("fp2"), length(col("text")).cast("long").as("len2"))
    // one delta EVENT per (row, affected group): adds/removes touch one
    // group; a KEY MIGRATION (k1 ≠ k2, text changed or not) decomposes
    // into remove-from-k1 + add-to-k2; a same-key text change is one
    // ±char event. Unchanged rows are filtered before the explode.
    val delta = a.join(b, Seq("doc_id"), "full_outer")
      .filter(col("fp1").isNull || col("fp2").isNull ||
        col("fp1") =!= col("fp2") || col("k1") =!= col("k2"))
      .select(explode(
        when(col("fp1").isNull, array(
          struct(col("k2").as("k"), lit(1L).as("d_docs"),
            col("len2").as("d_chars"))))
        .when(col("fp2").isNull, array(
          struct(col("k1").as("k"), lit(-1L).as("d_docs"),
            (-col("len1")).as("d_chars"))))
        .when(col("k1") =!= col("k2"), array(
          struct(col("k1").as("k"), lit(-1L).as("d_docs"),
            (-col("len1")).as("d_chars")),
          struct(col("k2").as("k"), lit(1L).as("d_docs"),
            col("len2").as("d_chars"))))
        .otherwise(array(
          struct(col("k1").as("k"), lit(0L).as("d_docs"),
            (col("len2") - col("len1")).as("d_chars"))))).as("e"))
      .select(col("e.k").as(key), col("e.d_docs").as("d_docs"),
        col("e.d_chars").as("d_chars"))
      .groupBy(col(key))
      .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_chars")).as("d_chars"))
    baseAgg.join(delta, Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("b_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L)))
          .as("total_chars"))
      .filter(col("n_docs") > 0)
      .orderBy(col(key))
  }

  /** q93 gate: refresh the per-`source` aggregate across the
    * [[deriveV2]] transition. NOTE the gate's oracle recomputes over v2
    * directly — the incremental path must land on the recompute answer.
    * The edit script keeps keys stable (a `changed` row keeps its
    * source), so the key-migration arm is exercised by the spec's
    * constructed transitions rather than this gate.
    */
  def q93IncrAggRefresh(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    incrementalAggRefresh(v1, deriveV2(v1), "source")
  }

  /** SCD type-2 merge delta (q111): the rows a slowly-changing-dimension
    * merge WRITES when snapshot `v` arrives — a `close` row (valid_to =
    * v, no longer current) for every removed or changed key, and an
    * `open` row (valid_from = v, current) for every added or changed
    * key. Unchanged keys produce nothing, by the same doctrine as
    * [[snapshotDiff]]: at 100 TB the unchanged mass must never be
    * rewritten, which is exactly what makes SCD2 the
    * history-preserving alternative to overwrite.
    *
    * Scale shape: one full-outer join on the bucketed snapshot key
    * (zero-shuffle in production), delta-sized output, row-local
    * everything else. Versions are integers; the content fingerprint
    * is md5 (the cross-engine hash); nulls only in `valid_to` of open
    * rows — the SCD2 "still current" contract.
    */
  def scd2Delta(v1: DataFrame, v2: DataFrame, version: Int = 2): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("fp1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("fp2"))
    val j = a.join(b, Seq("doc_id"), "full_outer")
    val closes = j
      .filter(col("fp1").isNotNull &&
        (col("fp2").isNull || col("fp1") =!= col("fp2")))
      .select(col("doc_id"), col("fp1").as("fp"),
        lit(1).as("valid_from"), lit(version).as("valid_to"),
        lit(0).as("is_current"), lit("close").as("action"))
    val opens = j
      .filter(col("fp2").isNotNull &&
        (col("fp1").isNull || col("fp1") =!= col("fp2")))
      .select(col("doc_id"), col("fp2").as("fp"),
        lit(version).as("valid_from"), lit(null).cast("int").as("valid_to"),
        lit(1).as("is_current"), lit("open").as("action"))
    closes.unionByName(opens).orderBy(col("doc_id"), col("action"))
  }

  /** q111 gate over the [[deriveV2]] edit script. */
  def q111Scd2(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    scd2Delta(v1, deriveV2(v1))
  }

  /** Snapshot drift report (q141): column-profile comparison between two
    * snapshot versions — row count, char mass, distinct contents — one
    * row per metric with a drift flag: the monitor a nightly ingest runs
    * to catch silent upstream changes (a crawler regression shows up as
    * a distinct-count cliff long before anyone reads the data).
    *
    * Scale shape: one aggregation pass per side (the distinct count is
    * over content hashes, map-side partially aggregated); the report
    * assembly is 1-row frames cross-joined broadcast.
    */
  def q141DriftReport(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = deriveV2(v1)
    def profile(df: DataFrame, suffix: String): DataFrame =
      df.agg(count(lit(1)).as(s"n_rows$suffix"),
        sum(length(col("text"))).cast("long").as(s"chars$suffix"),
        countDistinct(md5(col("text"))).as(s"nd$suffix"))
    val j = profile(v1, "1").crossJoin(broadcast(profile(v2, "2")))
    def metric(name: String, a: String, b: String): DataFrame =
      j.select(lit(name).as("metric"), col(a).as("v1_value"),
        col(b).as("v2_value"),
        when(col(a) =!= col(b), 1).otherwise(0).cast("int").as("drifted"))
    metric("chars", "chars1", "chars2")
      .unionByName(metric("distinct_texts", "nd1", "nd2"))
      .unionByName(metric("n_rows", "n_rows1", "n_rows2"))
      .orderBy(col("metric"))
  }

  /** Time-travel reconstruction (q136): rebuild BOTH snapshot versions
    * from the SCD2 history (base rows + the q111 edit script) and report
    * each version's row count and char mass — the correctness proof that
    * the history table can answer "the corpus as of version v" without
    * keeping full copies. The oracle computes the same profile DIRECTLY
    * from v1/v2, so a hash match proves reconstruction ≡ materialized
    * snapshot.
    *
    * Scale shape: history = v1 ∪ delta (delta-sized growth per version);
    * each snapshot read is one validity-interval filter — a partition
    * prune on (valid_from, valid_to) in a production layout.
    */
  def q136TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = deriveV2(v1)
    val edits = scd2Delta(v1, v2)
    // base intervals: every v1 row opens at version 1; it closes at 2
    // exactly when the edit script closed it
    val closed = edits.filter(col("action") === "close")
      .select(col("doc_id"), lit(2).as("valid_to"))
    val base = v1
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(closed, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("len"), lit(1).as("valid_from"),
        col("valid_to"))
    // opened intervals carry v2's content; join back for the new length
    val opened = edits.filter(col("action") === "open")
      .select(col("doc_id"), col("valid_from"),
        lit(null).cast("int").as("valid_to"))
      .join(v2.select(col("doc_id"),
        length(col("text")).cast("long").as("len")), "doc_id")
      .select(col("doc_id"), col("len"), col("valid_from"), col("valid_to"))
    val history = base.unionByName(opened)
    def snapshot(v: Int): DataFrame = history
      .filter(col("valid_from") <= v &&
        (col("valid_to").isNull || col("valid_to") > v))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
      .select(lit(v).as("version"), col("n_docs"), col("n_chars"))
    snapshot(1).unionByName(snapshot(2)).orderBy(col("version"))
  }

  /** Anti-entropy repair manifest (q128): bucket both snapshots by
    * `doc_id mod buckets`, XOR-fingerprint each bucket (the q118 fold
    * over a doc_id|content payload), and emit only the buckets whose
    * fingerprint or count differs — the Merkle-style comparison that
    * lets two 100 TB replicas agree on WHICH partitions to re-sync
    * while exchanging only `buckets` rows of state each.
    *
    * Scale shape: one map-side partial XOR per side, a `buckets`-row
    * full-outer join, delta-sized output. The v2 snapshot is the
    * deterministic [[deriveV2]] mutation shared with q91/q93.
    */
  def fingerprintDiff(spark: SparkSession, dir: String,
      buckets: Int = 64): DataFrame = {
    val v1 = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v2 = deriveV2(v1)
    def bucketFp(df: DataFrame, nCol: String, fpCol: String): DataFrame =
      df.select((col("doc_id") % buckets).cast("int").as("bucket"),
          conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))),
            18, 15), 16, 10).cast("long").as("fp"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(nCol), expr("bit_xor(fp)").as(fpCol))
    bucketFp(v1, "n1", "fp1")
      .join(bucketFp(v2, "n2", "fp2"), Seq("bucket"), "full_outer")
      .filter(coalesce(col("fp1"), lit(0L)) =!= coalesce(col("fp2"), lit(0L)) ||
        coalesce(col("n1"), lit(0L)) =!= coalesce(col("n2"), lit(0L)))
      .select(col("bucket"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("fp1"), lit(0L)).as("fp1"),
        coalesce(col("fp2"), lit(0L)).as("fp2"))
      .orderBy(col("bucket"))
  }

  /** Order-independent table fingerprint (q118): per-row 60-bit digest
    * (low 15 hex digits of the key-payload md5) folded per group with
    * XOR — the snapshot-integrity primitive that lets two 100 TB copies
    * of a table be compared without sorting either: XOR is commutative/
    * associative, so partial aggregation is exact under ANY partitioning
    * and shuffle order, and a single flipped row flips the group
    * fingerprint. The hashed payload carries only integer/date columns —
    * float formatting is engine-specific and has no place in a portable
    * digest.
    *
    * Scale shape: map-side partial XOR then a tiny per-group exchange;
    * the scan never materializes more than (group key, 8-byte digest).
    */
  def tableFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val payload = concat_ws("|",
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_shipdate").cast("date"))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        conv(substring(md5(payload), 18, 15), 16, 10).cast("long").as("fp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("fingerprint"))
      .orderBy(col("l_returnflag"))
  }

  /** Incremental JOIN-view maintenance (q249): the per-user
    * click×purchase pair count maintained under a new arrival batch by
    * the classic IVM delta rule ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — for a
    * per-key counting join view that algebra collapses to
    * Δv(u) = Δc·p + c·Δp + Δc·Δp on the per-user COUNTS, so the
    * maintenance pass touches only aggregates, never re-joins the
    * base facts. The batch is simulated as event_id ≡ `deltaMod`-class
    * arrivals; the output carries BOTH the maintained total and an
    * independent full recount plus their agreement flag, so the gate
    * hash-pins the IVM algebra against ground truth in both engines.
    *
    * Scale shape: two per-user count aggregates (base pass runs once
    * per view lifetime; the delta pass is delta-sized) and a
    * coalesce-join of two small per-user panels. The full recount
    * column is the audit path a production view skips.
    */
  def ivmJoinDelta(spark: SparkSession, dir: String,
      deltaMod: Long = 10L, deltaRem: Long = 7L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"),
        (pmod(col("event_id"), lit(deltaMod)) === deltaRem)
          .as("is_delta"))
    def counts(delta: Boolean, nm: String) = ev
      .filter(col("is_delta") === delta)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as(s"c_$nm"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as(s"p_$nm"))
    val base = counts(delta = false, "base")
    val delta = counts(delta = true, "delta")
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("c_base"), lit(0L)).as("cb"),
        coalesce(col("p_base"), lit(0L)).as("pb"),
        coalesce(col("c_delta"), lit(0L)).as("cd"),
        coalesce(col("p_delta"), lit(0L)).as("pd"))
      .select(col("user_id"),
        (col("cb") * col("pb")).as("base_pairs"),
        (col("cd") * col("pb") + col("cb") * col("pd") +
          col("cd") * col("pd")).as("delta_pairs"),
        ((col("cb") + col("cd")) * (col("pb") + col("pd")))
          .as("recount_pairs"))
      .select(col("user_id"), col("base_pairs"), col("delta_pairs"),
        (col("base_pairs") + col("delta_pairs")).as("total_pairs"),
        col("recount_pairs"),
        (col("base_pairs") + col("delta_pairs") === col("recount_pairs"))
          .cast("int").as("consistent"))
      .orderBy(col("user_id"))
  }

  /** Small-file compaction planner (q264) — the OPTIMIZE/bin-packing
    * step every lakehouse table needs: per partition (source), pack the
    * simulated file list (doc_id mod 64 buckets, sized by Σ n_chars)
    * into target-sized compaction bins by a deterministic greedy rule —
    * `bin = cum_bytes_before div target` in fixed file order — and
    * report the before/after small-file picture per partition. The
    * greedy cumulative cut is the same two-phase global-cut pattern as
    * the shard packer (q45): one window pass assigns every file its
    * bin with no driver loop, no collect.
    *
    * Scale shape: file metadata is MANIFEST-scale (files, not rows —
    * the planner never touches data bytes), windows partition by the
    * table partition, and the output is one row per partition. At
    * 100 TB the input is the table's file listing (~1e6 rows), not the
    * 1e13-row data — this is why OPTIMIZE planning is cheap even when
    * the rewrite is not. All sizes are exact BIGINT sums.
    */
  def compactionPlan(spark: SparkSession, dir: String,
      targetBytes: Long = 2048L): DataFrame =
    compactionPlanOn(Tables.documents(spark, dir), targetBytes)

  private[graft] def compactionPlanOn(docs: DataFrame,
      targetBytes: Long): DataFrame = {
    val small = targetBytes / 2
    val files = docs
      .groupBy(col("source"), pmod(col("doc_id"), lit(64L)).as("fid"))
      .agg(sum(col("n_chars")).as("bytes"))
    val w = Window.partitionBy(col("source")).orderBy(col("fid"))
    val planned = files
      .withColumn("cum_before", coalesce(sum(col("bytes"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $targetBytes"))
    val bins = planned.groupBy(col("source"), col("bin"))
      .agg(sum(col("bytes")).as("bin_bytes"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bins"),
        max(col("bin_bytes")).as("max_bin_bytes"),
        sum(when(col("bin_bytes") < small, 1L).otherwise(0L))
          .as("small_after"))
    files.groupBy(col("source"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("total_bytes"),
        sum(when(col("bytes") < small, 1L).otherwise(0L))
          .as("small_before"))
      .join(bins, Seq("source"))
      .select(col("source"), col("n_files"), col("total_bytes"),
        col("small_before"), col("n_bins"), col("max_bin_bytes"),
        col("small_after"))
      .orderBy(col("source"))
  }

  /** Batch MERGE INTO (q306, VERDICT r11 item 3): apply a mixed
    * changeset to a target table with the three classic arms —
    * `op='D'` delete-when-matched, `op='U'` update-when-matched /
    * insert-when-not (upsert), `op='I'` insert-when-not-matched
    * (a matched `I` is a no-op, never an overwrite). This is the
    * primitive the reference's `mode('append')` writers
    * (Capstone/scripts/etl.py:444-449) are the ancestor of: q91/q93/
    * q111 ship the read side (diff / incremental refresh / SCD2
    * delta); this APPLIES a changeset. The write side composes with
    * [[graft.etl.Sinks.mergeInto]], which scopes the rewrite to
    * affected partitions per WRITE_CONTRACT.md §1.
    *
    * Semantics notes: `changes` must be unique per key (the SQL MERGE
    * cardinality rule — Sinks.mergeInto enforces it; here the q306
    * fixture is unique by construction). A `D` for an absent key and
    * an `I` for a present key are both no-ops, matching `WHEN
    * MATCHED THEN DELETE` / `WHEN NOT MATCHED THEN INSERT` — the
    * idempotence that makes re-applying a changeset safe
    * (AcidWriteSpec proves it at the table level).
    *
    * Scale shape: ONE full-outer shuffle join on the key; the
    * changeset side is delta-sized and the join strategy stays AQE's
    * call (the q250 rule — at 100 TB the target side is the corpus
    * and must never broadcast). Everything else is row-local CASE
    * arms, fully codegen'd.
    */
  def mergeChangeset(target: DataFrame, changes: DataFrame,
      keys: Seq[String], opCol: String = "op"): DataFrame = {
    val payload = target.columns.filterNot(keys.contains).toSeq
    require(keys.nonEmpty && keys.forall(target.columns.contains),
      s"merge keys $keys must exist in the target")
    require(changes.columns.contains(opCol) &&
      payload.forall(changes.columns.contains),
      s"changeset must carry '$opCol' plus the target payload $payload")
    val c = payload.foldLeft(changes.withColumn("_c_present", lit(1)))(
      (d, p) => d.withColumnRenamed(p, "_c_" + p))
    target.withColumn("_t_present", lit(1))
      .join(c, keys, "full_outer")
      // D drops the matched row (the full-outer row IS the target row)
      // and is a no-op for an absent key
      .filter(col(opCol).isNull || col(opCol) =!= "D")
      .select(keys.map(col) ++ payload.map { p =>
        when(col("_t_present").isNull ||
            (col("_c_present").isNotNull && col(opCol) === "U"),
          col("_c_" + p)).otherwise(col(p)).as(p)
      }: _*)
  }

  /** The deterministic q306 changeset over `documents`: deletes
    * (`%13`), matched updates (`%10`, text gains " [merged]"),
    * upsert-inserts (`%17` re-keyed +1e7, " [new]"), plain inserts
    * (`%11` re-keyed +2e7), and matched-`I` no-ops (`%19`, payload
    * "SHOULD NOT APPLY" — if it ever applies, the fingerprint gate
    * catches it). One op per key by construction.
    */
  /** The +1e7/+2e7 re-keying shifts in [[q306Changeset]]/[[q311WriteAmplification]]
    * are unique-by-construction ONLY while every existing doc_id sits
    * below the first shift — at a larger fixture a shifted key could
    * collide with a real one and silently break the one-op-per-key
    * invariant BOTH engines replay (the oracle agrees with the
    * breakage, so the hash gate cannot catch it). Fail loudly instead:
    * one pushdown-filtered limit-1 probe per build.
    */
  private def requireKeysBelowShift(base: DataFrame): Unit =
    require(base.filter(col("doc_id") >= 10000000L).limit(1).count() == 0,
      "changeset re-keying assumes doc_id < 1e7; the fixture violates it")

  private[graft] def q306Changeset(base: DataFrame): DataFrame = {
    requireKeysBelowShift(base)
    val dels = base.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("D").as("op"),
        lit(null).cast("string").as("text"),
        lit(null).cast("string").as("source"))
    val upd = base.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" [merged]")).as("text"), col("source"))
    val ups = base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" [new]")).as("text"), col("source"))
    val ins = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), lit("I").as("op"),
        col("text"), col("source"))
    val noop = base.filter(col("doc_id") % 19 === 0 &&
        col("doc_id") % 13 =!= 0 && col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), lit("I").as("op"),
        lit("SHOULD NOT APPLY").as("text"), lit("zz").as("source"))
    dels.unionByName(upd).unionByName(ups).unionByName(ins)
      .unionByName(noop)
  }

  /** CDC log compaction (q310): collapse an insert/update/delete
    * change-data-capture LOG to latest state per key with
    * last-writer-wins — the EVENT-LOG twin of the keyed-changeset
    * MERGE (q306): MERGE applies a deduplicated changeset, compaction
    * RESOLVES a raw log that may carry many writes per key. The events
    * table stands in as the CDC feed: key = (user_id, props.k),
    * `error` events are tombstones, everything else upserts the cent
    * value; write order is the total (ts, event_id).
    *
    * The winner per key rides ONE map-side-combinable argmax —
    * `max(struct(us, event_id, is_del, v_c))` (the q285 rule: a
    * window formulation would shuffle every log row to rank it;
    * the struct max folds inside partial aggregation, so a key with
    * a million writes costs one struct per partition). Output rolls
    * up to the bounded item grid: live keys, tombstoned keys, live
    * cent mass per item.
    */
  def q310CdcCompaction(spark: SparkSession, dir: String): DataFrame =
    cdcCompactionOn(Tables.events(spark, dir))

  private[graft] def cdcCompactionOn(ev: DataFrame): DataFrame = {
    // ONE JSON parse per row (VERDICT r12 item 4): the old
    // `.filter(get_json_object(props,'$.k').isNotNull)` + projection
    // pair cost TWO full parses of every log row — and no rewrite that
    // keeps a row-level predicate on the parsed value can avoid it,
    // because Catalyst pushes alias-referencing predicates through
    // projects and aggregates by SUBSTITUTING the parse expression
    // back in. Every event carries `$.k` (fixture invariant, pinned at
    // all three SFs), so the guard bought nothing but the second
    // parse; a hypothetically key-less row now surfaces as a visible
    // k=NULL grid row in BOTH engines instead of being silently
    // dropped. Round13OpsSpec pins the single-parse plan shape.
    val log = ev
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_del"),
        round(col("value") * 100, 0).cast("long").as("v_c"))
    log.groupBy(col("user_id"), col("k"))
      .agg(max(struct(col("us"), col("event_id"), col("is_del"),
        col("v_c"))).as("last"))
      .select(col("k"), col("last.is_del").as("is_del"),
        col("last.v_c").as("v_c"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_keys"),
        sum(lit(1L) - col("is_del")).as("n_live"),
        sum(col("is_del")).as("n_tombstoned"),
        sum(when(col("is_del") === 0L, col("v_c")).otherwise(0L))
          .as("live_value_c"))
      .orderBy(col("k"))
  }

  /** Write-amplification planner (q311): for ONE ingest-batch-sized
    * changeset (the q306 op mix confined to batch 1 of a
    * `doc_id div 100` batch layout), the rows each write strategy
    * rewrites — full-table rewrite, the partition-scoped MERGE
    * ([[graft.etl.Sinks.mergeInto]]'s affected-partition rule,
    * replayed declaratively), and SCD2 append (closes + opens,
    * q111's delta rule) — with shares in bp of the full rewrite.
    * This is the planning query behind choosing a table's write
    * strategy: at sf0.001 the scoped merge writes ~21% of the table,
    * at sf0.1 ~2% — the O(delta·partition) story made measurable,
    * while SCD2 stays O(delta) flat.
    *
    * Scale shape: the changeset side is batch-sized; affected
    * partitions come from the same semi/anti joins the real
    * mergeInto runs; counts are map-side partial. Output is 3 rows.
    */
  def q311WriteAmplification(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("doc_id div 100").as("batch"))
    requireKeysBelowShift(base)
    val b1 = base.filter(col("batch") === 1L)
    val dels = b1.filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), lit("D").as("op"),
        lit(null).cast("string").as("text"),
        lit(null).cast("long").as("batch"))
    val upd = b1.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" [merged]")).as("text"), col("batch"))
    val ups = b1.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" [new]")).as("text"),
        expr("(doc_id + 10000000) div 100").as("batch"))
    val ins = b1.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), lit("I").as("op"),
        col("text"), expr("(doc_id + 20000000) div 100").as("batch"))
    val noop = b1.filter(col("doc_id") % 19 === 0 &&
        col("doc_id") % 13 =!= 0 && col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), lit("I").as("op"),
        lit("SHOULD NOT APPLY").as("text"), col("batch"))
    val changes = dels.unionByName(upd).unionByName(ups)
      .unionByName(ins).unionByName(noop)
    val tKeys = base.select(col("doc_id"))
    val matchedDU = changes.filter(col("op") =!= "I")
      .join(tKeys, Seq("doc_id"), "left_semi")
    val inserts = changes.filter(col("op") =!= "D")
      .join(tKeys, Seq("doc_id"), "left_anti")
    val parts = base.join(matchedDU.select(col("doc_id")),
        Seq("doc_id"), "left_semi").select(col("batch"))
      .union(inserts.select(col("batch")))
      .union(matchedDU.filter(col("op") === "U").select(col("batch")))
      .distinct()
    val merged = mergeChangeset(base.select(col("doc_id"), col("batch")),
      changes.select(col("doc_id"), col("op"), col("batch")),
      Seq("doc_id"))
    val fullN = merged.agg(count(lit(1)).as("n"))
    val scopedN = merged.join(broadcast(parts), Seq("batch"), "left_semi")
      .agg(count(lit(1)).as("n"))
    val scd2N = matchedDU
      .agg((sum(when(col("op") === "U", 2L).otherwise(1L))).as("n0"))
      .crossJoin(broadcast(inserts.agg(count(lit(1)).as("ni"))))
      .select((coalesce(col("n0"), lit(0L)) + col("ni")).as("n"))
    def strat(name: String, n: DataFrame): DataFrame =
      n.crossJoin(broadcast(fullN.select(col("n").as("full_n"))))
        .select(lit(name).as("strategy"), col("n").as("rows_written"),
          expr("CAST(CAST(n AS decimal(38,0)) * 10000 DIV full_n" +
            " AS BIGINT)").as("share_bp"))
    strat("full_rewrite", fullN)
      .unionByName(strat("merge_partition_scoped", scopedN))
      .unionByName(strat("scd2_append", scd2N))
      .orderBy(col("strategy"))
  }

  /** MERGE INTO gate (q306): apply [[q306Changeset]] via
    * [[mergeChangeset]] and profile the post-merge table per source —
    * count, char mass, and the q118 order-independent XOR fingerprint
    * of (doc_id, text) — while the oracle REPLAYS the same changeset
    * as the classic UPDATE/DELETE/INSERT decomposition (matched-kept
    * ∪ inserted). Any wrong arm (a dropped no-op, an applied
    * matched-I, a surviving delete) flips a fingerprint.
    */
  def q306MergeInto(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    mergeChangeset(base, q306Changeset(base), Seq("doc_id"))
      .select(col("source"), length(col("text")).cast("long").as("len"),
        conv(substring(md5(concat_ws("|", col("doc_id"), col("text"))),
          18, 15), 16, 10).cast("long").as("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("total_chars"),
        expr("bit_xor(fp)").as("fingerprint"))
      .orderBy(col("source"))
  }

  /** Schema-evolution MERGE gate (q323, VERDICT r13 item 1): a REAL
    * write→evolve→read-back cycle through the Sinks write path — base
    * documents written partitioned by `source`, an add-column
    * changeset (new `quality_bp`) merged with `evolveSchema = true`,
    * the evolved table read back via [[graft.etl.Sinks.readTable]]'s
    * mergeSchema union — while the oracle replays the same evolution
    * relationally (pre-existing rows null, U/I rows scored).
    *
    * The fixture's `source = 'src' || (doc_id mod 20)`, so the update
    * arm (`mod 10 = 0`) lands only in src0/src10 and the insert arm
    * (`mod 23 = 0 ∧ mod 20 = 3`) only in src3: 17 of 20 partitions
    * keep OLD-schema files on disk and the per-source aggregate
    * proves the union read path null-fills THEM correctly — not just
    * the rewritten partitions. The staging table is dropped after an
    * eager localCheckpoint of the grid-sized result, so repeated
    * Verify/Bench invocations leave nothing behind.
    */
  def q323SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    requireKeysBelowShift(base)
    graft.etl.HadoopIo.withStagingDir(spark, "graft-q323") { out =>
    val spec = graft.etl.Sinks.TableSpec("evolved_docs",
      graft.etl.Sinks.Parquet, Seq("source"))
    graft.etl.Sinks.write(base, spec, out)
    val changes = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("U").as("op"),
        concat(col("text"), lit(" [v2]")).as("text"), col("source"),
        (col("doc_id") % 10000).as("quality_bp"))
      .unionByName(base
        .filter(col("doc_id") % 23 === 0 && col("doc_id") % 20 === 3)
        .select((col("doc_id") + 20000000L).as("doc_id"), lit("I").as("op"),
          col("text"), col("source"),
          ((col("doc_id") + 20000000L) % 10000).as("quality_bp")))
    graft.etl.Sinks.mergeInto(spark, changes, Seq("doc_id"), spec, out,
      evolveSchema = true)
    val res = graft.etl.Sinks.readTable(spark, spec, out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality_bp").isNotNull, 1L).otherwise(0L))
          .as("n_scored"),
        sum(coalesce(col("quality_bp"), lit(0L))).as("sum_quality_bp"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .orderBy(col("source"))
      .localCheckpoint()
    res
    }
  }

  /** Consistent-hash reshard planner (q339): the movement plan for
    * growing a doc-sharded store from `nBefore` to `nBefore+1` shards
    * on a virtual-node hash ring — the resharding-cost estimate a
    * 100 TB store runs BEFORE committing to a topology change. Docs
    * and vnodes hash onto a 60-bit md5 ring (`vnodes` per shard); a
    * doc lives on the shard owning its clockwise successor vnode.
    * The consistent-hashing contract is then MEASURED, not assumed:
    * every moved doc lands on the NEW shard (old→old moves are
    * structurally impossible — only arcs captured by new vnodes
    * change owner), and the moved share sits near vnode-share
    * expectation (≈ 1/(n+1)). The output is the per-(from, to) move
    * matrix plus a `*` total row carrying moved ppm — modulo-sharding
    * by contrast would move ~n/(n+1) of all keys.
    *
    * Scale shape: both ring assignments are ONE map-side pass each —
    * the ring is a broadcast (nShards × vnodes)-row grid (128/144 rows
    * here), the successor pick a struct-min aggregate per doc. At
    * 100 TB the documented knob replaces the grid expansion with a
    * sorted-ring binary-search expression (same broadcast, O(log V)
    * per row); nothing else changes.
    */
  def reshardPlan(spark: SparkSession, dir: String, nBefore: Int = 8,
      vnodes: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("pos"))
    def ring(n: Int) = spark.range(n)
      .select(concat(lit("s"), col("id")).as("shard"),
        explode(expr(s"sequence(0, ${vnodes - 1})")).as("v"))
      .select(col("shard"),
        conv(substring(md5(concat(col("shard"), lit("_v"),
          col("v").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("vpos"))
    // (r17 A/B note: fusing both ring assignments into one tagged
    // crossJoin + conditional-min aggregate measured SLOWER — 1.88 →
    // 2.37 s at 5-rep median — the four conditional struct-mins per
    // row cost more than the saved doc_id join; reverted to the
    // two-pass form.)
    def assign(r: org.apache.spark.sql.DataFrame, out: String) =
      docs.crossJoin(broadcast(r))
        .groupBy(col("doc_id"), col("pos"))
        .agg(min(when(col("vpos") >= col("pos"),
            struct(col("vpos"), col("shard")))).as("succ"),
          min(struct(col("vpos"), col("shard"))).as("wrap"))
        .select(col("doc_id"),
          coalesce(col("succ"), col("wrap")).getField("shard").as(out))
    val plan = assign(ring(nBefore), "from_shard")
      .join(assign(ring(nBefore + 1), "to_shard"), Seq("doc_id"))
      .localCheckpoint()
    val moves = plan.filter(col("from_shard") =!= col("to_shard"))
      .groupBy(col("from_shard"), col("to_shard"))
      .agg(count(lit(1)).as("n_docs"))
    val total = plan.agg(count(lit(1)).as("n_all"),
      sum(when(col("from_shard") =!= col("to_shard"), 1L)
        .otherwise(0L)).as("n_moved"))
    moves.crossJoin(broadcast(total))
      .select(col("from_shard"), col("to_shard"), col("n_docs"),
        expr("n_docs * 1000000 div n_all").as("share_ppm"))
      .unionByName(total.select(lit("*").as("from_shard"),
        lit("*").as("to_shard"), col("n_moved").as("n_docs"),
        expr("n_moved * 1000000 div n_all").as("share_ppm")))
      .orderBy(col("from_shard"), col("to_shard"))
  }

  /** Sort-key pruning planner (q341): MEASURE, per candidate sort key,
    * how many simulated files a representative predicate workload
    * would scan under min/max (zone-map) pruning — the decision panel
    * for "what do we ORDER BY before writing" that complements the
    * Z-order pair (q143 measures the 2-D interleave; this ranks the
    * LINEAR orders). Rows are laid into `rowsPerFile`-row files under
    * each candidate's total order (global ranks via [[TwoPhaseRank]] —
    * no single-partition window), per-file min/max of every predicate
    * column form the zone map, and each workload interval counts the
    * files it overlaps. The sorted-by column prunes to the interval's
    * row share; unsorted columns degrade toward scan-everything —
    * the panel shows exactly how much.
    *
    * Scale shape: one materialized scan + 3 rankBy passes (each the
    * documented two-phase shape) + file-grain aggregates; the workload
    * grid is a constant. At 100 TB files become real row groups and
    * the same panel runs on the manifest instead of ranks.
    */
  def sortKeyPruning(spark: SparkSession, dir: String,
      rowsPerFile: Long = 4000L): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_shipdate"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
      // serialized: read 9× (3 rankBys × count/sample/shuffle) but held
      // as one byte array per block instead of a row object graph —
      // the r18 block-churn diet (see TwoPhaseRank.bucketize)
      .localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_SER)
    def filesFor(key: String) =
      graft.operators.TwoPhaseRank.rankBy(li, key, "tie")
        .withColumn("file_id", expr(s"(r - 1) div ${rowsPerFile}L"))
        .groupBy(col("file_id"))
        .agg(min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          min(col("l_partkey")).as("min_part"),
          max(col("l_partkey")).as("max_part"),
          min(col("l_orderkey")).as("min_ord"),
          max(col("l_orderkey")).as("max_ord"))
        .withColumn("sort_key", lit(key))
    val stats = Seq("l_shipdate", "l_partkey", "l_orderkey")
      .map(filesFor).reduce(_ unionByName _)
    val scans = stats.groupBy(col("sort_key"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("min_ship") <= lit("1995-06-30").cast("timestamp")
          && col("max_ship") >= lit("1995-03-01").cast("timestamp"),
          1L).otherwise(0L)).as("s_ship"),
        sum(when(col("min_part") <= 199L && col("max_part") >= 100L,
          1L).otherwise(0L)).as("s_part"),
        sum(when(col("min_ord") <= 3999L && col("max_ord") >= 1000L,
          1L).otherwise(0L)).as("s_ord"))
    scans.select(col("sort_key"), col("n_files"),
        explode(map(
          lit("ship_window"), col("s_ship"),
          lit("part_range"), col("s_part"),
          lit("order_range"), col("s_ord")))
          .as(Seq("workload", "files_scanned")))
      .select(col("sort_key"), col("workload"), col("n_files"),
        col("files_scanned"),
        expr("files_scanned * 1000000 div n_files").as("scan_ppm"))
      .orderBy(col("sort_key"), col("workload"))
  }

  /** REAL layout pruning gate (q351, VERDICT r14 item 1): q341
    * simulates what a sort layout WOULD prune; this writes the sorted
    * layout through the production write path
    * ([[graft.etl.Sinks.write]] with `sortCols`) and measures pruning
    * from the PHYSICAL parquet footers
    * ([[graft.etl.ParquetZoneMaps]]), so "the zone maps exist and
    * match the plan" is a gated fact, not an assumption. lineitem is
    * ranked by (ship_day, tie) — q341's exact grain, `rowsPerFile`
    * 4000 — into explicit `file_id` partitions, written sorted, and
    * the footer min/max per partition drives three workloads (the
    * q341 window, a week, a point). The oracle replays the layout
    * RELATIONALLY (rank → partition ranges); any divergence between
    * the physical footers and the planned ranges — a write that
    * didn't sort, a partition that leaked rows — flips
    * `parts_scanned`/`rows_scanned` and fails the gate. By
    * construction the ship-window row equals q341's
    * `l_shipdate/ship_window` simulation row, closing the
    * simulation-vs-reality loop.
    *
    * Scale shape: one rank (TwoPhaseRank — sample-ranged, never a
    * global window), one layout shuffle + write, one footer-only
    * metadata job (O(files)), one conditional-aggregate corpus pass
    * for the true match counts. The staging table is deleted after an
    * eager checkpoint of the 3-row result.
    */
  /** lineitem ranked by (ship_day, tie) — the layout spine q351 and
    * q360 both lay files over (IDENTICAL projection, rank key, and
    * rowsPerFile grain), session-cached so the corpus scan + checkpoint
    * + TwoPhaseRank pass runs once per session instead of once per
    * query (r17; guide §2.4 — the write/footer phases stay per-query,
    * only the shared decision-pass input is reused).
    */
  private val shipRankCache =
    SessionCaches.newCache[(SparkSession, String)]()

  private def cachedShipDayRank(spark: SparkSession,
      dir: String): DataFrame =
    SessionCaches.cached(shipRankCache, (spark, dir))({
      val epoch = lit("1992-01-01").cast("date")
      val li = Tables.lineitem(spark, dir)
        .select(datediff(col("l_shipdate").cast("date"), epoch)
            .cast("long").as("ship_day"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
        .localCheckpoint()
      TwoPhaseRank.rankBy(li, "ship_day", "tie").persist()
    })

  def layoutPruning(spark: SparkSession, dir: String,
      rowsPerFile: Long = 4000L): DataFrame = {
    val epoch = lit("1992-01-01").cast("date")
    val ranked = cachedShipDayRank(spark, dir)
    // the truth pass needs only ship_day — read it off the cached rank
    // spine instead of a second lineitem scan
    val li = ranked.select(col("ship_day"))
    val assigned = ranked
      .withColumn("file_id", expr(s"(r - 1) div ${rowsPerFile}L"))
      .select(col("file_id"), col("ship_day"))
    graft.etl.HadoopIo.withStagingDir(spark, "graft-q351") { out =>
    val spec = graft.etl.Sinks.TableSpec("layout_probe",
      graft.etl.Sinks.Parquet, partitionCols = Seq("file_id"),
      sortCols = Seq("ship_day"))
    graft.etl.Sinks.write(assigned.repartition(32, col("file_id")),
      spec, out)
    val zone = graft.etl.ParquetZoneMaps
      .partitionStats(spark, s"$out/layout_probe", "ship_day", "file_id")
      .localCheckpoint()
    def d(s: String) = datediff(lit(s).cast("date"), epoch).cast("long")
    val wl = spark.range(1).select(explode(array(
        struct(lit("ship_point").as("workload"),
          d("1995-06-15").as("lo"), d("1995-06-15").as("hi")),
        struct(lit("ship_week").as("workload"),
          d("1995-06-01").as("lo"), d("1995-06-07").as("hi")),
        struct(lit("ship_window").as("workload"),
          d("1995-03-01").as("lo"), d("1995-06-30").as("hi"))))
        .as("w"))
      .select(col("w.workload").as("workload"), col("w.lo").as("lo"),
        col("w.hi").as("hi"))
    val scans = zone.crossJoin(broadcast(wl))
      .groupBy(col("workload"))
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("min_v") <= col("hi") && col("max_v") >= col("lo"),
          1L).otherwise(0L)).as("parts_scanned"),
        sum(when(col("min_v") <= col("hi") && col("max_v") >= col("lo"),
          col("n_rows")).otherwise(0L)).as("rows_scanned"))
    val truth = li.crossJoin(broadcast(wl))
      .groupBy(col("workload"))
      .agg(sum(when(col("ship_day").between(col("lo"), col("hi")), 1L)
        .otherwise(0L)).as("rows_matching"))
    val res = scans.join(truth, Seq("workload"))
      .select(col("workload"), col("n_parts"), col("parts_scanned"),
        col("rows_scanned"), col("rows_matching"),
        expr("parts_scanned * 1000000 div n_parts").as("scan_ppm"))
      .orderBy(col("workload"))
      .localCheckpoint()
    res
    }
  }

  /** Executed z-order box read (q357, VERDICT r16 "what's missing" 1):
    * q143 SIMULATES 2-D interval-intersection file skipping; this
    * writes the z-ordered layout for real and serves three workloads —
    * a 2-predicate box and each single-column slab — through
    * [[graft.etl.ZoneMapReader.readBox]], the reader that prunes the
    * file list from BOTH columns' footer statistics before planning.
    * lineitem is mapped onto a 1024×1024 (a, b) grid, Morton-ordered
    * ([[ZOrder.zValue]]), and partitioned by block-ALIGNED z-ranges
    * (`z div 2^14` — each partition is exactly one 128×128 square, so
    * footer hulls are tight; a sampled range-shuffle on raw z leaves
    * boundaries mid-square and pruning degrades, measured r17 in
    * ZoneMapReaderSpec). Because bit 2i of z is a's bit i (b at
    * 2i+1), `z div 2^14 ↔ (a div 128, b div 128)` is a bijection —
    * the oracle replays partition membership by grouping on the
    * square, no bit math needed.
    *
    * Accounting is at PARTITION grain (hulls aggregated from the
    * 2-column footer walk): a partition's hull equals its relational
    * group hull regardless of how many physical files the writer cut,
    * while per-FILE hull unions can leave interior gaps a box probes
    * — file grain is gated in ZoneMapReaderSpec, the oracle gets the
    * deterministic grain. `rows_matching`/`sum_payload` come from the
    * PRUNED frames, so a reader that drops a file it needed fails the
    * oracle, not just a spec.
    *
    * Scale shape: one z shuffle + write, ONE 2-column footer-only
    * metadata job (O(files)) reused by all three workloads, three
    * pruned reads that scan only kept files. No corpus pass outside
    * the writes/reads.
    */
  def zorderBoxRead(spark: SparkSession, dir: String): DataFrame = {
    // multiplicative spread before the mod: the raw key domains are
    // SF-dependent (suppliers number ~100 at sf0.01) and would leave
    // most of the 1024-cell axis empty; the odd multipliers biject
    // Z/2^10 so every SF fills the grid deterministically
    val li = Tables.lineitem(spark, dir)
      .select(((col("l_partkey") * 48271L) % 1024L).as("a"),
        ((col("l_suppkey") * 69621L) % 1024L).as("b"),
        (col("l_orderkey") * 10L + col("l_linenumber")).as("payload"))
    val z = ZOrder.zValue(col("a"), col("b"), bits = 10)
    graft.etl.HadoopIo.withStagingDir(spark, "graft-q357") { out =>
      val spec = graft.etl.Sinks.TableSpec("zbox_probe",
        graft.etl.Sinks.Parquet, partitionCols = Seq("zrange"))
      graft.etl.Sinks.write(
        li.withColumn("z", z.cast("long"))
          .withColumn("zrange", expr("z div 16384")).drop("z")
          .repartition(col("zrange")),
        spec, out)
      // ONE metadata handle for all three windows: the listing, the
      // schema resolution, and the 2-column footer walk run once and
      // are shared (r17: per-window re-walks tripled the metadata work)
      val handle = graft.etl.ZoneMapReader.open(spark, spec, out)
      // partition-grain hulls from the handle's stats (zrange parsed
      // from the hive dir — the writer's own partitioning expression)
      val hulls = spark.createDataFrame(
          handle.statsPair("a", "b").toIndexedSeq)
        .withColumn("part", regexp_extract(col("file"),
          "zrange=(\\d+)", 1).cast("long"))
        .groupBy(col("part"))
        .agg(sum(col("n_rows")).as("n_rows"),
          min(col("min_a")).as("mna"), max(col("max_a")).as("mxa"),
          min(col("min_b")).as("mnb"), max(col("max_b")).as("mxb"))
        .localCheckpoint()
      val wls = Seq(
        ("box", 100L, 160L, 200L, 260L),
        ("a_slab", 100L, 160L, 0L, 1023L),
        ("b_slab", 0L, 1023L, 200L, 260L))
      val wl = spark.range(1).select(explode(array(wls.map { case (w, la, ha, lb, hb) =>
          struct(lit(w).as("workload"), lit(la).as("loa"), lit(ha).as("hia"),
            lit(lb).as("lob"), lit(hb).as("hib"))
        }: _*)).as("w")).select(col("w.*"))
      val scans = hulls.crossJoin(broadcast(wl))
        .groupBy(col("workload"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(col("mna") <= col("hia") && col("mxa") >= col("loa")
            && col("mnb") <= col("hib") && col("mxb") >= col("lob"),
            1L).otherwise(0L)).as("parts_scanned"),
          sum(when(col("mna") <= col("hia") && col("mxa") >= col("loa")
            && col("mnb") <= col("hib") && col("mxb") >= col("lob"),
            col("n_rows")).otherwise(0L)).as("rows_scanned"))
      // the EXECUTED pruned reads: rows/checksum come from the frames
      // ZoneMapReader actually planned over the kept file list
      val matches = wls.map { case (w, la, ha, lb, hb) =>
        graft.etl.ZoneMapReader
          .readBox(handle, "a", la, ha, "b", lb, hb).df
          .agg(count(lit(1)).as("rows_matching"),
            sum(col("payload")).as("sum_payload"))
          .select(lit(w).as("workload"), col("rows_matching"),
            col("sum_payload"))
      }.reduce(_ unionByName _)
      val res = scans.join(matches, Seq("workload"))
        .select(col("workload"), col("n_parts"), col("parts_scanned"),
          col("rows_scanned"), col("rows_matching"), col("sum_payload"),
          expr("parts_scanned * 1000000 div n_parts").as("scan_ppm"))
        .orderBy(col("workload"))
        .localCheckpoint()
      res
    }
  }

  /** Incremental zone-map maintenance (q360, VERDICT r16 next-round 7:
    * "incremental zone-map maintenance on MERGE/append, kept O(delta)
    * like q93"): a standing file-grain manifest is NOT rebuilt when a
    * delta appends — only the NEW files' footers are probed
    * ([[graft.etl.ParquetZoneMaps.rowGroupStatsForFiles]], O(delta)
    * tasks) and unioned into the manifest. lineitem is ranked by
    * (ship_day, tie) into 4000-row `file_id` partitions (q351's exact
    * layout); the first ⌊4/5·nFiles⌋ partitions are the base build,
    * the rest arrive as the append. The output is the MERGED manifest
    * at partition grain with each partition's provenance phase; the
    * oracle replays the whole layout relationally (rank → partition
    * ranges), so a missed delta file, a re-probed base file landing
    * twice, or an append that leaked rows across the phase boundary
    * all flip rows/hulls and fail the gate.
    *
    * Scale shape: one rank, two layout writes, one O(base-files)
    * footer job at build time, one O(delta-files) footer job at
    * append time — the full-table re-walk never runs.
    */
  def incrementalZoneMap(spark: SparkSession, dir: String,
      rowsPerFile: Long = 4000L): DataFrame = {
    // the rank spine is shared with q351 (identical projection + rank;
    // see cachedShipDayRank) — the count and both phase writes read the
    // one persisted copy
    val ranked = cachedShipDayRank(spark, dir)
    val n = ranked.count()
    val nFiles = (n + rowsPerFile - 1) / rowsPerFile
    val baseFiles = nFiles * 4 / 5
    // INT partition key: hive partition-value inference reads small
    // integer dirs back as INT, and the append-mode schema gate
    // rightly refuses a BIGINT delta against an INT table
    val assigned = ranked
      .withColumn("file_id",
        expr(s"(r - 1) div ${rowsPerFile}L").cast("int"))
      .select(col("file_id"), col("ship_day"))
    graft.etl.HadoopIo.withStagingDir(spark, "graft-q360") { out =>
      val spec = graft.etl.Sinks.TableSpec("zmap_inc",
        graft.etl.Sinks.Parquet, partitionCols = Seq("file_id"),
        sortCols = Seq("ship_day"))
      val path = s"$out/zmap_inc"
      graft.etl.Sinks.write(
        assigned.filter(col("file_id") < baseFiles)
          .repartition(32, col("file_id")), spec, out)
      // the standing manifest: file-grain rows from the base build
      val manifest0 = graft.etl.ParquetZoneMaps
        .rowGroupStats(spark, path, "ship_day", requireStats = false)
        .toDF().localCheckpoint()
      // the append lands; ONLY files absent from the manifest are probed
      graft.etl.Sinks.write(
        assigned.filter(col("file_id") >= baseFiles)
          .repartition(32, col("file_id")),
        spec.copy(overwrite = false), out)
      val known = manifest0.select(col("file")).distinct()
        .collect().map(_.getString(0)).toSet
      val newFiles = graft.etl.ParquetZoneMaps.listDataFiles(spark, path)
        .filterNot(known)
      val deltaStats = graft.etl.ParquetZoneMaps
        .rowGroupStatsForFiles(spark, newFiles, "ship_day").toDF()
      val merged = manifest0.withColumn("phase", lit("base"))
        .unionByName(deltaStats.withColumn("phase", lit("delta")))
      val res = merged
        .withColumn("part_id", regexp_extract(col("file"),
          "file_id=(\\d+)", 1).cast("long"))
        .groupBy(col("part_id"), col("phase"))
        .agg(sum(col("n_rows")).as("n_rows"),
          min(col("min_v")).as("min_day"), max(col("max_v")).as("max_day"))
        .orderBy(col("part_id"))
        .localCheckpoint()
      res
    }
  }
}

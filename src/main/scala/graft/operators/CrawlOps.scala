package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl-layer operators: the host/URL-grain work a web-scale training
  * corpus runs before any document-grain dedup — canonicalizing
  * scrape-time URL mess into stable keys and laying the corpus out
  * host-sorted so per-site reads prune at the file level. The
  * reference pipeline ingests curated files (`Capstone/scripts/
  * etl.py:583-700`) and never sees a URL; this is the layer that
  * feeds such a pipeline at 100 TB, where the input IS a crawl.
  */
object CrawlOps {

  /** Host-sorted string-key pruned read (q358, VERDICT r16 "what's
    * missing" 2): documents are laid out sorted by REVERSED host
    * (`com.example.src7` — the classic crawl layout, clustering a
    * site's pages and its subdomains contiguously) into explicit
    * 150-row `file_id` partitions (q351's rank→partition device, so
    * the oracle can replay the layout relationally), and three
    * workloads — a point host, a host prefix, a host range — are
    * served through [[graft.etl.ZoneMapReader.readRangeStr]], the
    * reader that prunes the file list from the parquet footers' UTF8
    * min/max BEFORE planning. Accounting is at partition grain
    * (footer hulls aggregated per `file_id`, byte-decoded — parquet
    * UTF8 statistics order IS Spark's string order); a stats-absent
    * chunk poisons its partition to always-scanned rather than ever
    * skipping it. `rows_matching`/`sum_chars` come from the PRUNED
    * frames, so a reader that drops a needed file fails the oracle.
    *
    * Scale shape: one rank (sample-ranged, never a global window),
    * one layout write, ONE footer-only metadata job reused by all
    * three workloads, three pruned reads over kept files only. On a
    * host-sorted 100 TB crawl a single-site read schedules the
    * handful of files whose [min,max] straddle the site, not the
    * corpus.
    */
  def hostSortedRead(spark: SparkSession, dir: String,
      rowsPerFile: Long = 150L): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(concat(lit("com.example."), col("source")).as("rhost"),
        col("doc_id").as("tie"), col("n_chars"))
      .localCheckpoint()
    val assigned = TwoPhaseRank.rankBy(docs, "rhost", "tie")
      .withColumn("file_id", expr(s"(r - 1) div ${rowsPerFile}L"))
      .select(col("file_id"), col("rhost"), col("n_chars"))
    graft.etl.HadoopIo.withStagingDir(spark, "graft-q358") { out =>
      val spec = graft.etl.Sinks.TableSpec("host_probe",
        graft.etl.Sinks.Parquet, partitionCols = Seq("file_id"),
        sortCols = Seq("rhost"))
      graft.etl.Sinks.write(assigned.repartition(32, col("file_id")),
        spec, out)
      // ONE metadata handle for all three windows: listing, schema and
      // the binary footer walk are paid once and shared (r17: the
      // per-window re-walks made q358 the slowest registry query)
      val handle = graft.etl.ZoneMapReader.open(spark, spec, out)
      // partition-grain string hulls (raw UTF8 bytes decoded — both
      // orders are unsigned-lexicographic, so the hull comparison
      // below is exactly the footer test readRangeStr runs)
      val hulls = spark.createDataFrame(
          handle.statsBinary("rhost").toIndexedSeq)
        .withColumn("part", regexp_extract(col("file"),
          "file_id=(\\d+)", 1).cast("long"))
        .groupBy(col("part"))
        .agg(sum(col("n_rows")).as("n_rows"),
          min(when(col("exact"), col("min_b").cast("string"))).as("mn"),
          max(when(col("exact"), col("max_b").cast("string"))).as("mx"),
          max(when(col("exact"), lit(0)).otherwise(lit(1))).as("unknown"))
        .localCheckpoint()
      val wls = Seq(
        ("host_point", "com.example.src3", "com.example.src3"),
        ("host_prefix", "com.example.src1", "com.example.src1zzz"),
        ("host_range", "com.example.src0", "com.example.src2zzz"))
      val wl = spark.range(1).select(explode(array(wls.map {
          case (w, lo, hi) => struct(lit(w).as("workload"),
            lit(lo).as("lo"), lit(hi).as("hi"))
        }: _*)).as("w")).select(col("w.*"))
      val hit: Column = col("unknown") === 1 ||
        (col("mn") <= col("hi") && col("mx") >= col("lo"))
      val scans = hulls.crossJoin(broadcast(wl))
        .groupBy(col("workload"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(hit, 1L).otherwise(0L)).as("parts_scanned"),
          sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
      val matches = wls.map { case (w, lo, hi) =>
        graft.etl.ZoneMapReader
          .readRangeStr(handle, "rhost", lo, hi).df
          .agg(count(lit(1)).as("rows_matching"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(w).as("workload"), col("rows_matching"),
            col("sum_chars"))
      }.reduce(_ unionByName _)
      val res = scans.join(matches, Seq("workload"))
        .select(col("workload"), col("n_parts"), col("parts_scanned"),
          col("rows_scanned"), col("rows_matching"), col("sum_chars"),
          expr("parts_scanned * 1000000 div n_parts").as("scan_ppm"))
        .orderBy(col("workload"))
        .localCheckpoint()
      res
    }
  }

  /** URL canonicalization + host-grain dedup rollup (q359, VERDICT r16
    * next-round 7 — the crawl-layer twin of q27's exact dedup): each
    * document carries a scrape-time URL in one of four messy shapes
    * (uppercase scheme/host + `www.` + default port + tracking params
    * + fragment; explicit `:80`; mixed-case host + trailing slash;
    * unsorted query with `utm_` noise), built deterministically from
    * (source, doc_id) so the oracle constructs the identical corpus.
    * Canonicalization is the standard crawl-frontier normal form:
    * strip fragment, drop scheme, lowercase host, strip leading
    * `www.` and default ports, strip the path's trailing slash, drop
    * `utm_*` params and SORT the survivors. Docs 4m/4m+1 share a path
    * id and canonicalize together (the planted dup class); 4m+2/4m+3
    * share a path id but 4m+3 keeps a real query, so they stay
    * distinct — a canonicalizer that over- or under-normalizes flips
    * `n_canonical` and fails the gate.
    *
    * Scale shape: all canonicalization is row-local string expressions
    * (codegen'd, no UDFs, no shuffle); the rollup is one partial-agg
    * shuffle onto host grain — the value domain (sites), not the
    * corpus. This is the key-builder for [[hostSortedRead]]'s layout
    * and q27-style exact dedup at crawl scale.
    */
  def hostCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"))
    // doc_ids stride by 20 across the 20 sources (doc 20k+s is source
    // s's k-th page), so the page index is `doc_id div 20` — variant
    // and path id derive from IT, giving every host the full variant
    // mix and pairing pages 4m/4m+1 of the SAME host on one path id
    val v = expr("(doc_id div 20) % 4")
    val u = expr("doc_id div 40")
    val url = when(v === 0,
        concat(lit("HTTPS://WWW."), col("source"),
          lit(".EXAMPLE.COM:443/d/"), u, lit("?utm_source=feed#sec2")))
      .when(v === 1,
        concat(lit("http://"), col("source"), lit(".example.com:80/d/"), u))
      .when(v === 2,
        concat(lit("https://"), col("source"),
          lit(".Example.Com/d/"), u, lit("/")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".example.com/d/"),
          u, lit("?b=2&utm_medium=m&a=1")))
    val withUrl = docs.withColumn("url", url)
      // strip fragment, then scheme — the remainder is host[:port]/rest
      .withColumn("bare", regexp_replace(
        regexp_replace(col("url"), "#.*$", ""), "^[A-Za-z]+://", ""))
      .withColumn("hostport", regexp_extract(col("bare"), "^([^/]*)", 1))
      .withColumn("rest",
        expr("substring(bare, length(hostport) + 1)"))
      .withColumn("host", regexp_replace(regexp_replace(
        lower(col("hostport")), "^www\\.", ""), ":(80|443)$", ""))
      .withColumn("path", regexp_replace(
        regexp_extract(col("rest"), "^([^?]*)", 1), "/$", ""))
      .withColumn("query", expr(
        "CASE WHEN instr(rest, '?') = 0 THEN '' " +
          "ELSE substring(rest, instr(rest, '?') + 1) END"))
      .withColumn("cq", expr(
        "array_join(array_sort(filter(split(query, '&'), " +
          "x -> x <> '' AND NOT startswith(x, 'utm_'))), '&')"))
      .withColumn("canonical", concat(col("host"), col("path"),
        when(col("cq") === "", lit("")).otherwise(concat(lit("?"), col("cq")))))
    withUrl.groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("canonical")).as("n_canonical"),
        min(col("canonical")).as("first_canonical"))
      .withColumn("n_dup", col("n_urls") - col("n_canonical"))
      .select(col("host"), col("n_urls"), col("n_canonical"),
        col("n_dup"), col("first_canonical"))
      .orderBy(col("host"))
  }
}

package graft.etl

import graft.SparkSpecBase
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Read-side zone-map file pruning (VERDICT r15 item 3): the reader
  * must schedule ONLY the files whose footer min/max overlap the
  * window, the scan's own `numFiles` metric must agree with both the
  * reader's accounting and the relational zone-map prediction (q351's
  * `parts_scanned` device), and the pruned result must equal the
  * full-scan result exactly.
  */
class ZoneMapReaderSpec extends SparkSpecBase {

  private def numFilesMetric(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.metrics("numFiles").value).sum
  }

  test("sorted layout: files-read metric == reader accounting == relational zone-map prediction; result equals full scan") {
    val out = Files.createTempDirectory("graft-zmr").toString
    val spec = Sinks.TableSpec("zr_t", Sinks.Parquet,
      sortCols = Seq("k"), layoutFiles = 16)
    // pseudo-shuffled key so arrival order carries no accidental sort
    val data = spark.range(40000)
      .select((col("id") * 48271 % 40000).as("k"), col("id").as("payload"))
    Sinks.write(data, spec, out)

    val (lo, hi) = (1000L, 2000L)
    // the q351 device, relationally: which files SHOULD a window scan
    val predicted = ZoneMapReader.fileStats(spark, s"$out/zr_t", "k")
      .filter(col("min_v") <= hi && col("max_v") >= lo).count().toInt
    val pr = ZoneMapReader.readRange(spark, spec, out, "k", lo, hi)
    assert(pr.filesTotal >= 16)
    assert(pr.filesKept === predicted)
    assert(pr.filesKept <= 2,
      s"range-clustered window should live in <=2 of ${pr.filesTotal} files")
    // the scan's own metric: pruned files never became input splits
    assert(numFilesMetric(pr.df) === pr.filesKept.toLong)

    val full = spark.read.parquet(s"$out/zr_t")
      .filter(col("k").between(lo, hi))
    assert(pr.df.count() === full.count())
    assert(pr.df.exceptAll(full).isEmpty && full.exceptAll(pr.df).isEmpty)
  }

  test("ETL i94_trips date window: dailyArrivals over the pruned read equals the full read; files pruned") {
    val out = Files.createTempDirectory("graft-zmr-etl").toString
    // volume fixture (EtlVolumeSpec's generator): the 4-row unit fixture
    // lands in too few files for a pruning readout
    val raw = spark.createDataFrame(
      SyntheticI94.raw(spark, "/root/testdata/sf0.001").rdd, Schemas.rawI94)
    EtlPipeline.runAll(spark, Seq(raw),
      Fixtures.airports(spark),
      Fixtures.demographics(spark),
      Fixtures.dictionary,
      out)
    val spec = Sinks.registry.find(_.name == "i94_trips").get
    // pick a window from the physical footers: the first file's range
    // (so the test is robust to fixture date drift)
    val st = ZoneMapReader.fileStats(spark, s"$out/i94_trips", "arrival_date")
      .orderBy(col("min_v")).collect()
    assert(st.length >= 4, s"layout should split trips into files: ${st.length}")
    val (lo, hi) = (st.head.getLong(2), st.head.getLong(3))
    val pr = ZoneMapReader.readRange(spark, spec, out, "arrival_date", lo, hi)
    assert(pr.filesKept < pr.filesTotal,
      s"window [$lo,$hi] should prune: kept ${pr.filesKept} of ${pr.filesTotal}")
    assert(numFilesMetric(pr.df) === pr.filesKept.toLong)
    // hive partition columns survive the explicit-file read
    assert(pr.df.columns.contains("i94_year") && pr.df.columns.contains("i94_month"))

    val epoch = lit("1970-01-01").cast("date")
    val full = Sinks.readTable(spark, spec, out)
      .filter(col("arrival_date").between(
        date_add(epoch, lo.toInt), date_add(epoch, hi.toInt)))
    val a = graft.analytics.I94Analytics.dailyArrivals(pr.df).collect().toSeq
    val b = graft.analytics.I94Analytics.dailyArrivals(full).collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("schema-evolved table: files written before the layout column existed are skipped, not a crash") {
    val out = Files.createTempDirectory("graft-zmr-evo").toString
    // partition p=0 written BEFORE the column 'k' existed (no chunk at
    // all); p=1 after — the add-column evolution shape Sinks.mergeInto
    // leaves behind
    spark.range(100).select(lit(0L).as("p"), col("id").as("payload"))
      .write.partitionBy("p").parquet(s"$out/evo_t")
    spark.range(100).select(lit(1L).as("p"), col("id").as("payload"),
        (col("id") * 2).as("k"))
      .write.mode("append").partitionBy("p").parquet(s"$out/evo_t")
    val spec = Sinks.TableSpec("evo_t", Sinks.Parquet, Seq("p"))
    val pr = ZoneMapReader.readRange(spark, spec, out, "k", 0L, 50L)
    // old files skipped (their rows are null under mergeSchema — null
    // never matches a range predicate), new files pruned normally
    assert(pr.filesKept < pr.filesTotal)
    val expect = Sinks.readTable(spark, spec, out)
      .filter(col("k").between(0L, 50L))
    assert(pr.df.count() === expect.count() && expect.count() === 26L)
    // the strict gate keeps failing loudly on the missing chunk
    intercept[Exception](ParquetZoneMaps
      .rowGroupStats(spark, s"$out/evo_t", "k").collect())
  }

  test("stats-disabled column: files are KEPT as an unprunable superset, result equals full scan (ADVICE r16)") {
    val out = Files.createTempDirectory("graft-zmr-nostat").toString
    // a writer with column statistics disabled: stats absent but values
    // NON-NULL — conflating this with 'all-null chunk' (the r16 bug)
    // silently dropped every matching row from the pruned read
    spark.range(1000)
      .select((col("id") % 100).as("k"), col("id").as("payload"))
      .repartition(4)
      .write.option("parquet.column.statistics.enabled#k", "false")
      .parquet(s"$out/ns_t")
    val spec = Sinks.TableSpec("ns_t", Sinks.Parquet)
    val pr = ZoneMapReader.readRange(spark, spec, out, "k", 10L, 20L)
    assert(pr.filesTotal >= 4)
    assert(pr.filesKept === pr.filesTotal,
      "absent (not provably all-null) stats must keep every file")
    val full = spark.read.parquet(s"$out/ns_t")
      .filter(col("k").between(10L, 20L))
    assert(full.count() === 110L)
    assert(pr.df.count() === 110L,
      "stats-absent files' matching rows must survive the pruned read")
  }

  test("evolved table: kept files predating an add-column still read on the FULL schema (ADVICE r16)") {
    val out = Files.createTempDirectory("graft-zmr-evo2").toString
    // p=0 files carry (k, payload); a later evolution added `extra` in
    // p=1 only. A window touching ONLY p=0 must still expose `extra`
    // (as null) — merging just the kept files would lose the column.
    spark.range(100).select(lit(0L).as("p"), col("id").as("k"),
        col("id").as("payload"))
      .write.partitionBy("p").parquet(s"$out/evo2_t")
    spark.range(100).select(lit(1L).as("p"), (col("id") + 1000L).as("k"),
        col("id").as("payload"), lit("v2").as("extra"))
      .write.mode("append").partitionBy("p").parquet(s"$out/evo2_t")
    val spec = Sinks.TableSpec("evo2_t", Sinks.Parquet, Seq("p"))
    val pr = ZoneMapReader.readRange(spark, spec, out, "k", 0L, 50L)
    assert(pr.filesKept < pr.filesTotal, "p=1 files should prune away")
    assert(pr.df.columns.contains("extra"),
      "pruned frame must carry the evolved column even when every kept file predates it")
    val got = pr.df.select(col("k"), col("extra")).collect()
    assert(got.length === 51 && got.forall(_.isNullAt(1)))
  }

  test("string layout key: pruned read == full scan; truncated footer stats stay valid bounds; dropped stats keep the file") {
    val out = Files.createTempDirectory("graft-zmr-str").toString
    val hosts = spark.range(4000).select(
      format_string("host-%04d.example.com", (col("id") * 48271) % 4000)
        .as("host"),
      col("id").as("payload"))
    val spec = Sinks.TableSpec("hosts_t", Sinks.Parquet,
      sortCols = Seq("host"), layoutFiles = 16)
    Sinks.write(hosts, spec, out)
    val (lo, hi) = ("host-0100", "host-0200.zzz")
    val pr = ZoneMapReader.readRangeStr(spark, spec, out, "host", lo, hi)
    assert(pr.filesTotal >= 16)
    assert(pr.filesKept <= 2,
      s"host-sorted window should live in <=2 of ${pr.filesTotal} files, kept ${pr.filesKept}")
    assert(numFilesMetric(pr.df) === pr.filesKept.toLong)
    val full = spark.read.parquet(s"$out/hosts_t")
      .filter(col("host").between(lo, hi))
    assert(pr.df.count() === full.count() && full.count() > 0)
    assert(pr.df.exceptAll(full).isEmpty && full.exceptAll(pr.df).isEmpty)

    // truncation semantics: 2-byte statistics (min truncated DOWN, max
    // rounded UP) are coarser but must stay a SUPERSET — the result is
    // still exact
    val spec2 = Sinks.TableSpec("hosts_tr", Sinks.Parquet,
      sortCols = Seq("host"), layoutFiles = 16)
    Sinks.applyLayout(hosts, spec2)
      .write.option("parquet.statistics.truncate.length", "2")
      .parquet(s"$out/hosts_tr")
    val pr2 = ZoneMapReader.readRangeStr(spark, spec2, out, "host", lo, hi)
    val full2 = spark.read.parquet(s"$out/hosts_tr")
      .filter(col("host").between(lo, hi))
    assert(pr2.df.count() === full2.count(),
      "truncated stats must prune a superset, never drop matches")
    assert(pr2.filesKept >= pr.filesKept,
      "2-byte bounds can only be coarser")

    // stats DROPPED for size (binary min/max beyond the 4K footer cap):
    // the file must be kept unconditionally
    val big = spark.range(4).select(
      concat(lit("zzz-"), rpad(col("id").cast("string"), 5000, "x"))
        .as("host"),
      col("id").as("payload"))
    big.coalesce(1).write.mode("append").parquet(s"$out/hosts_t")
    val pr3 = ZoneMapReader.readRangeStr(spark, spec, out, "host", lo, hi)
    assert(pr3.filesKept === pr.filesKept + 1,
      "a stats-dropped file joins every window's kept list")
    assert(pr3.df.count() === full.count(),
      "the residual filter still excludes its non-matching rows")
  }

  test("z-ordered layout: box read prunes on BOTH dimensions; metric == accounting; result equals full scan") {
    val out = Files.createTempDirectory("graft-zmr-z").toString
    val data = spark.range(40000).select(
      ((col("id") * 48271) % 1024).as("a"),
      ((col("id") * 69621) % 1024).as("b"),
      col("id").as("payload"))
    // BLOCK-ALIGNED z-ranges (q143's exact device): zrange = z div 2^14
    // partitions each cover ONE 128x128 square of the (a, b) space, so
    // footer hulls are tight. (A sampled repartitionByRange on raw z —
    // the zorderCols write path — leaves boundaries mid-block; hulls of
    // z-adjacent-but-spatially-distant squares then widen and pruning
    // degrades to ~kept 44 of 64 on this same data, measured r17. The
    // aligned layout is what the production z-read table should write.)
    val z = graft.operators.ZOrder.zValue(col("a"), col("b"), bits = 31)
    val spec = Sinks.TableSpec("zbox_t", Sinks.Parquet,
      partitionCols = Seq("zrange"))
    Sinks.write(data.withColumn("z", z)
        .withColumn("zrange", expr("z div 16384")).drop("z")
        .repartition(col("zrange")),
      spec, out)
    val (loA, hiA, loB, hiB) = (100L, 160L, 200L, 260L)
    val pr = ZoneMapReader.readBox(spark, spec, out,
      "a", loA, hiA, "b", loB, hiB)
    assert(pr.filesTotal >= 60)
    assert(numFilesMetric(pr.df) === pr.filesKept.toLong)
    // the z-order payoff: the 60x60 box crosses one 128-boundary per
    // dimension -> at most 4 of the 64 aligned squares; EACH
    // single-column predicate prunes too (a 1-D sort could only prune
    // on its key)
    assert(pr.filesKept <= 4,
      s"2-D box should live in <=4 aligned z-squares: kept ${pr.filesKept} of ${pr.filesTotal}")
    val prA = ZoneMapReader.readBox(spark, spec, out,
      "a", loA, hiA, "b", Long.MinValue, Long.MaxValue)
    val prB = ZoneMapReader.readBox(spark, spec, out,
      "a", Long.MinValue, Long.MaxValue, "b", loB, hiB)
    assert(prA.filesKept * 2 <= prA.filesTotal &&
        prB.filesKept * 2 <= prB.filesTotal,
      s"either dimension alone must prune: a ${prA.filesKept}, b ${prB.filesKept} of ${pr.filesTotal}")
    val full = Sinks.readTable(spark, spec, out)
      .filter(col("a").between(loA, hiA) && col("b").between(loB, hiB))
      .select(col("a"), col("b"), col("payload"))
    val got = pr.df.select(col("a"), col("b"), col("payload"))
    assert(got.count() === full.count() && full.count() > 0)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)

    // the sampled zorderCols write path: coarser pruning, same EXACT
    // result (the reader contract is layout-independent)
    val spec2 = Sinks.TableSpec("zbox_s", Sinks.Parquet,
      zorderCols = Seq("a", "b"), layoutFiles = 64)
    Sinks.write(data, spec2, out)
    val pr2 = ZoneMapReader.readBox(spark, spec2, out,
      "a", loA, hiA, "b", loB, hiB)
    assert(pr2.filesKept < pr2.filesTotal, "sampled layout still prunes some files")
    val full2 = spark.read.parquet(s"$out/zbox_s")
      .filter(col("a").between(loA, hiA) && col("b").between(loB, hiB))
    assert(pr2.df.count() === full2.count())
  }

  test("a window no file overlaps returns the empty frame on the full schema") {
    val out = Files.createTempDirectory("graft-zmr-empty").toString
    val spec = Sinks.TableSpec("zr_e", Sinks.Parquet,
      sortCols = Seq("k"), layoutFiles = 4)
    Sinks.write(spark.range(100).select(col("id").as("k")), spec, out)
    val pr = ZoneMapReader.readRange(spark, spec, out, "k", 5000L, 6000L)
    assert(pr.filesKept === 0)
    assert(pr.df.count() === 0L)
    assert(pr.df.columns.toSeq === Seq("k"))
  }

  test("a table under a dot-directory still lists and prunes; hidden names below it do not list") {
    val out = Files.createTempDirectory("graft-zmr-dot").toString + "/.runs/out"
    val spec = Sinks.TableSpec("zr_d", Sinks.Parquet,
      sortCols = Seq("k"), layoutFiles = 4)
    Sinks.write(spark.range(400).select(col("id").as("k")), spec, out)
    val parts = new java.io.File(s"$out/zr_d").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length >= 4)
    // a hidden copy and a `_`-prefixed staging dir below the table root
    // are not table data
    Files.copy(parts.head.toPath, new java.io.File(s"$out/zr_d/.${parts.head.getName}").toPath)
    new java.io.File(s"$out/zr_d/_staging").mkdir()
    Files.copy(parts.head.toPath, new java.io.File(s"$out/zr_d/_staging/${parts.head.getName}").toPath)
    val listed = ParquetZoneMaps.listDataFiles(spark, s"$out/zr_d")
    assert(listed.map(p => new org.apache.hadoop.fs.Path(p).getName).sorted ===
      parts.map(_.getName).toSeq.sorted)
    val pr = ZoneMapReader.readRange(spark, spec, out, "k", 10L, 20L)
    assert(pr.filesTotal === parts.length)
    assert(pr.filesKept === 1)
    assert(pr.df.count() === 11L)
  }
}

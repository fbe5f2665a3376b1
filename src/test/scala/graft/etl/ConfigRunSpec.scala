package graft.etl

import graft.SparkSpecBase
import java.nio.file.Files

/** Config-driven end-to-end runs: EtlMain.runFromConfig drives the
  * 13-table pipeline from a config file alone (VERDICT item 4), and
  * RunAll composes ETL → catalog → DQ with the DAG's gate semantics
  * (VERDICT item 6).
  */
class ConfigRunSpec extends SparkSpecBase {

  /** Stage fixture inputs on disk under base/data and write the cfg file. */
  private def stage(): (String, String) = {
    val base = Files.createTempDirectory("graft-cfgrun").toString
    val data = s"$base/data"
    Fixtures.rawI94(spark).write.mode("overwrite").parquet(s"$data/raw_apr16.parquet")
    Fixtures.airports(spark).write.mode("overwrite")
      .option("header", "true").csv(s"$data/airports.csv")
    Fixtures.demographics(spark).write.mode("overwrite")
      .options(Map("header" -> "true", "delimiter" -> ";"))
      .csv(s"$data/demographics.csv")
    HadoopIo.writeUtf8(spark, s"$data/dict.sas", Fixtures.dictionary)
    val cfg =
      s"""[PATHS]
         |base_dir = $base
         |data_dir = data
         |input_files = ["raw_apr16.parquet", "raw_missing_may16.parquet"]
         |airports_file = airports.csv
         |us_demographics_file = demographics.csv
         |dictionary_file = dict.sas
         |output_dir = output
         |log_dir = log
         |
         |[DQ]
         |tables = '["i94_visa", "i94_travel_mode", "i94_trips"]'
         |table_col = '{"i94_visa": ["visa_id"], "i94_travel_mode": ["mode_id"]}'
         |""".stripMargin
    val cfgPath = s"$base/etl_config.cfg"
    HadoopIo.writeUtf8(spark, cfgPath, cfg)
    (base, cfgPath)
  }

  test("EtlMain runs the 13-table pipeline from a config file alone") {
    val (base, cfgPath) = stage()
    val counts = EtlMain.runFromConfig(spark, EtlConfig.load(spark, cfgPath))
    // all 13 registry tables written (missing may file skipped, not fatal)
    assert(counts.keySet === Sinks.registry.map(_.name).toSet)
    assert(counts("i94_trips") > 0)
    assert(HadoopIo.exists(spark, s"$base/output/i94_visa"))
    // dated log-file sink (etl.py:695-711 analog)
    val logs = new java.io.File(s"$base/log").listFiles()
    assert(logs != null && logs.exists(_.getName.startsWith("etl_logging_")))
    val logText = new String(java.nio.file.Files.readAllBytes(
      logs.find(_.getName.startsWith("etl_logging_")).get.toPath))
    assert(logText.contains("skipping missing input"))
    assert(logText.contains("i94_trips rows="))
  }

  test("RunAll composes ETL -> catalog -> DQ and reports pass") {
    val (_, cfgPath) = stage()
    val cfg = EtlConfig.load(spark, cfgPath)
    val (counts, reports, registered) = RunAll.run(spark, cfg)
    assert(counts.size === 13)
    assert(registered.toSet === Sinks.registry.map(_.name).toSet)
    // catalog answers by name after registration
    assert(spark.table("i94_visa").count() > 0)
    assert(reports.map(_.table) === Seq("i94_visa", "i94_travel_mode", "i94_trips"))
    assert(reports.forall(_.passed), reports.mkString(","))
    // the run manifest is written next to the tables with per-table
    // rows/bytes/files/partitions that agree with the ETL's own counts
    val manifest = HadoopIo.readUtf8(spark, s"${cfg.outputDir}/ETL_RUN.json")
    assert(manifest.contains("\"n_tables\": 13"), manifest)
    assert(manifest.contains(
      s""""i94_trips": {"format": "parquet", "rows": ${counts("i94_trips")}"""),
      manifest)
    val stats = RunManifest.stats(spark, cfg.outputDir, counts)
    assert(stats.size === 13)
    assert(stats.forall(s => s.bytes > 0 && s.files > 0), stats)
    // partitioned parquet tables report their leaf partition dirs
    assert(stats.find(_.name == "i94_trips").get.partitionDirs > 0)
    assert(stats.find(_.name == "i94_visa").get.partitionDirs === 0)
  }

  test("RunAll input gate fails fast when no configured input exists") {
    val (base, _) = stage()
    val cfg = EtlConfig.parse(
      s"""[PATHS]
         |base_dir = $base
         |input_files = ["nope.parquet"]
         |airports_file = airports.csv
         |us_demographics_file = demographics.csv
         |dictionary_file = dict.sas
         |[DQ]
         |tables = '["i94_visa"]'
         |""".stripMargin)
    intercept[IllegalArgumentException](RunAll.run(spark, cfg))
  }

  test("DQ reports a failure for a missing table (nonzero-exit branch)") {
    val (base, _) = stage()
    val reports = graft.dq.DqMain.runChecks(spark, s"$base/output",
      Seq("does_not_exist" -> Nil))
    assert(reports.exists(!_.passed))
  }

  test("DQ reads a registered CSV table as CSV: no Spark job fails") {
    val dir = Files.createTempDirectory("graft-dq-csv").toString
    spark.createDataFrame(Seq(("1", "Business"), ("2", "Pleasure")))
      .toDF("visa_id", "visa_purpose")
      .write.option("header", "true").csv(s"$dir/i94_visa")
    val (reports, ours, failed) = jobsOf("dq-csv-read") {
      graft.dq.DqMain.runChecks(spark, dir, Seq("i94_visa" -> Seq("visa_id")), _ => ())
    }
    assert(reports.map(r => (r.passed, r.rowCount)) === Seq((true, 2L)))
    assert(ours.nonEmpty, "runChecks ran no job in its group")
    assert(failed.isEmpty)
  }
}

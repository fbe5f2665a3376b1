package graft.dq

import graft.etl.{EtlConfig, EtlMain, HadoopIo, RunLog, Sinks}
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The DQ runner (SURVEY.md §3.2) as a plain main — the engine-side
  * replacement for `python i94_data_quality_check.py` + its Airflow
  * wrapper. Differences from the reference, on purpose: single evaluation
  * per table (the reference re-ran the null check up to 3×), and a
  * **nonzero exit code on failure** (the reference logged errors but
  * always exited 0 — i94_data_quality_check.py:291).
  *
  * Two invocation forms (the config form consumes the reference's
  * `[DQ] tables / table_col` map, `etl_config.cfg:62-64`):
  *
  *   runMain graft.dq.DqMain --config <cfgFile> [--env LOCAL]
  *   runMain graft.dq.DqMain <dataDir> <table[:keyCol,keyCol...]> ...
  */
object DqMain {

  /** A registry table in its written format (a parquet probe of a CSV
    * table aborts a Spark job on the footer read); any other name by
    * probing parquet, then CSV.
    */
  private def read(spark: SparkSession, dataDir: String, table: String): DataFrame =
    Sinks.registry.find(_.name == table) match {
      case Some(spec) if spec.format == Sinks.Csv => Sinks.readTable(spark, spec, dataDir)
      case Some(_) => spark.read.parquet(s"$dataDir/$table")
      case None => Readers.parquetOrCsv(spark, s"$dataDir/$table")
    }

  /** Run the checks for (table, keyCols) specs against `dataDir`. */
  def runChecks(spark: SparkSession, dataDir: String,
      specs: Seq[(String, Seq[String])],
      log: String => Unit = println): Seq[DataQuality.DqReport] = {
    val reports = specs.map { case (table, keys) =>
      val path = s"$dataDir/$table"
      // table-existence check (the reference's list-objects / isdir
      // branch), through Hadoop FS so URI-form paths work
      if (!HadoopIo.exists(spark, path)) {
        DataQuality.DqReport(table, 0, nonEmpty = false, Nil)
      } else {
        DataQuality.check(table, read(spark, dataDir, table), keys)
      }
    }
    reports.foreach { r =>
      val status = if (r.passed) "PASS" else "FAIL"
      val nulls = r.nullKeys.map(k => s"${k.column}=${k.nullCount}").mkString(",")
      log(s"[dq] $status ${r.table} rows=${r.rowCount}" +
        (if (nulls.nonEmpty) s" nullKeys[$nulls]" else ""))
    }
    reports
  }

  def main(args: Array[String]): Unit = {
    val spark = EtlMain.session()
    spark.sparkContext.setLogLevel("WARN")
    val reports = EtlMain.parseFlags(args) match {
      case Some((env, cfgPath)) =>
        val cfg = EtlConfig.load(spark, cfgPath)
        println(s"[dq] env=$env config=$cfgPath")
        val log = new RunLog(spark, cfg.logDir,
          cfg.get("PATHS", "dq_log_file").getOrElse("dq_logging_"))
        try runChecks(spark, cfg.outputDir, cfg.dqSpecs, log.info)
        finally log.close()
      case None =>
        require(args.length >= 2, "usage: DqMain --config <file> | " +
          "DqMain <dataDir> <table[:keys]>...")
        val specs = args.drop(1).toSeq.map { a =>
          a.split(":", 2) match {
            case Array(t, ks) => t -> ks.split(",").toSeq.filter(_.nonEmpty)
            case Array(t)     => t -> Nil
          }
        }
        runChecks(spark, args(0), specs)
    }
    spark.stop()
    if (reports.exists(!_.passed)) sys.exit(1)
  }
}

package graft.etl

import graft.sources.Readers
import org.apache.spark.sql.SparkSession

/** The `python etl.py` analog (SURVEY.md §3.1) as a runnable main:
  * raw I94 parquet (one path per month) + airports CSV + demographics CSV
  * + SAS dictionary text → the 13 output tables through the sink registry.
  *
  * Two invocation forms, mirroring the reference's
  * `--env {LOCAL,DOCKER,S3}` + configparser entry (`etl.py:591-652`):
  *
  *   runMain graft.etl.EtlMain --config <cfgFile> [--env LOCAL]
  *   runMain graft.etl.EtlMain <outDir> <airportsCsv> <demographicsCsv>
  *     <dictionaryFile> <rawMonthlyParquet> [more months ...]
  *
  * The env names a deployment profile like the reference's; all paths
  * (config included) resolve through Hadoop FS, so profile differences are
  * carried by the URIs in the config file rather than per-env client code.
  */
object EtlMain {

  /** Shared flag parsing for the config-driven mains: returns
    * (env, configPath) or None for legacy positional usage. Flags are
    * scanned positionally-independent (`--k v` anywhere in argv) — the
    * earlier `sliding(2,2)` pairing only saw flags at even offsets, so
    * `EtlMain out --config c` silently dropped the flag. Unknown flags
    * and flag/positional mixing are rejected loudly instead of ignored.
    */
  private[graft] def parseFlags(args: Array[String]): Option[(String, String)] =
    if (!args.exists(_.startsWith("--"))) None
    else {
      val m = scala.collection.mutable.Map.empty[String, String]
      var i = 0
      while (i < args.length) {
        val a = args(i)
        require(a.startsWith("--"),
          s"unexpected positional argument '$a' in flag usage " +
            "(flag and positional forms cannot be mixed)")
        val k = a.drop(2)
        require(k == "config" || k == "env", s"unknown flag --$k")
        require(i + 1 < args.length, s"--$k requires a value")
        require(!m.contains(k), s"duplicate flag --$k")
        m(k) = args(i + 1)
        i += 2
      }
      val env = m.getOrElse("env", "LOCAL").toUpperCase
      require(Seq("LOCAL", "DOCKER", "S3").contains(env),
        s"--env must be one of LOCAL, DOCKER, S3; got $env")
      Some(env -> m.getOrElse("config",
        throw new IllegalArgumentException("--config <file> is required with flag usage")))
    }

  private[graft] def session(): SparkSession = graft.GraftSession.builder().getOrCreate()

  /** Config-driven run: read every input named by the config, skip missing
    * monthly files (the reference's monthly-loop semantics, etl.py:736-748),
    * write the 13 tables, log to the dated log file. Returns row counts.
    */
  def runFromConfig(spark: SparkSession, cfg: EtlConfig): Map[String, Long] = {
    val log = new RunLog(spark, cfg.logDir,
      cfg.get("PATHS", "log_file").getOrElse("etl_logging_"))
    try {
      val t0 = System.nanoTime()
      val present = cfg.inputFiles.filter(HadoopIo.exists(spark, _))
      require(present.nonEmpty, s"no raw inputs exist among: ${cfg.inputFiles}")
      (cfg.inputFiles.toSet -- present.toSet)
        .foreach(p => log.info(s"skipping missing input $p"))
      val res = EtlPipeline.runAll(spark,
        present.map(Readers.rawI94(spark, _)),
        Readers.airportsCsv(spark, cfg.airportsFile),
        Readers.demographicsCsv(spark, cfg.demographicsFile),
        HadoopIo.readUtf8(spark, cfg.dictionaryFile),
        cfg.outputDir)
      res.rowCounts.toSeq.sortBy(_._1)
        .foreach { case (t, n) => log.info(s"$t rows=$n") }
      log.info(f"etl completed in ${(System.nanoTime() - t0) / 6e10}%.2f minutes")
      res.rowCounts
    } finally log.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    parseFlags(args) match {
      case Some((env, cfgPath)) =>
        println(s"[etl] env=$env config=$cfgPath")
        runFromConfig(spark, EtlConfig.load(spark, cfgPath))
        spark.stop()
      case None =>
        require(args.length >= 5,
          "usage: EtlMain --config <file> [--env LOCAL] | " +
            "EtlMain <outDir> <airportsCsv> <demographicsCsv> <dictFile> <raw...>")
        val Array(outDir, airportsPath, demoPath, dictPath) = args.take(4)
        val rawPaths = args.drop(4).toSeq
        val t0 = System.nanoTime()
        val monthly = rawPaths.filter(HadoopIo.exists(spark, _))
          .map(p => Readers.rawI94(spark, p))
        require(monthly.nonEmpty, s"no raw inputs exist among: $rawPaths")
        val res = EtlPipeline.runAll(spark, monthly,
          Readers.airportsCsv(spark, airportsPath),
          Readers.demographicsCsv(spark, demoPath),
          // Hadoop FS, not java.nio: the dictionary accepts the same URI
          // forms (file://, object stores) as every other input
          HadoopIo.readUtf8(spark, dictPath),
          outDir)
        res.rowCounts.toSeq.sortBy(_._1).foreach { case (t, n) =>
          println(s"[etl] $t rows=$n")
        }
        println(f"[etl] completed in ${(System.nanoTime() - t0) / 6e10}%.2f minutes")
        spark.stop()
    }
  }
}

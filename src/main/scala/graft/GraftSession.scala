package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main and spec builds on (the reference's
  * single `create_spark_session`, etl.py:72-95). Call sites add only what
  * they alone need: Catalog its Hive metastore, ScalingBench FAIR pools,
  * Bench its AQE sizing knob, Verify its parquet timestamp type.
  */
object GraftSession {
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // testdata parquet marks timestamps isAdjustedToUTC=false; read them as
    // TIMESTAMP (UTC session) like every engine-side consumer expects
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // reference semantics are pre-ANSI PySpark: junk casts/parses → null
    "spark.sql.ansi.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // the default 100-entry codegen cache cannot hold a 360-query
    // registry: every bench rep re-ran Janino compilation for every query
    // (q101 spent ~3 s/rep compiling, 0.6 s warm). Static conf.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // operator-internal localCheckpoints are garbage once their action
    // completes, but their MEMORY_AND_DISK blocks drop only when the
    // ContextCleaner sees the RDD collected; on a large driver heap that
    // lagged a full bench pass and the eviction churn slowed every later
    // query. A periodic GC bounds the dead-block window.
    "spark.cleaner.periodicGC.interval" -> "45s")

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cpus]").config(conf(cpus))

  /** Silence the expected WindowExec "No Partition Defined" WARNs: the
    * allowlisted bounded partitionless windows emit one per query and
    * bury real warnings in a run's stderr tail. The plan lint polices the
    * window shape; every other logger keeps WARN.
    */
  def quietWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}

package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The two package-private program entry points the benchmark needs. */
object ProgramAccess {
  /** Session-cache (admissions, evictions, rebuilds) since the JVM started. */
  def cacheTelemetry: (Long, Long, Long) = {
    val t = graft.operators.SessionCaches.telemetry
    (t.admissions, t.evictions, t.rebuilds)
  }

  /** The session `graft.etl.RunAll`'s main runs the pipeline in. */
  def etlSession(): SparkSession = graft.etl.EtlMain.session()
}

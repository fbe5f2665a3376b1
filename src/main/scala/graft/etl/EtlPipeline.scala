package graft.etl

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** End-to-end ETL runner: the Scala equivalent of `python etl.py`
  * (SURVEY.md §3.1 stages 6-8). Pure function of input DataFrames +
  * dictionary text → the 13 output tables, written through the Sinks
  * registry.
  *
  * Deliberate improvement over the reference (SURVEY.md §4): the raw
  * union and the trips DataFrame are persisted — the reference recomputes
  * the whole upstream (including the source scan) for every count()+write
  * and for the dates dim chained off trips.
  */
object EtlPipeline {

  case class EtlResult(tables: Map[String, DataFrame], rowCounts: Map[String, Long])

  /** Union monthly raw files by name (SURVEY.md §2.7 U2 — the safer
    * variant of the reference's positional fold, etl.py:97-108).
    */
  def concatRaw(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** Builds the 13 tables on the calling thread, then writes them all at
    * once (see [[writeAll]]). Each table's row count is the one its own
    * write observed, so no table is computed twice. `raw` and `trips`
    * are unpersisted however the run ends.
    */
  def runAll(spark: SparkSession,
      rawMonthly: Seq[DataFrame],
      airports: DataFrame,
      demographics: DataFrame,
      dictionaryContent: String,
      outputDir: String): EtlResult = {

    val raw = concatRaw(rawMonthly).persist(StorageLevel.MEMORY_AND_DISK)
    val trips = RefBuilders.i94Trips(spark, raw).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dictTables = DictionaryParser.sections.map { s =>
        val df =
          if (s.table == "i94_port_state_mapping")
            DictionaryParser.portStateMapping(spark, dictionaryContent)
          else DictionaryParser.toDF(spark, dictionaryContent, s)
        s.table -> df
      }.toMap

      val tables: Map[String, DataFrame] = Map(
        "i94_immigrations" -> RefBuilders.i94Immigrations(raw),
        "i94_trips" -> trips,
        "i94_visitors" -> RefBuilders.i94Visitors(spark, raw),
        "i94_flights" -> RefBuilders.i94Flights(spark, raw),
        "i94_dates" -> RefBuilders.i94Dates(trips),
        "i94_airports" -> RefBuilders.i94Airports(spark, airports),
        "i94_us_states_demographic" -> RefBuilders.i94UsStatesDemographic(spark, demographics),
        "i94_us_cities_demographic" -> RefBuilders.i94UsCitiesDemographic(spark, demographics)
      ) ++ dictTables

      val writes = Sinks.registry.flatMap(spec => tables.get(spec.name).map(spec -> _))
      EtlResult(tables, writeAll(writes, outputDir))
    } finally {
      raw.unpersist()
      trips.unpersist()
    }
  }

  /** Submits every write at once and returns each table's written row
    * count. At this size a table's write is mostly fixed cost (planning,
    * codegen, one-task jobs), so running them one after another left the
    * cores idle; Spark's scheduler queues the concurrent jobs instead.
    * The pool lives for this call only: its threads are created by the
    * caller, so they inherit its Spark local properties (job group, job
    * tags). Every write finishes, failed ones included, before the first
    * failure (in registry order) is rethrown.
    */
  private def writeAll(writes: Seq[(Sinks.TableSpec, DataFrame)],
      outputDir: String): Map[String, Long] = {
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(Sinks.registry.size, (r: Runnable) => {
      val t = new Thread(r, s"etl-write-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val pending = writes.map { case (spec, df) =>
        spec.name -> pool.submit[Long](() => Sinks.write(df, spec, outputDir))
      }
      val done = pending.map { case (name, f) =>
        name -> Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
      }
      done.map { case (name, n) => name -> n.get }.toMap
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}

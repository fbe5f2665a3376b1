package graft.etl

import org.apache.spark.sql.SparkSession

/** Catalog registration for the 13 output tables, the analog of the
  * reference's Hive-enabled session + Athena/BigQuery-style
  * query-over-named-tables model (`etl.py:88` `enableHiveSupport()`).
  *
  * [[register]] creates EXTERNAL tables over the Sinks registry's on-disk
  * layout: with a Hive-backed session (see [[builder]]) the metadata lands
  * in the Derby metastore and survives the session, so a later session on
  * the same warehouse answers `spark.table("i94_trips")` with no
  * re-registration; with the in-memory catalog the same call re-attaches
  * the layout idempotently at session start. Partitioned tables get
  * `recoverPartitions` (MSCK) so partition pruning works off catalog
  * metadata, not directory listing, at query time.
  */
object Catalog {

  /** Session builder with persistent catalog state rooted at `warehouseDir`
    * (metastore_db + warehouse both under it — one directory to carry
    * between sessions).
    */
  def builder(warehouseDir: String, cpus: Int): SparkSession.Builder =
    graft.GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$warehouseDir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouseDir/metastore_db;create=true")
      .enableHiveSupport()

  /** Register every written table from the registry as an external table.
    * Idempotent: drops and re-creates the metadata, never touches data.
    */
  def register(spark: SparkSession, outputDir: String): Seq[String] =
    Sinks.registry.filter(s => HadoopIo.exists(spark, s"$outputDir/${s.name}"))
      .map { spec =>
        spark.sql(s"DROP TABLE IF EXISTS ${spec.name}")
        spec.format match {
          // parquet is self-describing: schema comes from the footers
          case Sinks.Parquet =>
            spark.catalog.createTable(spec.name, "parquet",
              Map("path" -> s"$outputDir/${spec.name}"))
          // CSV loses types on disk — register through the pinned static
          // schema (Schemas.csvOutputs), NOT inferSchema: inference
          // silently retypes numeric-string ids to INT (SURVEY §7.4-7)
          case Sinks.Csv =>
            val schema = Schemas.csvOutputs.getOrElse(spec.name,
              throw new IllegalStateException(
                s"no static schema pinned for CSV table ${spec.name}"))
            // enforceSchema=false makes Spark check the file HEADER
            // against the pinned schema and fail loudly on writer/schema
            // drift — positional application (the default) would silently
            // mislabel columns instead
            spark.catalog.createTable(spec.name, "csv", schema,
              Map("header" -> "true", "enforceSchema" -> "false",
                "path" -> s"$outputDir/${spec.name}"))
        }
        if (spec.partitionCols.nonEmpty) {
          // partitioned external data: partitions are discovered from the
          // layout once, then served from catalog metadata
          spark.sql(s"ALTER TABLE ${spec.name} RECOVER PARTITIONS")
        }
        spec.name
      }
}

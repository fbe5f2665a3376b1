package graft.etl

/** Cross-session catalog persistence check, run as two separate JVMs so
  * the second session's catalog state genuinely comes from the Derby
  * metastore on disk, not shared in-process state:
  *
  *   runMain graft.etl.CatalogCheck write <warehouseDir> <outputDir>
  *     — registers every written table (Catalog.register) in a
  *       Hive-backed session rooted at warehouseDir
  *   runMain graft.etl.CatalogCheck read <warehouseDir> <expectedTable>
  *     — fresh session, same warehouse root: spark.table(expectedTable)
  *       must resolve from the metastore alone and return rows
  *
  * CatalogSpec drives both phases. Output contract: a single line
  * `CATALOG_CHECK OK <detail>` on success, nonzero exit otherwise.
  */
object CatalogCheck {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: CatalogCheck write|read <warehouseDir> <arg>")
    val Array(phase, warehouseDir, arg) = args
    val spark = Catalog.builder(warehouseDir, graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase match {
      case "write" =>
        val registered = Catalog.register(spark, arg)
        require(registered.nonEmpty, s"nothing to register under $arg")
        println(s"CATALOG_CHECK OK registered=${registered.size}")
      case "read" =>
        // no register call in this phase: resolution must come from the
        // metastore written by the previous JVM
        val n = spark.table(arg).count()
        require(n > 0, s"catalog table $arg resolved but is empty")
        // schema fidelity: CSV tables must resolve through the pinned
        // static schema, not inference — the dictionary id columns are
        // numeric STRINGS that inference would silently retype to INT
        Schemas.csvOutputs.get(arg).foreach { expected =>
          val got = spark.table(arg).schema
          require(got == expected,
            s"catalog schema for $arg diverged from the written schema:\n" +
              s"  got      $got\n  expected $expected")
        }
        // partitioned tables: partitions must be served from catalog
        // metadata (RECOVER PARTITIONS in the write phase), not inferred
        // from directory listing at query time
        val partCount = Sinks.registry
          .find(s => s.name == arg && s.partitionCols.nonEmpty)
          .map { _ =>
            val c = spark.sql(s"SHOW PARTITIONS $arg").count()
            require(c > 0, s"no partitions recovered for $arg")
            c
          }
        val tables = spark.sql(s"SHOW TABLES").count()
        println(s"CATALOG_CHECK OK rows=$n tables=$tables " +
          s"partitions=${partCount.getOrElse(0L)}")
    }
    spark.stop()
  }
}

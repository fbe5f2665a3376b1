package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided testdata star schema (TESTDATA.md).
  *
  * Mirrors the reference's source layer (SURVEY.md §2.1): the reference reads
  * raw sas7bdat/CSV into DataFrames (`/root/reference/Capstone/scripts/etl.py:739-807`);
  * offline we ingest parquet with the same "schema known at read time" stance.
  * Every loader is a plain parquet scan so Catalyst gets full
  * pushdown/pruning on it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The events generator's event_type enum (TESTDATA.md). Single
    * source of truth for every consumer that enumerates the domain —
    * DqSuite's enum expectation, the q344 oracle's channel list — so a
    * generator enum change fails loudly in one place instead of
    * silently diverging engine vs oracle.
    */
  val EventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** Memoized ANALYZED table frames (r18, guide §1.2 "don't compute
    * things you throw away" applied to metadata): `spark.read.parquet`
    * re-resolves the relation on EVERY call — file listing + a footer
    * read for schema inference — and the bench constructs ~360 queries
    * × 3 reps × 1–4 tables each, so the same ten immutable inputs were
    * re-resolved thousands of times per run. The memo stores the
    * resolved DataFrame (a logical plan — NO row data is cached; every
    * action still scans parquet), keyed by (session, dir, name);
    * invalidation = session end, same contract as [[graft.operators.SessionCaches]]
    * (the testdata tables are immutable by contract). Entries of
    * stopped sessions are purged on access so a session-cycling JVM
    * cannot pin dead sessions.
    *
    * The schema comes from the footer, read on the driver and converted
    * the way Spark's inference converts it, and is passed to the reader:
    * left to itself, the first read of each table in a session starts a
    * one-task Spark job just to open that footer.
    */
  private val frameMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    frameMemo.keySet.removeIf(_._1.sparkContext.isStopped)
    frameMemo.computeIfAbsent((spark, dir, name), { k =>
      val path = s"${k._2}/${k._3}.parquet"
      normalizeNtz(k._1.read.schema(footerSparkSchema(k._1, path)).parquet(path))
    })
  }

  /** `path`'s schema as `spark.read.parquet(path)` infers it under the
    * session's conf (NTZ inference, nanosAsLong, binaryAsString).
    */
  private def footerSparkSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.parquet.hadoop.Footer
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    withFooter(spark, path)((file, meta) => ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, meta), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** Opens the footer of `path` (a directory: its first part file by
    * name) on the driver and hands it to `f`.
    */
  private def withFooter[T](spark: SparkSession, path: String)(
      f: (org.apache.hadoop.fs.Path, org.apache.parquet.hadoop.metadata.ParquetMetadata) => T): T = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet"))
          .sortBy(_.getName).headOption.getOrElse(p)
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(file, reader.getFooter) finally reader.close()
  }

  /** The testdata parquet marks timestamps `isAdjustedToUTC=false`; our
    * sessions disable `spark.sql.parquet.inferTimestampNTZ.enabled` so the
    * scan natively yields TIMESTAMP (keeping filter pushdown). If a caller
    * brings a session with NTZ inference on, rescue the semantics here:
    * with a UTC session the NTZ→TIMESTAMP cast is wall-clock-preserving
    * and a no-op when the conf is already off.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Memoized per (path, col) — the footer probe opens the file
    * directly and [[events]] runs on every query construction (r18:
    * thousands of redundant footer opens per bench run). The footer of
    * an immutable input never changes; a DIFFERENT path re-probes.
    */
  private val nanosMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]

  /** True when `path`'s parquet footer declares column `colName` as
    * TIMESTAMP(NANOS). Reads the footer directly (one metadata read of
    * one file — a directory probes its first part file) instead of
    * pattern-matching Spark's version-dependent error text, so the
    * dispatch survives error-message changes and exception wrapping.
    */
  private[graft] def footerSaysNanos(spark: SparkSession, path: String,
      colName: String): Boolean =
    nanosMemo.computeIfAbsent((path, colName),
      _ => java.lang.Boolean.valueOf(footerSaysNanosUncached(spark, path, colName)))

  private def footerSaysNanosUncached(spark: SparkSession, path: String,
      colName: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    withFooter(spark, path) { (_, meta) =>
      val schema = meta.getFileMetaData.getSchema
      schema.containsField(colName) && {
        val t = schema.getType(Seq(colName): _*)
        t.isPrimitive && (t.asPrimitiveType().getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
      }
    }
  }

  /** events.ts has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) (no native Spark type — read as
    * long via the legacy conf and floor-convert ns→µs, exactly what DuckDB
    * does when it narrows nanos into its µs TIMESTAMP) and plain
    * TIMESTAMP(MICROS). Dispatch on the footer schema so either reads as a
    * µs TIMESTAMP column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    // nanosAsLong is an analyzer-level conf with no per-read equivalent;
    // only the NANOS layout needs it — probe the footer, don't sniff
    // error messages
    if (footerSaysNanos(s, s"$d/events.parquet", "ts"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // MICROS layout: load() already normalized any NTZ
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

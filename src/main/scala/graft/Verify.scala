package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    // plain int64 micros so the DuckDB/pyarrow oracle compare reads
    // timestamps without INT96 legacy handling
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietWindowWarnings()
    new java.io.File(outDir).mkdirs()
    // dev-only focused runs (tools/check_oracle.py pre-flight): unset —
    // the driver's path — dumps every query
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of what this run tried to dump: a query that crashed
    // inside the try above has an entry here but no parquet dir, which
    // tools/check_oracle.py treats as a hard FAIL (a filtered-out query
    // is absent from the manifest and legitimately skipped)
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}

package graft.etl

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpecBase {

  test("append mode accumulates partitions (the reference's incremental path)") {
    val out = Files.createTempDirectory("graft-sinks").toString
    val t = RefBuilders.i94Trips(spark, Fixtures.rawI94(spark))
    val spec = Sinks.TableSpec("i94_trips", Sinks.Parquet,
      Seq("i94_year", "i94_month"), overwrite = true)

    val n1 = Sinks.write(t, spec, out)
    assert(n1 > 0 && spark.read.parquet(s"$out/i94_trips").count() === n1)

    // simulate next month's load: same rows shifted to month 5, append
    // mode; the write reports its own rows, not the table's total
    val month5 = t.withColumn("i94_month", lit(5))
    assert(Sinks.write(month5, spec.copy(overwrite = false), out) === n1)

    val all = spark.read.parquet(s"$out/i94_trips")
    assert(all.count() === n1 * 2)
    assert(all.select("i94_month").distinct().count() === 2)
    // overwrite replaces everything again
    Sinks.write(t, spec, out)
    assert(spark.read.parquet(s"$out/i94_trips").count() === n1)
  }

  test("compact rewrites a many-file table into the target file count") {
    val out = Files.createTempDirectory("graft-compact").toString
    graft.Tables.orders(spark, sf0001).repartition(16)
      .write.parquet(s"$out/orders")
    val before = new java.io.File(s"$out/orders").list()
      .count(_.endsWith(".parquet"))
    assert(before >= 8)
    val n = Sinks.compact(spark, s"$out/orders", targetFiles = 2)
    val after = new java.io.File(s"$out/orders").list()
      .count(_.endsWith(".parquet"))
    assert(after === 2)
    assert(spark.read.parquet(s"$out/orders").count() === n)
  }
}

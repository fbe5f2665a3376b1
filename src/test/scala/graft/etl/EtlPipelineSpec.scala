package graft.etl

import graft.SparkSpecBase
import java.nio.file.Files

class EtlPipelineSpec extends SparkSpecBase {

  test("runAll writes all 13 tables with the spec'd layout") {
    val out = Files.createTempDirectory("graft-etl").toString
    val res = EtlPipeline.runAll(spark,
      Seq(Fixtures.rawI94(spark)),
      Fixtures.airports(spark),
      Fixtures.demographics(spark),
      Fixtures.dictionary,
      out)
    assert(res.rowCounts.keySet === Sinks.registry.map(_.name).toSet)
    assert(res.rowCounts.values.forall(_ > 0))
    // each count is the rows its own write wrote (i94_trips included:
    // its range layout's sampling job must not count twice)
    Sinks.registry.foreach { spec =>
      assert(res.rowCounts(spec.name) === Sinks.readTable(spark, spec, out).count(), spec.name)
    }
    // partitioned parquet tables have Hive-style partition dirs
    val tripsDirs = new java.io.File(s"$out/i94_trips").list().toSeq
    assert(tripsDirs.exists(_.startsWith("i94_year=2016")))
    val monthDirs = new java.io.File(s"$out/i94_trips/i94_year=2016").list().toSeq
    assert(monthDirs.exists(_.startsWith("i94_month=4")))
    // CSV dims are plain csv
    assert(new java.io.File(s"$out/i94_visa").list().exists(_.endsWith(".csv")))
    // partition-pruned read round-trips
    val pruned = spark.read.parquet(s"$out/i94_trips")
      .filter(org.apache.spark.sql.functions.col("i94_month") === 4)
    assert(pruned.count() === res.rowCounts("i94_trips"))
    // the fact table's layout is PHYSICAL (WRITE_CONTRACT section 5):
    // arrival_date is range-clustered across files, so per-file zone
    // maps are mutually non-overlapping and a date window scans a
    // file subset (lenient stats read: the nullable key's all-null
    // leading chunk carries no min/max)
    val zm = ParquetZoneMaps.rowGroupStats(spark, s"$out/i94_trips",
      "arrival_date", requireStats = false).collect()
    assert(zm.nonEmpty)
    val ranges = zm.groupBy(_.file).values
      .map(rs => (rs.map(_.min_v).min, rs.map(_.max_v).max))
      .toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 <= b._1, s"overlapping file date ranges $a vs $b")
      case _ => ()
    }
  }

  test("one failed write fails the run after the others finish, and leaks nothing") {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft-etl-fail").toString
    // only i94_airports reads the airports frame; its write fails in a task
    val airports = Fixtures.airports(spark).withColumn("name",
      raise_error(concat(lit("injected failure at "), col("ident"))).cast("string"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val run = Future(EtlPipeline.runAll(spark, Seq(Fixtures.rawI94(spark)), airports,
      Fixtures.demographics(spark), Fixtures.dictionary, out))(ExecutionContext.global)
    val err = intercept[Exception](Await.result(run, 5.minutes))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected failure at")), err)
    // every other write finished before the failure was rethrown
    Sinks.registry.filter(_.name != "i94_airports").foreach { spec =>
      assert(new java.io.File(s"$out/${spec.name}/_SUCCESS").exists, spec.name)
    }
    assert(!new java.io.File(s"$out/i94_airports/_SUCCESS").exists)
    // raw and trips are unpersisted, and the write pool is gone
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(cachedBefore))
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName.startsWith("etl-write-") && t.isAlive))
  }

  test("union-by-name concat tolerates column order differences") {
    val a = Fixtures.rawI94(spark)
    val b = a.select(a.columns.reverse.map(org.apache.spark.sql.functions.col): _*)
    assert(EtlPipeline.concatRaw(Seq(a, b)).count() === a.count() * 2)
  }
}

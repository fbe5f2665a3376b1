package graft.dq

import graft.SparkSpecBase
import graft.etl.{Fixtures, RefBuilders}

class DataQualitySpec extends SparkSpecBase {
  import spark.implicits._

  test("nonEmpty + nullKeys: type-aware isnan, one pass, counts match") {
    val df = Seq(
      (Some(1.0), Some("a")),
      (None, Some("b")),
      (Some(Double.NaN), None)).toDF("num", "str")
    assert(DataQuality.nonEmpty(df))
    val res = DataQuality.nullKeys(df, Seq("num", "str")).map(r => r.column -> r.nullCount).toMap
    assert(res("num") === 2) // null + NaN (numeric column)
    assert(res("str") === 1) // isnan never applied to strings (no crash)
  }

  test("empty table fails the report") {
    val empty = spark.emptyDataFrame
    assert(!DataQuality.nonEmpty(empty))
    val rep = DataQuality.check("t", Seq.empty[(Int, String)].toDF("a", "b"), Seq("a"))
    assert(!rep.passed && rep.rowCount === 0)
  }

  test("check counts rows and null keys in one aggregate") {
    import org.apache.spark.sql.functions.{count, lit}
    import DataQuality.{DqReport, NullKeyResult}
    val dir = java.nio.file.Files.createTempDirectory("graft-dq-jobs").toString + "/t"
    Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 1.5, "a"), (null, Double.NaN, "b"), (3L, null, null), (4L, 2.5, "d"))
      .toDF("k", "v", "s").repartition(2).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val (_, oneAggregate, _) = jobsOf("dq-jobs-agg")(df.agg(count(lit(1))).collect())
    val (rep, checked, _) = jobsOf("dq-jobs-check")(DataQuality.check("t", df, Seq("k", "v", "s")))
    assert(oneAggregate.nonEmpty && checked.size === oneAggregate.size)
    assert(rep === DqReport("t", 4, nonEmpty = true,
      Seq(NullKeyResult("k", 1), NullKeyResult("v", 2), NullKeyResult("s", 1))))
    assert(DataQuality.check("t", df, Nil) === DqReport("t", 4, nonEmpty = true, Nil))
  }

  test("fk violations via left_anti: trips keys missing from countries dim") {
    val trips = RefBuilders.i94Trips(spark, Fixtures.rawI94(spark))
    val countries = Seq(("101", "ALBANIA"), ("102", "FRANCE"))
      .toDF("country_id", "country")
    // raw rows reference resident countries 102 and 104; 104 is missing
    val bad = DataQuality.fkViolations(trips, "resident_country_id", countries, "country_id")
    assert(bad === 1)
    val rep = DataQuality.check("i94_trips", trips, Seq("custom_client_id", "admissions_number"))
    assert(rep.passed)
  }

  test("observe: in-flight counters agree with the standalone nullKeys pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 1.5, "a"), (null, Double.NaN, null), (3L, null, "c"),
      (4L, 2.5, null))
      .toDF("k", "v", "s")
    val (obs, framed) = DataQuality.observedNullCounts(df, Seq("k", "v", "s"))
    // the metrics ride the terminal action itself — one scan total
    framed.write.mode("overwrite").format("noop").save()
    val m = obs.get
    assert(m("rows") === 4L)
    // type-aware: NaN counts for the numeric column, not the string
    assert(m("null_k") === 1L && m("null_v") === 2L && m("null_s") === 2L)
    val standalone = DataQuality.nullKeys(df, Seq("k", "v", "s"))
      .map(r => s"null_${r.column}" -> r.nullCount).toMap
    assert(standalone === m.view.filterKeys(_ != "rows").toMap)
  }
}

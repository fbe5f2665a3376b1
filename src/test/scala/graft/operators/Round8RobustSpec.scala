package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Round-8 robust/session batch: session stats (q174), exact
  * median/MAD outliers (q175).
  */
class Round8RobustSpec extends SparkSpecBase {
  import spark.implicits._

  test("sessionsOn: durations and bands on a constructed timeline") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(100)), (2L, ts(0)))
      .toDF("user_id", "ts")
    val sess = CoreQueries.sessionsOn(ev, 30).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    // user 1: {0,10} then {100}; user 2: {0}
    assert(sess.toSet === Set((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("q174: bands reconcile with q58 and the raw event count") {
    val bands = CoreQueries.q174SessionStats(spark, sf0001).collect()
    val sessions = CoreQueries.q58SessionsBatch(spark, sf0001)
    assert(bands.map(_.getLong(1)).sum === sessions.count())
    val nEvents = graft.Tables.events(spark, sf0001).count()
    assert(bands.map(r => r.getLong(0) * r.getLong(1)).sum === nEvents)
    // avg is the mirrored division of the integer sums
    bands.foreach { r =>
      val expect = BigDecimal(
        r.getLong(2).toDouble / r.getLong(1).toDouble / 1000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === expect)
    }
  }

  test("q175: median/MAD/outliers match a driver-side exact recompute") {
    val out = CoreQueries.q175MadOutliers(spark, sf0001).collect()
    assert(out.nonEmpty)
    val rows = graft.Tables.orders(spark, sf0001)
      .join(graft.Tables.customer(spark, sf0001),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def med2Of(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = s.length
      s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)
    }
    val bySeg = rows.groupBy(_._1)
    assert(out.map(_.getString(0)).toSet === bySeg.keySet)
    out.foreach { r =>
      val cents = bySeg(r.getString(0)).map(_._2).toSeq
      val med2 = med2Of(cents)
      val devs = cents.map(c => math.abs(2 * c - med2))
      val mad4 = med2Of(devs)
      assert(r.getLong(1) === cents.length.toLong)
      assert(r.getDouble(2) === BigDecimal(med2.toDouble / 200.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getDouble(3) === BigDecimal(mad4.toDouble / 400.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getLong(4) === devs.count(d => 2 * d > 3 * mad4).toLong)
    }
  }
}

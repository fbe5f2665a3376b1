package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session is built by [[GraftSession]]: the specs run with its
  * settings, the Hive catalog session adds only its metastore, and no
  * source builds a session of its own.
  */
class GraftSessionSpec extends SparkSpecBase {

  /** The options a builder will start its session with (the holder,
    * Spark's SparkSessionBuilder, is package-private).
    */
  private def options(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] =
    Class.forName("org.apache.spark.sql.SparkSessionBuilder").getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.HashMap[String, String]].toMap

  test("every GraftSession setting is live in the test session") {
    val live = spark.sparkContext.getConf
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).orElse(live.getOption(k)) === Some(v), k)
    }
    assert(spark.sparkContext.master === "local[4]")
  }

  test("Catalog.builder adds only its warehouse and Hive metastore settings") {
    val shared = options(GraftSession.builder(3))
    val hive = options(etl.Catalog.builder("/wh", 3))
    assert(shared === GraftSession.conf(3) + ("spark.master" -> "local[3]"))
    assert(hive -- shared.keys === Map(
      "spark.sql.warehouse.dir" -> "/wh/warehouse",
      "javax.jdo.option.ConnectionURL" ->
        "jdbc:derby:;databaseName=/wh/metastore_db;create=true",
      "spark.sql.catalogImplementation" -> "hive"))
    assert(hive.filter { case (k, _) => shared.contains(k) } === shared)
  }

  test("no source outside GraftSession builds a SparkSession") {
    val call = "SparkSession" + ".builder()"
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala")
        .filter((p: Path) => Files.readString(p).contains(call))
        .map(_.toString).toSeq
    }
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }
}

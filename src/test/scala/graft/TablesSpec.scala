package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.TimestampType

class TablesSpec extends SparkSpecBase {

  test("Tables.load takes every table's schema from its footer: no Spark job, the schema inference gives") {
    // a fresh directory, so no earlier load in this session memoized the frames
    val dir = Files.createTempDirectory("graft-tables").toString
    Tables.all.foreach(t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"), Paths.get(s"$dir/$t.parquet")))
    val (frames, jobs, _) = jobsOf("tables-load")(Tables.all.map(Tables.load(spark, dir, _)))
    assert(jobs.isEmpty, s"Tables.load started ${jobs.size} jobs")
    Tables.all.zip(frames).foreach { case (t, df) =>
      assert(df.schema === spark.read.parquet(s"$dir/$t.parquet").schema, t)
    }
  }

  test("Tables.events: a TIMESTAMP(NANOS) footer reads as floored µs timestamps, without a job") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-tables-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    // the NANOS layout sets nanosAsLong on the session it reads with
    val s = spark.newSession()
    val (df, jobs, _) = jobsOf("tables-events-nanos")(Tables.events(s, dir))
    assert(jobs.isEmpty, s"Tables.events started ${jobs.size} jobs")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.selectExpr("unix_micros(ts)").head().getLong(0) === 1700000000123456L)
  }
}

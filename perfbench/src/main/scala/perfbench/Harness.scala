package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions.{col, lit, xxhash64}

import graft.SparkEntry
import graft.analytics.I94Analytics
import graft.dq.DataQuality.DqReport
import graft.dq.DqMain
import graft.etl.{Catalog, EtlConfig, EtlMain, HadoopIo, RunAll, RunManifest, SyntheticI94}
import graft.perfbench.ProgramAccess

/** One benchmark run inside one JVM: set up, run one workload closed-loop
  * (one client; the next operation starts when the previous one ends)
  * for a fixed number of passes and at least `--seconds`, then check
  * outputs outside the timed window. Writes the raw record (every
  * operation, pass, job and query execution) as JSON to `--out`;
  * `perfbench/run.py` turns it into metrics.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --data DIR
  *     --work DIR --out FILE [--queries q1,q2,...]
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, queries: Seq[String]) {
    /** Set-up cycles per run; `setup_s` is their median. */
    val setups = 3
    /** `local[N]`, as the program's own ETL session reads it. */
    val cpus: Int = sys.env("SPARK_GRAFT_CPUS").toInt
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"),
      kv.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
    val run = a.workload match {
      case "i94_etl" => new EtlRun(a)
      case "llm_registry" => new RegistryRun(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val record = run.execute() ++ Map("jvm_start_s" -> jvmStartS)
    Files.writeString(Paths.get(a.out),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
  }
}

/** What every workload shares: the clock, set-up cycles, tagged and
  * timed operations, heap and counter sampling.
  */
abstract class Run(val a: Harness.Args) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val recorder: Option[Recorder] = if (a.trace) Some(new Recorder) else None
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var heapPeak = 0L
  private var storagePeak = 0L

  def newSession(k: Int): SparkSession

  /** Input staging that belongs to set-up (none by default). */
  def stage(spark: SparkSession, k: Int): Unit = ()

  def execute(): Map[String, Any]

  /** Runs `a.setups` set-up cycles (session start plus staging) and
    * keeps the session of the last one.
    */
  def setup(): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to a.setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t = nowMs
      spark = newSession(k)
      spark.sparkContext.setLogLevel("ERROR")
      stage(spark, k)
      (nowMs - t) / 1e3
    }
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    (spark, times)
  }

  /** Runs one operation under its own job tag; records its span, the end
    * of its DataFrame-building call, and whether it threw.
    */
  def op(spark: SparkSession, kind: String, name: String, pass: Int)
      (build: => DataFrame)(action: DataFrame => Unit): Unit = {
    val tag = s"$pass/$kind/$name"
    spark.sparkContext.setLocalProperty(Recorder.OpKey, tag)
    val start = nowMs
    var built = start
    val err = try {
      val df = build
      built = nowMs
      action(df)
      None
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally spark.sparkContext.setLocalProperty(Recorder.OpKey, null)
    val end = nowMs
    // a build that threw spent the whole operation building
    if (built == start && err.isDefined) built = end
    sample(spark)
    ops += Map("kind" -> kind, "name" -> name, "pass" -> pass, "tag" -> tag,
      "start_ms" -> start, "built_ms" -> built, "end_ms" -> end,
      "ok" -> err.isEmpty, "error" -> err.orNull)
  }

  /** Records a pass with the deltas of the JVM-wide static counters
    * (codegen, optimizer rules, session caches) across it, then collects
    * garbage (outside every operation's time) and samples the heap still
    * in use: what the pass left live, caches included.
    */
  def pass[T](spark: SparkSession, idx: Int)(body: => T): T = {
    val c0 = counters
    val start = nowMs
    val out = body
    val end = nowMs
    val delta = counters.zip(c0).map { case ((k, v1), (_, v0)) => k -> (v1 - v0) }
    passes += Map("pass" -> idx, "start_ms" -> start, "end_ms" -> end) ++ delta
    System.gc()
    heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    out
  }

  private def counters: Seq[(String, Long)] = {
    val rules = RuleExecutor.getCurrentMetrics()
    val (admissions, evictions, rebuilds) = ProgramAccess.cacheTelemetry
    Seq("codegen_ns" -> CodeGenerator.compileTime,
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "rule_runs" -> rules.numRuns, "rule_effective_runs" -> rules.numEffectiveRuns,
      "cache_admissions" -> admissions, "cache_evictions" -> evictions,
      "cache_rebuilds" -> rebuilds)
  }

  /** Storage residency (traced runs only: it walks every RDD). */
  private def sample(spark: SparkSession): Unit =
    if (a.trace) storagePeak = math.max(storagePeak,
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)

  /** Everything recorded, ready to serialize. */
  def record(spark: SparkSession, setupS: Seq[Double], window: (Double, Double)): Map[String, Any] = {
    recorder.foreach(_ => org.apache.spark.perfbench.ListenerDrain(spark.sparkContext))
    Map("workload" -> a.workload, "seed" -> a.seed, "setup_s" -> setupS,
      "window_ms" -> Seq(window._1, window._2),
      "ops" -> ops.toSeq, "passes" -> passes.toSeq,
      "live_heap_peak_bytes" -> heapPeak, "storage_peak_bytes" -> storagePeak,
      "jobs" -> recorder.toSeq.flatMap(_.jobs.values.asScala.toSeq.sortBy(_.id).map(jobJson)),
      "queries" -> recorder.toSeq.flatMap(_.queries.asScala.toSeq.map(q => Map(
        "phases" -> q.phases.map { case (k, (s, e)) => k -> Seq(s, e) },
        "scan_files" -> q.scanFiles, "scan_bytes" -> q.scanBytes))))
  }

  private def jobJson(j: Recorder.Job): Map[String, Any] = j.synchronized {
    val skew = j.stageReads.values.map { v =>
      val s = v.sorted
      val med = s(s.size / 2)
      if (med > 0) s.last.toDouble / med else 0.0
    }.foldLeft(0.0)(math.max)
    Map("id" -> j.id, "tag" -> j.tag, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "failed" -> j.failed, "stages" -> j.stages, "tasks" -> j.tasks,
      "failed_tasks" -> j.failedTasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
      "gc_ms" -> j.gcMs, "overhead_ms" -> j.overheadMs, "input_bytes" -> j.inputBytes,
      "shuffle_read_bytes" -> j.shuffleReadBytes,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes,
      "skew" -> skew)
  }

  /** Closed loop: runs `minPasses` passes, then keeps starting passes
    * until the time is up. A pass beyond `minPasses` stops early when the
    * time is up; it is then incomplete. A fixed pass count keeps the work
    * of a run, and so its per-layer totals, the same from run to run.
    */
  def loop(spark: SparkSession, minPasses: Int)(runPass: (Int, () => Boolean) => Unit): (Double, Double) = {
    val start = nowMs
    val deadline = start + a.seconds * 1e3
    var p = 0
    while (p < minPasses || nowMs < deadline) {
      val idx = p
      val more = () => idx < minPasses || nowMs < deadline
      pass(spark, idx)(runPass(idx, more))
      p += 1
    }
    (start, nowMs)
  }
}

/** The paper's pipeline: stage the synthetic I94 inputs (set-up), then
  * time one `RunAll.run`, cold as a batch runs it, and the reference's
  * ten analytical questions over the tables it just wrote, asked again
  * in later passes.
  */
final class EtlRun(a0: Harness.Args) extends Run(a0) {
  private def base(k: Int) = s"${a.work}/etl$k"

  def newSession(k: Int): SparkSession = ProgramAccess.etlSession()

  override def stage(spark: SparkSession, k: Int): Unit = {
    val data = s"${base(k)}/data"
    SyntheticI94.raw(spark, a.data)
      .orderBy(xxhash64(lit(a.seed), col("cicid")), col("cicid"))
      .write.mode("overwrite").parquet(s"$data/raw_2016.parquet")
    SyntheticI94.airports(spark).write.mode("overwrite")
      .option("header", "true").csv(s"$data/airports.csv")
    SyntheticI94.demographics(spark).write.mode("overwrite")
      .options(Map("header" -> "true", "delimiter" -> ";")).csv(s"$data/demographics.csv")
    HadoopIo.writeUtf8(spark, s"$data/dict.sas", SyntheticI94.dictionary)
  }

  private def config(spark: SparkSession): EtlConfig = {
    val b = base(a.setups)
    val path = s"$b/etl_config.cfg"
    HadoopIo.writeUtf8(spark, path,
      s"""[PATHS]
         |base_dir = $b
         |data_dir = data
         |input_files = ["raw_2016.parquet"]
         |airports_file = airports.csv
         |us_demographics_file = demographics.csv
         |dictionary_file = dict.sas
         |output_dir = output
         |log_dir = log
         |sf_label = bench
         |
         |[DQ]
         |tables = '["i94_visa", "i94_travel_mode", "i94_trips"]'
         |table_col = '{"i94_visa": ["visa_id"], "i94_travel_mode": ["mode_id"], "i94_trips": ["trip_id", "custom_client_id"]}'
         |""".stripMargin)
    EtlConfig.load(spark, path)
  }

  /** The reference's ten questions over the catalog tables. */
  private val questions: Seq[(String, SparkSession => DataFrame)] = Seq(
    "monthly_trend" -> (s => I94Analytics.monthlyTrend(s.table("i94_trips"))),
    "top_countries" -> (s => I94Analytics.topCountries(s.table("i94_trips"), s.table("i94_countries"))),
    "top_cities" -> (s => I94Analytics.topCities(s.table("i94_immigrations"),
      s.table("i94_port_state_mapping"))),
    "favourite_mode" -> (s => I94Analytics.favouriteModePerCountry(s.table("i94_trips"),
      s.table("i94_immigrations"), s.table("i94_travel_mode"), s.table("i94_countries"))),
    "preferred_months" -> (s => I94Analytics.preferredMonths(s.table("i94_trips"))),
    "top_visa" -> (s => I94Analytics.topVisaCategories(s.table("i94_trips"), s.table("i94_visa"))),
    "demographics" -> (s => I94Analytics.travellerDemographics(s.table("i94_visitors"))),
    "visit_purpose" -> (s => I94Analytics.visitPurpose(s.table("i94_trips"), s.table("i94_visa"))),
    "avg_stay" -> (s => I94Analytics.avgStayDuration(s.table("i94_trips"))),
    "busiest_ports" -> (s => I94Analytics.busiestPorts(s.table("i94_immigrations"))))

  /** Runs the pipeline once, the way a batch runs it: `RunAll.run`
    * untraced; traced, the stages it composes, each timed on its own.
    */
  private def runEtl(spark: SparkSession, cfg: EtlConfig): (Map[String, Long], Seq[DqReport]) = {
    var result: (Map[String, Long], Seq[DqReport]) = (Map.empty, Nil)
    def step(name: String)(body: => Unit): Unit =
      op(spark, "etl", name, 0)(spark.emptyDataFrame)(_ => body)
    if (!a.trace) step("run_all") {
      val (counts, reports, _) = RunAll.run(spark, cfg)
      result = (counts, reports)
    } else {
      val t0 = System.nanoTime()
      var counts = Map.empty[String, Long]
      step("write") {
        require(cfg.inputFiles.exists(HadoopIo.exists(spark, _)), "input gate")
        counts = EtlMain.runFromConfig(spark, cfg)
      }
      step("catalog")(Catalog.register(spark, cfg.outputDir))
      step("dq") { result = (counts, DqMain.runChecks(spark, cfg.outputDir, cfg.dqSpecs, _ => ())) }
      step("manifest") {
        RunManifest.write(spark, cfg.outputDir, counts, (System.nanoTime() - t0) / 1e9, "bench")
      }
    }
    result
  }

  /** Pass 0 runs the pipeline and then the questions over the tables it
    * wrote; later passes ask the questions again.
    */
  def execute(): Map[String, Any] = {
    val (spark, setupS) = setup()
    val cfg = config(spark)
    var etl: (Map[String, Long], Seq[DqReport]) = (Map.empty, Nil)
    val answers = mutable.ArrayBuffer.empty[Map[String, Any]]
    val window = loop(spark, minPasses = 4) { (p, more) =>
      if (p == 0) etl = runEtl(spark, cfg)
      questions.iterator.takeWhile(_ => more()).foreach { case (name, q) =>
        var rows = -1L
        op(spark, "analytics", name, p)(q(spark))(df => rows = df.collect().length.toLong)
        answers += Map("pass" -> p, "question" -> name, "rows" -> rows)
      }
    }
    val out = Paths.get(cfg.outputDir)
    val written = files(out).filter(f => out.relativize(f).getNameCount > 1)
    val staged = files(Paths.get(s"${base(a.setups)}/data"))
    record(spark, setupS, window) ++ Map(
      "etl" -> Map("counts" -> etl._1,
        "dq" -> etl._2.map(r => Map("table" -> r.table, "passed" -> r.passed,
          "rows" -> r.rowCount)),
        "output_files" -> written.size, "output_bytes" -> written.map(Files.size).sum,
        "staged_bytes" -> staged.map(Files.size).sum,
        "staged_raw" -> s"${base(a.setups)}/data/raw_2016.parquet"),
      "answers" -> answers.toSeq)
  }

  /** Data files under `dir`: no checksums, markers or hidden files. */
  private def files(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }.toSeq
}

/** Registry queries in seeded order, run as repeated passes in one
  * session; the first pass is cold. Every query's result is dumped to
  * parquet after the timed window for the oracle check.
  */
final class RegistryRun(a0: Harness.Args) extends Run(a0) {

  /** The session graft.Bench measures with. */
  def newSession(k: Int): SparkSession = SparkSession.builder()
    .master(s"local[${a.cpus}]")
    .config("spark.sql.shuffle.partitions", a.cpus)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.cleaner.periodicGC.interval", "45s")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .getOrCreate()

  def execute(): Map[String, Any] = {
    val fns = a.queries.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val (spark, setupS) = setup()
    val window = loop(spark, minPasses = 7) { (p, more) =>
      fns.iterator.takeWhile(_ => more()).foreach { case (name, fn) =>
        op(spark, "query", name, p)(fn(spark, a.data))(
          _.write.mode("overwrite").format("noop").save())
      }
    }
    val rec = record(spark, setupS, window)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val dumps = fns.map { case (name, fn) =>
      val dir = s"${a.work}/dump/$name"
      val ok = try { fn(spark, a.data).coalesce(1).write.mode("overwrite").parquet(dir); true }
      catch { case e: Throwable if scala.util.control.NonFatal(e) => false }
      name -> Map("dir" -> dir, "ok" -> ok, "oracle" -> SparkEntry.oracleSql.get(name).orNull)
    }.toMap
    rec ++ Map("dumps" -> dumps)
  }
}

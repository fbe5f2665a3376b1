package graft.tools

/** Dev measurement tool (guide §1): reproduce the full-registry bench
  * context (every query executed once, session caches warm, block
  * store populated exactly as the bench's rep-1 leaves it), then for a
  * probe subset print PER-REP wall time split into Catalyst phases
  * (analysis / optimization / planning, from QueryPlanningTracker) vs
  * execution, plus the session block-store census. This is the tool
  * that attributes the r17 q100–q104 full-registry-only regression —
  * focused A/Bs could not reproduce it because the slowdown needs the
  * whole registry's session state.
  *
  * Usage: runMain graft.tools.PhaseProbe <sfDir> <probe1,probe2,...>
  *          [skipWarm]
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probes = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q100_dup_inflation", "q101_ann_recall",
        "q102_hamming_topk", "q103_funnel", "q104_cohort_retention"))
    val skipWarm = args.lift(2).contains("skipWarm")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def census(tag: String): Unit = {
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum
      val disk = infos.map(_.diskSize).sum
      // every live RDD the context still tracks (incl. non-persisted)
      val nTracked = spark.sparkContext.getPersistentRDDs.size
      println(f"CENSUS $tag: storedRdds=${infos.length} " +
        f"mem=${mem / 1e6}%.1fMB disk=${disk / 1e6}%.1fMB " +
        f"persistentRdds=$nTracked cacheEntries=" +
        graft.operators.SessionCaches.entryCount(spark))
    }

    def runOnce(name: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        println(s"FAIL $name: ${e.getClass.getSimpleName}") }
      (System.nanoTime() - t0) / 1e9
    }

    def probeOnce(name: String, rep: Int): Unit = {
      val fn = graft.SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val tExec = (System.nanoTime() - t1) / 1e9
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => s"$k=${(v.endTimeMs - v.startTimeMs)}ms" }
        .toSeq.sorted.mkString(" ")
      println(f"PROBE $name rep=$rep build=$tBuild%.3f exec=$tExec%.3f " +
        f"total=${tBuild + tExec}%.3f phases[$phases]")
      if (sys.env.get("PROBE_DUMP_PLAN").exists(_.split(",").contains(name))
          && rep == 3)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    // untimed JIT warmup, mirroring Bench
    runOnce("q01_pricing_summary"); runOnce("q02_top_nations")

    if (!skipWarm) {
      println("=== pass 1: full registry (bench rep-1 conditions) ===")
      val names = graft.SparkEntry.queries.keys.toSeq.sorted
      var t = 0.0
      names.foreach { n =>
        val dt = runOnce(n)
        t += dt
        if (probes.contains(n)) println(f"PASS1 $n: $dt%.3f s")
      }
      println(f"pass-1 total: $t%.1f s")
      census("after pass 1")
    }
    println("=== probe reps (bench warm-rep conditions) ===")
    (2 to 4).foreach { rep =>
      probes.foreach(probeOnce(_, rep))
      census(s"after probe rep $rep")
    }
    spark.stop()
  }
}

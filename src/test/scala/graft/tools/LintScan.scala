package graft.tools

import graft.{PlanLint, SparkEntry}

/** Dev scan behind PlanLintSpec's allowlist: walk every registry
  * query's pre-AQE plan on sf0.001 and print the scale-killer shapes
  * found, one line per hit. `Test/runMain graft.tools.LintScan`.
  */
object LintScan {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = PlanLint.physical(fn(spark, dir))
        PlanLint.partitionlessWindows(p).foreach { case (k, c) =>
          println(s"LINT $name GLOBALWIN $k order=$c") }
        PlanLint.cartesians(p).foreach(c => println(s"LINT $name CARTESIAN $c"))
        PlanLint.nestedLoopJoins(p).foreach(j => println(s"LINT $name BNLJ $j"))
        PlanLint.udfs(p).foreach(u => println(s"LINT $name UDF $u"))
      } catch { case e: Throwable =>
        println(s"LINT $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println("LINT done")
    spark.stop()
  }
}

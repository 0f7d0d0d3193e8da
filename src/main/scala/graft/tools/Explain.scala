package graft.tools

import graft.SparkEntry

/** Plan-inspection main: print the formatted plan and wall time of one
  * declared query — `runMain graft.tools.Explain <name> [sfDir]`. The
  * feedback loop behind every plan-audit test. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = SparkEntry.localSession()
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    (1 to sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_REPS", "3").toInt).foreach { i =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"[explain] $name rep $i wall: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    // the AQE-final plan differs from the static one above (runtime stage
    // reuse, skew splits, coalescing only appear here). Drive THIS dataset's
    // own queryExecution (df.write plans a fresh copy whose final plan we
    // could not see) without collecting results to the driver.
    df.queryExecution.toRdd.foreachPartition(_ => ())
    println("== Final (adaptive) plan ==")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}

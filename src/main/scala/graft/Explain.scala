package graft

/** Plan inspector / single-query profiler:
  * `runMain graft.Explain <queryName> [sfDir] [mode] [runs]`
  * Prints the formatted physical plan and cold+warm wall times. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val mode = if (args.length > 2) args(2) else "formatted"
    val runs = if (args.length > 3) args(3).toInt else 2
    val spark = GraftSession(32)
    // A comma-separated name list runs the queries in sequence in ONE JVM —
    // the A/B harness for session-global effects (registered rollups,
    // persisted kernels) that a standalone run can't reproduce.
    for (qn <- name.split(',')) {
      val fn = SparkEntry.queries(qn)
      if (mode != "none") fn(spark, sfDir).explain(mode)
      for (i <- 1 to runs) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val last = System.nanoTime() - t0
        println(f"[explain] $qn run$i: ${last / 1e9}%.2f s, $n rows")
      }
    }
    spark.stop()
  }
}

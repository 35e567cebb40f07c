package graft

/** Plan diagnostic for any query set, on the engine's own session
  * (`GraftSession.local`), so the plan it prints is the plan the engine
  * runs.
  *
  * Usage: runMain graft.Explain [--mode] <sfDir> [queryName...]
  * (all queries when no names given)
  *
  *   --plan   formatted physical plan (default): keeps scans
  *            pruned/pushed-down and joins broadcast where intended
  *   --ops    executed-plan operator summary: just the Join / Cartesian
  *            product / Exchange / Window / TakeOrdered / Scan lines
  *            after an actual run (AQE-final, so what really executed)
  *
  * `graft.TimeOne` is the timing main.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (mode, rest) = args.partition(_.startsWith("--"))
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (rest.length > 1) rest.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val m = mode.headOption.getOrElse("--plan")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        m match {
          case "--ops" =>
            val df = SparkEntry.queries(name)(spark, sfDir)
            df.collect() // finalize AQE so the summary shows reality
            println(df.queryExecution.executedPlan.toString.linesIterator
              .filter(l => l.contains("Join") ||
                l.contains("CartesianProduct") || l.contains("Exchange") ||
                l.contains("Window") || l.contains("TakeOrdered") ||
                l.contains("Scan"))
              .mkString("\n"))
            spark.sharedState.cacheManager.clearCache()
          case _ =>
            SparkEntry.queries(name)(spark, sfDir).explain("formatted")
        }
      } catch { case e: Throwable =>
        println(s"explain failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

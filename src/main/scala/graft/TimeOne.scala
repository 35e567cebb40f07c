package graft

/** Time a single SparkEntry query (or comma-separated list): one warm
  * pass + min-of-2 timed reps, the Bench protocol for one name —
  * fast-iteration harness for plan work on the heavy rows.
  *
  * Usage: runMain graft.TimeOne <name[,name...]> [sfDir]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q01_agg_pricing").split(',')
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      def rep(): Double = {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, n)._1
      }
      fn(spark, sfDir).count() // warm
      val t = math.min(rep(), rep())
      GraftSession.releaseQueryCaches(spark)
      println(f"[time-one] $name: $t%.3f s")
    }
    spark.stop()
  }
}

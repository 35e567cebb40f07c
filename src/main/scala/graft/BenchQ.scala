package graft
object BenchQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(args(0))(spark, sf).count()
      println(f"[benchq] ${args(0)} rep=$rep rows=$n t=${(System.nanoTime()-t0)/1e9}%.2fs")
      spark.sharedState.cacheManager.clearCache(); System.gc()
    }
    spark.stop()
  }
}

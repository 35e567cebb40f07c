package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Diagnostic main: run a query warm, then once more with a job
  * listener, printing each Spark job's wall time and the gaps between
  * jobs — separates cluster-side work from driver-side think time
  * (planning, codegen, collects) for fixed-floor queries.
  *
  * Usage: runMain graft.JobProbe <name> [sfDir]
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q182_suffix_array")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    // two warm passes: JIT + codegen caches
    fn(spark, sfDir).count()
    GraftSession.releaseQueryCaches(spark)
    fn(spark, sfDir).count()
    GraftSession.releaseQueryCaches(spark)
    val jobs = ArrayBuffer[(Int, Long, Long, Int)]() // id, t0, t1, nTasks
    val starts = scala.collection.mutable.Map[Int, (Long, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts(js.jobId) =
          (js.time, js.stageInfos.map(_.numTasks).sum)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, nt) = starts.getOrElse(je.jobId, (je.time, -1))
        jobs.synchronized { jobs += ((je.jobId, t0, je.time, nt)) }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val w0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - w0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let the listener bus drain
    val sorted = jobs.sortBy(_._2)
    var prevEnd = 0L
    var jobSum = 0.0
    var gapSum = 0.0
    sorted.foreach { case (id, t0, t1, nt) =>
      val gap = if (prevEnd == 0L) 0.0 else (t0 - prevEnd) / 1e3
      if (prevEnd != 0L) gapSum += math.max(0.0, gap)
      jobSum += (t1 - t0) / 1e3
      println(f"[jobprobe] job=$id%-4d dur=${(t1 - t0) / 1e3}%7.3fs " +
        f"gap_before=$gap%7.3fs tasks=$nt")
      prevEnd = t1
    }
    println(f"[jobprobe] $name wall=$wall%.3fs nJobs=${sorted.size} " +
      f"jobTime=$jobSum%.3fs gapTime=$gapSum%.3fs")
    spark.stop()
  }
}

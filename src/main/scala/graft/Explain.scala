package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Plan/latency diagnostic for any query set (subsumes the former
  * one-off ExplainR4 / ProbeR4 / ExplainW7 mains).
  *
  * Usage: runMain graft.Explain [--mode] <sfDir> [queryName...]
  * (all queries when no names given)
  *
  *   --plan   formatted physical plan (default): keeps scans
  *            pruned/pushed-down and joins broadcast where intended
  *   --ops    executed-plan operator summary: just the Join / Exchange
  *            / Window / TakeOrdered / Scan lines after an actual run
  *            (AQE-final, so what really executed)
  *   --time   3 warm reps with per-rep GC time: separates plan cost
  *            from collector churn when a bench number looks off
  *   --probe  cold vs warm latency + row count: is it the plan or the
  *            scan cache?
  */
object Explain {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val (mode, rest) = args.partition(_.startsWith("--"))
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (rest.length > 1) rest.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val m = mode.headOption.getOrElse("--plan")
    val spark =
      if (m == "--plan") {
        val s = SparkSession.builder()
          .master("local[4]")
          .config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .withExtensions(new graft.functions.GraftExtensions)
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        s
      } else GraftSession.local()
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        m match {
          case "--time" =>
            (1 to 3).foreach { rep =>
              val g0 = gcMs
              val t0 = System.nanoTime()
              val rows = SparkEntry.queries(name)(spark, sfDir).collect()
              val sec = (System.nanoTime() - t0) / 1e9
              val g = gcMs - g0
              spark.sharedState.cacheManager.clearCache()
              println(
                f"[explain] rep=$rep rows=${rows.length}%-6d t=$sec%6.2fs gc=${g}ms")
            }
          case "--probe" =>
            def once(): (Int, Double) = {
              val t0 = System.nanoTime()
              val rows = SparkEntry.queries(name)(spark, sfDir).collect()
              spark.sharedState.cacheManager.clearCache()
              (rows.length, (System.nanoTime() - t0) / 1e9)
            }
            val (rows1, s1) = once()
            val (_, s2) = once()
            println(f"[probe] rows=$rows1%-6d cold=$s1%.2fs warm=$s2%.2fs")
          case "--ops" =>
            val df = SparkEntry.queries(name)(spark, sfDir)
            df.collect() // finalize AQE so the summary shows reality
            println(df.queryExecution.executedPlan.toString.linesIterator
              .filter(l => l.contains("Join") || l.contains("Exchange") ||
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

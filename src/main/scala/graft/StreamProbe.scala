package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Diagnostic main for the streaming drain floor (r11 optimization):
  * runs representative AvailableNow drains with the exact runToTable
  * parameters and prints each micro-batch's progress durations
  * (addBatch / getBatch / queryPlanning / walCommit / commitOffsets /
  * triggerExecution) plus wall-clock phases (start → first batch →
  * termination → table read), so the per-query ~1 s floor can be
  * attributed to a mechanism instead of guessed at.
  *
  * Usage: runMain graft.StreamProbe [sfDir]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local()

    def drain(tag: String, df: DataFrame, mode: String,
        noData: Boolean): Unit = {
      val t0 = System.nanoTime()
      val name = s"probe_$tag"
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "8"))
      spark.conf.set(ndKey, noData.toString)
      val ck = s"/dev/shm/graft-probe-$name-${java.util.UUID.randomUUID()}"
      val q = df.writeStream.outputMode(mode).format("memory")
        .option("checkpointLocation", ck)
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      val tStart = System.nanoTime()
      q.awaitTermination()
      val tTerm = System.nanoTime()
      val n = spark.table(name).count()
      val tRead = System.nanoTime()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      println(f"[probe] $tag rows=$n start=${(tStart - t0) / 1e9}%.3f " +
        f"run=${(tTerm - tStart) / 1e9}%.3f read=${(tRead - tTerm) / 1e9}%.3f")
      q.recentProgress.foreach { p =>
        println(s"[probe] $tag batch=${p.batchId} " +
          s"durationMs=${p.durationMs} rows=${p.numInputRows}")
      }
      try {
        val root = java.nio.file.Paths.get(ck)
        if (java.nio.file.Files.exists(root))
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () }
    }

    import graft.streaming.StreamingOps.streamEvents

    // q52 shape: watermarked tumbling agg, complete mode
    val agg = streamEvents(spark, sfDir)
      .withColumn("etime", timestamp_seconds(expr("ts div 1000000000")))
      .withWatermark("etime", "1 hour")
      .groupBy(window(col("etime"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // q53 shape: stateful dedup, append
    val dedup = streamEvents(spark, sfDir)
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    // stateless projection, append: the floor with NO state store at all
    val stateless = streamEvents(spark, sfDir)
      .select(col("event_id"), col("user_id"))
    // q66 shape: watermarked stream-stream interval join — 4 state
    // stores per partition, the heaviest per-drain state machinery in
    // the suite; included so SPARK_GRAFT_STATE_PARTS sweeps measure
    // the join twins, not just single-store agg/dedup.
    def ssJoin = {
      def side(tpe: String, prefix: String) =
        streamEvents(spark, sfDir)
          .filter(col("event_type") === tpe)
          .select(col("user_id"),
            col("event_id").as(s"${prefix}_id"),
            timestamp_seconds(expr("ts div 1000000000"))
              .as(s"${prefix}_time"))
          .withWatermark(s"${prefix}_time", "1 hour")
      val clicks = side("click", "click")
      val purchases = side("purchase", "purchase")
      clicks.join(purchases,
        clicks("user_id") === purchases("user_id") &&
          col("purchase_time") >= col("click_time") &&
          col("purchase_time") <= col("click_time") +
            expr("INTERVAL 1 HOUR"))
        .select(clicks("user_id"), col("click_id"), col("purchase_id"))
    }
    (1 to 2).foreach { round =>
      drain(s"stateless_r$round", stateless, "append", noData = false)
      drain(s"agg_r$round", agg, "complete", noData = false)
      drain(s"dedup_r$round", dedup, "append", noData = false)
      drain(s"ssjoin_r$round", ssJoin, "append", noData = false)
    }
    spark.stop()
  }
}

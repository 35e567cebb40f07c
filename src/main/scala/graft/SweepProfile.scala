package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** Stage-decomposed timing for q204's interval sweep: islands build,
  * range explode+sort, sweep emission, final pair fold — each timed on
  * a persisted predecessor so the number is THAT stage's cost, not its
  * lineage's. Diagnostic only (like TimeOne); not part of any query.
  *
  * Usage: runMain graft.SweepProfile [sfDir]
  */
object SweepProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("data/sf1")
    val spark = GraftSession.local()
    import spark.implicits._

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[sweep-profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    for (rep <- 1 to 2) {
    println(s"[sweep-profile] ===== rep $rep =====")
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("t"), col("event_id"))
    val prevEnd = max("iv_end")
      .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
    val ivPlan = Tables.normalizeEventTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"), col("ts").as("t"), col("event_id"),
        (col("ts") + lit(1800000000000L)).as("iv_end"))
      .withColumn("ni",
        when(prevEnd.isNull || col("t") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum("ni")
        .over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "island")
      .agg(min("t").as("s"), max("iv_end").as("e"))
      .select(col("user_id").cast("long").as("u"),
        col("s").cast("long"), col("e").cast("long"))
    timed("1a islands build (no persist, count)")(ivPlan.count())
    val iv = ivPlan.persist(StorageLevel.MEMORY_AND_DISK)
    val nIslands = timed("1b islands build (persist+count)")(iv.count())
    println(s"[sweep-profile]   n_islands = $nIslands")

    val nRanges = 256
    val bounds = iv.agg(min("s").as("lo"), max("e").as("hi"))
      .select(col("lo"),
        greatest(lit(1L), expr(s"(hi - lo) div $nRanges + 1")).as("wr"))
    val exploded = iv.crossJoin(broadcast(bounds))
      .select(col("u"), col("s"), col("e"),
        explode(sequence(expr("(s - lo) div wr"),
          expr("(e - 1 - lo) div wr"))).as("rng"),
        (expr("(s - lo) div wr") === col("rng")).as("isNew"))
      .repartition(col("rng"))
      .sortWithinPartitions(col("rng"), col("s"), col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nExp = timed("2 explode+repartition+sort (persist+count)")(
      exploded.count())
    println(s"[sweep-profile]   n_exploded = $nExp (carries = ${nExp - nIslands})")

    // The sweep and fold bodies are IntervalSweep's own (shared
    // methods), so the profiled stages are by construction the shipped
    // algorithm — an inline copy here drifted once already.
    val probeMod = 20L
    import spark.implicits.newProductEncoder
    def sweep() = exploded.mapPartitions(rows =>
      graft.operators.IntervalSweep.sweepPartition(rows, probeMod))
    val nEmit = timed("3a sweep emissions (count only, no shuffle)")(
      sweep().count())
    println(s"[sweep-profile]   n_emissions = $nEmit")

    val nPairs = timed("3b sweep + repartition + LongMap fold")(
      sweep().toDF("p", "ov")
        .repartition(col("p"))
        .mapPartitions(graft.operators.IntervalSweep.foldPairPartition)
        .count())
    println(s"[sweep-profile]   n_pairs = $nPairs")
    iv.unpersist(true); exploded.unpersist(true)
    GraftSession.releaseQueryCaches(spark)
    }

    spark.stop()
  }
}

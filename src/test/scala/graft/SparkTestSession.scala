package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession/SparkContext shared by every suite in the (forked,
  * sequential) test JVM.
  *
  * The previous fixture — a per-suite lazy `getOrCreate` plus
  * `spark.stop()` in `afterAll` — raced SparkContext bookkeeping across
  * ~130 sequential suites: a suite could materialize its lazy session
  * while the previous suite's `stop()` was still tearing the context
  * down, and `getOrCreate` then handed back the STOPPED context
  * ("assertNotStopped … created at Wave32Spec"), failing the run on
  * environment timing rather than on any assertion. One never-stopped
  * session removes the race by construction: nothing ever calls
  * `stop()`, so `getOrCreate` can never observe a half-dead context.
  *
  * Per-suite isolation moves to [[cleanup]], which every suite's
  * `afterAll` calls instead of `stop()`: caches and temp views the
  * suite leaked are dropped and the session conf keys suites are known
  * to touch are restored, so suite order cannot change results.
  */
object SparkTestSession {
  val defaultShufflePartitions = "4"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", defaultShufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Map(GraftSession.localFileSystem))
      .withExtensions(new graft.functions.GraftExtensions)
      .appName("graft-test-shared")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Suite-boundary hygiene replacing the old `spark.stop()`. */
  def cleanup(): Unit = {
    val s = spark
    s.sharedState.cacheManager.clearCache()
    s.sessionState.catalog.getTempViewNames()
      .foreach(s.catalog.dropTempView)
    s.conf.set("spark.sql.shuffle.partitions", defaultShufflePartitions)
    // Keys individual suites override inside tests; restored here too in
    // case a failing test skipped its own finally-restore.
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.exchange.reuse", "true")
    s.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
    s.conf.unset(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled")
    System.gc()
  }
}

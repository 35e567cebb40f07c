package graft

import org.apache.spark.sql.{SparkSession, classic}

/** One-stop session factory for the engine: installs the engine's
  * extensions and applies the configuration the engine's layouts rely
  * on, so a user switching from the reference gets the intended plans
  * without hunting for conf flags.
  *
  * `GraftExtensions` installs, in every session the builder makes:
  * - the native functions `array_dot`, `nfc_normalize`, `aho_match`,
  *   `simhash_planes`, `minhash_sigs` and `cdc_chunks`;
  * - the optimizer rule `DotProductRewrite` (the `aggregate(zip_with)`
  *   dot product becomes `array_dot`);
  * - the optimizer rule `graft.io.Parquet.CountFromFooters`: a
  *   whole-table count over a bare parquet table is answered from the
  *   files' footers on the driver, with no Spark job;
  * - the planner strategy `AsOfJoinStrategy`.
  *
  * The configuration:
  * - `spark.sql.requireAllClusterKeysForCoPartition=false`: the big
  *   serving tables are bucketed by `page_id` alone while the hot joins
  *   key on (page_id, raw_sha1); subset-key bucket reuse needs this off
  *   (semantically safe — equal page_id implies co-location).
  * - `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`:
  *   Spark's heuristic drops bucketed scans for filter-only queries,
  *   which also drops bucket PRUNING — the very win of the single-page
  *   serving lookup.
  * - shuffle partitions default to the core count (overridable): right
  *   for one-node runs; clusters size it to executors × cores, with AQE
  *   coalescing from there.
  * - `spark.hadoop.fs.file.impl=graft.io.NioLocalFileSystem`: without
  *   the native Hadoop library, Hadoop's local filesystem forks a
  *   `chmod` process for every part file, `.crc` file and directory a
  *   write creates; this one sets the same permission bits in-process
  *   and still writes and checks `.crc` files. It applies to `file:`
  *   paths only.
  * - the builder is the classic (in-process) session's own,
  *   `classic.SparkSession.builder()`. The generic
  *   `SparkSession.builder()` first looks the implementation up through
  *   Scala runtime reflection: the call alone took 1.7-2.0 s in a fresh
  *   JVM on a 4-core VM, against 0.3-0.4 s for the classic builder. The
  *   engine needs a classic session anyway (`PlanApi` casts to one).
  */
object GraftSession {

  /** The `file:` filesystem setting of engine sessions (see above). */
  val localFileSystem: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName

  /** Builder preconfigured for this engine; call `.master(...)` /
    * further `.config(...)` then `.getOrCreate()`. */
  def builder(
      shufflePartitions: Option[Int] = None): classic.SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors())
    classic.SparkSession.builder()
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      // Let AQE coalesce small shuffles to the advisory partition size
      // instead of defaulting to full parallelism: a sub-second
      // aggregate's reduce side becomes 1-2 tasks, not 32, which is
      // most of the per-query scheduling floor on a many-query run.
      // On a big cluster the same setting is what the AQE docs
      // recommend once parallelism is already saturated upstream; big
      // shuffles still fan out to the advisory size.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config(Map(localFileSystem))
      .withExtensions(new graft.functions.GraftExtensions)
  }

  /** Release every cached intermediate left behind by query builders.
    *
    * THE CACHE-LIFETIME CONTRACT: `SparkEntry.queries` builders persist
    * multi-consumer intermediates (signature tables, candidate pairs,
    * adjacency/degree frames, walk tables …) and deliberately do NOT
    * unpersist them — the terminal action happens at the CALLER, after
    * the builder returned, so an in-builder unpersist would drop the
    * cache before it was ever populated. The bound is this call: every
    * harness (Bench between reps, Verify between queries, long-lived
    * embedding sessions between logical requests) drops all caches and
    * nudges GC so cleanup drains in small steps instead of one storm.
    * A session that composes many graft queries without calling this
    * accumulates one query's working set per query — bounded per
    * query, unbounded across them.
    */
  def releaseQueryCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Cores for a local session: `SPARK_GRAFT_CPUS` when set, else the
    * processors this JVM may use. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(_.toIntOption).getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local session sized like the driver harness (local[n], UI off). */
  def local(cores: Int = defaultCores): SparkSession = {
    val s = builder(Some(cores))
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

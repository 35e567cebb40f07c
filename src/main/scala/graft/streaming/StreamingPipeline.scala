package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.CitationPipeline
import graft.sources.Revision

/** Incremental citation pipeline: continuous ingestion of newly
  * arriving `.mwrev.zst` bundles via the mwrev MicroBatchStream.
  *
  * Each micro-batch runs the batch pipeline's `stage` step in APPEND
  * mode on its revisions, and `refreshTables` is its `publish` step;
  * the checkpoint guarantees each bundle is read once across restarts.
  * Batch-side retries can at worst re-append — and the downstream
  * table derivation dedups on content-addressed natural keys, so
  * re-appends are absorbed exactly like the reference's idempotent
  * ON-CONFLICT upserts (README.md:66, models.py:68-71). Run
  * `refreshTables` after (or on a schedule) to republish the 11
  * deduped tables.
  */
object StreamingPipeline {

  /** Process all currently unprocessed bundles, then return. Call
    * repeatedly (or schedule) for continuous ingestion; the checkpoint
    * under `outDir/_checkpoint` carries the high-water mark. */
  def ingestAvailable(
      spark: SparkSession, bundleGlob: String, outDir: String,
      domain: String = "en.wikipedia.org"): Unit = {
    import spark.implicits._
    val q = spark.readStream.format("mwrev").load(bundleGlob).as[Revision]
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Revision], _: Long) =>
        CitationPipeline.stage(batch, outDir, SaveMode.Append, domain)
      }
      .start()
    q.awaitTermination()
  }

  /** Republish the 11 deduped tables from the accumulated staging set
    * (dedup-on-read absorbs any at-least-once re-appends). */
  def refreshTables(
      spark: SparkSession, outDir: String,
      domain: String = "en.wikipedia.org"): Map[String, DataFrame] =
    CitationPipeline.publish(spark, outDir, domain)
}

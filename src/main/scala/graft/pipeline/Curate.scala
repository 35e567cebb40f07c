package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, TextOps}

/** End-to-end training-data curation: the individual operators
  * (quality gate, exact dedup, near-dup keep-list, benchmark
  * decontamination, token-budget sharding) chained into ONE shippable
  * job, the way a 100 TB pre-training run would actually consume them.
  *
  * Every stage is a DataFrame transform — no driver-side loops — and
  * the expensive derived sets (content hashes, LSH components,
  * contaminated ids) are key-only frames, so the full document payload
  * flows through exactly one filter chain and one final write.
  *
  * Stage order matters and is the standard one: cheap row-local gates
  * first (shrink everything downstream), then exact dedup (cheap, one
  * shuffle), then near-dup (the expensive candidate stage runs over the
  * already-shrunk corpus), then decontamination, then sharding.
  */
object Curate {

  final case class Report(
      nInput: Long,
      nAfterQuality: Long,
      nAfterExact: Long,
      nAfterNear: Long,
      nAfterDecontam: Long,
      nShards: Long,
      tokensKept: Long)

  private def toks(c: Column): Column =
    filter(split(lower(c), " "), w => w =!= "")

  /** Per-doc MinHash signatures over a document FRAME (same formulation
    * as the q36/q37 dir-based path). */
  private def sigsOf(docs: DataFrame): DataFrame = {
    val h = md5(col("shingle"))
    docs
      .withColumn("tokens", toks(col("text")))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 3),
           i -> concat_ws(' ', slice(tokens, i + 1, 3)))""")).as("shingle"))
      .groupBy("doc_id")
      .agg(
        min(substring(h, 1, 8)).as("sig0"),
        min(substring(h, 9, 8)).as("sig1"),
        min(substring(h, 17, 8)).as("sig2"),
        min(substring(h, 25, 8)).as("sig3"))
  }

  /** 3-token shingles of a document frame, for the decontamination
    * overlap join. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", toks(col("text")))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 3),
           i -> concat_ws(' ', slice(tokens, i + 1, 3)))""")).as("shingle"))

  /** Run the full curation chain over `docs` (schema: doc_id, text,
    * lang, source, n_chars), holding out `bench` as the contamination
    * reference; write token-budgeted shards to `outDir` and return the
    * per-stage survivor counts.
    *
    * @param minTokens   quality gate: minimum whitespace tokens
    * @param shardTokens token budget per output shard
    */
  def run(
      docs: DataFrame, bench: DataFrame, outDir: String,
      minTokens: Int = 5, shardTokens: Long = 2000L): Report = {
    val nInput = docs.count()

    // 1) row-local quality gate — pure scan filter, zero shuffle
    val quality = docs
      .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nQuality = quality.count()

    // 2) exact dedup: keep the min doc_id per content hash (semi-join
    //    against a key-only winners frame — the doc payload is not
    //    shuffled)
    val winners = quality
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val exact = quality.join(winners, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = exact.count()

    // 3) near-dup keep-list: LSH candidates → connected components →
    //    keep each family's min doc_id (docs outside any pair survive
    //    via the left_anti branch)
    val (comp, adj) = GraphOps.componentsAndAdjacency(
      TextOps.lshPairsOf(sigsOf(exact), TextOps.MaxLshBucket), rounds = 6)
    val nearKeep = exact.join(
      comp.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNear = nearKeep.count()

    // 4) decontamination: drop any doc sharing a 3-gram with the
    //    benchmark set (one hash join on the shingle key)
    val contaminated = shinglesOf(nearKeep)
      .join(shinglesOf(bench).select("shingle").distinct(),
        Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    val clean = nearKeep.join(contaminated, Seq("doc_id"), "left_anti")
    val nClean = clean.count()

    // 5) token-budget shards over a deterministic hash order (two-phase
    //    distributed prefix sum — no single-partition window), then one
    //    sharded write
    val sharded = TextOps.orderedCumsum(
      clean.withColumn("ord",
        md5(concat(lit("curate:"), col("doc_id").cast("string")))),
      Seq("ord", "doc_id"), "n_tokens", "cum")
      .withColumn("shard",
        floor((col("cum") - col("n_tokens")).cast("double") / shardTokens)
          .cast("long"))
      .select("shard", "doc_id", "text", "lang", "source", "n_chars",
        "n_tokens")
    // The kept-token metric rides the WRITE action itself via the
    // observe API — at 100 TB a separate read-back aggregation is a
    // full extra scan of the produced dataset; an observed metric is
    // collected by the very tasks that write it, for free. (coalesce
    // handles the all-rows-filtered run: sum over zero rows is null,
    // the report must say 0, not NPE.)
    val obs = org.apache.spark.sql.Observation("curate_write")
    sharded.observe(obs,
        count(lit(1)).as("n_rows"),
        coalesce(sum("n_tokens"), lit(0L)).as("tokens_kept"))
      .write.mode("overwrite").partitionBy("shard")
      .option("compression", "zstd").parquet(outDir)
    val tokensKept = obs.get("tokens_kept").asInstanceOf[Long]

    // Shard COUNT still comes from a read-back (shard ids may be
    // sparse when one doc spans a whole budget, so max+1 is not the
    // count, and observe cannot carry a distinct) — but it reads only
    // the partition column, which parquet serves from directory
    // names, not data pages. Explicit schema: an all-rows-filtered
    // run leaves a data-less directory where inference would fail.
    val out = docs.sparkSession.read.schema(sharded.schema).parquet(outDir)
    val nShards = out.select("shard").distinct().count()
    quality.unpersist(); exact.unpersist(); nearKeep.unpersist()
    adj.unpersist()
    Report(nInput, nQuality, nExact, nNear, nClean, nShards, tokensKept)
  }
}

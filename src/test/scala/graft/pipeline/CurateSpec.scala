package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end contract of the chained curation job: stage counts only
  * shrink, the output is exactly-deduplicated, decontaminated against
  * the holdout, and sharded within the token budget.
  */
class CurateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  test("curation chain: monotone stages, clean deduped sharded output") {
    val all = graft.Tables.table(spark, sf, "documents")
    val bench = all.filter(col("doc_id") % 97 === 0)
    val docs = all.filter(col("doc_id") % 97 =!= 0)
    val out = Files.createTempDirectory("curate").toFile.getAbsolutePath
    val budget = 2000L
    spark.catalog.clearCache()

    val r = Curate.run(docs, bench, out, minTokens = 5,
      shardTokens = budget)

    assert(r.nInput >= r.nAfterQuality)
    assert(r.nAfterQuality >= r.nAfterExact)
    assert(r.nAfterExact >= r.nAfterNear)
    assert(r.nAfterNear >= r.nAfterDecontam)
    assert(r.nAfterDecontam > 0 && r.nShards > 1)
    // no cache outlives the run, the near-dup adjacency included
    assert(spark.sharedState.cacheManager.isEmpty)

    // partition-column inference reads `shard` back as int — normalize
    val written = spark.read.parquet(out)
      .withColumn("shard", col("shard").cast("long"))
    assert(written.count() == r.nAfterDecontam)

    // exact dedup held: content hashes are unique
    assert(written.select(md5(col("text"))).distinct().count()
      == r.nAfterDecontam)

    // decontamination held: no output doc shares a 3-gram with bench
    def sh(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("tokens",
        filter(split(lower(col("text")), " "), w => w =!= ""))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 3),
           i -> concat_ws(' ', slice(tokens, i + 1, 3)))""")).as("shingle"))
    assert(sh(written).join(sh(bench).select("shingle").distinct(),
      Seq("shingle"), "left_semi").count() == 0L)

    // shard budgets: every shard's tokens stay under budget + its
    // largest (straddling) document; shard ids are dense from 0
    val shards = written.groupBy("shard")
      .agg(sum("n_tokens").as("t"), max("n_tokens").as("mx"))
      .collect()
    assert(shards.map(_.getLong(0)).sorted.toSeq
      == (0L until r.nShards).toSeq)
    shards.foreach { s =>
      assert(s.getLong(1) <= budget + s.getLong(2),
        s"shard ${s.getLong(0)} over budget: ${s.getLong(1)}")
    }
    assert(shards.map(_.getLong(1)).sum == r.tokensKept)
  }

  test("a filter that rejects everything yields a zero report, not an NPE") {
    val docs = graft.Tables.table(spark, sf, "documents").limit(50)
    val bench = docs.limit(0)
    val out = Files.createTempDirectory("curate-empty").toFile.getAbsolutePath
    // minTokens far above any document: quality stage drops all rows;
    // sum(n_tokens) over zero rows is SQL NULL and must coalesce to 0
    val r = Curate.run(docs, bench, out, minTokens = 1000000,
      shardTokens = 2000L)
    assert(r.nAfterQuality == 0 && r.nAfterDecontam == 0)
    assert(r.nShards == 0 && r.tokensKept == 0L)
  }
}

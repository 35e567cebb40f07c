package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The LSH hot-bucket cap: a degenerate bucket of B docs would emit
  * B²/2 candidate pairs — one junk signature cluster must not go
  * quadratic on the whole job. Buckets above the cap are dropped;
  * healthy buckets are unaffected.
  */
class HotBucketSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  test("hot bucket is dropped, healthy buckets expand normally") {
    import spark.implicits._
    // 50 docs share one signature (hot); 3 docs share another (healthy).
    val sigs = ((1L to 50L).map(i => (i, "aaaa", "bbbb", "cccc", "dddd"))
      ++ Seq(100L, 101L, 102L).map(i => (i, "eeee", "ffff", "gggg", "hhhh")))
      .toDF("doc_id", "sig0", "sig1", "sig2", "sig3")
    val capped = TextOps.lshPairsOf(sigs, maxBucket = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the healthy bucket's 3 pairs survive
    assert(capped == Set((100L, 101L), (100L, 102L), (101L, 102L)))
    // uncapped control: the hot bucket explodes to 50*49/2 + 3 pairs
    val uncapped = TextOps.lshPairsOf(sigs, maxBucket = 1000).count()
    assert(uncapped == 50L * 49 / 2 + 3)
  }

  test("orderedCumsum is exact and independent of input partitioning") {
    // on a session whose range exchange cuts the 500 rows into several
    // partitions, so the carried offsets are exercised
    val ranged = OrderedScanSpec.boundarySession(spark)
    import ranged.implicits._
    import org.apache.spark.sql.functions._
    val base = (1L to 500L).map(i => (i, i % 7 + 1)).toDF("k", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      OrderedScan.scan(df, Seq(col("k")), OrderedScan.Sum(col("v")), "cum")
        .df.select("k", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 500L)
      .scanLeft((0L, 0L)) { case ((_, acc), k) => (k, acc + k % 7 + 1) }
      .tail.toMap
    assert(run(base) == expected)
    // repartitioned arbitrarily → identical result (the range
    // partitioning inside re-establishes the total order)
    assert(run(base.repartition(13, col("v"))) == expected)
    assert(run(base.coalesce(1)) == expected)
  }

  test("the production cap does not bind at test scale (oracle parity)") {
    // q37/q87 run with MaxLshBucket; at the driver SFs every bucket is
    // far below it, so the uncapped DuckDB oracle still hash-matches.
    val sf = "/root/testdata/sf0.001"
    val capped = TextOps.lshPairs(spark, sf).count()
    import org.apache.spark.sql.functions._
    val maxBucket = TextOps.queries("q36_minhash_sig")(spark, sf)
      .select(col("doc_id"), explode(map(
        lit(0), md5(concat(col("sig0"), col("sig1"))),
        lit(1), md5(concat(col("sig2"), col("sig3")))))
        .as(Seq("band_id", "band")))
      .groupBy("band_id", "band").count()
      .agg(max("count")).head().getLong(0)
    assert(maxBucket <= TextOps.MaxLshBucket)
    assert(capped > 0)
  }
}

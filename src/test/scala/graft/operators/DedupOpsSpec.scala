package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the round-3 dedup/quality operators: dedup apply
  * (q98), unigram-LM scoring (q99), duplicated-span discovery (q100)
  * and SimHash banded near-dup (q101). The DuckDB oracle checks exact
  * values; these specs pin the invariants that hold at any scale.
  */
class DedupOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  test("q98 families partition the corpus; survivors are canonical min ids") {
    val docs = graft.Tables.table(spark, sf, "documents")
    val fams = GraphOps.queries("q98_dedup_apply")(spark, sf).collect()
    assert(fams.map(_.getLong(1)).sum == docs.count(),
      "family sizes must sum to the corpus size")
    // the survivor id is the family's component id == min member, so it
    // must equal the doc whose chars are kept (non-null for every row)
    assert(fams.forall(!_.isNullAt(2)), "every family keeps its survivor")
    // q87's clusters must appear with the same canonical ids
    val comps = GraphOps.queries("q87_neardup_clusters")(spark, sf)
      .select("component").distinct().collect().map(_.getLong(0)).toSet
    val survivors = fams.map(_.getLong(0)).toSet
    assert(comps.subsetOf(survivors))
  }

  test("q99 scores are negative log-probs with consistent floor-average") {
    val rows = TextOps.queries("q99_unigram_logprob")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val sum = r.getLong(2); val avg = r.getLong(3)
      assert(sum < 0, "log p(token) < 0 for a non-degenerate vocabulary")
      assert(avg * n <= sum && sum < (avg + 1) * n,
        s"avg_micro must be the floored mean: n=$n sum=$sum avg=$avg")
    }
  }

  test("q100 duplicated spans: 5 tokens wide, counts consistent") {
    val rows = TextOps.queries("q100_dup_spans")(spark, sf)
    assert(rows.count() > 0)
    assert(rows.filter(size(split(col("span"), " ")) =!= 5).count() == 0L)
    assert(rows.filter(col("n_docs") < 2).count() == 0L)
    assert(rows.filter(col("n_occ") < col("n_docs")).count() == 0L)
  }

  test("q101 near-dup pairs: ordered, unique, Hamming within threshold") {
    val rows = TextOps.queries("q101_simhash_neardup")(spark, sf).collect()
    assert(rows.nonEmpty, "sf0.001 contains duplicate families")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs are (a < b)")
      val h = r.getLong(2)
      assert(h >= 0 && h <= 8, s"hamming $h outside verify threshold")
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length, "no duplicate pairs")
  }

  test("q102 sample decisions match the integer accept rule exactly") {
    import spark.implicits._
    val docs = graft.Tables.table(spark, sf, "documents")
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect()
    val expected = docs.filter { case (id, nc) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wsample:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hex.substring(0, 4), 16)
      u * 400 < math.min(nc, 400L) * 65536
    }.map(_._1).toSet
    val got = TextOps.queries("q102_weighted_sample")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("groupedOrderedCumsum equals a single-window per-group prefix sum") {
    // the session's range exchange keeps 7 coarsely sampled partitions,
    // so cross-partition offsets and groups that straddle partition
    // boundaries are actually exercised
    val ranged = OrderedScanSpec.boundarySession(spark)
    val docs = graft.Tables.table(ranged, sf, "documents")
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("v"))
      .withColumn("ord", md5(col("doc_id").cast("string")))
    val two = OrderedScan.scan(docs, Seq(col("ord"), col("doc_id")),
        OrderedScan.Sum(col("v"), Seq("source")), "cum").df
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("ord", "doc_id")
    val one = docs.withColumn("cum", sum("v").over(w))
      .select("doc_id", "cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == one)
  }

  test("q103 every source either fills its budget or is exhausted") {
    val totals = graft.Tables.table(spark, sf, "documents")
      .select(col("source"), size(filter(split(lower(col("text")), " "),
        w => w =!= "")).cast("long").as("n_tokens"))
      .groupBy("source").agg(sum("n_tokens").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = TextOps.queries("q103_source_mixture")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val src = r.getString(0); val kept = r.getLong(2)
      assert(kept >= 3000L || kept == totals(src),
        s"$src kept $kept of ${totals(src)} without filling the budget")
      assert(r.getLong(1) > 0)
    }
  }

  test("q105 incremental dedup: odd batch only, exact implies near") {
    val out = TextOps.queries("q105_incremental_dedup")(spark, sf)
    assert(out.filter(col("doc_id") % 2 === 0).count() == 0L,
      "only the incoming (odd) batch is screened")
    // an exact text duplicate has identical shingles, hence identical
    // MinHash bands — so (given >=3 tokens) it must also flag as near
    val docs = graft.Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), " "), w => w =!= ""))
          .as("ntok"))
    val bad = out.join(docs, "doc_id")
      .filter(col("exact_dup") === 1 && col("ntok") >= 3 &&
        col("near_dup") === 0).count()
    assert(bad == 0L)
    val actions = out.select("action").distinct()
      .collect().map(_.getString(0)).toSet
    assert(actions.subsetOf(Set("keep", "drop_exact", "review_near")))
  }

  test("q106 winnow containment: bounded ratio, symmetric evidence") {
    val rows = TextOps.queries("q106_winnow_containment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs are (a < b)")
      assert(r.getLong(2) >= 2, "report threshold is >=2 shared")
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0, s"containment $c out of (0,1]")
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("q104 outliers: <=5 per label, non-negative maximal scores") {
    val out = VectorOps.queries("q104_embedding_outliers")(spark, sf)
    val perLabel = out.groupBy("label").agg(count(lit(1)).as("n"),
      min("dist2").as("mn")).collect()
    assert(perLabel.nonEmpty)
    perLabel.foreach(r => assert(r.getLong(1) <= 5))
    assert(out.count() == perLabel.map(_.getLong(1)).sum)
    assert(out.filter(col("dist2") < 0).count() == 0L,
      "squared distances are non-negative")
  }
}

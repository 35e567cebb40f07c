package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Wave-99 invariants that the hash gate can't see: the layout advisor
  * must rank layouts the way min/max pruning actually ranks them, the
  * blocking audit's arithmetic must match a brute-force pair count, and
  * the adaptive LSH code must grow with the corpus.
  */
class Wave99Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  test("q385: Z-order prunes at least as well as lex, lex at least as " +
      "well as round-robin; zone maps never skip a matching row") {
    val rows = SparkEntry.queries("q385_zorder_layout")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val (zf, zs, zr, zm) = rows("zorder")
    val (_, ls_, lr, lm) = rows("lex")
    val (_, rs, rr, rm) = rows("roundrobin")
    // a scanned-file set from zone maps is a superset of matching rows
    assert(zr >= zm && lr >= lm && rr >= rm)
    assert(zm == lm && lm == rm) // matched count is layout-independent
    // the whole point: interleaved bits prune a 2-D box better than a
    // leading-column sort, which prunes better than no clustering
    assert(zr <= lr, s"zorder rows_scanned $zr > lex $lr")
    assert(lr <= rr, s"lex rows_scanned $lr > roundrobin $rr")
    assert(zs <= ls_ && ls_ <= rs)
    assert(zf > 0 && zm > 0)
  }

  test("q387: sum-of-C(n,2) arithmetic equals a brute-force pair count " +
      "on the small corpus, and union dominates both schemes") {
    import spark.implicits._
    val out = SparkEntry.queries("q387_blocking_quality")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // brute force: materialize the pairs the audit only counts
    val c = graft.Tables.table(spark, sf, "customer")
      .selectExpr("CAST(c_nationkey AS BIGINT) AS nat", "c_mktsegment AS seg",
        "CAST(floor(c_acctbal * 100) AS BIGINT) AS cents",
        "monotonically_increasing_id() AS rid")
      .selectExpr("nat", "seg", "cents div 1000 AS tk",
        "cents div 3000 AS b1", "rid")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val pairs = for {
      i <- c.indices; j <- (i + 1) until c.length
    } yield (c(i), c(j))
    val truePairs = pairs.count { case (x, y) =>
      x._1 == y._1 && x._3 == y._3 }
    val candB1 = pairs.count { case (x, y) => x._4 == y._4 }
    val candB2 = pairs.count { case (x, y) =>
      x._1 == y._1 && x._2 == y._2 }
    val covB1 = pairs.count { case (x, y) =>
      x._1 == y._1 && x._3 == y._3 && x._4 == y._4 }
    val covB2 = pairs.count { case (x, y) =>
      x._1 == y._1 && x._3 == y._3 && x._2 == y._2 }
    assert(out("b1")._1 == candB1 && out("b1")._3 == covB1)
    assert(out("b2")._1 == candB2 && out("b2")._3 == covB2)
    assert(out("b1")._2 == truePairs && out("b2")._2 == truePairs)
    // union coverage >= each scheme's coverage (inclusion-exclusion)
    assert(out("union")._3 >= out("b1")._3)
    assert(out("union")._3 >= out("b2")._3)
  }

  test("q386: adaptive code length follows the corpus size rule") {
    import spark.implicits._
    // bits = max(4, bitlength((n-1) div 125)): 2000 vecs -> 4 bits,
    // 8000 -> 6 bits (the sf1 derived corpus), 500 -> 4 (floor).
    def bits(n: Long): Int = math.max(4,
      java.lang.Long.toBinaryString(math.max(1L, (n - 1) / 125)).length)
    assert(bits(500) == 4 && bits(2000) == 4 && bits(8000) == 6)
    // and the query runs end-to-end with every label accounted for
    val out = SparkEntry.queries("q386_knn_label_audit")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // suspects <= anchors
      assert(r.getLong(3) <= 1000000L)
    }
  }
}

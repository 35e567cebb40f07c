package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import TextKernel._

/** The kernel's column helpers equal the SQL lambdas the queries spelled
  * out before they called them, so every query result stays the same. */
class TextKernelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  /** Token arrays of every length from 1 to 25, with repeats. */
  private lazy val docs = {
    import spark.implicits._
    (1 to 25).map(n => Seq.tabulate(n)(i => s"w${i % 7}")).toDF("t")
  }

  test("ngrams equals the sliding concat_ws lambda for n = 2, 3, 5") {
    for (n <- Seq(2, 3, 5)) {
      val out = docs.filter(size(col("t")) >= n)
        .select(ngrams(col("t"), n).as("kernel"), expr(
          s"""transform(sequence(0, size(t) - $n),
              i -> concat_ws(' ', slice(t, i + 1, $n)))""").as("sql"))
      assert(out.filter(col("kernel") =!= col("sql")).isEmpty)
      assert(out.filter(size(col("kernel")) > 0).count() > 0)
    }
  }

  test("segments equals the tiling lambda, last segment short") {
    for (len <- Seq(3, 20)) {
      val out = docs.filter(size(col("t")) > 0)
        .select(segments(col("t"), len).as("kernel"), expr(
          s"""transform(sequence(0, int(ceil(size(t) / $len.0)) - 1),
              i -> array_join(slice(t, i * $len + 1, $len), ' '))""")
          .as("sql"))
      assert(out.filter(col("kernel") =!= col("sql")).isEmpty)
    }
    import spark.implicits._
    val seg = Seq(Seq("a", "b", "c", "d")).toDF("t")
      .select(segments(col("t"), 3)).head().getSeq[String](0)
    assert(seg == Seq("a b c", "d"))
  }

  test("bucketPairs emits one row per pair and shared bucket, capped") {
    import spark.implicits._
    val rows = Seq(("x", 3L), ("x", 1L), ("x", 2L), ("y", 1L), ("y", 2L),
      ("z", 9L))
      .toDF("k", "id")
    val pairs = bucketPairs(rows, Seq(col("k")), col("id"), maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs == Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L)))
    assert(bucketPairs(rows, Seq(col("k")), col("id"), maxBucket = 2)
      .count() == 1)
  }

  test("the band keys are md5 over slot pairs (0, 1) and (2, 3)") {
    import spark.implicits._
    val b = bands(k => lit(s"s$k"))
    val got = Seq(1).toDF("x").select(b(0), b(1)).head()
    assert((got.getString(0), got.getString(1)) ==
      ((md5hex("s0s1"), md5hex("s2s3"))))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

/** The benchmark's correctness checks must catch wrong answers: a digest
  * that differs from its expected value counts as a failed operation. */
class CorrectnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.GraftSession.builder(Some(2))
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ctx = new Ctx(spark, new Tracer(false), new SparkCounts, seed = 1L,
    seconds = 0.0, cores = 2, work = Files.createTempDirectory("perfbench").toFile,
    opts = Map.empty)

  test("a corrupted pinned digest is reported as an error") {
    val pins = Analytics.readPins("analytics_pins.tsv")
    val q = "q01_agg_pricing"
    val good = pins(q)
    val corrupted = pins.updated(q, good.copy(hash = (BigInt(good.hash) + 1).toString))
    val errors = mutable.ArrayBuffer.empty[String]

    val ok = Analytics.runOne(ctx, "testdata/sf0.01", q, 0, pins, errors)
    assert(ok.ok && errors.isEmpty)

    val bad = Analytics.runOne(ctx, "testdata/sf0.01", q, 0, corrupted, errors)
    assert(!bad.ok)
    assert(errors.size == 1 && errors.head.startsWith(q))
  }

  test("the digest reads every column and ignores row order") {
    import spark.implicits._
    val df = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("k", "s", "x")
    val same = Seq((2, "b", 2.5), (1, "a", 1.5)).toDF("k", "s", "x")
    val otherText = Seq((1, "a", 1.5), (2, "c", 2.5)).toDF("k", "s", "x")
    val otherDouble = Seq((1, "a", 1.5), (2, "b", 2.25)).toDF("k", "s", "x")
    assert(Digest.of(df) == Digest.of(same))
    assert(Digest.of(df) != Digest.of(otherText))
    assert(Digest.of(df) != Digest.of(otherDouble))
    assert(Digest.of(df).rows == 2)
  }
}

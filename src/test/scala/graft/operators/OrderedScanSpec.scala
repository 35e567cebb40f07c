package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OrderedScan.{LastNonNull, StrictMax, Sum, scan}

/** The ordered-scan kernel must compute exactly what the naive
  * single-task global window computes, whatever range partitioning it
  * lands on — including partitions with no non-null value at all (the
  * carry must hop over them), values at partition boundaries and groups
  * that span several partitions.
  */
class OrderedScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s
  }

  /** A child session whose range exchanges keep 7 coarsely sampled
    * partitions, so the kernel sees many partition boundaries even on
    * small inputs. */
  private lazy val ranged = OrderedScanSpec.boundarySession(spark)

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  /** 400 rows, ~1/7 carriers (t == 0), duplicate x values so the
    * (x, t, uid) tie-break is exercised, long carrier-free stretches so
    * cross-partition carries hop gaps. */
  private def frame(s: SparkSession = spark) = s.range(400).select(
    col("id").as("uid"),
    (col("id") * 37 % 23).as("x"),
    when(col("id") % 7 === 0, lit(0L)).otherwise(1L).as("t"),
    (col("id") * 13 % 101).as("y"))

  private val ord = Seq(col("x"), col("t"), col("uid"))

  /** q342's neighbor reads: `b` = last carrier at or before the row,
    * `f` = first carrier at or after it (the same fold, reversed). */
  private def neighbors(df: DataFrame, carrier: Column): DataFrame = {
    val back = scan(df, ord, LastNonNull(carrier), "b").df
    scan(back, ord.map(_.desc), LastNonNull(carrier), "f").df
  }

  test("neighborScan == the naive global window, struct carrier") {
    val u = frame()
    val carrier = when(col("t") === 0,
      struct(col("x").as("cx"), col("y").as("cy")))
    val got = neighbors(u, carrier)
      .select(col("uid"), col("b.cx").as("bx"), col("b.cy").as("by"),
        col("f.cx").as("fx"), col("f.cy").as("fy"))
    val w = Window.orderBy("x", "t", "uid")
    val bw = w.rowsBetween(Window.unboundedPreceding, 0)
    val fw = w.rowsBetween(0, Window.unboundedFollowing)
    val want = u
      .withColumn("bx", last(when(col("t") === 0, col("x")),
        ignoreNulls = true).over(bw))
      .withColumn("by", last(when(col("t") === 0, col("y")),
        ignoreNulls = true).over(bw))
      .withColumn("fx", first(when(col("t") === 0, col("x")),
        ignoreNulls = true).over(fw))
      .withColumn("fy", first(when(col("t") === 0, col("y")),
        ignoreNulls = true).over(fw))
      .select("uid", "bx", "by", "fx", "fy")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("result is invariant under the input's physical partitioning") {
    val carrier = when(col("t") === 0, col("y"))
    def run(parts: Int) = neighbors(frame(ranged).repartition(parts),
        carrier)
      .select("uid", "b", "f")
    val a = run(1)
    val b = run(13)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("caller columns named like the internals survive untouched") {
    // Every internal name any ordered scan has used: withColumn on any
    // of these used to silently replace (then drop) the caller's column.
    val names = Seq("_c", "_pid", "_lb", "_lf", "_cb", "_cf", "_local",
      "_offset", "_incl", "_lag", "_v", "_v_")
    val u = names.zipWithIndex.foldLeft(frame(ranged)) {
      case (df, (n, i)) => df.withColumn(n, col("y") + (i + 1))
    }
    val folds = Seq(
      "sum" -> (ord, Sum(col("y"))),
      "grouped" -> (Seq(col("uid")), Sum(col("y"), Seq("t"))),
      "max" -> (ord.map(_.desc), StrictMax(col("y"))),
      "last" -> (ord, LastNonNull(when(col("t") === 0, col("y")))))
    for ((name, (order, fold)) <- folds) {
      val out = scan(u, order, fold, "o").df
      assert(out.columns.toSeq == u.columns.toSeq :+ "o", name)
      assert(out.filter(names.zipWithIndex.map { case (n, i) =>
        col(n) =!= col("y") + (i + 1) }.reduce(_ || _)).isEmpty, name)
      // and the scan itself still computes the same fold
      val plain = scan(frame(ranged), order, fold, "o").df
        .select("uid", "o")
      val got = out.select("uid", "o")
      assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty,
        name)
    }
  }

  test("exchange reuse disabled -> checkpoint fallback, same result") {
    val carrier = when(col("t") === 0, col("y"))
    val want = neighbors(frame(), carrier)
      .select("uid", "b", "f").collect().toSet
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val got = neighbors(frame(), carrier)
        .select("uid", "b", "f").collect().toSet
      assert(got == want)
    } finally spark.conf.set("spark.sql.exchange.reuse", "true")
  }

  test("no carriers at all -> all-null neighbors; all carriers -> dense") {
    val none = neighbors(frame(), when(col("t") === 99, col("y")))
    assert(none.filter(col("b").isNotNull || col("f").isNotNull)
      .isEmpty)
    val all = neighbors(frame(), col("y"))
    // every row carries and both folds include the row itself, so no
    // row lacks either neighbor.
    assert(all.filter(col("b").isNull || col("f").isNull).isEmpty)
  }

  test("every fold equals the naive global window across >= 3 range " +
    "partitions") {
    // 20k rows, a shuffled total order (k, id), 13 groups that each
    // span several partitions, and nulls among signed values whose
    // spread grows along the descending order, so a strict running max
    // keeps rising and a wrong carry shows past the boundary row.
    val df = ranged.range(20000).select(
      col("id"),
      (col("id") * 7919 % 20011).as("k"),
      (col("id") % 13).as("g"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 31 % 97 - 40) * (lit(20011L) - col("k")))
        .as("v"))
    val asc = Seq(col("k"), col("id"))
    val desc = asc.map(_.desc)
    def prefix(order: Seq[Column]) =
      Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, 0)
    val cases = Seq(
      ("sum", asc, Sum(col("v")), sum("v").over(prefix(asc))),
      ("grouped sum", asc, Sum(col("v"), Seq("g")),
        sum("v").over(Window.partitionBy("g").orderBy(asc: _*)
          .rowsBetween(Window.unboundedPreceding, 0))),
      ("strict max desc", desc, StrictMax(col("v")),
        max("v").over(Window.orderBy(desc: _*)
          .rowsBetween(Window.unboundedPreceding, -1))),
      ("last non-null", asc, LastNonNull(col("v")),
        last("v", ignoreNulls = true).over(prefix(asc))),
      ("last non-null reversed", desc, LastNonNull(col("v")),
        last("v", ignoreNulls = true).over(prefix(desc))))
    for (run <- 1 to 3; (name, order, fold, naive) <- cases) {
      val out = scan(df, order, fold, "o").df
      val parts = out.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(parts.count(_ > 0) >= 3, s"$name run $run: ${parts.toSeq}")
      val want = df.withColumn("o", naive)
      val bad = out.select("id", "o").exceptAll(want.select("id", "o"))
        .count()
      assert(bad == 0, s"$name run $run: $bad of 20000 rows wrong")
      assert(out.count() == 20000, s"$name run $run")
    }
  }
}

object OrderedScanSpec {

  /** A child session whose range exchanges keep 7 partitions (no AQE
    * coalescing) with boundaries sampled from one row per partition, so
    * a few thousand rows already cross several partition boundaries. */
  def boundarySession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition",
      "1")
    s
  }
}

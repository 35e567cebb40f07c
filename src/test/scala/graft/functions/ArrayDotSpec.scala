package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Native array_dot expression: interpreted vs codegen parity with the
  * `aggregate(zip_with(...))` built-in formulation, null handling, and
  * both registration paths (extensions + imperative).
  */
class ArrayDotSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s
  }

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  test("matches aggregate(zip_with) bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4.0f, -1.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f)))
      .toDF("a", "b")
      .select(
        expr("array_dot(a, b)").as("native"),
        expr("""aggregate(zip_with(a, b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("builtin"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // exact, not approx
    }
  }

  test("null input yields null; known value") {
    val r = spark.sql(
      """SELECT array_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
                          array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d,
                array_dot(CAST(null AS ARRAY<FLOAT>),
                          array(CAST(1 AS FLOAT))) AS n""").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.isNullAt(1))
  }

  test("ragged lengths and null elements match the idiom exactly " +
    "(so the rewrite is safe on arbitrary user data)") {
    import spark.implicits._
    // unequal lengths → zip_with pads with null → null result;
    // a null element → null result; both must agree between the
    // built-in formulation and the native expression.
    val df = Seq(
      (Array[java.lang.Float](1f, 2f, 3f), Array[java.lang.Float](4f, 5f)),
      (Array[java.lang.Float](1f, null, 3f),
        Array[java.lang.Float](4f, 5f, 6f)),
      (Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f, 4f)))
      .toDF("a", "b")
      .select(
        expr("array_dot(a, b)").as("native"),
        expr("""aggregate(zip_with(a, b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("builtin"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    // and the rewrite still fires on ragged (non-constant) inputs,
    // producing the same null-correct answer as the idiom
    val rewritten = spark.range(1, 2)
      .selectExpr(
        "transform(sequence(1, 3), k -> CAST(id + k AS FLOAT)) AS a",
        "transform(sequence(1, 2), k -> CAST(id * k AS FLOAT)) AS b")
      .selectExpr("""aggregate(zip_with(a, b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d""")
    assert(rewritten.queryExecution.optimizedPlan.toString
      .contains("array_dot"))
    assert(rewritten.head().isNullAt(0))
  }

  test("imperative registration on a plain session") {
    // newSession() carries the parent's extension functions, so drop
    // them first: only `register` may bring each one back.
    val plain = spark.newSession()
    val calls = Seq(
      "array_dot" -> "array_dot(array(CAST(2 AS FLOAT)), array(CAST(8 AS FLOAT)))",
      "nfc_normalize" -> "nfc_normalize('a')",
      "aho_match" -> "aho_match('abc', array('b'))",
      "simhash_planes" -> "simhash_planes(array('a', 'b'))",
      "minhash_sigs" -> "minhash_sigs(array('a', 'b'))",
      "cdc_chunks" -> "cdc_chunks('abc')")
    val registry = plain.sessionState.functionRegistry
    for ((name, _) <- calls) {
      registry.dropFunction(FunctionIdentifier(name))
      assert(!registry.functionExists(FunctionIdentifier(name)), name)
    }
    GraftFunctions.register(plain)
    for ((name, call) <- calls)
      withClue(name) { plain.sql(s"SELECT $call").queryExecution.assertAnalyzed() }
    assert(plain.sql(s"SELECT ${calls.head._2}").head().getDouble(0) == 16.0)
  }

  test("optimizer rule rewrites the zip_with/aggregate idiom to array_dot") {
    // non-constant input so constant folding can't collapse the plan
    val df = spark.range(1, 3)
      .selectExpr(
        "transform(sequence(1, 2), k -> CAST(id + k AS FLOAT)) AS a",
        "transform(sequence(1, 2), k -> CAST(id * k AS FLOAT)) AS b")
      .selectExpr("""aggregate(zip_with(a, b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d""")
    assert(df.queryExecution.optimizedPlan.toString.contains("array_dot"),
      df.queryExecution.optimizedPlan.toString)
    // id=1: a=[2,3], b=[1,2] -> 2+6=8; id=2: a=[3,4], b=[2,4] -> 6+16=22
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(8.0, 22.0))
  }

  test("rule leaves non-matching aggregates untouched") {
    import spark.implicits._
    // sum of squares via aggregate (merge is acc + v*v, not acc + v)
    val df = Seq(Array(2.0f, 3.0f)).toDF("a")
      .select(expr("""aggregate(a, CAST(0 AS DOUBLE),
          (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))""")
        .as("ss"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("array_dot"))
    assert(df.head().getDouble(0) == 13.0)
  }

  test("survives codegen in a wider plan (per-row loop, many rows)") {
    import spark.implicits._
    val n = 1000
    val df = (0 until n).map(i => (i.toLong,
        Array.tabulate(64)(k => (i + k) * 0.25f),
        Array.tabulate(64)(k => (k - i) * 0.5f)))
      .toDF("id", "a", "b")
      .select(col("id"), expr("array_dot(a, b)").as("d"),
        expr("""aggregate(zip_with(a, b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("ref"))
    assert(df.filter(col("d") =!= col("ref")).count() == 0)
  }
}

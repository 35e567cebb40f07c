package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** One domain's share of the query registry: the queries it builds and
  * the DuckDB statements they are hash-checked against, both keyed by
  * query name. `SparkEntry` registers every module once through
  * [[QueryModule.registry]].
  *
  * The protected members are the column and frame helpers that query
  * bodies across domains share; each is defined here and nowhere else.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q]

  /** A `def` where a statement depends on run-time state
    * (`WikitextOps.oracle` follows the staged-table root). */
  def oracle: Map[String, String]

  /** Persist and eagerly materialize an intermediate that the rest of
    * the query fans out from. Without the count(), every downstream
    * subtree races to populate the cache on the first action; one count
    * buys a single computation of the shared frame. */
  protected def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Exact, order-independent sum of a money-like double column. */
  protected def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Sequential double dot product of two float-array columns, written
    * as `aggregate(zip_with)` so it accumulates in DuckDB's order. */
  protected def dotD(a: String, b: String): Column = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> x * y),
        CAST(0 AS DOUBLE), (acc, t) -> acc + t)""")

  /** Floor division of two SQL integer expressions (`div` truncates
    * toward zero; this rounds toward minus infinity on both engines). */
  protected def floorDiv(a: String, b: String): String =
    s"(($a) - ((($a) % ($b)) + ($b)) % ($b)) div ($b)"

  /** 13-hex-digit md5 prefix of `c` as a BIGINT SQL expression: the
    * deterministic, engine-portable hash used for fold, cohort and
    * sample assignment. */
  protected def h13(c: String): String =
    s"CAST(conv(substring(md5(CAST($c AS STRING)), 1, 13), 16, 10) AS BIGINT)"

  /** Least-squares slope of y on x in ppm, from the sums `n`, `sx`,
    * `sy`, `sxx`, `sxy` and `syy`: DECIMAL(38,0) products (n·Σxy
    * overflows i64) and one exact integral division. */
  protected def olsSlopePpm: Column = expr("""CAST(
            (CAST(n AS DECIMAL(38,0)) * sxy
             - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            div (CAST(n AS DECIMAL(38,0)) * sxx
               - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")

  /** The same fit's r² in ppm, from the same sums. */
  protected def olsR2Ppm: Column = expr("""CAST(
            (CAST(n AS DECIMAL(38,0)) * sxy
             - CAST(sx AS DECIMAL(38,0)) * sy)
            * (CAST(n AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            div ((CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx)
               * (CAST(n AS DECIMAL(38,0)) * syy
                  - CAST(sy AS DECIMAL(38,0)) * sy)) AS BIGINT)""")

  /** Nanoseconds per day, for day buckets of the ns-since-epoch `ts`. */
  protected val NsPerDay = 86400000000000L

  /** Queries using the native `array_dot` function run on a session that
    * has it registered; registration is idempotent. */
  protected def withFns(s: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.register(s); s
  }
}

object QueryModule {
  /** Union of `maps`, failing on a name that two of them define — a plain
    * `++` would silently keep whichever came last. */
  def registry[V](maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val twice = m.keySet.intersect(acc.keySet)
      require(twice.isEmpty,
        s"query names registered twice: ${twice.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }
}

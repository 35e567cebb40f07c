package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Parquet

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table; schemas are carried by the files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One-call SQL surface: registers every table as a temp view plus
    * the native graft functions (array_dot, nfc_normalize, …), so the
    * whole corpus is queryable via `spark.sql` — the `spark-sql`-shell
    * equivalent of the reference's DuckDB session over its parquet. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = Parquet.read(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Canonicalize `events.ts` to a nanosecond-since-epoch BIGINT at the
    * read boundary, whatever physical/logical type the generator wrote:
    *
    *  - TIMESTAMP(MICROS) [current testdata] → Spark TIMESTAMP_NTZ; the
    *    naive datetime is converted with `timestampdiff(MICROSECOND, epoch,
    *    ts)`, which is defined on NTZ and therefore timezone-free — no
    *    session-conf dependence, no `cast(... as timestamp)` tz pitfall.
    *    (DuckDB's `epoch_ns(ts)` over the same file yields exactly
    *    micros*1000, so the oracle SQL needs no change.)
    *  - raw INT64 nanoseconds [older generator] → passes through.
    *
    * All downstream event-time arithmetic (`ts div <ns-const>` bucketing,
    * session gaps, RANGE frames, as-of bounds) stays pure 64-bit integer
    * math on this canonical column: exact, codegen-friendly, and identical
    * across executors regardless of their timezone.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case TimestampNTZType | TimestampType =>
      df.withColumn("ts", tsToNanos(col("ts")))
    case other =>
      throw new IllegalStateException(s"unexpected events.ts type: $other")
  }

  /** Timestamp (ntz or tz, micros precision) → ns-since-epoch long. */
  def tsToNanos(ts: Column): Column =
    timestamp_diff("MICROSECOND",
      lit("1970-01-01 00:00:00").cast(TimestampNTZType),
      ts.cast(TimestampNTZType)) * lit(1000L)
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash of every output column.
  *
  * The benchmark times each operation with this action rather than
  * `count()`: a count lets the optimizer prune the projections and
  * joins whose cost a change is meant to move, while the digest has to
  * read every column of every row. The same value is the correctness
  * check, compared with an expected digest.
  *
  * Floating-point values are hashed at 10 significant digits, so a sum
  * whose last bits depend on the order partitions arrive in does not
  * read as a wrong answer. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Digest {
  def parse(s: String): Digest = {
    val Array(r, h) = s.split(":", 2)
    Digest(r.toLong, h)
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.10g", c)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case MapType(_, vt, _) if needsCanon(vt) => transform_values(c, (_, v) => canon(v, vt))
    case st: StructType if needsCanon(st) =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsCanon(et)
    case MapType(kt, vt, _) => needsCanon(kt) || needsCanon(vt)
    case st: StructType => st.fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** The digest query for `df`; callers run it with `collect()`. */
  def query(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toIndexedSeq
    // Positional names: result columns may repeat a name or hold dots.
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      canon(col(s"c$i"), f.dataType).as(s"c$i")
    }
    val row = if (cols.isEmpty) lit("") else to_json(struct(cols: _*))
    named.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum("h"), lit(BigDecimal(0))).as("s"))
  }

  def of(df: DataFrame): Digest = fromRow(query(df).collect().head)

  def fromRow(r: org.apache.spark.sql.Row): Digest =
    Digest(r.getLong(0), r.get(1).toString)
}

/** A digest action and what its executed plan shows: planning time from
  * the query's tracker, rows the file scans produced, and how many
  * buckets the bucketed scans selected. */
final case class Executed(digest: Digest, planMs: Double, rowsRead: Long, bucketsRead: Long,
    bucketedScans: Int)

object Executed extends AdaptiveSparkPlanHelper {
  /** Runs the digest of `df`; reads the plan only when `inspect`. */
  def apply(df: DataFrame, inspect: Boolean): Executed = {
    val q = Digest.query(df)
    val d = Digest.fromRow(q.collect().head)
    if (!inspect) return Executed(d, 0.0, 0L, 0L, 0)
    val qe = q.queryExecution
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    val bucketed = scans.flatMap(_.metadata.get("SelectedBucketsCount"))
    Executed(d, PlanTimes.planMs(qe),
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
      bucketed.map(_.trim.takeWhile(_.isDigit).toLong).sum, bucketed.size)
  }
}

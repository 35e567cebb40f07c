package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.graft.PlanApi
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PlanApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  private val schema = StructType(Seq(StructField("x", LongType)))

  test("streamingSourceBytes is None for a malformed source path") {
    // `readStream` itself would reject the path, so the relation is built
    // by hand. A relative path with a colon before its first slash parses
    // as an illegal URI scheme, so `Path` throws IllegalArgumentException.
    val bad = "ts=2024-01-01T00:00/events"
    intercept[IllegalArgumentException](new Path(bad))
    val source = DataSource(spark, className = "parquet",
      paths = Seq(bad), userSpecifiedSchema = Some(schema))
    val df = PlanApi.ofRows(
      StreamingRelation(source, "parquet", DataTypeUtils.toAttributes(schema)), spark)
    assert(df.isStreaming)
    assert(PlanApi.streamingSourceBytes(df).isEmpty)
  }
}

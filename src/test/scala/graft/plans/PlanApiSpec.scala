package graft.plans

import java.nio.file.Files

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

  test("streamingSourceBytes counts the files a readStream.parquet(dir) source reads") {
    // readStream.parquet(dir) keeps the directory in the `path` option,
    // not in the source's paths. Sizing lists files and reads none, so
    // their bytes need not be parquet.
    val dir = Files.createTempDirectory("stream-bytes")
    def put(name: String, bytes: Int): Unit = {
      Files.createDirectories(dir.resolve(name).getParent)
      Files.write(dir.resolve(name), new Array[Byte](bytes))
    }
    put("events.parquet", 1234)
    put("other.parquet", 99)
    put("sub/part-0.parquet", 77)
    def bytes(glob: Option[String], path: String): Option[Long] = {
      val reader = spark.readStream.schema(schema)
      PlanApi.streamingSourceBytes(
        glob.fold(reader)(reader.option("pathGlobFilter", _)).parquet(path))
    }
    assert(bytes(Some("events.parquet"), dir.toString).contains(1234L))
    assert(bytes(None, dir.toString).contains(1234L + 99))
    // a glob is expanded, and a directory it matches counts its files
    assert(bytes(Some("*.parquet"), s"$dir/*").contains(1234L + 99 + 77))
  }
}

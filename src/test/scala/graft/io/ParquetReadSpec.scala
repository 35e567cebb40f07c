package graft.io

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.github.luben.zstd.ZstdOutputStream
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobDescriptions, SparkTestSession, Tables}
import graft.pipeline.CitationPipeline

/** `Parquet.read` gives the schema Spark's inference gives, without
  * the inference job, and leaves every case it does not cover to
  * Spark. */
class ParquetReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  override def afterAll(): Unit = SparkTestSession.cleanup()

  private val sf = "/root/testdata/sf0.01"

  private def tmp(): String =
    Files.createTempDirectory("parquet-read").toFile.getAbsolutePath

  /** A two-page bundle with a cite template, built into the 11
    * published tables and the staging set. */
  private lazy val published: String = {
    val bundles = tmp()
    val ref = "<ref name=a>{{Cite web |url=https://example.com/x |title=X}}</ref>"
    val text =
      s"""# page_id=100 ns=0 rev_id=1001 parent_rev_id= timestamp=2020-01-01T00:00:00Z
         | Intro. $ref
         |# page_id=100 ns=0 rev_id=1002 parent_rev_id=1001 timestamp=2020-02-01T00:00:00Z
         | Intro. $ref More <ref>{{Sfn|Doe|1999}}</ref> https://example.org/y
         |# page_id=200 ns=0 rev_id=2001 parent_rev_id= timestamp=2020-01-15T00:00:00Z
         | Other page. $ref
         |""".stripMargin
    val z = new ZstdOutputStream(new FileOutputStream(s"$bundles/a.mwrev.zst"))
    z.write(text.getBytes(StandardCharsets.UTF_8))
    z.close()
    val out = tmp()
    CitationPipeline.build(spark, s"$bundles/*.mwrev.zst", out)
    out
  }

  /** `path` takes the footer path, and reads back with the schema
    * `spark.read.parquet` infers. */
  private def assertSameAsSpark(path: String): Unit = {
    assert(Parquet.footerSchema(spark, path).isDefined, path)
    assert(Parquet.read(spark, path).schema == spark.read.parquet(path).schema, path)
  }

  test("the schema of every testdata table is the one Spark infers") {
    Tables.names.foreach(n => assertSameAsSpark(s"$sf/$n.parquet"))
  }

  test("the nested staging set and every published table read back with Spark's schema") {
    assertSameAsSpark(s"$published/${CitationPipeline.StagedRefs}")
    assert(spark.read.parquet(s"$published/${CitationPipeline.StagedRefs}")
      .schema.exists(_.dataType.typeName == "array"))
    CitationPipeline.dedupKeys.keys.foreach(t => assertSameAsSpark(s"$published/$t"))
  }

  test("opening a table through the helper runs no Spark job; spark.read.parquet runs one") {
    val path = s"$sf/lineitem.parquet"
    val jobs = JobDescriptions.of(spark)(
      "helper" -> (() => Parquet.read(spark, path)),
      "spark" -> (() => spark.read.parquet(path)))
    assert(jobs == List("spark"))
  }

  /** A table directory of two files with different schemas. */
  private def twoSchemaDir(): String = {
    val dir = tmp() + "/t"
    Seq((1L, "a")).toDF("id", "x").write.parquet(dir)
    Seq((2L, 3.5)).toDF("id", "y").write.mode("append").parquet(dir)
    dir
  }

  test("a directory of several files takes the first file's schema, as Spark does") {
    assertSameAsSpark(twoSchemaDir())
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    assert(a.collect().toSeq.map(_.toString).sorted == b.collect().toSeq.map(_.toString).sorted)
  }

  test("a partitioned directory falls back to Spark's partition discovery") {
    val dir = tmp() + "/t"
    Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "x", "k")
      .write.partitionBy("k").parquet(dir)
    assert(Parquet.footerSchema(spark, dir).isEmpty)
    sameRows(Parquet.read(spark, dir), spark.read.parquet(dir))
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("id", "x", "k"))
  }

  test("an empty directory falls back and fails as Spark does") {
    val dir = tmp()
    assert(Parquet.footerSchema(spark, dir).isEmpty)
    val ours = intercept[AnalysisException](Parquet.read(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }

  test("with mergeSchema set, the helper falls back and merges as Spark does") {
    val dir = twoSchemaDir()
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Parquet.footerSchema(spark, dir).isEmpty)
      sameRows(Parquet.read(spark, dir), spark.read.parquet(dir))
      assert(Parquet.read(spark, dir).columns.toSet == Set("id", "x", "y"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}

package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.PlanApi
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobDescriptions, SparkTestSession, Tables}
import graft.operators.QueryModule
import graft.pipeline.CitationPipeline

/** A parquet format that is not exactly `ParquetFileFormat`. */
class ParquetSubclassFormat extends ParquetFileFormat

/** `Parquet.CountFromFooters` answers a whole-table count from the
  * footers with the count Spark's job gives, runs no job for it, and
  * leaves every other plan as it is. */
class ParquetCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  override def afterAll(): Unit = SparkTestSession.cleanup()

  private val sf = "/root/testdata/sf0.01"

  private def tmp(): String =
    Files.createTempDirectory("parquet-count").toFile.getAbsolutePath

  /** A session on the same context that optimizes without the rule. */
  private lazy val plain: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", Parquet.CountFromFooters.ruleName)
    s
  }

  /** A child session with `conf` set. */
  private def withConf(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def rewritten(df: DataFrame): Boolean =
    df.groupBy().count().queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `count`'s value, after checking that computing it started no job. */
  private def withoutJob(count: => Long): Long = {
    var got = -1L
    val jobs = JobDescriptions.of(spark)(
      "count" -> (() => got = count),
      "sentinel" -> (() => spark.sparkContext.parallelize(Seq(1), 1).count()))
    assert(jobs == List("sentinel"))
    got
  }

  /** `df.count()` is answered from the footers, equals the count of the
    * same plan without the rule, and starts no job. */
  private def assertFooterCount(df: DataFrame): Unit = {
    assert(rewritten(df))
    assert(withoutJob(df.count()) == PlanApi.rebind(df, plain).count())
  }

  /** The optimizer leaves `df`'s plan as the session without the rule
    * leaves it. */
  private def assertSamePlan(df: DataFrame): Unit =
    assert(df.queryExecution.optimizedPlan.canonicalized ==
      PlanApi.rebind(df, plain).queryExecution.optimizedPlan.canonicalized)

  /** ... and both plans give the same rows. */
  private def assertUnchanged(df: DataFrame): Unit = {
    assertSamePlan(df)
    assert(df.collect().toSeq == PlanApi.rebind(df, plain).collect().toSeq)
  }

  private def severalFiles(): String = {
    val dir = tmp() + "/t"
    spark.range(0, 1000, 1, 3).selectExpr("id", "id % 7 AS k").write.parquet(dir)
    dir
  }

  test("a one-file testdata table counts from its footer, with no job") {
    assertFooterCount(Tables.table(spark, sf, "lineitem"))
  }

  test("events, read through its added column, counts from its footer") {
    assertFooterCount(Tables.table(spark, sf, "events"))
  }

  test("a directory of several files sums their footers") {
    val dir = severalFiles()
    assert(Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).count() == 3)
    assertFooterCount(Parquet.read(spark, dir))
  }

  test("a partitioned directory sums the footers of every partition") {
    val dir = tmp() + "/t"
    spark.range(0, 500).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(dir)
    assertFooterCount(Parquet.read(spark, dir))
  }

  test("a bucketed catalog table counts from its footers") {
    val out = tmp()
    val name = "citation_instances"
    // One task writes at most one file per bucket that has rows: 8.
    val df = spark.range(0, 300, 1, 1).selectExpr("CAST(id % 8 AS INT) AS page_id", "id")
    CitationPipeline.writeTables(Map(name -> df), out)
    try {
      val table = CitationPipeline.servingTable(spark, out, name)
      assert(table.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.catalogTable.flatMap(_.bucketSpec)
      }.flatten.isDefined)
      assertFooterCount(table)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${CitationPipeline.servingTableName(name)}")
  }

  test("count(*) in SQL, and as a scalar subquery, counts from the footers") {
    Parquet.read(spark, severalFiles()).createOrReplaceTempView("t")
    assert(withoutJob(spark.sql("SELECT count(*) FROM t").collect().head.getLong(0)) == 1000L)
    val scalar = spark.sql("SELECT id, (SELECT count(*) FROM t) AS n FROM t WHERE id = 7")
    val subplans = scalar.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case s: ScalarSubquery => s.plan
    }))
    assert(subplans.nonEmpty && subplans.forall(_.isInstanceOf[LocalRelation]))
    assert(scalar.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, 1000L)))
  }

  test("a filter, DISTINCT, FILTER clause, grouping or other aggregate keeps its plan") {
    Parquet.read(spark, severalFiles()).createOrReplaceTempView("t")
    Seq(
      "SELECT count(*) FROM t WHERE k > 2",
      "SELECT count(DISTINCT 1) FROM t",
      "SELECT count(*) FILTER (WHERE k > 2) FROM t",
      "SELECT count(*), max(id) FROM t",
      "SELECT count(*) FROM t GROUP BY k",
      "SELECT count(id) FROM t",
      "SELECT count(NULL) FROM t"
    ).foreach(q => assertUnchanged(spark.sql(q)))
  }

  test("ignoreCorruptFiles or ignoreMissingFiles, in the conf or the options, keeps the plan") {
    val dir = severalFiles()
    for (key <- Seq("ignoreCorruptFiles", "ignoreMissingFiles")) {
      val s = withConf(s"spark.sql.files.$key" -> "true")
      assertUnchanged(Parquet.read(s, dir).groupBy().count())
      assertUnchanged(spark.read.option(key, "true").parquet(dir).groupBy().count())
    }
  }

  test("more files than the parallel listing threshold keep the counting job") {
    val dir = severalFiles()
    val s = withConf("spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2")
    assertUnchanged(Parquet.read(s, dir).groupBy().count())
    assert(rewritten(Parquet.read(withConf(
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "3"), dir)))
  }

  test("a parquet format subclass keeps the counting job") {
    val df = spark.read.format(classOf[ParquetSubclassFormat].getName).load(severalFiles())
    assertUnchanged(df.groupBy().count())
  }

  test("a footer that cannot be read keeps the plan, and the count fails as Spark's does") {
    val dir = severalFiles()
    Files.writeString(Paths.get(dir, "part-zzzz.parquet"), "not a parquet file")
    val df = spark.read.schema("id BIGINT, k BIGINT").parquet(dir)
    assertSamePlan(df.groupBy().count())
    val ours = intercept[SparkException](df.count())
    val theirs = intercept[SparkException](PlanApi.rebind(df, plain).count())
    assert(ours.getCondition == theirs.getCondition)
  }

  test("a streaming global count keeps its running total over appended files") {
    val in = tmp() + "/in"
    Files.createDirectories(Paths.get(in))
    /** Adds one parquet file of `n` rows to `in`. */
    def append(n: Int, name: String): Unit = {
      val staging = tmp() + "/s"
      spark.range(0, n, 1, 1).write.parquet(staging)
      val part = Files.list(Paths.get(staging)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(in, s"$name.parquet"))
    }
    append(3, "a")
    val query = spark.readStream.schema("id BIGINT").parquet(in)
      .groupBy().count()
      .writeStream.format("memory").queryName("footer_count_stream")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      query.processAllAvailable()
      assert(spark.table("footer_count_stream").as[Long].collect().toSeq == Seq(3L))
      append(5, "b")
      query.processAllAvailable()
      assert(spark.table("footer_count_stream").as[Long].collect().toSeq == Seq(8L))
    } finally query.stop()
  }

  test("persist then count still fills the cache") {
    object Probe extends QueryModule {
      def queries: Map[String, Q] = Map.empty
      def oracle: Map[String, String] = Map.empty
      def materialize(df: DataFrame): DataFrame = materialized(df)
    }
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val cached = Probe.materialize(Tables.table(spark, sf, "orders"))
    try {
      assert(sc.getRDDStorageInfo.exists(i => !before(i.id) && i.numCachedPartitions > 0))
    } finally cached.unpersist(blocking = true)
  }
}

package graft

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The full serve-at-scale path — pipeline build, bucketed publish,
  * flagship + template report + batch report served from the bucketed
  * layout, layout plan audits — at sf0.001 so the suite proves the
  * exact code the release gate runs at sf1. `ServeAtScale.run` already
  * `require`s every invariant (served == direct, Exchange-free hot
  * join, single-bucket pruning); the spec's job is to run it and check
  * the metric surface it reports.
  */
class ServeAtScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse =
    Files.createTempDirectory("graft-serve-wh").toFile.getAbsolutePath
  private lazy val servingDir =
    Files.createTempDirectory("graft-serve-out").toFile.getAbsolutePath

  // Shared test session: the bucketed tables carry an explicit
  // `option("path", servingDir/...)` and mode overwrite, so only the
  // metastore ENTRY lands in the shared warehouse — data stays in the
  // temp dir and reruns overwrite cleanly.
  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s
  }

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  test("bucketed serving layout: built, audited, result-identical") {
    // the audits plan with AQE and broadcast off; the caller's values
    // of both keys must come through the run unchanged
    val scoped = Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "1234567")
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    val m = ServeAtScale.run(spark, "/root/testdata/sf0.001",
      servingDir, buckets = 8)
    for ((k, v) <- scoped) assert(spark.conf.get(k) == v, k)
    assert(m("exchange_free_hot_join") == true)
    assert(m("bucket_pruned_single_page") == true)
    assert(m("serve_page_rows").asInstanceOf[Int] > 0)
    // every synthetic page contributes its <ref> and its standalone
    // URL to the current-citations batch report (WikitextOps corpus)
    assert(m("batch_report_rows").asInstanceOf[Long] ==
      2L * m("n_pages").asInstanceOf[Long])
  }
}

package graft.pipeline

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.github.luben.zstd.ZstdOutputStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.MwRevZst

/** Resolve job: serving star schema over the FIXTURES.md §B bundle —
  * deterministic dense ids, FK integrity, md5 hash keys.
  */
class ResolveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  private val refA =
    "<ref name=a>{{Cite web |url=https://example.com/x |title=X}}</ref>"
  private val refSfn = "<ref>{{Sfn|Doe|1999}}</ref>"
  private val bundleText =
    s"""# page_id=100 ns=0 rev_id=1001 parent_rev_id= timestamp=2020-01-01T00:00:00Z
       | Intro. $refA
       |# page_id=100 ns=0 rev_id=1002 parent_rev_id=1001 timestamp=2020-02-01T00:00:00Z
       | Intro. $refA More $refSfn
       |# page_id=100 ns=0 rev_id=1003 parent_rev_id=1002 timestamp=2020-03-01T00:00:00Z
       | Intro. More $refSfn
       |# page_id=200 ns=0 rev_id=2001 parent_rev_id= timestamp=2020-01-15T00:00:00Z
       | Other page. $refA
       |""".stripMargin

  private lazy val serving = {
    val dir = Files.createTempDirectory("mwrev-resolve").toFile
    val out = new FileOutputStream(
      new java.io.File(dir, "fixture.mwrev.zst"))
    val z = new ZstdOutputStream(out)
    z.write(bundleText.getBytes(StandardCharsets.UTF_8))
    z.close()
    val revs = MwRevZst.read(spark, s"${dir.getAbsolutePath}/*.mwrev.zst")
    Resolve.serve(
      CitationPipeline.dedup(CitationPipeline.stagingFromRows(
        CitationPipeline.extractRows(revs, emitRefless = true))))
  }

  test("sequential ids are dense, 1-based, deterministic") {
    val ids = serving("citation_instances")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
    // Deterministic: ids follow (page_id, raw_sha1) order.
    val ordered = serving("citation_instances")
      .orderBy("page_id", "raw_sha1")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ordered == Seq(1L, 2L, 3L))
  }

  test("FK integrity: every FK resolves to an existing id") {
    def orphans(child: String, fk: String, parent: String): Long =
      serving(child).select(col(fk).as("k")).filter(col("k").isNotNull)
        .join(serving(parent).select(col("id").as("k")), Seq("k"),
          "left_anti").count()
    assert(orphans("citation_instances", "normalized_id",
      "normalized_citations") == 0)
    assert(orphans("normalized_citations", "appears_on_article",
      "documents") == 0)
    assert(orphans("web_resources", "domain_id", "domains") == 0)
    assert(orphans("ncwr", "normalized_id", "normalized_citations") == 0)
    assert(orphans("ncwr", "web_resource_id", "web_resources") == 0)
    assert(orphans("template_data", "wiki_template_id",
      "wiki_templates") == 0)
    assert(orphans("template_data", "normalized_id",
      "normalized_citations") == 0)
    assert(orphans("wiki_templates", "domain", "domains") == 0)
    assert(orphans("documents", "has_container", "containers") == 0)
  }

  test("citation_history resolves all 5 staging rows") {
    val ch = serving("citation_history")
    assert(ch.count() == 5)
    val perInstance = ch.groupBy("citation_instance_id").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(perInstance == Seq(1L, 2L, 2L)) // a@100 ×2, sfn@100 ×2, a@200 ×1
  }

  test("hash keys: url_hash/parameter_key_md5 are md5 hex") {
    val wr = serving("web_resources")
      .select("url", "url_hash").collect()
    wr.foreach { r =>
      assert(r.getString(1).matches("[0-9a-f]{32}"))
    }
    assert(serving("template_data")
      .filter(not(col("parameter_key_md5").rlike("^[0-9a-f]{32}$")))
      .count() == 0)
  }

  test("top_level_domain derivation") {
    val tld = serving("domains").select("value", "top_level_domain")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tld("en.wikipedia.org") == "org")
    assert(tld("example.com") == "com")
  }
}

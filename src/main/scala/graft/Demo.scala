package graft

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.github.luben.zstd.ZstdOutputStream

import graft.io.Parquet
import graft.pipeline.{CitationPipeline, Resolve}
import graft.queries.CitationQueries

/** Executable walkthrough: builds the FIXTURES.md bundle, runs the full
  * pipeline (source → extract → dedup → resolve), then exercises every
  * serving operation — a single entry point showing the system
  * end-to-end.
  *
  * Usage: runMain graft.Demo
  */
object Demo {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    // The FIXTURES.md §B bundle: 2 pages, 4 revisions, a shared ref, an
    // insertion, and a removal.
    val refA =
      "<ref name=a>{{Cite web |url=https://example.com/x |title=X}}</ref>"
    val refSfn = "<ref>{{Sfn|Doe|1999}}</ref>"
    val bundle =
      s"""# page_id=100 ns=0 rev_id=1001 parent_rev_id= timestamp=2020-01-01T00:00:00Z
         | Intro. $refA
         |# page_id=100 ns=0 rev_id=1002 parent_rev_id=1001 timestamp=2020-02-01T00:00:00Z
         | Intro. $refA More $refSfn
         |# page_id=100 ns=0 rev_id=1003 parent_rev_id=1002 timestamp=2020-03-01T00:00:00Z
         | Intro. More $refSfn
         |# page_id=200 ns=0 rev_id=2001 parent_rev_id= timestamp=2020-01-15T00:00:00Z
         | Other page. $refA
         |""".stripMargin
    val dir = Files.createTempDirectory("graft-demo").toFile
    val z = new ZstdOutputStream(new FileOutputStream(
      new java.io.File(dir, "demo.mwrev.zst")))
    z.write(bundle.getBytes(StandardCharsets.UTF_8))
    z.close()

    val out = Files.createTempDirectory("graft-demo-out").toFile
      .getAbsolutePath
    println(s"== build: bundle -> 11 deduped tables ($out)")
    CitationPipeline.build(
      spark, s"${dir.getAbsolutePath}/*.mwrev.zst", out)
    val t = CitationPipeline.dedupKeys.keys.map(n =>
      n -> Parquet.read(spark, s"$out/$n")).toMap
    t.toSeq.sortBy(_._1).foreach { case (n, df) =>
      println(f"   $n%-22s ${df.count()}%3d rows")
    }

    println("\n== resolve: serving star schema with surrogate ids")
    val serving = Resolve.serve(t)
    println(s"   citation_history rows: " +
      serving("citation_history").count())

    println("\n== citations at page 100, revision 1002")
    CitationQueries.citationsAtRevision(
      t("citation_instances"), t("normalized_citations"),
      t("citation_histories"), t("revisions"), 100, Some(1002L))
      .select("reference_name", "first_seen", "last_seen",
        "appearance_count", "currently_visible", "removed_at_revision_id")
      .show(truncate = false)

    println("== per-revision citation counts, page 100")
    CitationQueries.articleRevisions(
      t("revisions"), t("citation_histories"), 100).show()

    println("== all-pages current-citations report")
    CitationQueries.currentCitationsReport(
      t("citation_instances"), t("normalized_citations"),
      t("citation_histories"), t("revisions")).show(truncate = false)

    val sha = t("citation_instances")
      .filter(org.apache.spark.sql.functions.col("reference_name") === "a")
      .select("normalized_sha1").head().getString(0)
    println(s"== citation detail for shared ref $sha")
    CitationQueries.citationDetail(
      t("normalized_citations"), t("citation_instances"),
      t("citation_histories"), t("revisions"), t("ncwr"),
      t("template_data"), sha).show(truncate = false)

    println("== template report: Cite web url=https://example.com/x")
    CitationQueries.templateReport(
      t("template_data"), t("normalized_citations"),
      "Cite web", "url", Some("https://example.com/x"))
      .show(truncate = false)

    println("== web resource reverse lookup: https://example.com/x")
    CitationQueries.webResourceLookup(
      t("ncwr"), t("normalized_citations"), t("citation_instances"),
      "https://example.com/x").show(truncate = false)

    spark.stop()
  }
}

package graft

import java.io.{FileInputStream, PrintStream}
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import graft.Verify.jsonStr
import graft.sources.{MwRevZst, Revision}
import graft.wikitext.ReferenceExtractor

/** Dev CLI mirroring the reference's `refs_extractor.cli` contract
  * (tests/test_refs_extractor_cli.py:4-73): extract the references of
  * one article as of a timestamp.
  *
  *   refs-extractor [--full] [--domain D] --input BUNDLE PAGE_ID [AS_OF]
  *
  * Default output: raw references separated by blank lines (one
  * trailing newline; empty output for zero refs). `--full`: a single
  * JSON object `{title, as_of, page_id, revision_id,
  * revision_timestamp, references:[{raw_reference, …}]}` — the same
  * shape the reference prints.
  *
  * Differences by design: the reference resolves a TITLE through the
  * live MediaWiki API (wikiapi.py — the F12 HTTP concern SURVEY §2.8
  * excludes); this CLI reads a local `.mwrev.zst` bundle (file or
  * directory) and addresses the article by page id, which is the
  * engine's natural key. Pure JVM — no SparkSession, instant startup.
  */
object RefsExtractorCli {

  def main(args: Array[String]): Unit =
    sys.exit(run(args, Console.out))

  private val usage =
    "usage: refs-extractor [--full] [--domain D] --input BUNDLE " +
      "PAGE_ID [AS_OF]"

  /** Normalize ISO-8601 `2020-01-02T03:04:05Z` to the bundle timestamp
    * form `2020-01-02 03:04:05` (MwRevZst strips T/Z the same way). */
  private[graft] def normTs(ts: String): String =
    ts.replace("T", " ").stripSuffix("Z")

  private def nowTs(): String =
    java.time.Instant.now().atZone(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  private def bundleFiles(input: String): Seq[java.io.File] = {
    val f = new java.io.File(input)
    if (f.isDirectory)
      f.listFiles().toSeq
        .filter(x => x.isFile && x.getName.endsWith(".mwrev.zst"))
        .sortBy(_.getName)
    else Seq(f)
  }

  def run(args: Array[String], out: PrintStream): Int = {
    var full = false
    var domain = "en.wikipedia.org"
    var input: Option[String] = None
    val pos = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--full" => full = true
        case "--domain" => i += 1; domain = args(i)
        case "--input" => i += 1; input = Some(args(i))
        case a => pos += a
      }
      i += 1
    }
    if (pos.isEmpty || input.isEmpty) {
      System.err.println(usage); return 2
    }
    val pageId = pos.head.toInt
    // As-of defaults to "now", like the reference's
    // wikiapi.get_current_timestamp fallback (cli.py behavior).
    val asOf = pos.lift(1).map(normTs).getOrElse(nowTs())

    val candidates = bundleFiles(input.get).iterator.flatMap { f =>
      val in = new FileInputStream(f)
      try MwRevZst.parse(in)
        .filter(r => r.pageId == pageId &&
          r.revisionTimestamp.nonEmpty && r.revisionTimestamp <= asOf)
        .toVector
      finally in.close()
    }.toVector
    if (candidates.isEmpty) {
      System.err.println(
        s"no revision of page $pageId at or before $asOf")
      return 1
    }
    val rev: Revision =
      candidates.maxBy(r => (r.revisionTimestamp, r.revisionId))
    val refs = ReferenceExtractor
      .extract(rev.revisionText, includeOffsets = true, domain)
      .filter(_.rawReference.trim.nonEmpty)

    if (!full) {
      if (refs.nonEmpty)
        out.print(refs.map(_.rawReference).mkString("\n\n") + "\n")
    } else {
      val refsJson = refs.map { r =>
        "{" + Seq(
          s"${jsonStr("raw_reference")}: ${jsonStr(r.rawReference)}",
          s"${jsonStr("reference_name")}: " +
            r.referenceName.map(jsonStr).getOrElse("null"),
          s"${jsonStr("offset_start")}: ${r.offsetStart}",
          s"${jsonStr("length")}: ${r.length}",
          s"${jsonStr("reference_type")}: ${r.referenceType}")
          .mkString(", ") + "}"
      }.mkString("[", ", ", "]")
      out.println("{" + Seq(
        s"${jsonStr("title")}: ${jsonStr(pos.head)}",
        s"${jsonStr("as_of")}: ${jsonStr(asOf)}",
        s"${jsonStr("page_id")}: ${rev.pageId}",
        s"${jsonStr("revision_id")}: ${rev.revisionId}",
        s"${jsonStr("revision_timestamp")}: ${jsonStr(rev.revisionTimestamp)}",
        s"${jsonStr("references")}: $refsJson").mkString(", ") + "}")
    }
    0
  }
}

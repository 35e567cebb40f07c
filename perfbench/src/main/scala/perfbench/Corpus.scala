package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import com.github.luben.zstd.ZstdOutputStream

/** Shape of a generated revision corpus.
  *
  * @param pages           number of pages
  * @param minRevisions    fewest revisions a page has
  * @param maxRevisions    most revisions a page has
  * @param revisionAlpha   Pareto exponent of revisions per page; lower
  *                        gives a longer tail of long-lived pages
  * @param refsPerRevision references a revision carries on average
  * @param editRate        chance that an edit drops or rewrites a given
  *                        reference
  * @param sharedShare     share of new references drawn from a pool of
  *                        citations that many pages use
  * @param nameOnlyShare   share of named references that the text reuses
  *                        through a `<ref name=… />` tag
  * @param reflessShare    share of revisions that carry no reference
  * @param bundles         number of `.mwrev.zst` files
  */
final case class Shape(
    pages: Int,
    minRevisions: Int = 3,
    maxRevisions: Int = 300,
    revisionAlpha: Double = 1.3,
    refsPerRevision: Int = 6,
    editRate: Double = 0.06,
    sharedShare: Double = 0.15,
    nameOnlyShare: Double = 0.3,
    reflessShare: Double = 0.05,
    bundles: Int = 8)

/** What the generator knows about its corpus without running the
  * engine: every revision, the distinct raw references per revision
  * (history rows) and per page (citation instances). */
final case class Truth(
    revisions: Long,
    revisionsWithRefs: Long,
    instances: Long,
    historyRows: Long,
    references: Long,
    inputBytes: Long,
    pageIds: IndexedSeq[Int],
    pageRevisions: IndexedSeq[Int])

/** Seeded `.mwrev.zst` corpus generator.
  *
  * Pages live long: each revision keeps most references of the one
  * before it, so `citation_histories` is many times larger than
  * `citation_instances` and dedup is a real shuffle. Edits drop,
  * rewrite (a new access date or title makes a new raw reference) and
  * add references, with the count held near `refsPerRevision` so that
  * every seed makes about the same amount of work; some new references
  * come from a shared pool so that one normalized citation appears on
  * many pages. Some revisions carry
  * no reference at all, as vandalism and its revert do.
  *
  * The wikitext uses only constructs whose extraction is unambiguous:
  * `<ref>` elements inside prose lines, no list items, no bare URLs or
  * templates outside a reference. Each reference element in a revision
  * is therefore exactly one extracted reference, which is what lets the
  * generator count instances and history rows on its own. */
object Corpus {

  private val words = Array("river", "city", "history", "early", "council",
    "museum", "railway", "village", "school", "church", "season", "album",
    "species", "league", "bridge", "island", "castle", "novel", "station",
    "festival", "census", "valley", "harbour", "journal", "empire")
  private val hosts = Array("www.example.com", "news.example.org",
    "archive.example.net", "data.example.gov", "books.example.com",
    "www.gazette.example", "sports.example.co.uk", "science.example.edu")
  private val templates = Array("cite web", "Cite web", "cite news",
    "cite book", "Cite journal")

  private val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")

  /** Independent stream per (seed, key): java.util.Random's first draws
    * are nearly equal for nearby seeds, so seeds are scrambled first. */
  def rng(seed: Long, key: Long): java.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new java.util.Random(z ^ (z >>> 31))
  }

  private def pick[T](rng: java.util.Random, xs: Array[T]): T = xs(rng.nextInt(xs.length))

  private def phrase(rng: java.util.Random, n: Int): String =
    Iterator.fill(n)(pick(rng, words)).mkString(" ")

  private def date(rng: java.util.Random): String =
    f"${2000 + rng.nextInt(24)}-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"

  /** Body of one citation (the text inside `<ref>`). */
  private def citation(rng: java.util.Random, id: Long): String = {
    val host = hosts(math.min(hosts.length - 1, (rng.nextDouble() * rng.nextDouble() * hosts.length).toInt))
    val url = s"https://$host/${pick(rng, words)}/$id"
    rng.nextInt(10) match {
      case 0 | 1 | 2 | 3 =>
        s"{{${pick(rng, templates.take(2))} |url=$url |title=${phrase(rng, 3)} |website=$host |access-date=${date(rng)}}}"
      case 4 | 5 =>
        s"{{cite news |url=$url |title=${phrase(rng, 4)} |work=The ${pick(rng, words)} |date=${date(rng)}}}"
      case 6 =>
        s"{{cite book |last=${pick(rng, words).capitalize} |title=${phrase(rng, 3)} |year=${1950 + rng.nextInt(70)} |isbn=978-${100000 + id % 900000}}}"
      case 7 =>
        s"{{Cite journal |title=${phrase(rng, 5)} |journal=${pick(rng, words).capitalize} Review |volume=${1 + rng.nextInt(60)} |doi=10.1000/$id}}"
      case 8 => s"[$url ${phrase(rng, 3)}]"
      case _ => s"${pick(rng, words).capitalize}, ${phrase(rng, 2)}, ${1900 + rng.nextInt(120)}, p. ${1 + rng.nextInt(400)}."
    }
  }

  /** A reference on a page: `body` may be rewritten by an edit, `name`
    * stays. */
  private final case class Ref(name: Option[String], body: String, reuse: Boolean) {
    def raw: String = name match {
      case Some(n) => s"""<ref name="$n">$body</ref>"""
      case None => s"<ref>$body</ref>"
    }
    def nameOnly: Option[String] = if (reuse) name.map(n => s"""<ref name="$n" />""") else None
  }

  def write(dir: File, seed: Long, shape: Shape): Truth = {
    dir.mkdirs()
    val shared = {
      val rng = Corpus.rng(seed, -1L)
      Array.tabulate(math.max(16, shape.pages / 4))(i => citation(rng, 9000000L + i))
    }
    val outs = Array.tabulate(shape.bundles) { b =>
      new ZstdOutputStream(new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"bundle-$b%03d.mwrev.zst")), 1 << 16))
    }
    var revisions, withRefs, instances, history, references, bytes = 0L
    val pageRevs = new Array[Int](shape.pages)
    var nextRev = 1L
    // Revisions per page at stratified Pareto quantiles, dealt to pages in
    // seeded order: every seed has the same size distribution and total,
    // so seeds vary the content, not the amount of work.
    val revCounts = scala.util.Random.javaRandomToRandom(rng(seed, -4L)).shuffle(
      (0 until shape.pages).map { i =>
        val u = (i + 0.5) / shape.pages
        math.min(shape.maxRevisions, (shape.minRevisions / math.pow(u, 1.0 / shape.revisionAlpha)).toInt)
      })
    try (0 until shape.pages).foreach { p =>
      val rng = Corpus.rng(seed, p)
      val pageId = p + 1
      val nRevs = revCounts(p)
      pageRevs(p) = nRevs
      var serial = 0
      def fresh(): Ref = {
        serial += 1
        val body =
          if (rng.nextDouble() < shape.sharedShare)
            shared(math.min(shared.length - 1, (shared.length * math.pow(rng.nextDouble(), 3)).toInt))
          else citation(rng, pageId * 1000L + serial)
        val named = rng.nextBoolean()
        Ref(if (named) Some(s"p${pageId}r$serial") else None, body,
          named && rng.nextDouble() < shape.nameOnlyShare)
      }
      val k = shape.refsPerRevision
      var refs = Vector.fill(k - k / 4 + rng.nextInt(k / 2 + 1))(fresh())
      val seen = mutable.HashSet.empty[String]
      val out = outs(p % shape.bundles)
      var parent = ""
      val start = java.time.LocalDateTime.of(2005, 1, 1, 0, 0).plusDays(p % 365)
      (0 until nRevs).foreach { r =>
        if (r > 0) {
          // Each reference is dropped or rewritten at the edit rate, and
          // each of k slots adds one at half of it: the count reverts to k.
          refs = refs.flatMap { ref =>
            if (rng.nextDouble() >= shape.editRate) Some(ref)
            else if (rng.nextBoolean()) None
            else Some(ref.copy(body = citation(rng, pageId * 1000L + 500 + r)))
          } ++ (0 until k).filter(_ => rng.nextDouble() < shape.editRate / 2).map(_ => fresh())
        }
        val blank = rng.nextDouble() < shape.reflessShare
        val shown = if (blank) Vector.empty else refs
        val sb = new StringBuilder
        sb.append(s"'''Page $pageId''' is a ${phrase(rng, 2)} in the ${phrase(rng, 2)}.")
        shown.foreach { ref =>
          sb.append(' ').append(phrase(rng, 6 + rng.nextInt(8)).capitalize).append(". ").append(ref.raw)
        }
        sb.append("\n\nThe ").append(phrase(rng, 12 + rng.nextInt(20))).append('.')
        shown.flatMap(_.nameOnly).foreach { t =>
          sb.append(" Also ").append(phrase(rng, 4)).append(". ").append(t)
        }
        val raws = shown.map(_.raw) ++ shown.flatMap(_.nameOnly)
        val distinct = raws.distinct
        references += raws.size
        history += distinct.size
        distinct.foreach(seen += _)
        if (distinct.nonEmpty) withRefs += 1
        revisions += 1

        val revId = nextRev
        nextRev += 1
        val ts = start.plusHours(r * 29L + rng.nextInt(29)).format(stamp)
        val text = sb.toString
        val header = s"# page_id=$pageId ns=0 rev_id=$revId parent_rev_id=$parent timestamp=$ts\n"
        val body = text.split("\n", -1).map(l => " " + l).mkString("", "\n", "\n")
        val rec = (header + body).getBytes(StandardCharsets.UTF_8)
        bytes += rec.length
        out.write(rec)
        parent = revId.toString
      }
      instances += seen.size
    } finally outs.foreach(_.close())
    Truth(revisions, withRefs, instances, history, references, bytes,
      (1 to shape.pages).toIndexedSeq, pageRevs.toIndexedSeq)
  }
}

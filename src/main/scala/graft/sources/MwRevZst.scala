package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.github.luben.zstd.ZstdInputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** One MediaWiki revision from a `.mwrev.zst` bundle
  * (line protocol per build_db.py:222-276). `revisionTimestamp` is the
  * normalized string form — ISO-8601 with `T`/`Z` stripped
  * (build_db.py:258) — which orders lexicographically as time.
  */
final case class Revision(
    pageId: Int,
    namespaceId: Option[Int],
    revisionId: Long,
    parentRevisionId: Option[Long],
    revisionTimestamp: String,
    revisionText: String)

/** S1: streaming scan of `.mwrev.zst` revision bundles.
  *
  * Protocol (build_db.py:222-276): `#`-prefixed lines carry `k=v`
  * metadata (`page_id`, `ns`, `rev_id`, `parent_rev_id` possibly empty,
  * `timestamp`); lines starting with a single space are revision text
  * (the space is stripped); all other lines are ignored.
  *
  * [[read]] is the one bundle reader: a batch build reads a path
  * through it, and the streaming ingest
  * (`CitationPipeline.ingest`) reads each micro-batch's new files
  * through it, so both decode through [[parse]] in the same task layout.
  *
  * Spark shape: one zstd stream is not splittable, so a bundle is never
  * split across tasks (matching the reference's process-per-file
  * parallelism, build_all.py:125-129). `binaryFiles` packs small
  * bundles into one task, up to the split size, and gives each large
  * bundle a task of its own; each task gets a lazy
  * `PortableDataStream`; decode is a streaming iterator — constant
  * memory regardless of bundle size, which is what lets this run over
  * thousands of multi-GB bundles on a cluster.
  *
  * On small corpora the packing leaves one task for every bundle. On a
  * 4-core VM (`local[4]`) the extract stage ran as ONE task in each
  * traced benchmark run: the 8-bundle serve corpus (80 pages, 770
  * revisions), the 8-bundle ingest corpus at 1x (12.4 MB, 8,019
  * revisions) and at 2x (24.4 MB, 16,040 revisions), and a streaming
  * micro-batch of 2 new bundles. Two A/Bs against one task per bundle
  * disagree: one task per bundle made a cold 8-bundle build slower, in
  * both the extract and the publish of its staged files, but on the 2x
  * ingest corpus it was faster in 4 of 5 alternating pairs (ingest wall
  * medians 18.72 s against 20.85 s).
  */
object MwRevZst {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bundles truncated by a mid-stream I/O error since JVM start (per
    * executor). Corruption salvage is intentional (see [[parse]]),
    * but it must be OBSERVABLE — a silent catch turns partial data loss
    * into a "successful" scan. Tests and ops dashboards read this. */
  val truncatedBundles = new java.util.concurrent.atomic.AtomicLong(0)

  /** The revisions of every bundle matching `path` (a glob, or a
    * directory of `.mwrev.zst` files). A path that names no bundle is
    * an error, not an empty corpus: a mistyped, unmounted or not yet
    * filled bundle path must not publish empty tables. */
  def read(spark: SparkSession, path: String): Dataset[Revision] = {
    val files = bundleFiles(path, spark.sessionState.newHadoopConf())
    require(files.nonEmpty, s"no .mwrev.zst bundle matches $path")
    read(spark, files)
  }

  /** The revisions of the bundle `files`, which must not be empty.
    * `binaryFiles` splits its path argument on commas, so a bundle whose
    * name contains a comma fails the read. */
  def read(spark: SparkSession, files: Seq[String]): Dataset[Revision] = {
    import spark.implicits._
    spark.sparkContext
      .binaryFiles(files.mkString(","))
      .flatMap { case (file, pds) => parse(pds.open(), file) }
      .toDS()
  }

  /** The bundle files `path` names, sorted: the files a glob matches,
    * with each matched directory replaced by its `.mwrev.zst` files.
    * Empty when nothing matches. */
  def bundleFiles(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val statuses = Option(fs.globStatus(p))
      .map(_.toSeq).getOrElse(Seq.empty)
    statuses.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".mwrev.zst"))
      else Seq(st)
    }.map(_.getPath.toString).sorted
  }

  /** Streaming parse of one zstd-compressed bundle. `source` labels
    * the bundle in truncation warnings. */
  def parse(in: InputStream, source: String = "<stream>"): Iterator[Revision] = {
    val reader = new BufferedReader(new InputStreamReader(
      new ZstdInputStream(in), StandardCharsets.UTF_8))
    new Iterator[Revision] {
      private var pending: Option[Revision] = None
      private var current: Option[(Map[String, String])] = None
      private val textLines = scala.collection.mutable.ArrayBuffer.empty[String]
      private var done = false
      private var salvaged = 0L

      private def flush(): Option[Revision] =
        current.map { meta =>
          val rev = toRevision(meta, textLines.mkString("\n"))
          current = None
          textLines.clear()
          rev
        }

      private def advance(): Unit = {
        while (pending.isEmpty && !done) {
          // A truncated or corrupt zstd frame surfaces as an IOException
          // mid-stream. On a cluster run over thousands of bundles, one
          // bad file must not kill the job (the reference's per-file
          // worker isolation has the same net effect): treat corruption
          // as EOF and salvage every fully-read revision before it.
          val line =
            try reader.readLine()
            catch {
              case e: java.io.IOException =>
                // salvage, but loudly: the error may be a transient disk /
                // network fault on a healthy file, not frame corruption
                truncatedBundles.incrementAndGet()
                log.warn(s"mwrev bundle '$source' truncated by I/O error " +
                  s"after $salvaged revisions; salvaging prefix", e)
                null
            }
          if (line == null) {
            done = true
            pending = flush()
            try reader.close()
            catch { case _: java.io.IOException => () }
          } else if (line.startsWith("#")) {
            val flushed = flush()
            current = Some(parseMeta(line.substring(1).trim))
            pending = flushed
          } else if (line.startsWith(" ")) {
            textLines += line.substring(1)
          } // else: ignored line
        }
      }

      override def hasNext: Boolean = { advance(); pending.isDefined }
      override def next(): Revision = {
        advance()
        val r = pending.get
        pending = None
        salvaged += 1
        r
      }
    }
  }

  private def parseMeta(metaLine: String): Map[String, String] =
    metaLine.split("\\s+").iterator
      .filter(_.contains("="))
      .map { p =>
        val Array(k, v) = p.split("=", 2)
        k.trim -> v.trim
      }.toMap

  // Numeric fields parse via toIntOption/toLongOption: a malformed
  // metadata value degrades that one field to its default instead of
  // throwing from deep inside a 1000-executor scan (PERMISSIVE-mode
  // posture, same as the reference's tolerant readers).
  private def toRevision(meta: Map[String, String], text: String): Revision =
    Revision(
      pageId = meta.get("page_id").flatMap(_.toIntOption).getOrElse(0),
      namespaceId = meta.get("ns").flatMap(_.toIntOption),
      revisionId = meta.get("rev_id").flatMap(_.toLongOption).getOrElse(0L),
      parentRevisionId = meta.get("parent_rev_id").flatMap(_.toLongOption),
      revisionTimestamp = meta.getOrElse("timestamp", "")
        .replace("T", " ").replace("Z", ""),
      revisionText = text)
}

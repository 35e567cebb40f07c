package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{CitationPipeline, ExtractedRow, Resolve}
import graft.sources.MwRevZst
import graft.wikitext.{ReferenceExtractor, WikitextNormalizer}

/** `ingest`: bundles → extract/stage → dedup → bucketed publish
  * (`CitationPipeline.build`) → surrogate-id tables (`Resolve.serve`,
  * written as parquet), the reference's build, dedup and load phases.
  * One operation is one full ingest of the seeded corpus. */
object Ingest {

  /** Corpus size per unit of `--corpus-scale`: about 8k revisions. */
  def shape(ctx: Ctx): Shape = {
    val scale = ctx.opts.getOrElse("corpus-scale", "1").toDouble
    Shape(pages = (800 * scale).toInt, bundles = 2 * ctx.cores)
  }

  def glob(dir: File) = s"${dir.getAbsolutePath}/*.mwrev.zst"

  /** The published tables read back through the serving catalog, resolved
    * to surrogate ids and written as parquet. */
  def resolve(ctx: Ctx, out: File): Unit = ctx.span("pipeline.resolve", "pipeline") {
    val published = CitationPipeline.dedupKeys.keys.map(n =>
      n -> CitationPipeline.servingTable(ctx.spark, out.getAbsolutePath, n)).toMap
    Resolve.serve(published).foreach { case (n, df) =>
      df.write.mode("overwrite").option("compression", "zstd")
        .parquet(new File(out, s"resolved/$n").getAbsolutePath)
    }
  }

  /** Bundles → published tables: the calls `CitationPipeline.build`
    * makes, in its order, one table's publish at a time, so that the
    * extract/stage pass and each table's publish are spans of their own
    * (`span` is a plain call when untraced). Only spans that run Spark
    * jobs are kept; building the lazy plans in between takes no time. */
  def publish(ctx: Ctx, bundles: File, out: File): Unit = ctx.span("pipeline.build", "pipeline") {
    val spark = ctx.spark
    import spark.implicits._
    val outPath = out.getAbsolutePath
    ctx.span("pipeline.extract_stage", "pipeline") {
      CitationPipeline.extractRows(MwRevZst.read(spark, glob(bundles)), emitRefless = true)
        .write.mode("overwrite").option("compression", "zstd").parquet(s"$outPath/_staged_refs")
    }
    val staged = spark.read.parquet(s"$outPath/_staged_refs").as[ExtractedRow]
    val deduped = CitationPipeline.dedup(CitationPipeline.stagingFromRows(staged))
    ctx.span("pipeline.publish", "pipeline") {
      deduped.foreach { case (name, df) =>
        ctx.span(s"pipeline.$name.publish", "pipeline")(
          CitationPipeline.writeTables(Map(name -> df), outPath))
      }
    }
  }

  /** One ingest: publish, then resolve. */
  def ingest(ctx: Ctx, bundles: File, out: File, trace: Long): Unit =
    ctx.span("ingest", "bench", trace) {
      publish(ctx, bundles, out)
      resolve(ctx, out)
    }

  /** Published tables against the generator's own counts: revisions
    * with references, `(page_id, raw_sha1)` instances and history rows. */
  def checkPublished(spark: SparkSession, out: File, truth: Truth): Seq[String] = {
    def rows(n: String) = CitationPipeline.servingTable(spark, out.getAbsolutePath, n).count()
    Seq(("revisions", truth.revisionsWithRefs), ("citation_instances", truth.instances),
      ("citation_histories", truth.historyRows)).flatMap { case (n, want) =>
      val got = rows(n)
      if (got == want) None else Some(s"$n: $got rows, expected $want")
    }
  }

  /** Resolved tables: dense surrogate ids, and every history row
    * resolved to an instance. */
  def checkResolved(spark: SparkSession, out: File): Seq[String] = {
    def res(n: String) = spark.read.parquet(new File(out, s"resolved/$n").getAbsolutePath)
    val histories = CitationPipeline.servingTable(spark, out.getAbsolutePath, "citation_histories").count()
    val resolved = res("citation_history").count()
    val unresolved =
      if (resolved == histories) Nil
      else Seq(s"citation_history: $resolved of $histories history rows resolved")
    unresolved ++ Seq("containers", "domains", "documents", "web_resources",
      "normalized_citations", "citation_instances", "wiki_templates").flatMap { n =>
      val r = res(n).agg(count(lit(1)), countDistinct("id"), min("id"), max("id")).head()
      val (rows, ids, lo, hi) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (ids == rows && lo == 1L && hi == rows) None
      else Some(s"$n ids not dense: $rows rows, $ids ids in [$lo, $hi]")
    }
  }

  def check(spark: SparkSession, out: File, truth: Truth): Seq[String] =
    checkPublished(spark, out, truth) ++ checkResolved(spark, out)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sh = shape(ctx)
    val corpus = new File(ctx.work, "corpus")
    val out = new File(ctx.work, "out")

    // Set-up: corpus generation, three times for a steady median. Then
    // a warm-up ingest of a small corpus, timed on its own, so that JIT
    // and codegen are done before the window opens.
    val gens = (1 to 3).map { _ =>
      Main.deleteTree(corpus)
      Main.timed(Corpus.write(corpus, ctx.seed, sh))
    }
    val truth = gens.last._1
    val warmDir = new File(ctx.work, "warm")
    val (warmErrors, warmS) = Main.timed {
      val t = Corpus.write(new File(warmDir, "corpus"), ctx.seed + 1, sh.copy(pages = sh.pages / 8))
      ingest(ctx, new File(warmDir, "corpus"), new File(warmDir, "out"), ctx.tracer.newTrace())
      check(spark, new File(warmDir, "out"), t)
    }

    val walls = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    val truncated0 = MwRevZst.truncatedBundles.get()
    val windowStart = System.currentTimeMillis()
    var windowEnd = windowStart
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (walls.isEmpty || System.nanoTime() < deadline) {
      val trace = ctx.tracer.newTrace()
      val ok =
        try {
          val (_, s) = Main.timed(ingest(ctx, corpus, out, trace))
          walls += s
          windowEnd = System.currentTimeMillis()
          val errs = check(spark, out, truth)
          errors ++= errs
          errs.isEmpty
        } catch { case e: Exception => errors += s"ingest failed: $e"; false }
      if (!ok) failed += 1
    }
    val attempted = walls.size.toLong.max(failed)

    val published = CitationPipeline.dedupKeys.keys.toSeq.map(n => Main.dirBytes(new File(out, n)))
    val files = published.map(_._2).sum
    val storedBytes = published.map(_._1).sum + Main.dirBytes(new File(out, "resolved"))._1
    val wall = Main.median(walls.toSeq)
    val named = Seq(
      ("ingest_revisions_per_s", truth.revisions / wall, "1/s"),
      ("ingest_stored_bytes_per_input_byte", storedBytes.toDouble / truth.inputBytes, "ratio"),
      ("ingest_wall_s", wall, "s"))
    val layer = if (!ctx.trace) Map.empty[String, Double] else
      layerProbes(ctx, corpus, out, truth) ++ pipelineSpans(ctx, windowStart) ++ Map(
        "sources.truncated_bundles" -> (MwRevZst.truncatedBundles.get() - truncated0).toDouble,
        "pipeline.output_files" -> files.toDouble,
        "pipeline.stored_bytes_per_input_byte" -> storedBytes.toDouble / truth.inputBytes)
    Outcome(Main.median(gens.map(_._2)), warmS, walls.map(s => ("ingest", s * 1000)).toSeq,
      truth.revisions / wall, attempted, failed,
      errors.toSeq, named, layer,
      Map("corpus" -> Map("pages" -> sh.pages, "bundles" -> sh.bundles,
        "revisions" -> truth.revisions, "revisions_with_refs" -> truth.revisionsWithRefs,
        "references" -> truth.references, "instances" -> truth.instances,
        "history_rows" -> truth.historyRows, "input_bytes" -> truth.inputBytes,
        "max_revisions_per_page" -> truth.pageRevisions.max),
        "ingest_walls_s" -> walls.toSeq, "setup_corpus_s" -> gens.map(_._2), "warmup_errors" -> warmErrors),
      windowStart, windowEnd)
  }

  /** Median seconds of each pipeline span that started after `fromMs`. */
  def pipelineSpans(ctx: Ctx, fromMs: Long): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = ctx.tracer.spans.asScala.toSeq.filter(_.startNs >= fromMs * 1000000L)
    def med(name: String) = Main.median(spans.filter(_.name == name).map(_.durNs / 1e9))
    val perTable = CitationPipeline.dedupKeys.keys.map(n =>
      s"pipeline.$n.publish_s" -> med(s"pipeline.$n.publish"))
    (perTable ++ Seq(
      "pipeline.extract_stage_s" -> med("pipeline.extract_stage"),
      "pipeline.publish_s" -> med("pipeline.publish"),
      "pipeline.resolve_s" -> med("pipeline.resolve"))).toMap
  }

  /** Layer measurements made outside the measured window: a decode-only
    * scan of the bundles, a single-thread extraction loop over a fixed
    * revision sample, and dedup keep ratios. */
  def layerProbes(ctx: Ctx, corpus: File, out: File, truth: Truth): Map[String, Double] = {
    val spark = ctx.spark
    val reads = (1 to 3).map { _ =>
      Main.timed(ctx.span("sources.read", "sources") {
        MwRevZst.read(spark, glob(corpus)).write.format("noop").mode("overwrite").save()
      })._2
    }
    val readS = Main.median(reads)

    val sample = {
      val f = corpus.listFiles().filter(_.getName.endsWith(".mwrev.zst")).minBy(_.getName)
      val in = new java.io.FileInputStream(f)
      try MwRevZst.parse(in).take(400).toVector finally in.close()
    }
    var refs = 0L
    def extractAll(): Unit = sample.foreach { rev =>
      val found = ReferenceExtractor.extract(rev.revisionText, includeOffsets = true)
        .filter(_.rawReference.trim.nonEmpty)
      found.foreach { r =>
        WikitextNormalizer.normalize(r.rawReference)
        r.templates.foreach(t => WikitextNormalizer.normalizeTemplateName(t.templateName))
      }
      refs += found.size
    }
    extractAll() // JIT warm-up
    refs = 0L
    val loops = (1 to 5).map(_ => Main.timed(ctx.span("wikitext.extract", "wikitext")(extractAll()))._2)
    val usPerRev = Main.median(loops) * 1e6 / sample.size

    import spark.implicits._
    val staged = spark.read.parquet(new File(out, "_staged_refs").getAbsolutePath).as[ExtractedRow]
    val raw = CitationPipeline.stagingFromRows(staged)
    def keep(n: String) =
      CitationPipeline.servingTable(spark, out.getAbsolutePath, n).count().toDouble / raw(n).count()
    Map(
      "sources.read_s" -> readS,
      "sources.decode_mb_per_s" -> truth.inputBytes / 1e6 / readS,
      "wikitext.extract_us_per_revision" -> usPerRev,
      "wikitext.refs_per_revision" -> refs.toDouble / 5 / sample.size,
      "pipeline.history_keep_ratio" -> keep("citation_histories"),
      "pipeline.instance_keep_ratio" -> keep("citation_instances"))
  }
}

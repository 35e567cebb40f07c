package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.CitationPipeline
import graft.queries.CitationQueries

/** `serve`: a closed loop of 2 clients sharing one session, each
  * waiting for its reply before sending the next request, over every
  * point-lookup op of `CitationQueries`, each request on a page drawn
  * Zipf-skewed by history length. Requests read the page_id-bucketed
  * tables that set-up publishes from the seeded corpus.
  * Responses are checked against the same calls over the published
  * files read without the catalog (no bucketing, no pruning), so the
  * serving layout may change plans but never answers. */
object Serve {

  val ops: Seq[String] = Seq("article_lookup", "article_by_url", "article_revisions",
    "citations_at_revision", "citation_detail", "citation_history",
    "citation_history_by_normalized", "other_articles", "template_report",
    "template_params_map", "web_resource_lookup")

  val clients = 2

  final case class Request(op: String, pageId: Int, revisionId: Option[Long],
      rawSha1: String, normalizedSha1: String, url: String,
      template: (String, String, String), onePage: Boolean)

  def shape(ctx: Ctx): Shape = Shape(pages = 80, bundles = 2 * ctx.cores)

  /** The API call a request makes, over tables from `t`. */
  def call(r: Request, t: String => DataFrame): DataFrame = {
    import CitationQueries._
    r.op match {
      case "article_lookup" => articleLookup(t("documents"), t("web_resources"), r.pageId)
      case "article_by_url" => articleByUrl(t("web_resources"), t("documents"),
        s"https://en.wikipedia.org/w/index.php?curid=${r.pageId}")
      case "article_revisions" => articleRevisions(t("revisions"), t("citation_histories"), r.pageId)
      case "citations_at_revision" => citationsAtRevision(t("citation_instances"),
        t("normalized_citations"), t("citation_histories"), t("revisions"), r.pageId, r.revisionId)
      case "citation_detail" => citationDetail(t("normalized_citations"), t("citation_instances"),
        t("citation_histories"), t("revisions"), t("ncwr"), t("template_data"), r.normalizedSha1)
      case "citation_history" => citationHistory(t("citation_histories"), t("revisions"),
        r.pageId, r.rawSha1)
      case "citation_history_by_normalized" => citationHistoryByNormalized(t("citation_instances"),
        t("citation_histories"), t("revisions"), r.normalizedSha1,
        if (r.onePage) Some(r.pageId) else None)
      case "other_articles" => otherArticles(t("normalized_citations"), t("citation_instances"),
        r.normalizedSha1, Some(r.pageId))
      case "template_report" => templateReport(t("template_data"), t("normalized_citations"),
        r.template._1, r.template._2, Some(r.template._3))
      case "template_params_map" => templateParamsMap(t("template_data"), r.normalizedSha1)
      case "web_resource_lookup" => webResourceLookup(t("ncwr"), t("normalized_citations"),
        t("citation_instances"), r.url)
    }
  }

  /** What requests draw their arguments from: every page with something
    * to look up by every op, most revisions first, and per page its
    * citations, revisions, URLs and template parameters. */
  final class Pages(val ranked: IndexedSeq[Int],
      ci: Map[Int, IndexedSeq[(String, String)]], revs: Map[Int, IndexedSeq[Long]],
      urls: Map[Int, IndexedSeq[String]], params: Map[Int, IndexedSeq[(String, String, String)]]) {

    // Zipf(1.1) over popularity rank: rank r (0 = the page with the most
    // revisions) is drawn with weight 1/(r+1)^1.1.
    private val cdf = {
      val w = ranked.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }

    /** A request for `op` on the page at Zipf quantile `u`, with hash,
      * URL and template arguments drawn from that page's own citations. */
    def request(op: String, u: Double, rng: java.util.Random): Request = {
      def any[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
      val page = ranked(math.min(ranked.size - 1, cdf.indexWhere(_ >= u)))
      val (raw, norm) = any(ci(page))
      val onePage = rng.nextBoolean()
      Request(op, page, if (onePage) Some(any(revs(page))) else None,
        raw, norm, any(urls(page)), any(params(page)), onePage)
    }
  }

  def pages(t: String => DataFrame, truth: Truth): Pages = {
    val ci = t("citation_instances").select("page_id", "raw_sha1", "normalized_sha1").collect()
      .groupBy(_.getInt(0)).map { case (p, rs) =>
        p -> rs.map(r => (r.getString(1), r.getString(2))).sortBy(_._1).toIndexedSeq }
    val revs = t("revisions").select("page_id", "revision_id").collect()
      .groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).sorted.toIndexedSeq }
    val pageSha = t("citation_instances").select("page_id", "normalized_sha1").distinct()
    val urls = t("ncwr").join(pageSha, "normalized_sha1").select("page_id", "url").distinct()
      .collect().groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getString(1)).sorted.toIndexedSeq }
    val params = t("template_data").filter(col("parameter_value").isNotNull)
      .join(pageSha, "normalized_sha1")
      .select("page_id", "template_name", "parameter_key", "parameter_value").distinct()
      .collect().groupBy(_.getInt(0)).map { case (p, rs) =>
        p -> rs.map(r => (r.getString(1), r.getString(2), r.getString(3))).sorted.toIndexedSeq }
    val ranked = truth.pageIds.zip(truth.pageRevisions).sortBy { case (p, n) => (-n, p) }.map(_._1)
      .filter(p => ci.contains(p) && revs.contains(p) && urls.contains(p) && params.contains(p))
    new Pages(ranked, ci, revs, urls, params)
  }

  /** Base-2 radical inverse of k: 0, 1/2, 1/4, 3/4, 1/8, ... Successive
    * values fill [0, 1) evenly. */
  private def radicalInverse(k: Int): Double = {
    var (n, f, r) = (k, 0.5, 0.0)
    while (n > 0) { if ((n & 1) == 1) r += f; n >>= 1; f /= 2 }
    r
  }

  /** The request sequence of a seed: whole passes over the ops, each
    * pass in a shuffled order. Each op's page is drawn at a Zipf quantile
    * that starts at a seeded random offset and moves by the radical
    * inverse of the pass number, so that even two or three passes draw
    * long- and short-history pages in their Zipf proportions and runs
    * differ less by the luck of the draw. */
  def requests(pgs: Pages, seed: Long, key: Long): Iterator[Request] = {
    val rng = Corpus.rng(seed, key)
    val shuffle = scala.util.Random.javaRandomToRandom(Corpus.rng(seed, key + 1))
    val offset = ops.map(_ => rng.nextDouble())
    Iterator.from(0).flatMap { pass =>
      shuffle.shuffle(ops.indices.toVector).map { i =>
        pgs.request(ops(i), (offset(i) + radicalInverse(pass)) % 1.0, rng)
      }
    }
  }

  /** `f` over `xs` on `threads` threads. */
  private def par[A, B](threads: Int, xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }

  final case class Done(r: Request, ms: Double, ex: Option[Executed], err: Option[String],
      span: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = new File(ctx.work, "corpus")
    val out = new File(ctx.work, "out")
    val outPath = out.getAbsolutePath
    val truncated0 = graft.sources.MwRevZst.truncatedBundles.get()

    // Set-up: generate the corpus three times for a steady median, then
    // publish it once (the bucketed build), check the published tables
    // against the generator's counts and collect the pages' arguments.
    val gens = (1 to 3).map { _ =>
      Main.deleteTree(corpus)
      Main.timed(Corpus.write(corpus, ctx.seed, shape(ctx)))
    }
    val truth = gens.last._1
    val (_, publishS) = Main.timed(Ingest.publish(ctx, corpus, out))
    val served = CitationPipeline.dedupKeys.keys.map(n =>
      n -> CitationPipeline.servingTable(spark, outPath, n)).toMap
    // The same files read without the catalog: no bucketing, no pruning.
    val direct = CitationPipeline.dedupKeys.keys.map(n =>
      n -> spark.read.parquet(s"$outPath/$n")).toMap
    val ((publishErrors, pgs), checkS) = Main.timed(
      (Ingest.checkPublished(spark, out, truth), pages(direct, truth)))
    val setupS = Main.median(gens.map(_._2)) + publishS + checkS

    def expect(rs: Seq[Request]): Map[Request, Digest] = {
      val distinct = rs.distinct
      distinct.zip(par(ctx.cores, distinct)(r => Executed(call(r, direct), inspect = false).digest)).toMap
    }

    // Warm-up: one request per op on the served tables, in parallel.
    // Without it the first served run of each op (new plans and
    // generated code) lands in the window.
    val warm = requests(pgs, ctx.seed, -20L).take(ops.size).toVector
    val (_, warmS) = Main.timed(par(ctx.cores, warm)(r => Executed(call(r, served), inspect = false)))

    val done = new ConcurrentLinkedQueue[Done]()
    val windowStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    // Both clients take the next request from the seed's sequence. Past
    // the deadline the current pass is finished, so every run serves
    // each op the same number of times.
    val sequence = requests(pgs, ctx.seed, -10L)
    var handed = 0
    def nextRequest(): Option[Request] = sequence.synchronized {
      if (System.nanoTime() >= deadline && handed % ops.size == 0) None
      else { handed += 1; Some(sequence.next()) }
    }
    val loops = (0 until clients).map { c =>
      val th = new Thread(() => {
        var next = nextRequest()
        while (next.isDefined) {
          val r = next.get
          val trace = ctx.tracer.newTrace()
          val s0 = System.nanoTime()
          val res =
            try Right(ctx.span("serve.request", "bench", trace) {
              ctx.span(s"queries.${r.op}", "queries")(Executed(call(r, served), inspect = ctx.trace))
            })
            catch { case e: Exception => Left(e.toString) }
          done.add(Done(r, (System.nanoTime() - s0) / 1e6, res.toOption, res.left.toOption, trace))
          next = nextRequest()
        }
      }, s"perfbench-client-$c")
      th.start()
      th
    }
    loops.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val windowEnd = System.currentTimeMillis()

    // Every response against the same call over the direct frames.
    val all = done.asScala.toSeq
    val expected = expect(all.map(_.r))
    val errors = all.flatMap { d =>
      val want = expected(d.r)
      d.err.map(e => s"${d.r.op} page ${d.r.pageId}: $e").orElse(d.ex.map(_.digest).filter(_ != want)
        .map(got => s"${d.r.op} page ${d.r.pageId}: $got, expected $want"))
    }
    val ms = all.map(_.ms)
    val (publishedBytes, publishedFiles) = {
      val parts = CitationPipeline.dedupKeys.keys.toSeq.map(n => Main.dirBytes(new File(out, n)))
      (parts.map(_._1).sum, parts.map(_._2).sum)
    }
    val named = Seq(
      ("serve_p50_ms", Main.median(ms), "ms"),
      ("serve_p90_ms", Main.pct(ms, 90), "ms"),
      ("serve_ops_per_s", all.size / wallS, "1/s"),
      ("publish_revisions_per_s", truth.revisions / publishS, "1/s"),
      ("published_bytes_per_input_byte", publishedBytes.toDouble / truth.inputBytes, "ratio"))
    // The traced run also times the layers under the publish, and
    // resolves the published tables to surrogate ids and checks them.
    val resolveErrors = mutable.ArrayBuffer.empty[String]
    val layer = if (!ctx.trace) Map.empty[String, Double] else {
      Ingest.resolve(ctx, out)
      resolveErrors ++= Ingest.checkResolved(spark, out)
      queryLayer(ctx, all) ++ Ingest.pipelineSpans(ctx, 0L) ++
        Ingest.layerProbes(ctx, corpus, out, truth) ++ Map(
          "sources.truncated_bundles" -> (graft.sources.MwRevZst.truncatedBundles.get() - truncated0).toDouble,
          "pipeline.output_files" -> publishedFiles.toDouble,
          "pipeline.stored_bytes_per_input_byte" ->
            (publishedBytes + Main.dirBytes(new File(out, "resolved"))._1).toDouble / truth.inputBytes)
    }
    // The publish and, when traced, the resolve count as one operation
    // each in the error accounting.
    val checks = Seq(publishErrors) ++ (if (ctx.trace) Seq(resolveErrors.toSeq) else Nil)
    val perOp = all.groupBy(_.r.op).map { case (op, ds) =>
      op -> Map("n" -> ds.size, "pages" -> ds.map(_.r.pageId).distinct.size,
        "p50_ms" -> Main.median(ds.map(_.ms)), "p90_ms" -> Main.pct(ds.map(_.ms), 90)) }
    Outcome(setupS, warmS, all.map(d => (d.r.op, d.ms)), all.size / wallS,
      all.size.toLong + checks.size, errors.size.toLong + checks.count(_.nonEmpty),
      checks.flatten ++ errors, named, layer,
      Map("clients" -> clients, "per_op" -> perOp, "latencies_ms" -> ms,
        "pages_requested" -> all.map(_.r.pageId).distinct.size,
        "distinct_requests" -> expected.size, "usable_pages" -> pgs.ranked.size,
        "corpus" -> Map("pages" -> truth.pageIds.size, "revisions" -> truth.revisions,
          "instances" -> truth.instances, "history_rows" -> truth.historyRows),
        "setup_corpus_s" -> gens.map(_._2), "publish_s" -> publishS, "check_and_pages_s" -> checkS),
      windowStart, windowEnd)
  }

  /** Per-op latency, planning time and jobs of the traced requests. */
  private def queryLayer(ctx: Ctx, all: Seq[Done]): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans.asScala.toSeq
    val opSpan = spans.filter(_.layer == "queries").map(s => s.trace -> s.id).toMap
    val jobsBySpan = ctx.counts.snapshotJobs.groupBy(j => ctx.tracer.owner(j.group, j.startMs))
      .map { case (s, js) => s -> js.size }
    val byOp = all.groupBy(_.r.op)
    val perOp = ops.flatMap { op =>
      val ds = byOp.getOrElse(op, Nil)
      Seq(
        s"queries.$op.p50_ms" -> Main.median(ds.map(_.ms)),
        s"queries.$op.plan_ms" -> Main.median(ds.flatMap(_.ex).map(_.planMs)),
        s"queries.$op.jobs" -> Main.median(ds.map(d =>
          opSpan.get(d.span).map(s => jobsBySpan.getOrElse(s, 0)).getOrElse(0).toDouble)))
    }
    val ex = all.flatMap(_.ex)
    val returned = ex.map(_.digest.rows).sum
    val lookups = ex.filter(_.bucketedScans > 0)
    (perOp ++ Seq(
      "queries.rows_read_per_row_returned" -> ex.map(_.rowsRead).sum.toDouble / math.max(1L, returned),
      "queries.buckets_read_per_lookup" ->
        lookups.map(_.bucketsRead).sum.toDouble / math.max(1, lookups.size))).toMap
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry, Tables}

/** `analytics`: warm passes over a fixed list of `SparkEntry` queries on
  * the committed testdata. The data is fixed, so the seed only permutes
  * the query order. Query caches are released between queries, as the
  * engine's cache-lifetime contract asks of every harness. */
object Analytics {

  /** One query from each group the benchmark should move: the ROADMAP's
    * pair/dedup targets, the wiki path, streaming drains and queries
    * bound by the per-query floor. Sized so that the warm-up and the
    * measured passes fit one run on a 4-core box. */
  val queries: Seq[String] = Seq(
    "q218_lsh_scurve",
    "q47_normalize_stats",
    "q52_stream_window",
    "q01_agg_pricing")

  /** `name<TAB>rows:hash` lines. */
  def readPins(path: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.contains("\t")).map { l =>
      val Array(n, d) = l.split("\t", 2)
      n -> Digest.parse(d.trim)
    }.toMap

  final case class Ran(name: String, pass: Int, ms: Double, ok: Boolean, ex: Executed,
      trace: Long, cachedMb: Double, releaseMs: Double)

  private[perfbench] def runOne(ctx: Ctx, dir: String, name: String, pass: Int,
      pins: Map[String, Digest], errors: mutable.Buffer[String]): Ran = {
    val trace = ctx.tracer.newTrace()
    val t0 = System.nanoTime()
    val res =
      try Right(ctx.span(s"operators.$name", "operators", trace)(
        Executed(SparkEntry.queries(name)(ctx.spark, dir), inspect = ctx.trace)))
      catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val releaseMs = Main.timed(GraftSession.releaseQueryCaches(ctx.spark))._2 * 1000
    val cachedMb = if (!ctx.trace) 0.0 else
      ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    res match {
      case Right(ex) =>
        val ok = pins.get(name).contains(ex.digest)
        if (!ok) errors += s"$name: ${ex.digest}, pinned ${pins.get(name).getOrElse("none")}"
        Ran(name, pass, ms, ok, ex, trace, cachedMb, releaseMs)
      case Left(err) =>
        errors += s"$name: $err"
        Ran(name, pass, ms, ok = false, Executed(Digest(0, ""), 0, 0, 0, 0), trace, cachedMb,
          releaseMs)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = new File(ctx.opts("testdata")).getAbsolutePath
    val pins = readPins(ctx.opts("pins"))
    val order = scala.util.Random.javaRandomToRandom(Corpus.rng(ctx.seed, -3L)).shuffle(queries)

    // Set-up: open every table (footers and schemas), three times for a
    // steady median. Then one warm-up pass, timed on its own: it is
    // the first run of each query in a fresh JVM (JIT, generated code).
    val opens = (1 to 3).map(_ => Main.timed(Tables.names.foreach(n => Tables.table(spark, dir, n).count()))._2)
    val warmErrors = mutable.ArrayBuffer.empty[String]
    val (_, warmS) = Main.timed(order.foreach(n => runOne(ctx, dir, n, -1, pins, warmErrors)))

    val ran = mutable.ArrayBuffer.empty[Ran]
    val errors = mutable.ArrayBuffer.empty[String]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val windowStart = System.currentTimeMillis()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val rs = order.map(n => runOne(ctx, dir, n, pass, pins, errors))
      ran ++= rs
      passWalls += rs.map(_.ms).sum / 1000
      pass += 1
    }
    val windowEnd = System.currentTimeMillis()

    val ms = ran.map(_.ms).toSeq
    val named = Seq(
      ("analytics_s", Main.median(passWalls.toSeq), "s"),
      ("analytics_query_p50_ms", Main.median(ms), "ms"))
    val perQuery = ran.groupBy(_.name).map { case (n, rs) =>
      n -> Map("ms" -> rs.map(_.ms), "rows" -> rs.head.ex.digest.rows, "ok" -> rs.forall(_.ok)) }
    Outcome(Main.median(opens), warmS, ran.map(r => (r.name, r.ms)).toSeq, ran.size / (ms.sum / 1000),
      ran.size.toLong, ran.count(!_.ok).toLong,
      errors.toSeq, named, if (ctx.trace) layer(ctx, ran.toSeq, windowStart) else Map.empty,
      Map("passes" -> pass, "order" -> order, "pass_s" -> passWalls.toSeq, "per_query" -> perQuery,
        "release_ms" -> ran.map(_.releaseMs).toSeq,
        "warmup_errors" -> warmErrors.toSeq),
      windowStart, windowEnd)
  }

  private def layer(ctx: Ctx, ran: Seq[Ran], windowStart: Long): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(ctx.spark.sparkContext)
    val spans = ctx.tracer.spans.asScala.toSeq.filter(_.layer == "operators")
    val spanOfTrace = spans.map(s => s.trace -> s).toMap
    val jobsBySpan = ctx.counts.snapshotJobs.groupBy(j => ctx.tracer.owner(j.group, j.startMs))
      .map { case (s, js) => s -> js.size }
    // Planning of every query execution a builder ran, by the span open
    // when its analysis started (queries run one at a time here).
    val planBySpan = PlanTimes.all.asScala.toSeq.groupBy(p => ctx.tracer.owner(None, p._1))
      .map { case (s, ps) => s -> ps.map(_._2).sum }
    val windowSpans = ran.flatMap(r => spanOfTrace.get(r.trace))
    val batches = StreamProgress.batches.asScala.toSeq.filter(_._1 >= windowStart)
    val passes = ran.map(_.pass).distinct.size
    val perQuery = queries.map(q => s"operators.$q.ms" -> Main.median(ran.filter(_.name == q).map(_.ms)))
    (perQuery ++ Seq(
      "operators.plan_ms_p50" -> Main.median(windowSpans.map(s => planBySpan.getOrElse(s.id, 0.0))),
      "operators.jobs_per_query" -> Main.median(windowSpans.map(s => jobsBySpan.getOrElse(s.id, 0).toDouble)),
      "operators.cached_mb_after_release" -> ran.map(_.cachedMb).max,
      "streaming.batches" -> batches.size.toDouble / passes,
      "streaming.batch_ms_p50" -> Main.median(batches.map(_._2.toDouble)))).toMap
  }
}

package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, the run's
  * seed and length, and a scratch directory inside the checkout. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val counts: SparkCounts,
    val seed: Long,
    val seconds: Double,
    val cores: Int,
    val work: File,
    val opts: Map[String, String]) {
  def trace: Boolean = tracer.enabled
  def span[T](name: String, layer: String, trace: Long = -1L)(body: => T): T =
    tracer.span(name, layer, trace)(body)
}

/** A workload's result. `setupS` is its set-up before the warm-up,
  * `warmupS` the warm-up; `ops` holds (op name, ms) of every operation
  * in the measured window; `named` the workload's own end-to-end
  * figures, `layer` the per-layer metrics of a traced run. */
final case class Outcome(
    setupS: Double,
    warmupS: Double,
    ops: Seq[(String, Double)],
    itemsPerS: Double,
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    named: Seq[(String, Double, String)],
    layer: Map[String, Double],
    detail: Map[String, Any],
    windowStartMs: Long,
    windowEndMs: Long)

object Main {

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated percentile, as numpy's default. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Geometric mean over op names of each name's median latency: every
    * op weighs the same, however often it ran and however slow it is. */
  def geomeanOfMedians(ops: Seq[(String, Double)]): Double = {
    val meds = ops.groupBy(_._1).values.map(xs => median(xs.map(_._2))).toSeq
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }

  def deleteTree(f: File): Unit =
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }

  def dirBytes(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else {
      val files = Files.walk(f.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
      (files.map(p => Files.size(p)).sum, files.size)
    }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def session(cores: Int, work: File, trace: Boolean): SparkSession = {
    var b = graft.GraftSession.builder(Some(cores))
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
    if (trace) b = b
      .config("spark.sql.queryExecutionListeners", classOf[PlanTimes].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProgress].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val entryNs = System.currentTimeMillis() * 1000000L
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val jvmStartS = opts.get("launch-ns").map(l => (entryNs - l.toLong) / 1e9).getOrElse(0.0)

    val tracer = new Tracer(trace)
    val counts = new SparkCounts
    val (spark, sessionS) = timed(session(cores, work, trace))
    if (trace) {
      spark.sparkContext.addSparkListener(counts)
      tracer.attach(spark.sparkContext)
    }
    val ctx = new Ctx(spark, tracer, counts, opts("seed").toLong, opts("seconds").toDouble,
      cores, work, opts)

    val outcome =
      try workload match {
        case "ingest" => Ingest.run(ctx)
        case "serve" => Serve.run(ctx)
        case "analytics" => Analytics.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      catch {
        case e: Throwable =>
          spark.stop()
          throw e
      }

    val layer =
      if (!trace) Map.empty[String, Double]
      else {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        outcome.layer ++ sparkLayer(ctx, outcome) ++ selfTimes(ctx, outcome)
      }
    val rss = peakRssMb()
    val opMs = outcome.ops.map(_._2)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (jvmStartS + sessionS + outcome.setupS, "s"),
      "op_geomean_ms" -> (geomeanOfMedians(outcome.ops), "ms"))
    val named = outcome.named ++ Seq(
      ("warmup_s", outcome.warmupS, "s"),
      ("throughput_per_s", outcome.itemsPerS, "1/s"),
      ("op_p50_ms", median(opMs), "ms"),
      ("op_p90_ms", pct(opMs, 90), "ms"),
      ("peak_rss_mb", rss, "MB"),
      ("error_rate", outcome.failed.toDouble / math.max(1L, outcome.attempted), "ratio"))

    if (trace) {
      val all = Trace.withJobSpans(tracer, counts)
      Trace.writeJsonl(Paths.get(opts("spans")), all, tracer.epochNs0)
    }
    val record = Json.obj(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "trace" -> trace,
      "cores" -> cores,
      "heap" -> opts.getOrElse("heap", ""),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "errors" -> outcome.errors.take(20),
      "setup_parts_s" -> Map("jvm_start" -> jvmStartS, "session" -> sessionS,
        "workload" -> outcome.setupS, "warmup" -> outcome.warmupS),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> named.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layer,
      "detail" -> outcome.detail)
    Files.writeString(Paths.get(opts("result")), record)
    spark.stop()
  }

  /** `spark.*` counts over the measured window. */
  private def sparkLayer(ctx: Ctx, o: Outcome): Map[String, Double] = {
    val inWindow = (ms: Long) => ms >= o.windowStartMs && ms <= o.windowEndMs
    val jobs = ctx.counts.snapshotJobs.filter(j => inWindow(j.startMs))
    val stages = ctx.counts.snapshotStages.filter(s => inWindow(s.submitMs))
    val wallS = (o.windowEndMs - o.windowStartMs) / 1000.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks.toDouble).sum,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> stages.map(_.spill).sum / 1e6,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "spark.core_busy_share" -> stages.map(_.runMs).sum / 1000.0 / (wallS * ctx.cores))
  }

  /** Self seconds per layer over the whole traced run. */
  private def selfTimes(ctx: Ctx, o: Outcome): Map[String, Double] =
    Trace.selfByLayer(Trace.withJobSpans(ctx.tracer, ctx.counts))
      .collect { case (layer, s) if layer != "bench" => s"$layer.self_s" -> s }
}

package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Verify.jsonStr

/** One finished span: a timed call into one layer. Spans of one request
  * (an ingest cycle, a serve request, an analytics query) share `trace`. */
final case class Span(
    trace: Long, id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans and listener counts, kept in memory and written when the run
  * ends. With tracing off every `span` call is a plain call and no
  * listener is registered, so untraced runs measure the program alone.
  *
  * Spark work is attributed to the innermost open span: each span sets
  * its id as the calling thread's job group, so jobs and SQL executions
  * started by that thread carry it. Work from threads that do not carry
  * the group (streaming micro-batches set their own) is attributed by
  * time to the innermost span open when it started; only the serve
  * workload runs calls concurrently, and its calls start no streams. */
final class Tracer(val enabled: Boolean) {
  // Wall-clock origin shared with Spark's listener timestamps (epoch ms).
  val epochNs0: Long = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)

  private val ids = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (trace, id)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val sc = new AtomicReference[SparkContext]()

  def attach(context: SparkContext): Unit = sc.set(context)

  def newTrace(): Long = ids.incrementAndGet()

  /** Time `body` as a span of `layer` under the current span, or as the
    * root of `trace` when none is open. */
  def span[T](name: String, layer: String, trace: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val tr = if (trace >= 0) trace else outer.headOption.map(_._1).getOrElse(newTrace())
      val id = ids.incrementAndGet()
      val parent = outer.headOption.map(_._2).getOrElse(0L)
      stack.set((tr, id) :: outer)
      val ctx = Option(sc.get())
      ctx.foreach(_.setJobGroup(id.toString, name, interruptOnCancel = false))
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(tr, id, parent, name, layer, t0, nowNs))
        stack.set(outer)
        ctx.foreach { c =>
          if (outer.isEmpty) c.clearJobGroup()
          else c.setJobGroup(outer.head._2.toString, "", interruptOnCancel = false)
        }
      }
    }

  /** Span a listener event belongs to: its job group when that names a
    * span, else the innermost span open at `epochMs`. */
  def owner(group: Option[String], epochMs: Long): Long = {
    val all = spans.asScala
    group.flatMap(_.toLongOption).filter(g => all.exists(_.id == g)).getOrElse {
      val t = epochMs * 1000000L
      val open = all.filter(s => s.startNs <= t && t <= s.endNs)
      if (open.isEmpty) 0L else open.maxBy(_.startNs).id
    }
  }
}

/** Per-job, per-stage and per-execution records, attributed to spans
  * once the run is over. */
object SparkCounts {
  final case class Job(id: Int, group: Option[String], startMs: Long, var endMs: Long)
  final case class StageAgg(group: Option[String], submitMs: Long, tasks: Int, runMs: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long)
}

final class SparkCounts extends SparkListener {
  import SparkCounts._

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, Option[String]]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    e.stageIds.foreach(s => stageGroup.put(s, group))
    jobs.put(e.jobId, Job(e.jobId, group, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null) stages.add(StageAgg(
      stageGroup.getOrDefault(info.stageId, None),
      info.submissionTime.getOrElse(0L), info.numTasks,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
  }

  def snapshotJobs: Seq[Job] = jobs.values().asScala.toSeq
  def snapshotStages: Seq[StageAgg] = stages.asScala.toSeq
}

/** Registered through `spark.sql.queryExecutionListeners` so that child
  * sessions (streaming drains run on one) report too. */
class PlanTimes extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanTimes.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    PlanTimes.record(qe)
}

object PlanTimes {
  /** (epoch ms its analysis started, analysis + optimization + planning
    * ms) of every query execution. The start attributes it to the span
    * open at that time, which is exact where calls run one at a time. */
  val all = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val phases = Seq("analysis", "optimization", "planning")
  def planMs(qe: QueryExecution): Double = {
    val p = qe.tracker.phases
    phases.flatMap(p.get).map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum
  }
  def record(qe: QueryExecution): Unit = {
    val starts = phases.flatMap(qe.tracker.phases.get).map(_.startTimeMs)
    if (starts.nonEmpty) all.add((starts.min, planMs(qe)))
  }
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`. */
class StreamProgress extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    StreamProgress.batches.add((java.time.Instant.parse(p.timestamp).toEpochMilli, ms))
  }
}

object StreamProgress {
  /** (batch start epoch ms, trigger execution ms) per micro-batch. */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

object Trace {
  /** Self time: a span's duration minus the part its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    s.durNs - covered
  }

  /** Spans plus one synthetic `spark` child span per job, so that a
    * call's self time excludes the time its Spark jobs ran. */
  def withJobSpans(t: Tracer, counts: SparkCounts): Seq[Span] = {
    val spans = t.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val jobSpans = counts.snapshotJobs.filter(_.endMs > 0)
      .map(j => (j, t.owner(j.group, j.startMs))).filter(x => byId.contains(x._2)).map { case (j, owner) =>
      val p = byId(owner)
      Span(p.trace, -(j.id + 1L), p.id, s"job ${j.id}", "spark",
        j.startMs * 1000000L, j.endMs * 1000000L)
    }
    spans ++ jobSpans
  }

  /** Self seconds per layer. */
  def selfByLayer(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfNs(s, if (s.id > 0) kids.getOrElse(s.id, Nil) else Nil)).sum / 1e9
    }
  }

  def writeJsonl(path: java.nio.file.Path, all: Seq[Span], t0: Long): Unit = {
    val sb = new StringBuilder
    all.sortBy(s => (s.startNs, s.id)).foreach { s =>
      sb.append(Json.obj(
        "trace" -> s.trace, "span" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000))
        .append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Just enough JSON for flat records: numbers, strings, booleans, nested
  * maps and sequences. */
object Json {
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => jsonStr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonStr(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => jsonStr(other.toString)
  }
}

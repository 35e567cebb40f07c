package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.CitationPipeline

/** Streaming operators: stream-vs-batch equivalence (same data, same
  * answer; the twins that share their batch query's statement also
  * share its oracle), and flatMapGroupsWithState sessionization over
  * controlled microbatches.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  private val sf = "/root/testdata/sf0.001"

  /** Streaming twins and the batch queries whose statement they share,
    * one test each: (test name, stream, batch). */
  private val twins = Seq(
    ("stream windowed agg == batch windowed agg",
      "q52_stream_window", "q28_time_bucket"),
    ("streaming contract conformance == batch conformance (q347)",
      "q360_stream_conformance", "q347_contract_conformance"),
    ("streaming burst detection == batch burst detection (q317)",
      "q323_stream_burst", "q317_burst_detection"),
    ("streaming CDC apply == batch CDC apply (q190)",
      "q195_stream_cdc_apply", "q190_cdc_apply"))

  private def rows(q: String) = graft.SparkEntry.queries(q)(spark, sf)
    .collect().map(_.toSeq).toSet

  for ((name, stream, batch) <- twins) test(name) {
    val streamed = rows(stream)
    assert(streamed == rows(batch))
    assert(streamed.nonEmpty)
    assert(graft.SparkEntry.oracleSql(stream) ==
      graft.SparkEntry.oracleSql(batch))
  }

  test("streaming SCD2 history == batch gaps-and-islands (q311)") {
    val streamed = StreamingOps.streamScd2History(spark, sf)
      .collect().map(_.toSeq).toSet
    // Batch recompute: version starts where the value changes.
    val rows = graft.Tables.table(spark, sf, "events")
      .selectExpr("user_id", "ts", "event_id",
        "CAST(floor(value * 100) AS BIGINT) AS v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val batch = rows.groupBy(_._1).toSeq.flatMap { case (u, g) =>
      val ordered = g.toSeq.sortBy(e => (e._2, e._3))
      val starts = ordered.zipWithIndex.filter { case (e, i) =>
        i == 0 || e._4 != ordered(i - 1)._4
      }.map(_._1)
      starts.zipWithIndex.map { case (e, vi) =>
        val nxt = if (vi + 1 < starts.length) starts(vi + 1)._2 else -1L
        Seq[Any](u, e._4, e._2, nxt, vi + 1L)
      }
    }.toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming HLL registers == batch Aggregator estimate (q297)") {
    val streamed = StreamingOps.streamHllDistinct(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = graft.SparkEntry.queries("q288_hll_distinct")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming windowed top-k == batch rank (q286)") {
    val streamed = StreamingOps.streamTopkWindows(spark, sf)
      .collect().map(_.toSeq).toSet
    val nsPer6h = 21600L * 1000 * 1000 * 1000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_start")
      .orderBy(col("n").desc, col("event_type").asc)
    val batch = graft.Tables.table(spark, sf, "events")
      .withColumn("w_start", date_format(
        timestamp_seconds(expr(s"ts div $nsPer6h") * 21600L),
        "yyyy-MM-dd HH:mm:ss"))
      .groupBy("w_start", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming drift monitor == batch histogram (q249)") {
    val streamed = StreamingOps.streamDriftMonitor(spark, sf)
      .collect().map(_.toSeq).toSet
    val nsPer6h = 21600L * 1000 * 1000 * 1000
    val batch = graft.Tables.table(spark, sf, "events")
      .withColumn("w_start", date_format(
        timestamp_seconds(expr(s"ts div $nsPer6h") * 21600L),
        "yyyy-MM-dd HH:mm:ss"))
      .withColumn("bin", // same domain shift as the query: floor-division
        // semantics match DuckDB's // for any sign of value
        expr("(CAST(floor(value * 100) AS BIGINT) + 10000000) div 5000"))
      .groupBy("w_start", "bin").agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup == batch distinct") {
    val streamed = StreamingOps.streamingDedup(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("bounded-state dedup (dropDuplicatesWithinWatermark) == batch " +
    "distinct over a single-batch drain") {
    val streamed = StreamingOps.streamingDedupBounded(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("stream-stream left outer: matched rows == batch interval join, " +
    "null rows only for watermark-evicted unmatched clicks") {
    val rows = StreamingOps.streamLeftOuter(spark, sf).collect()
    val matched = rows.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inner = StreamingOps.streamStreamJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched == inner, "outer join must contain exactly the inner matches")

    // null rows: unmatched AND evictable — click_sec + 1h (join range)
    // behind the global watermark (min of both sides' max sec − 1h delay)
    val ev = graft.Tables.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("sec")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val wm = math.min(clicks.map(_._3).max, purchases.map(_._2).max) - 3600
    val expectNull = clicks.filter { case (u, _, s) =>
      s + 3600 < wm &&
        !purchases.exists { case (pu, ps) => pu == u && ps >= s && ps <= s + 3600 }
    }.map { case (u, c, _) => (u, c) }.toSet
    val gotNull = rows.filter(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotNull == expectNull,
      s"evicted-unmatched set mismatch: got ${gotNull.size}, want ${expectNull.size}")
    assert(gotNull.nonEmpty, "the sf0.001 stream must exercise the outer path")
  }

  test("streaming near-dup index == batch band aggregation") {
    val streamed = StreamingOps.streamNeardupIndex(spark, sf)
      .collect().map(_.toSeq).toSet
    val h = md5(col("shingle"))
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("tokens",
        filter(split(lower(col("text")), " "), w => w =!= ""))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 3),
           i -> concat_ws(' ', slice(tokens, i + 1, 3)))""")).as("shingle"))
      .groupBy("doc_id")
      .agg(min(substring(h, 1, 8)).as("s0"), min(substring(h, 9, 8)).as("s1"),
        min(substring(h, 17, 8)).as("s2"), min(substring(h, 25, 8)).as("s3"))
      .groupBy(md5(concat(col("s0"), col("s1"))).as("band0"),
        md5(concat(col("s2"), col("s3"))).as("band1"))
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("a drain leaves no new entry under the checkpoint base") {
    import scala.jdk.CollectionConverters._
    val base = StreamingOps.checkpointBase
    def entries(): Set[String] = scala.util.Using.resource(
      java.nio.file.Files.list(base))(_.iterator().asScala.map(_.toString).toSet)
    val before = entries()
    assert(StreamingOps.windowedAgg(spark, sf).count() > 0)
    assert(entries() -- before == Set.empty)
  }

  /** A fresh bundle directory, and a writer of one-revision bundles into
    * it whose single reference cites `https://e.org/<pageId>`. */
  private def bundleDir(): (String, (String, Int, Long) => java.io.File) = {
    import java.nio.charset.StandardCharsets
    import com.github.luben.zstd.ZstdOutputStream
    val dir = java.nio.file.Files.createTempDirectory("inc-bundles").toFile
    def write(name: String, pageId: Int, revId: Long): java.io.File = {
      val text =
        s"# page_id=$pageId ns=0 rev_id=$revId parent_rev_id= " +
          s"timestamp=2021-01-01T00:00:00Z\n" +
          s" X <ref name=n$pageId>{{Cite web |url=https://e.org/$pageId" +
          s" |title=T}}</ref>\n"
      val f = new java.io.File(dir, name)
      val z = new ZstdOutputStream(new java.io.FileOutputStream(f))
      z.write(text.getBytes(StandardCharsets.UTF_8))
      z.close()
      f
    }
    (s"${dir.getAbsolutePath}/*.mwrev.zst", write)
  }

  private def newOut(): String =
    java.nio.file.Files.createTempDirectory("inc-out").toFile.getAbsolutePath

  private def staged(out: String): Long =
    spark.read.parquet(s"$out/_staged_refs").count()

  test("incremental pipeline: new bundles ingested exactly once") {
    val (glob, writeBundle) = bundleDir()
    val out = newOut()
    writeBundle("a.mwrev.zst", 1, 10L)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 1)

    // Re-run with no new data: nothing re-ingested.
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 1)

    // A new bundle arrives: only its revisions are appended.
    writeBundle("b.mwrev.zst", 2, 20L)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 2)

    // A bundle whose name sorts below the ones already ingested is
    // staged, once: the file source tracks each file it has seen, as
    // the reference's per-file DONE.txt markers do.
    writeBundle("0-late.mwrev.zst", 3, 30L)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 3)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 3)

    val tables = CitationPipeline.publish(spark, out)
    assert(tables("citation_instances").count() == 3)
    assert(spark.read.parquet(s"$out/revisions").count() == 3)
  }

  test("incremental pipeline: a bundle with a 30-day-old mtime is ingested") {
    val (glob, writeBundle) = bundleDir()
    val out = newOut()
    writeBundle("a.mwrev.zst", 1, 10L)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 1)
    // Older than the newest seen file by more than the file source's
    // default maxFileAge (7 days), which would skip it.
    val late = writeBundle("b.mwrev.zst", 2, 20L)
    assert(late.setLastModified(
      System.currentTimeMillis() - 30L * 24 * 3600 * 1000))
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 2)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 2)
  }

  test("purge resets the ingest: the next ingest stages every bundle again") {
    val (glob, writeBundle) = bundleDir()
    val out = newOut()
    writeBundle("a.mwrev.zst", 1, 10L)
    writeBundle("b.mwrev.zst", 2, 20L)
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 2)
    CitationPipeline.purge(spark, out)
    assert(!new java.io.File(s"$out/_checkpoint").exists())
    CitationPipeline.ingest(spark, glob, out)
    assert(staged(out) == 2)
  }

  test("flatMapGroupsWithState sessionization across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ns = 1000L * 1000 * 1000 // 1s in ns
    val gapNs = 1800 * ns

    def ev(user: Long, sec: Long) =
      SessionEvent(user, sec * ns, new Timestamp(sec * 1000))

    val input = MemoryStream[SessionEvent]
    val sessions = Sessionize.sessions(
      input.toDS().withWatermark("eventTime", "0 seconds"), gapNs)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").trigger(Trigger.ProcessingTime(0)).start()

    // Batch 1: two events 10s apart — one open session for user 1.
    // (t=1000 not t=0: an event at the initial watermark is "late".)
    input.addData(ev(1, 1000), ev(1, 1010))
    q.processAllAvailable()
    // Batch 2: event at t=4000s (gap 2990s > 1800s) closes session 1.
    input.addData(ev(1, 4000))
    q.processAllAvailable()
    // Batches 3+4: far-future data advances the watermark past user 1's
    // gap deadline; the EventTimeTimeout then closes session 2.
    input.addData(ev(2, 100000))
    q.processAllAvailable()
    input.addData(ev(2, 100001))
    q.processAllAvailable()

    val out = spark.table("sessions_out").as[Session].collect()
      .sortBy(_.startTs)
    q.stop()

    assert(out.length == 2)
    assert(out(0) == Session(1, 1000 * ns, 1010 * ns, 2)) // closed by gap
    assert(out(1) == Session(1, 4000 * ns, 4000 * ns, 1)) // by timeout
  }

  test("transformWithState profile accumulates across microbatches") {
    import StateProfile.{ProfileEvent, UserProfile, UserProfileProcessor}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[ProfileEvent]
      val out = input.toDS().groupByKey(_.user_id)
        .transformWithState(new UserProfileProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName("profile_out").trigger(Trigger.ProcessingTime(0))
        .start()
      // Three micro-batches; user 1's state must carry across them,
      // including the distinct-type MapState.
      input.addData(ProfileEvent(1, "view", 100),
        ProfileEvent(1, "view", 50))
      q.processAllAvailable()
      input.addData(ProfileEvent(1, "click", 300),
        ProfileEvent(2, "view", 10))
      q.processAllAvailable()
      input.addData(ProfileEvent(1, "view", 200))
      q.processAllAvailable()
      q.stop()

      // final row per user = the emission with the largest n_events
      val finals = spark.table("profile_out").as[UserProfile].collect()
        .groupBy(_.user_id).map(_._2.maxBy(_.n_events))
        .map(p => p.user_id -> p).toMap
      assert(finals(1L) == UserProfile(1, 4, 300, 2))
      assert(finals(2L) == UserProfile(2, 1, 10, 1))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

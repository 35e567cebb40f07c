package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Machine-checked plan quality: the properties `graft.Explain` is used
  * to eyeball are asserted here so a regression (lost pushdown, lost
  * broadcast, lost codegen) fails the build, not just the benchmark.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.SparkTestSession.spark

  override def afterAll(): Unit = graft.SparkTestSession.cleanup()

  private val sf = "/root/testdata/sf0.001"

  private def executedPlanString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters reach the parquet scan; projection pruned") {
    val df = SparkEntry.queries("q02_filter_project")(spark, sf)
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity"))
    // 5 of 16 lineitem columns read: 3 projected + 2 filter-only.
    assert(scan.schema.fieldNames.length == 5)
  }

  test("q12: dimension chain joins broadcast") {
    val plan = executedPlanString("q12_join_chain")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q01: whole-stage codegen covers the aggregation") {
    val plan = executedPlanString("q01_agg_pricing")
    // codegen'd operators render with the "*(n)" stage prefix
    assert(plan.contains("*(") && plan.contains("HashAggregate"))
  }

  test("q62: exactly one shuffle per join key family under AQE") {
    val plan = executedPlanString("q62_star_join")
    // nation/region must come in as broadcasts, never shuffled.
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q40: embedding scan stays map-only until TakeOrdered") {
    val plan = executedPlanString("q40_cosine_topk")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("array_dot"))
  }

  test("q84: near-dup pair stage shuffles on buckets, no cartesian") {
    val plan = executedPlanString("q84_lsh_neardup")
    // candidates come from an equi join on the LSH bucket key —
    // a cartesian/nested-loop pair stage would be the quadratic bug
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("bucket"))
  }

  test("q85/q86: k-means assignment broadcasts the centroids") {
    // The k×n scoring stage must replicate the TINY centroid set, never
    // shuffle the corpus vectors against it.
    val p85 = executedPlanString("q85_ivf_kmeans")
    assert(p85.contains("BroadcastNestedLoopJoin") ||
      p85.contains("BroadcastExchange"))
    val p86 = executedPlanString("q86_ivf_kmeans_search")
    assert(p86.contains("BroadcastExchange"))
  }

  test("q64: corpus size is an in-plan broadcast scalar, not a " +
    "baked-in literal from a driver count") {
    val df = SparkEntry.queries("q64_tfidf_top_terms")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the 1-row countDistinct side arrives via a broadcast join
    // (single-row cross joins plan as BroadcastNestedLoopJoin)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
    // and the scoring expression references the broadcast column, not a
    // constant the driver computed in a separate pass
    assert(plan.contains("n_total"))
  }

  test("q46: serving citations computes removed_at as an equi join — " +
    "no nested-loop probe") {
    val df = SparkEntry.queries("q46_citations_at_revision")(spark, sf)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("q122: JSON extraction runs inside whole-stage codegen, " +
    "pruned scan") {
    val df = SparkEntry.queries("q122_json_extract")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("get_json_object"))
    assert(plan.contains("*("), "extraction must be codegen'd")
    // (AQE wraps stages in leaf nodes, so assert column pruning on the
    // rendered scan instead of the collected FileSourceScanExec)
    assert(plan.contains("ReadSchema: struct<event_type:string,props:string>"),
      s"scan must read only the two referenced columns\n$plan")
  }

  test("q127: z-order audit is map arithmetic + ONE aggregation shuffle") {
    val plan = executedPlanString("q127_zorder")
    assert("Exchange".r.findAllIn(
      plan.split("== Initial Plan ==").head).length <= 2,
      s"expected only the groupBy exchange (+AQE read)\n$plan")
    assert(!plan.contains("Join"), "morton coding must not join")
  }

  test("q118: sparse-cosine candidate stage has no cartesian pairing") {
    val df = SparkEntry.queries("q118_sparse_cosine")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q94: chunking is map-only — zero exchanges") {
    val plan = executedPlanString("q94_chunk_windows")
    assert(!plan.contains("Exchange"),
      "token-window chunking must not shuffle")
  }

  test("q102: weighted sampling is map-only — zero exchanges") {
    val plan = executedPlanString("q102_weighted_sample")
    assert(!plan.contains("Exchange"),
      "the integer accept rule must run as a pure scan filter")
  }

  test("q104: outlier scoring broadcasts centroids and never " +
    "window-sorts the corpus") {
    val df = SparkEntry.queries("q104_embedding_outliers")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"))
    // exactly one Window OPERATOR (not WindowGroupLimit etc.), in the
    // final AQE plan only — it ranks the partition-reduced <=5*P
    // candidate rows, never the full scored corpus
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Window \\[".r.findAllIn(finalPlan).length == 1,
      s"expected exactly one Window operator\n$finalPlan")
    // the partition-local pre-reduction is the collect_list aggregate
    // (its sort_array+slice post-processing lives in the aggregate's
    // result expressions, which toString elides); Spark additionally
    // inserts a Partial WindowGroupLimit before the rank's shuffle
    assert(finalPlan.contains("collect_list"),
      "partition-local top-k pre-reduction must precede the rank")
  }

  test("q112: random projection is map-only — zero exchanges, " +
    "native array_dot per output dim") {
    val plan = executedPlanString("q112_random_projection")
    assert(!plan.contains("Exchange"),
      "JL projection must be a pure scan-side map")
    assert(plan.contains("array_dot"),
      "each output dim must be the codegen'd array_dot, not a lambda chain")
  }

  test("q111: hashing-trick featurization rides one shuffle with " +
    "map-side partial aggregation") {
    // AQE's toString prints the final AND initial plans — count only the
    // final one
    val plan = executedPlanString("q111_feature_hash")
      .split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected exactly 1 hash exchange, got $shuffles")
    // partial_sum before the exchange = map-side combine is active
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      "conditional slot counts must partially aggregate before the shuffle")
  }

  test("q109: drift totals arrive as a broadcast over the persisted " +
    "vocab — the token stream is scanned once") {
    val df = SparkEntry.queries("q109_term_drift")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
    assert(plan.contains("InMemoryTableScan"),
      "vocab must be persisted so totals don't re-tokenize the corpus")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-25 must be a TakeOrdered, not a global sort")
  }

  test("q115: BM25 shuffles only query-term hits; df and corpus " +
    "scalars arrive as broadcasts") {
    val df = SparkEntry.queries("q115_bm25")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"))
    // tf groupBy + df groupBy (over the CACHED tf) + final per-doc agg
    // — the raw token stream itself must never hash-shuffle, and the
    // corpus must be tokenized once
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 3, s"expected <=3 hash exchanges, got $shuffles\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      "tf must be persisted so the df pass reuses it")
    assert(!plan.contains("SortMergeJoin"),
      "df/stats must broadcast, not sort-merge")
  }

  test("q97: Bloom screen broadcasts the bit set; " +
    "train shingles are never shuffled") {
    val df = SparkEntry.queries("q97_bloom_decontam")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"))
    // the only shuffle is the final per-doc aggregation on doc_id —
    // the membership test itself must not shuffle the shingle stream
    val shuffles = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(shuffles <= 2, s"expected <=2 hash exchanges, got $shuffles\n$plan")
  }

  test("q135: profile avoids the multi-distinct Expand/sort cascade") {
    val plan = executedPlanString("q135_profile_stats")
    // The naive agg(countDistinct×6) plans Expand + a 3-level
    // SortAggregate cascade keyed on every profiled column (measured
    // 3.1 s warm at sf0.1). The unpivot shape must keep aggregation
    // hash-based and expansion-free.
    assert(!plan.contains("Expand"), "multi-distinct Expand crept back")
    assert(!plan.contains("SortAggregate") || plan.contains("HashAggregate"),
      "distinct counting must be hash-aggregated")
    // null/min/max stats join in as a broadcast of a 1-row aggregate
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  test("q132: decay reference is a broadcast scalar; one user shuffle") {
    val plan = executedPlanString("q132_time_decay")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      "max-ts must ride the plan as a broadcast, not a driver action")
    // AQE's toString appends the pre-adaptive "Initial Plan" — count
    // shuffles only in the final plan section.
    val finalPlan = plan.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles <= 1,
      s"decayed aggregation needs one user_id shuffle, got $shuffles")
  }

  test("q137: mutual-kNN pair stage is equi-join only; knn reused") {
    val plan = executedPlanString("q137_mutual_knn")
    assert(!plan.contains("CartesianProduct"),
      "candidate generation must block on label, never all-pairs")
    assert(plan.contains("InMemoryTableScan"),
      "the ranked knn list must be persisted for the reciprocity join")
  }

  test("q141: rolling features ride exactly one user_id shuffle") {
    val plan = executedPlanString("q141_lag_features")
    val finalPlan = plan.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles == 1, s"expected 1 exchange, got $shuffles")
    assert(finalPlan.contains("Window"))
  }

  test("q142: journey rank is group-limit-pruned before the window") {
    val plan = executedPlanString("q142_user_journeys")
    // Spark's WindowGroupLimit pushes the rn <= 5 filter into a
    // partial top-k BEFORE the full window sort — each task keeps 5
    // rows per user instead of sorting whole timelines. Losing this
    // would silently sort 100 TB of events.
    assert(plan.contains("WindowGroupLimit"))
    val finalPlan = plan.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles <= 2, s"expected <=2 exchanges, got $shuffles")
  }

  test("q143: sliding distinct fans out map-side — no day-range join") {
    val plan = executedPlanString("q143_rolling_dau")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("SortMergeJoin"),
      "tiny per-day aggregates must broadcast-join")
    assert(plan.contains("Generate"), "window-day fan-out must be explode")
  }

  test("q131: overlap joins through the persisted shingle sets") {
    val plan = executedPlanString("q131_source_overlap")
    assert(plan.contains("InMemoryTableScan"),
      "the (source, shingle) set must be computed once, not per consumer")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q119: iteration joins broadcast the rank side, edges stay cached") {
    val plan = executedPlanString("q119_pagerank")
    assert(plan.contains("BroadcastHashJoin"),
      "rank ⋈ edges must broadcast the tiny rank side")
    assert(!plan.contains("SortMergeJoin"),
      "a sort-merge iteration join would shuffle 2|E| rows per round")
    assert(plan.contains("InMemoryTableScan"),
      "the symmetrized edge list must come from cache")
  }

  test("q148: boilerplate marker set arrives as a broadcast") {
    val plan = executedPlanString("q148_boilerplate")
    assert(plan.contains("BroadcastHashJoin"),
      "the df-bounded boiler set must broadcast, not shuffle the corpus")
    assert(plan.contains("InMemoryTableScan"),
      "the shingle occurrences must be computed once for all 3 consumers")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q149: keep decision is map-side — no per-doc shuffle beyond the aggs") {
    val plan = executedPlanString("q149_mixture_reweight")
    assert(plan.contains("BroadcastHashJoin"),
      "the 5-row rate table must broadcast onto the doc scan")
    assert(plan.contains("pmod"), "membership must be the hash predicate")
  }

  test("q152: SCD2 derives both branches from one persisted full-outer join") {
    val plan = executedPlanString("q152_scd2_history")
    assert(plan.contains("InMemoryTableScan"),
      "the joined frame must be persisted once for the two union branches")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"))
  }

  test("q154: lateness window rides one user_id shuffle") {
    val plan = executedPlanString("q154_out_of_order")
    val finalPlan = plan.split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).length
    assert(shuffles <= 2, s"expected <=2 exchanges, got $shuffles")
    assert(finalPlan.contains("Window"))
  }

  test("q157: bigram counts shuffle, unigram contexts broadcast") {
    val plan = executedPlanString("q157_bigram_lm")
    // content-sized bigram table must NOT be broadcast; the
    // vocab-bounded unigram table and the V scalar must be
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"w1 counts + V must broadcast:\n$plan")
    assert(plan.contains("hashpartitioning(bg"),
      "the bigram join must cluster on the bigram key")
  }

  test("q158: NFC normalization stays inside whole-stage codegen") {
    val df = SparkEntry.queries("q158_nfc_norm")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // `*(1)` marks the whole-stage-codegen pipeline id on every operator
    assert(plan.contains("*(1) Project"),
      s"project must be inside whole-stage codegen:\n$plan")
    // one scan-project pipeline, no shuffle at all
    assert(!plan.contains("Exchange"), s"map-only op must not shuffle:\n$plan")
  }

  test("q159: tombstone purge anti-joins are broadcast — corpus never shuffles") {
    val plan = executedPlanString("q159_tombstone_purge")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("BroadcastHashJoin.*LeftAnti".r.findAllIn(finalPlan).length >= 2,
      s"both purges must be broadcast anti-joins:\n$finalPlan")
    assert(!finalPlan.contains("SortMergeJoin"),
      "erasure must not shuffle the corpus side")
  }

  test("q160: prefix join is equi-only — no nested-loop fallback") {
    val plan = executedPlanString("q160_prefix_jaccard_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q161: version fan-out is map-side — no non-equi visibility join") {
    val plan = executedPlanString("q161_time_travel")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"))
    assert(!finalPlan.contains("CartesianProduct"))
    assert(finalPlan.contains("Generate explode"),
      "visibility must come from explode(sequence(ver, N))")
  }

  test("q48: native simhash keeps the signature stage map-only") {
    // The old explode+64-aggregate form shuffled a token-count frame;
    // with the native kernel the whole query is scan → project — no
    // Exchange may appear at all.
    val df = SparkEntry.queries("q48_simhash")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "simhash signature stage must not shuffle")
    assert(plan.contains("simhash_planes"))
  }

  test("pagerank round: rank join is never a compulsory broadcast") {
    // Round-5 scale hazard: the iterative-rank loops forced
    // broadcast(divided) on a NODE-sized frame — a hint AQE cannot
    // size-check away, so at tens of millions of vertices it hits the
    // driver/broadcast wall. With broadcasting disabled entirely
    // (threshold -1, both planner and AQE), any BroadcastHashJoin left
    // in the executed plan could only come from such a compulsory
    // hint. The rank side now carries shuffle_hash instead: the build
    // is per-partition-bounded and the plan must show ShuffledHashJoin.
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val edges = s2.range(100)
      .selectExpr("id % 20 AS src", "(id * 3 + 1) % 20 AS dst")
      .filter(col("src") =!= col("dst")).distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // Chain mode: the single round stays unpersisted, so the rank
    // join is visible in the plan, not hidden in an InMemoryRelation.
    val round = graft.operators.AnalyticsOps.pagerank(
      edges, deg, rounds = 1, checkpointEvery = 8,
      mode = graft.operators.GraphIter.Chain)
    round.collect() // finalize AQE
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "rank-side join must be a shuffled hash join under no-broadcast")
    assert(!plan.contains("BroadcastHashJoin"),
      "no compulsory broadcast may survive threshold -1")
  }

  test("q119/q256: results invariant under a no-broadcast policy") {
    // The full queries still run and return identical rows when every
    // broadcast is forbidden — i.e. no hint anywhere in their trees
    // REQUIRES a driver-sized build to be correct or to complete.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    for (q <- Seq("q119_pagerank", "q256_personalized_pagerank")) {
      val base = SparkEntry.queries(q)(spark, sf)
        .collect().map(_.toString).toSet
      val noBc = SparkEntry.queries(q)(s2, sf)
        .collect().map(_.toString).toSet
      assert(base == noBc, s"$q diverged under no-broadcast policy")
      assert(base.nonEmpty)
    }
  }

  test("q342: neighbor windows partition on _pid, never one global task") {
    // Round 7's sf1 run measured the old global Window.orderBy at 24.4×
    // for 10× data — the whole user frame through ONE task. The neighbor
    // reads now run in OrderedScan, whose result is a checkpointed frame,
    // so the final plan alone shows neither the scan's windows nor its
    // exchange: every plan q342 runs (the kernel's materializations
    // included) is read through a listener. No window may lack a
    // partition spec, no single-partition exchange may carry anything
    // but partial aggregates, and one plan range-partitions on the
    // (x, t, uid) order.
    import org.apache.spark.sql.catalyst.plans.physical.{
      RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.{
      QueryExecution, RangeExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Partial, PartialMerge}
    import org.apache.spark.sql.util.QueryExecutionListener
    val s2 = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    s2.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    SparkEntry.queries("q342_matching_att")(s2, sf).collect()
    // listener events arrive in order, so once this marker's plan is in,
    // so is every plan q342 ran
    s2.range(1).collect()
    val aqe = new AdaptiveSparkPlanHelper {}
    val deadline = System.nanoTime() + 60e9.toLong
    def all = plans.toArray(Array.empty[SparkPlan]).toSeq
    while (!all.exists(aqe.find(_)(_.isInstanceOf[RangeExec]).isDefined)
        && System.nanoTime() < deadline) Thread.sleep(50)
    val ops = all.flatMap(aqe.collect(_) { case op => op })
    assert(ops.exists(_.isInstanceOf[RangeExec]), "marker plan not seen")
    val globalWindows = ops.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWindows.isEmpty,
      s"window without a partition spec:\n${globalWindows.mkString("\n")}")
    def partialAgg(p: SparkPlan): Boolean = p match {
      case w: WholeStageCodegenExec => partialAgg(w.child)
      case a: BaseAggregateExec => a.aggregateExpressions
        .forall(e => e.mode == Partial || e.mode == PartialMerge)
      case _ => false
    }
    val funnels = ops.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition
        && !partialAgg(e.child) => e }
    assert(funnels.isEmpty,
      s"single-partition exchange over rows:\n${funnels.mkString("\n")}")
    val rangeKeys = ops.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning }.collect { case r: RangePartitioning =>
      r.ordering.flatMap(_.references.map(_.name)) }
    assert(rangeKeys.contains(Seq("x", "t", "uid")),
      s"expected a range exchange on (x, t, uid), saw $rangeKeys")
  }

  test("q217: no broadcast hint over the per-record names side") {
    // The name lookup holds one row per supplier, so it grows with the
    // corpus; a hint would force it into a broadcast whatever its size.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = SparkEntry.queries("q217_entity_resolution")(spark, sf)
    val hinted = df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.isDefined =>
        h.output.map(_.name)
    }
    assert(!hinted.exists(_.exists(_.endsWith("nm"))),
      s"broadcast hint over a names frame: $hinted")
    assert(df.count() > 0)
  }

  test("registerViews: full corpus + native functions reachable via spark.sql") {
    graft.Tables.registerViews(spark, sf)
    val r = spark.sql(
      """SELECT d.lang, count(*) AS n,
             round(max(array_dot(e.embedding, e.embedding)), 4) AS max_sq
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         GROUP BY d.lang ORDER BY d.lang""").collect()
    assert(r.nonEmpty && r.forall(_.getAs[Double]("max_sq") > 0))
  }
}

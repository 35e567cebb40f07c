package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Business and behavioural analytics over the orders, lineitem and
  * events tables: cohorts and retention, funnels and paths, baskets and
  * co-purchase rules, RFM, attribution, growth accounting, concentration
  * (Pareto, Gini, HHI) and the BI scorecards a product team reads.
  */
object AnalyticsOps extends QueryModule {
  private val NsPerWeek = 7L * 86400L * 1000L * 1000L * 1000L

  /** q119's round body, depth-parameterized and driven by
    * [[GraphIter.run]]: r' = 0.15e6 + floor(0.85 · Σ floor(r/deg))
    * over a symmetrized, materialized edge list. Iterations persist
    * LAZILY ([[GraphIter.Lazy]]): each hash-join build populates the
    * previous iteration's cache exactly once (builds are sequential,
    * so there is no multi-consumer race), and skipping per-iteration
    * count() actions drops scheduling round-trips — measured faster
    * than the eager variant at every scale probed. At real depth
    * GraphIter localCheckpoints every `checkpointEvery` rounds so the
    * plan stays O(1) and superseded round caches are released.
    *
    * The rank frame is NODE-sized, so it must never carry a
    * compulsory broadcast hint: at tens of millions of vertices a
    * forced broadcast bypasses AQE's size check and hits the
    * driver/broadcast-memory wall. Instead hint shuffle_hash on the
    * rank side — edges0 is already hash-partitioned on src from its
    * own build, so the shuffle is one-sided and the hash table built
    * per-partition is |V|/numPartitions rows, bounded on any
    * executor. The hint only forbids the driver-sized build path; it
    * does not force a shuffle where AQE would pick something better
    * on a genuinely tiny frame.
    */
  def pagerank(edges0: DataFrame, deg: DataFrame, rounds: Int,
      checkpointEvery: Int = 8,
      mode: GraphIter.Mode = GraphIter.Lazy): DataFrame = {
    val rank0 = deg.select(col("src").as("id"), lit(1000000L).as("r"))
    GraphIter.run(rank0, rounds, checkpointEvery, mode) {
      (rank, _) =>
        val divided = rank.join(deg, rank("id") === deg("src"))
          .select(col("src"), expr("r div deg").as("share"))
        edges0.join(divided.hint("shuffle_hash"), "src")
          .groupBy("dst").agg(sum("share").as("m"))
          .select(col("dst").as("id"),
            (lit(150000L) + expr("(m * 85) div 100")).as("r"))
    }
  }

  /** STRICT running max of `valueCol` over `orderCol`-DESCENDING order
    * (one input row per orderCol value): each output row's `out` is the
    * max over all rows with strictly larger orderCol, null for the
    * largest. Distributed with the two-phase pattern of
    * [[TextOps.orderedCumsum]]: range-partition descending, partition-
    * local inclusive running max shifted one row for strictness, plus
    * each partition's offset = max of all earlier (larger-value)
    * partitions' maxima, collected (one tiny row per partition) and
    * broadcast back. No single-partition window at any size.
    */
  private[graft] def strictPrefixMaxDesc(df: DataFrame, orderCol: String,
      valueCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranged = df
      .repartitionByRange(col(orderCol).desc)
      .sortWithinPartitions(col(orderCol).desc)
      .withColumn("_pid", spark_partition_id())
    val w = Window.partitionBy("_pid").orderBy(col(orderCol).desc)
    val withLocal = ranged
      .withColumn("_incl", max(col(valueCol)).over(w))
      .withColumn("_lag", lag(col("_incl"), 1).over(w))
    val totals = withLocal.groupBy("_pid")
      .agg(max(col(valueCol)).as("_total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // partition offset = running max of all EARLIER partitions' maxima
    // (earlier pid = larger orderCol range); None for the first.
    val offsets = totals.map(_._1).zip(
      totals.map(_._2).scanLeft(Option.empty[Long]) {
        (acc, t) => Some(acc.fold(t)(math.max(_, t)))
      })
    val spark = df.sparkSession
    import spark.implicits._
    val offsetDf = broadcast(
      offsets.toSeq.map { case (pid, o) => (pid, o) }
        .toDF("_pid", "_offset"))
    // greatest() ignores nulls: strict prefix = max(lagged local
    // inclusive max, earlier partitions' offset), null only for the
    // global first row.
    withLocal.join(offsetDf, Seq("_pid"), "left_outer")
      .withColumn(out, greatest(col("_lag"), col("_offset")))
      .drop("_pid", "_incl", "_lag", "_offset")
  }

  /** 7-day attribution window (ns). */
  private val AttrWindowNs = 604800000000000L

  val queries: Map[String, Q] = Map(
    // ---- q118: sparse cosine similarity via inverted index -------------
    // sparse-vector similarity over an inverted index (q118): the
    // lexical complement to the dense-embedding ANN family (q40/q49/
    // q83/q92) — candidates come from shared RARE terms, never from
    // an all-pairs product, so the pair stage is bounded by posting-
    // list size (the df cap), the standard trick for pairwise
    // similarity at web scale;
    // Dense-embedding near-dup (q84) misses lexical overlap when no
    // embedding exists; this is the term-space analogue. Terms are
    // 5-token shingles (raw tokens are useless here AND at web scale:
    // every word is common, so posting lists are quadratic to expand;
    // shingles are discriminative). Candidates: pairs sharing >= 2
    // RARE shingles (2 <= df <= 10) — common shingles generate no
    // candidates, rare ones have bounded posting lists, so the pair
    // stage is O(sum df^2 over rare shingles), never O(n^2). Verify:
    // exact set cosine |A∩B|/sqrt(|A||B|) over the FULL distinct-
    // shingle sets of candidates only, compared as the exact integer
    // (inter^2 * 1e6) div (|A|*|B|) — monotone in cosine, zero
    // floating point anywhere. The verify stage joins each candidate
    // pair to the two PACKED per-doc shingle arrays and intersects
    // in-task (round 7 measured the previous exploded form — cand ×
    // every a-side shingle re-joined on (b_id, sg) — at 17.1× for 10×
    // data: the exploded join shuffled |pairs|·|shingles/doc| rows on
    // two different keys; the packed form moves each doc's array once
    // per side and needs no per-pair groupBy at all).
    "q118_sparse_cosine" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
      val sh = materialized(docs.filter(size(col("tokens")) >= 5)
        .select(col("doc_id"), explode(expr(
          """array_distinct(transform(sequence(0, size(tokens) - 5),
             i -> concat_ws(' ',
                    element_at(tokens, i + 1), element_at(tokens, i + 2),
                    element_at(tokens, i + 3), element_at(tokens, i + 4),
                    element_at(tokens, i + 5))))""")).as("sg")))
      val rare = sh.groupBy("sg").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 10)).select("sg")
      val postings = sh.join(rare, "sg")
      // materialized: feeds the candidate-doc screen (twice, via the
      // union) AND the final verify join — unpersisted, the bounded
      // but not-free df^2 pair stage would run three times
      val cand = materialized(postings.as("a")
        .join(postings.as("b"),
          col("a.sg") === col("b.sg") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .select("a_id", "b_id"))
      // sg is distinct per doc (array_distinct above), so the packed
      // array IS the shingle set and its size the exact set size.
      // Packed arrays are built ONLY for docs that appear in a
      // candidate pair: the left-semi probe shuffles sh by doc_id —
      // the exact partitioning the groupBy needs anyway, so the screen
      // is free — and drops every non-candidate doc BEFORE the
      // corpus-sized collect_list and the two array-moving verify
      // joins (r09 measured 12.6x sf1 growth with whole-corpus arrs;
      // candidates are df<=10-bounded, so this side is output-sized).
      val candDocs = cand.select(col("a_id").as("doc_id"))
        .union(cand.select(col("b_id").as("doc_id"))).distinct()
      val arrs = sh.join(candDocs, Seq("doc_id"), "left_semi")
        .groupBy("doc_id")
        .agg(collect_list(col("sg")).as("arr"))
      cand
        .join(arrs.select(col("doc_id").as("a_id"),
          col("arr").as("a_arr")), "a_id")
        .join(arrs.select(col("doc_id").as("b_id"),
          col("arr").as("b_arr")), "b_id")
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("a_arr"), col("b_arr")))
            .cast("long").as("inter"),
          size(col("a_arr")).cast("long").as("na"),
          size(col("b_arr")).cast("long").as("nb"))
        .withColumn("cos2_micro",
          expr("(inter * inter * 1000000L) div (na * nb)"))
        .filter(col("cos2_micro") >= 250000L)
        .select("a_id", "b_id", "inter", "cos2_micro")
    }),

    // ---- q119: fixed-iteration integer PageRank ------------------------
    // iterative graph ranking (q119): fixed-iteration PageRank in
    // pure integer arithmetic — each round is one join + one
    // aggregation shuffled by node key, the same loop shape a
    // 1000-executor web-graph rank runs (domain authority is a
    // classic pretraining-corpus quality signal);
    // Customer<->supplier trade graph (distinct edges from
    // lineitem |x| orders, symmetrized). Rank in integer micro-units:
    // r0 = 1e6; r' = 0.15e6 + floor(0.85 * sum(floor(r/deg))). Three
    // rounds, each one broadcast-able deg join + one shuffle on the
    // destination node — the plan a web-scale rank uses (per-iteration
    // checkpoint/persist replaces lineage growth at real depth; three
    // unrolled rounds keep the oracle expressible). All arithmetic is
    // integer division on positives, so Spark and DuckDB agree bit-
    // for-bit. Top-20 by rank with deterministic tie-break.
    "q119_pagerank" -> ((s, d) => {
      // Nodes are LONGS end-to-end — customer 2k, supplier 2k+1 — so
      // every distinct/join/shuffle moves 8-byte keys; the 'c…'/'s…'
      // labels are synthesized only for the final 20 rows. (String
      // node ids measured ~30% slower over the whole loop.)
      val eo = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // Pre-join deg onto the edge list once and cache THAT: each
      // iteration then only touches (src, dst, deg), so the loop has
      // no duplicated subtrees — without this, iteration k's plan
      // nests k copies of the edge+deg subtree whose broadcast stages
      // race to recompute shared intermediates (measured 10-20×
      // slower and wildly erratic even at sf0.01). Each iteration is
      // Symmetrize with one explode instead of union(eo, eo.swap):
      // the un-cached join+distinct subtree is evaluated once, not
      // twice. Only the two genuinely shared bases (edge list and
      // degrees) are eagerly materialized; the per-node degree stays
      // on the TINY rank side of each iteration (rank ⋈ deg, then
      // broadcast) instead of being denormalized onto 2|E| edge rows
      // — the old edges⋈deg materialization moved the full edge list
      // through an extra shuffle+cache for a value the broadcast
      // carries for free (measured ~15% of the query).
      // half-size eo is the cached frame; the symmetrized edge list is
      // a map-only projection of it per consumer (caching post-explode
      // re-plans the join+distinct subtree once per explode branch
      // inside the InMemoryRelation — the round-7 q194 plan audit
      // caught lineitem⋈orders running twice; same fix here)
      val eoM = materialized(eo)
      val edges0 = eoM
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val deg = materialized(
        edges0.groupBy("src").agg(count(lit(1)).as("deg")))
      pagerank(edges0, deg, rounds = 3)
        .orderBy(col("r").desc, col("id").asc).limit(20)
        .select(concat(
          when(col("id") % 2 === 0, lit("c")).otherwise(lit("s")),
          expr("id div 2")).as("id"), col("r"))
    }),

    // ---- q120: cohort retention matrix ---------------------------------
    // cohort retention (q120) and ordered funnels (q121) over the
    // event stream: the two canonical product-analytics shapes, both
    // expressed so every shuffle lands on `user_id` and co-partitions
    // across stages;
    // Users bucketed by first-seen week; each later active week counts
    // toward (cohort_week, weeks_since) — the standard retention
    // triangle. Two shuffles, both on user_id (dedup + cohort agg);
    // the final matrix is at most cohorts x horizon, tiny at any data
    // size. Week index = integer ns-epoch division, engine-exact.
    "q120_cohort_retention" -> ((s, d) => {
      val ev = materialized(table(s, d, "events")
        .select(col("user_id"), expr(s"ts div $NsPerWeek").as("wk"))
        .distinct())
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"),
          (col("wk") - col("cohort_wk")).as("wk_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // ---- q121: ordered funnel (view -> click -> purchase) --------------
    // Strictly-ordered event sequences per user: first view, first
    // click AFTER that view, first purchase AFTER that click. Three
    // conditional min-aggregations, every one keyed on user_id so the
    // stage joins co-partition; timestamps compared as exact ns longs.
    // Output is the 3-row funnel with completion counts (monotone by
    // construction — asserted in AnalyticsSpec).
    "q121_funnel_steps" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      v.agg(count(lit(1)).as("n_users"))
        .select(lit("1_view").as("stage"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
    }),

    // ---- q122: semi-structured JSON payload extraction ------------------
    // semi-structured extraction (q122): JSON payload fields pulled
    // with `get_json_object` straight into a relational aggregate —
    // no UDF, stays inside whole-stage codegen;
    // The props column is a JSON document; get_json_object pulls the
    // field inside codegen (no UDF, no driver parse), and the result
    // feeds an ordinary relational aggregate — schema-on-read over an
    // opaque payload column, entirely map-side until the final group.
    "q122_json_extract" -> ((s, d) => {
      table(s, d, "events")
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"), expr("k div 10").as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
    }),

    // ---- q123: corpus snapshot diff (data versioning) -------------------
    // corpus snapshot diff (q123): content-hash full-outer diff
    // (added/removed/changed/unchanged), the data-versioning audit a
    // training corpus needs between crawl refreshes;
    // Two corpus versions diffed by content hash in one full-outer
    // join on the stable doc key: added / removed / changed /
    // unchanged. Here v1/v2 are deterministic slices of the documents
    // table (v1 lacks doc_id % 17 == 0 and has pre-edit text for
    // doc_id % 13 == 0; v2 lacks doc_id % 19 == 0) — the operator is
    // the diff itself, which at 100 TB is a single co-partitioned
    // full-outer join on doc_id with map-side hashing, no text ever
    // shuffled (hashes only).
    "q123_snapshot_diff" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val v1 = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 13 === 0,
            substring(col("text"), 1, 10))
            .otherwise(col("text"))).as("h1"))
      val v2 = docs.filter(col("doc_id") % 19 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") === col("h2"), "unchanged")
            .otherwise("changed"))
        .groupBy("status").agg(count(lit(1)).as("n"))
    }),

    // ---- q125: binned range join (point-in-interval) --------------------
    // Naive `p.ts BETWEEN i.start AND i.end` joins plan as a nested-
    // loop product — O(points × intervals), dead at scale. The binned
    // form maps each interval onto the fixed-width time bins it
    // covers (explode) and each point onto its single containing bin,
    // turning the range join into a hash EQUI-join on bin id + an
    // exact residual filter. Pair work is bounded by points-per-bin ×
    // intervals-per-bin; a point lives in exactly one bin so no
    // dedup step is needed. Works big-big (shuffle hash on bin) —
    // here the 25-interval side broadcasts, same plan shape.
    // Intervals: 25 deterministic campaign windows derived from
    // nation (stride 90 d, width 20-140 d — widths exceed the stride
    // so windows overlap and some orders match several). All times
    // compared as epoch-millis longs, engine-exact.
    "q125_range_join" -> ((s, d) => {
      val dayMs = 86400000L
      val base = 788918400000L // 1995-01-01 UTC
      val bin = 30L * dayMs
      val win = table(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("w_id"))
        .withColumn("start_ms", lit(base) + col("w_id") * (90L * dayMs))
        .withColumn("end_ms",
          col("start_ms") + (col("w_id") % 7 + 1) * (20L * dayMs))
      val binned = win.select(col("w_id"), col("start_ms"), col("end_ms"),
        explode(sequence(expr(s"start_ms div ${bin}L"),
          expr(s"end_ms div ${bin}L"))).as("bin"))
      table(s, d, "orders")
        // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so
        // the cast matches DuckDB's naive-timestamp epoch_ms exactly.
        .select(unix_millis(col("o_orderdate").cast("timestamp")).as("o_ms"),
          col("o_totalprice"))
        .withColumn("bin", expr(s"o_ms div ${bin}L"))
        .join(binned, "bin")
        .filter(col("o_ms").between(col("start_ms"), col("end_ms")))
        .groupBy("w_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice")).cast("long")).as("sum_price"))
    }),

    // ---- q126: 2-D Pareto frontier (skyline) ----------------------------
    // Curation wants the set of documents not dominated on (length,
    // lexical diversity): doc p survives iff no q has x>=x_p AND
    // y>=y_p with one strict. The naive form is an O(n²) NOT EXISTS
    // self-join; the distributed form reduces per x-group first
    // (groupBy x -> max y, one shuffle), then takes a STRICT running
    // max over x-descending groups with the two-phase prefix pattern
    // (range partition + partition-local window + broadcast partition
    // maxima — no single-partition window, same trick as
    // TextOps.orderedCumsum), and joins the tiny frontier test back.
    // A point survives iff y == its group max AND y > every group max
    // at strictly larger x. Work: one shuffle over points, one range
    // shuffle over DISTINCT x values, one join back on x.
    "q126_pareto_frontier" -> ((s, d) => {
      val pts = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("x"),
          size(array_distinct(col("tokens"))).cast("long").as("y"))
      val grp = pts.groupBy("x").agg(max("y").as("gy"))
      val strictMax = strictPrefixMaxDesc(grp, "x", "gy", "sy")
      pts.join(broadcast(strictMax), "x")
        .filter(col("y") === col("gy") &&
          (col("sy").isNull || col("y") > col("sy")))
        .select("doc_id", "x", "y")
    }),

    // ---- q127: Z-order (Morton) clustering layout -----------------------
    // The 100 TB data-skipping layout: interleave the bits of two
    // bucketed dimensions into one Morton code, range-partition /
    // sort files by it, and every file covers a NARROW range of BOTH
    // dimensions — min/max footer pruning then works for predicates
    // on either column, which a single-column sort gives only for the
    // leading column. Here: lineitem bucketed 12 bits on part key and
    // 12 bits on ship-date day, spread/interleaved with the classic
    // shift-and-mask ladder (pure long arithmetic, bit-identical in
    // any engine), then per-4096-code chunk (≈ a file) min/max spans
    // of BOTH dims — the direct measure of pruning quality a layout
    // optimizer would inspect.
    "q127_zorder" -> ((s, d) => {
      def spread(c: Column): Column = {
        // 16-bit value -> even bit positions of a 32-bit lane
        val a = bitwise_and(c.bitwiseOR(shiftleft(c, 8)), lit(0x00FF00FFL))
        val b = bitwise_and(a.bitwiseOR(shiftleft(a, 4)), lit(0x0F0F0F0FL))
        val e = bitwise_and(b.bitwiseOR(shiftleft(b, 2)), lit(0x33333333L))
        bitwise_and(e.bitwiseOR(shiftleft(e, 1)), lit(0x55555555L))
      }
      def bitwise_and(a: Column, b: Column): Column = a.bitwiseAND(b)
      table(s, d, "lineitem")
        .select(col("l_partkey"),
          expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
            .as("day"))
        .withColumn("xb", pmod(col("l_partkey"), lit(4096)).cast("long"))
        .withColumn("yb", pmod(col("day"), lit(4096)))
        .withColumn("z",
          spread(col("xb")).bitwiseOR(shiftleft(spread(col("yb")), 1)))
        .groupBy(expr("z div 4096").as("chunk"))
        .agg(count(lit(1)).as("n"),
          min("xb").as("x_min"), max("xb").as("x_max"),
          min("yb").as("y_min"), max("yb").as("y_max"))
    }),

    // ---- q128: token-entropy quality score ------------------------------
    // Shannon entropy of each document's token distribution — the
    // information-theoretic boilerplate signal (low entropy = repeated
    // filler, the thing repetition q90 approximates lexically). Each
    // token's term -(c/n)·ln(c/n) is floored to integer micro-nats
    // INDIVIDUALLY and the integers summed (the q99 recipe), so the
    // result is independent of summation order — stable under any
    // partitioning, bit-equal across engines evaluating the same IEEE
    // expression tree. One (doc, token) shuffle with map-side combine
    // (per-doc vocab bounded), one per-doc merge.
    "q128_token_entropy" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      val counts = docs.groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("c"))
      val n = counts.groupBy("doc_id").agg(sum("c").as("n"))
      counts.join(n, "doc_id")
        .withColumn("term_micro",
          floor(lit(-1e6) * (col("c").cast("double") / col("n")) *
            log(col("c").cast("double") / col("n"))).cast("long"))
        .groupBy("doc_id")
        .agg(max("n").as("n_tokens"),
          sum("term_micro").as("entropy_micro"))
    }),

    // ---- q124: PMI collocations (phrase mining) -------------------------
    // PMI collocations (q124): phrase mining for tokenizer/vocab
    // construction — integer micro-nat scores (the q99/q109 trick) so
    // cross-engine sums and orderings are bit-exact.
    // pmi(a,b) = ln( p(ab) / (p(a) p(b)) ) over adjacent-token bigrams,
    // floored to integer micro-nats (exactly the q99/q109 recipe: both
    // engines evaluate the same IEEE expression tree, so the floor is
    // bit-identical). One token shuffle for unigrams, one bigram
    // shuffle, corpus totals broadcast back as scalars. min-count 5
    // keeps the tail stable; top-25 with full deterministic tie-break.
    "q124_collocations" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
      val uni = materialized(docs
        .select(explode(col("tokens")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")))
      val totalU = uni.agg(sum("cnt").as("tu"))
      val bi = docs.filter(size(col("tokens")) >= 2)
        .select(explode(expr(
          """transform(sequence(0, size(tokens) - 2),
             i -> struct(element_at(tokens, i + 1) AS a,
                         element_at(tokens, i + 2) AS b))""")).as("p"))
        .select(col("p.a"), col("p.b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      val totalB = docs
        .select((greatest(size(col("tokens")) - 1, lit(0)))
          .cast("long").as("nb"))
        .agg(sum("nb").as("tb"))
      bi
        .join(broadcast(uni.select(col("tok").as("a"),
          col("cnt").as("ca"))), "a")
        .join(broadcast(uni.select(col("tok").as("b"),
          col("cnt").as("cb"))), "b")
        .crossJoin(broadcast(totalU))
        .crossJoin(broadcast(totalB))
        .withColumn("pmi_micro",
          floor(log(
            (col("cab").cast("double") * col("tu") * col("tu")) /
              ((col("tb").cast("double") * col("ca")) * col("cb")))
            * 1e6).cast("long"))
        .select("a", "b", "cab", "pmi_micro")
        .orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc)
        .limit(25)
    }),

    // ---- q152: SCD2 history from two corpus snapshots ------------------
    // The lakehouse merge a refreshing 100 TB corpus runs on every
    // crawl: derive slowly-changing-dimension type-2 rows (validity
    // interval + current flag, keyed by content hash) from an
    // old/new snapshot pair in ONE full-outer join on the natural
    // key. Unchanged docs keep their open v1 row; changed docs close
    // v1 at batch 2 and open a current v2; deletes close v1; inserts
    // open at batch 2 — the union reads the joined frame twice, so
    // it is persisted and eagerly populated once. Snapshots are
    // carved deterministically from `documents` (old = id%10<9,
    // new = id%11≠5 with id%7=0 rewritten), so both engines see
    // identical batches without any side input.
    "q152_scd2_history" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val old = docs.filter(pmod(col("doc_id"), lit(10)) < 9)
        .select(col("doc_id"), md5(col("text")).as("oh"))
      val neu = docs.filter(pmod(col("doc_id"), lit(11)) =!= 5)
        .select(col("doc_id"), md5(concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(" rev2"))
            .otherwise(lit("")))).as("nh"))
      val j = old.join(neu, Seq("doc_id"), "full_outer")
        .withColumn("changed",
          col("oh").isNotNull && col("nh").isNotNull &&
            col("oh") =!= col("nh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      j.count()
      val closedOrOpen = j.filter(col("oh").isNotNull).select(
        col("doc_id"), col("oh").as("content_v"),
        lit(1).as("valid_from"),
        when(col("changed") || col("nh").isNull, lit(2))
          .otherwise(lit(null).cast("int")).as("valid_to"),
        (!(col("changed") || col("nh").isNull)).as("is_current"))
      val opened = j
        .filter(col("nh").isNotNull && (col("oh").isNull || col("changed")))
        .select(col("doc_id"), col("nh").as("content_v"),
          lit(2).as("valid_from"), lit(null).cast("int").as("valid_to"),
          lit(true).as("is_current"))
      closedOrOpen.unionAll(opened)
    }),

    // ---- q205: linear multi-touch attribution --------------------------
    // q205 linear multi-touch attribution: every click within 7 days
    // of a purchase shares the credit equally (integer cents split) —
    // completes the attribution family: last-touch backward as-of
    // (q70/q114), next-touch forward as-of (q201), multi-touch here.
    // Every click in the 7 days before a purchase shares the purchase
    // value equally (integer cents div — deterministic, no float
    // credit). One equi-join on user_id with the range predicate as a
    // post-join filter (at warehouse scale: co-partition both sides on
    // (user, time-bucket) — same refinement as the bounded as-of), one
    // per-purchase window for the touch count, one grouped sum per
    // click.
    "q205_linear_attribution" -> ((s, d) => {
      val ev = table(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("pt"),
          floor(col("value") * 100).cast("long").as("cents"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("ct"))
      p.join(c, Seq("user_id"))
        .filter(col("ct") > col("pt") - lit(AttrWindowNs) &&
          col("ct") <= col("pt"))
        .withColumn("n_touch",
          count(lit(1)).over(Window.partitionBy("purchase_id")))
        .groupBy("click_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(expr("cents div n_touch")).as("credited_cents"))
    }),

    // ---- q221: event-transition (Markov) matrix ------------------------
    // q221 event-transition (Markov) matrix: per-user next-event
    // bigram counts and per-source-state transition ppm — the
    // sufficient statistic a next-event model trains on.
    // Per-user event sequences (ordered by canonical ns time with
    // event_id as the unique tie-break) → next-event bigram counts →
    // per-source-state transition probability in integer ppm. One
    // user-keyed window shuffle + one (state, next) aggregation; the
    // ppm normalization windows over ≤ |event_type|² rows. The
    // transition matrix is tiny at any corpus size — the cost is the
    // one pass over events, which is the floor.
    "q221_event_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("ppm",
          expr("n * 1000000L div sum(n) over (partition by event_type)"))
    }),

    // ---- q242: frequent co-purchase pairs + lift -----------------------
    // q242 frequent co-purchase pairs (A-priori 2-itemsets): support
    // and lift for part pairs co-occurring in orders — the
    // market-basket shape, with the A-priori pruning step that makes
    // it survive corpus scale.
    // A-priori 2-itemsets, restructured so the scan is folded into ONE
    // basket shuffle: baskets come straight from groupBy(ord) with
    // array_distinct (no separate whole-corpus DISTINCT shuffle), item
    // frequencies come from exploding the persisted baskets (map-side
    // combinable — near-free), and the frequent-endpoint rule is
    // enforced by the final INNER joins to freq, which drop exactly the
    // pairs a basket-side pre-filter would have kept out (support >= 2
    // already implies n >= 2, so only the n == 2 endpoints differ and
    // the joins remove them) — measured 30.1 -> 6.7 s at sf1, the
    // removed DISTINCT + freq-join re-shuffles of the 60M-row fact
    // being the whole difference. Per-basket pair explosion stays
    // bounded by basket size choose 2 (the oracle runs the same
    // basket self-join relationally). Lift in integer ppm:
    // support·N·1e6 div (n_a·n_b).
    "q242_copurchase_pairs" -> ((s, d) => {
      val baskets0 = table(s, d, "lineitem")
        .select(col("l_orderkey").as("ord"), col("l_partkey").as("part"))
        .groupBy("ord")
        .agg(sort_array(array_distinct(collect_list(col("part"))))
          .as("items"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val freq = baskets0
        .select(explode(col("items")).as("part"))
        .groupBy("part").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
      val baskets = baskets0.filter(size(col("items")) >= 2)
      // Pairs travel as ONE packed long (a << 32 | b), not a 2-field
      // struct: at sf1 the pair stage shuffles ~90M rows that are
      // almost all support-1 (map-side combine can't reduce them), so
      // per-row width is the whole cost — the packed key roughly
      // halves shuffle bytes and hashes/compares as a primitive.
      // Sorted baskets keep a < b, so the packing is order-preserving;
      // PackedPairs guards the <2^31 key-space assumption per basket.
      val pairs = baskets
        .select(explode(PackedPairs.packedUpperPairs("items")).as("pk"))
        .groupBy("pk")
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .select(expr("pk div 4294967296L").as("part_a"),
          expr("pk % 4294967296L").as("part_b"), col("support"))
      val tot = baskets0.agg(count(lit(1)).as("n_orders"))
      pairs
        .join(freq.select(col("part").as("part_a"), col("n").as("n_a")),
          "part_a")
        .join(freq.select(col("part").as("part_b"), col("n").as("n_b")),
          "part_b")
        .crossJoin(broadcast(tot))
        .select(col("part_a"), col("part_b"), col("support"),
          col("n_a"), col("n_b"),
          expr("support * n_orders * 1000000L div (n_a * n_b)")
            .as("lift_ppm"))
    }),

    // ---- q244: RFM customer features -----------------------------------
    // q244 RFM customer features: recency / frequency / monetary per
    // customer with 0–4 value-bucket scores and the composite RFM
    // code — the canonical feature-store table a churn or LTV model
    // trains on.
    // One orders scan → per-customer rollup (max day, order count,
    // DECIMAL(18,2) money sum → exact cents). Scores are value buckets
    // from 1-row scalar maxima (the q226 binning recipe — rank
    // quintiles would need the q232 percentile machinery; value
    // buckets are the deterministic, broadcast-only form), recency
    // inverted so recent customers score high. The whole feature
    // build is one shuffle keyed on the customer — the feature-store
    // write shape.
    "q244_rfm_features" -> ((s, d) => {
      val per = table(s, d, "orders")
        .select(col("o_custkey").as("customer"),
          expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))" +
            " div 86400000").as("day"),
          col("o_totalprice"))
        .groupBy("customer")
        .agg(max("day").as("last_day"), count(lit(1)).as("f_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("m_dec"))
        .select(col("customer"), col("last_day"), col("f_orders"),
          (col("m_dec") * 100).cast("long").as("m_cents"))
      // max(r_days) == max_day - min(last_day): one scalar frame
      // carries every bucket width.
      val mx = per.agg(max("last_day").as("max_day"),
        min("last_day").as("min_day"),
        max("f_orders").as("max_f"), max("m_cents").as("max_m"))
      per.crossJoin(broadcast(mx))
        .withColumn("r_days", expr("max_day - last_day"))
        .withColumn("max_r", expr("max_day - min_day"))
        .select(col("customer"), col("r_days"), col("f_orders"),
          col("m_cents"),
          expr("4 - (r_days div (max_r div 5 + 1))").as("r_score"),
          expr("f_orders div (max_f div 5 + 1)").as("f_score"),
          expr("m_cents div (max_m div 5 + 1)").as("m_score"))
        .withColumn("rfm_code",
          expr("r_score * 100 + f_score * 10 + m_score"))
    }),

    // ---- q247: Pareto head per nation -----------------------------------
    // q247 Pareto (80/20) revenue concentration per nation: the
    // smallest supplier head that covers 80% of the nation's revenue
    // — the concentration readout behind vendor-risk and
    // dedup-payoff decisions, in exact integer cents/ppm.
    // Revenue per supplier (DECIMAL(18,2) sum → exact cents, one
    // supplier-keyed shuffle), then per-NATION windows: rank by
    // revenue desc (s_suppkey tie-break) and a strictly-before
    // cumulative. A supplier is in the head while the revenue BEFORE
    // it is under 80% of the nation total — the smallest covering
    // head by construction. Both windows partition on the nation, so
    // concentration for a thousand nations runs fully parallel; the
    // per-nation frame is supplier-count sized.
    "q247_pareto_heads" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .join(table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").cast("long").as("nation"),
          col("s_suppkey"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
      val order = Window.partitionBy("nation")
        .orderBy(col("cents").desc, col("s_suppkey").asc)
      val before = order.rowsBetween(Window.unboundedPreceding, -1)
      val tot = Window.partitionBy("nation")
      rev
        .withColumn("cum_before", coalesce(sum("cents").over(before),
          lit(0L)))
        .withColumn("n_total", sum("cents").over(tot))
        .withColumn("in_head",
          expr("CASE WHEN cum_before * 1000000L div n_total < 800000" +
            " THEN 1L ELSE 0L END"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_suppliers"),
          sum("in_head").as("n_head"),
          expr("sum(CASE WHEN in_head = 1 THEN cents ELSE 0 END)" +
            " * 1000000L div sum(cents)").as("head_share_ppm"),
          sum("cents").as("total_cents"))
    }),

    // ---- q252: sequential rules (3-gram support + confidence) ----------
    // q252 sequential rule mining: contiguous event 3-gram support and
    // rule confidence ("a then b → c"), the PrefixSpan-lite order-2
    // extension of q133's first-order transition matrix.
    // ONE user-keyed window shuffle (co-partitioned with every other
    // per-user stage) produces both lookahead columns; the (a,b,c)
    // rollup — |types|²·(|types|+1) rows at most — carries the 2-gram
    // occurrence totals as a window over that tiny frame (c IS NULL
    // rows exist precisely to complete n_ab without a second corpus
    // pass). Support is distinct users, confidence is occurrences of
    // a>b>c over occurrences of a>b in ppm — the sequence-rule version
    // of association confidence.
    "q252_seq_rules" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val seq = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("a"))
        .withColumn("b", lead(col("a"), 1).over(w))
        .withColumn("c", lead(col("a"), 2).over(w))
      val g = seq.filter(col("b").isNotNull)
        .groupBy("a", "b", "c")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct("user_id").as("n_users"))
      val wAb = Window.partitionBy("a", "b")
      g.withColumn("n_ab", sum("n_occ").over(wAb))
        .filter(col("c").isNotNull)
        .select(concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
          col("n_users"), col("n_occ"),
          expr("n_occ * 1000000 div n_ab").as("conf_ppm"))
    }),

    // Inequality measurement.
    //
    // q279 per-nation Gini coefficient of customer order spend — the
    // standard single-number concentration metric (data-mixture skew,
    // revenue concentration, token-ownership inequality all reduce to
    // it), exact in integer ppm via the rank formulation
    // G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx).

    // ---- q279: Gini coefficient by nation -------------------------------
    // The corpus reduces to per-customer cents FIRST (one fact
    // shuffle); the rank window then partitions on the nation over
    // customer-count-sized frames (q134's per-group rank shape; the
    // two-phase distributed rank replaces it at planetary customer
    // counts). All integer arithmetic — numerator and denominator are
    // exact, gini_ppm is one floor division. Ties rank by (cents,
    // custkey), which leaves the SUM Σi·x_(i) invariant across any
    // tie permutation of equal x values.
    "q279_gini_by_nation" -> ((s, d) => {
      val perCust = table(s, d, "orders")
        .join(broadcast(table(s, d, "customer")
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(floor(sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
          .cast("long").as("cents"))
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("cents"), col("c_custkey"))
      perCust.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"),
          sum("cents").as("total_cents"),
          sum(expr("i * cents")).as("ranked_sum"))
        .join(broadcast(table(s, d, "nation")
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_customers"), col("total_cents"),
          // divide by n FIRST: numerator·1e6 overflows long at sf0.1
          // already. The numerator is ≥ 0 (sorted-rank identity), so
          // Spark's truncating div and DuckDB's floor // agree; the
          // staged division costs < 1 ppm. (At planetary n·cents,
          // move the whole expression to DECIMAL(38).)
          expr("""((2 * ranked_sum - (n_customers + 1) * total_cents)
                  div n_customers) * 1000000 div total_cents""")
            .as("gini_ppm"))
    }),

    // Cohort lifetime value.
    //
    // q281 the LTV curve: cumulative revenue per user-age week within
    // each first-seen cohort — q120's retention triangle with exact
    // cents value instead of user counts, the number a data-acquisition
    // decision actually prices against.

    // ---- q281: cohort LTV curve ----------------------------------------
    // Two user-keyed stages (cohort assignment + join back — both
    // hash on user_id, co-partitioned with every other per-user
    // stage), a (cohort, age) rollup, and the cumulative window over
    // the cohorts×horizon triangle — calendar-bounded, never
    // corpus-sized. All cents integer-exact; ltv_per_user_cents
    // divides by the cohort's user count (floor) for the comparable
    // curve.
    "q281_cohort_ltv" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), expr(s"ts div ${NsPerWeek}L").as("wk"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val cohort = ev.groupBy("user_id")
        .agg(min("wk").as("cohort_wk"))
      val sizes = cohort.groupBy("cohort_wk")
        .agg(count(lit(1)).as("n_users"))
      val cell = ev.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
        .agg(sum("cents").as("cents"))
      val wCum = Window.partitionBy("cohort_wk").orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cell.withColumn("cum_cents", sum("cents").over(wCum))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk"), col("age_wk"), col("n_users"),
          col("cents"), col("cum_cents"),
          expr("cum_cents div n_users").as("ltv_per_user_cents"))
    }),

    // ---- q289: step-layered funnel transitions (Sankey feed) ----------
    // q289 step-layered funnel transitions (the Sankey-diagram feed):
    // q221's transition counts resolved BY JOURNEY POSITION, so
    // step-1→2 behavior is distinguishable from step-4→5 behavior.
    // Each user's first 6 events (ts order, event_id tie-break) form
    // the journey prefix; transitions are counted per (step, from,
    // to), with per-step shares in floored ppm. One shuffle on
    // user_id for the per-user window (journey prefixes are bounded
    // by the step cap, so the window never sorts unbounded history —
    // the rank-1-of-6 cut is applied inside the same window pass),
    // then a tiny (step × types²) aggregate.
    "q289_funnel_sankey" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("step", row_number().over(w).cast("long"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("step") <= 5 && col("next_type").isNotNull)
        .groupBy(col("step"), col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("step_ppm",
          expr("n * 1000000 div sum(n) OVER (PARTITION BY step)")
            .cast("long"))
    }),

    // Sequence-pattern detection and survival analysis —
    // the CEP and churn-statistics shapes missing from the behavioral
    // family (funnels q121/q145, journeys q142, transitions q221/q289).

    // ---- q300: negative sequence pattern with a deadline ---------------
    // q300 cart-abandonment CEP: "a view with NO purchase by the same
    // user within 24 hours" — the MATCH_RECOGNIZE-style negative
    // pattern with a time bound, expressed as an anti range join.
    // views ANTI-JOIN purchases on (same user, purchase in (t, t+24h]):
    // an equi join on user_id with the time window as the join
    // residual — Spark plans the anti as one shuffle on user_id with
    // per-user merge, never a cartesian (user histories bound the
    // pair work, and the executed plan has no BNLJ). The same shape
    // expresses any "A not followed by B within d" CEP rule. Output:
    // per event-time day, views, abandoned views, and the abandonment
    // rate in floored ppm.
    "q300_cart_abandonment" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_uid"), col("ts").as("v_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("ts").as("p_ts"))
      val abandoned = views.join(purchases,
        col("v_uid") === col("p_uid") &&
          col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + lit(24L * 3600 * 1000000000L),
        "left_anti")
      val vByDay = views
        .groupBy(expr(s"v_ts div $NsPerDay").as("day"))
        .agg(count(lit(1)).as("n_views"))
      val aByDay = abandoned
        .groupBy(expr(s"v_ts div $NsPerDay").as("day"))
        .agg(count(lit(1)).as("n_abandoned"))
      vByDay.join(aByDay, Seq("day"), "left_outer")
        .na.fill(0L, Seq("n_abandoned"))
        .withColumn("abandoned_ppm",
          expr("n_abandoned * 1000000 div n_views"))
    }),

    // ---- q301: Nelson–Aalen cumulative churn hazard --------------------
    // q301 Nelson–Aalen cumulative churn hazard: the right-censored
    // survival estimator over user lifetimes (Kaplan–Meier's product
    // needs floats; the Nelson–Aalen SUM of d/n is exact in integer
    // ppm — same statistical content, engine-portable).
    // A user's lifetime ends on their last-seen day; users whose last
    // day is the corpus maximum are right-CENSORED (still alive), the
    // survival-analysis discipline naive churn rates ignore. Risk set
    // n_t = users whose last day ≥ t (a suffix count over the tiny
    // last-day histogram); churners d_t = users whose (uncensored)
    // last day = t. Per-day hazard d_t/n_t and its running sum, both
    // in floored ppm — every term non-negative, so truncating div ==
    // floor in both engines. Work: one per-user max shuffle + windows
    // over the day-domain frame (≤ corpus days, never rows).
    "q301_nelson_aalen_churn" -> ((s, d) => {
      val lastDay = table(s, d, "events")
        .groupBy("user_id")
        .agg(expr(s"max(ts div $NsPerDay)").as("last_day"))
      val mx = lastDay.agg(max("last_day").as("dmax"),
        count(lit(1)).as("n_users"))
      val byDay = lastDay.groupBy("last_day")
        .agg(count(lit(1)).as("n_ending"))
      val wCum = Window.orderBy("last_day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wH = Window.orderBy("last_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay.crossJoin(broadcast(mx))
        .withColumn("ended_before",
          coalesce(sum("n_ending").over(wCum), lit(0L)))
        .withColumn("n_at_risk", col("n_users") - col("ended_before"))
        .withColumn("n_churned",
          when(col("last_day") < col("dmax"), col("n_ending"))
            .otherwise(0L))
        .withColumn("hazard_ppm",
          expr("n_churned * 1000000 div n_at_risk"))
        .withColumn("cum_hazard_ppm", sum("hazard_ppm").over(wH))
        .select(col("last_day").as("day"), col("n_at_risk"),
          col("n_churned"), col("hazard_ppm"), col("cum_hazard_ppm"))
    }),

    // Market-basket association rules — the classic
    // co-occurrence mining workload (support / confidence / lift for the
    // strongest item pairs). The pair stage explodes WITHIN each basket
    // only, so its output is Σ C(|basket|,2) — bounded by the basket-size
    // cap (TPC-H: ≤ 7 lines), never |items|² — which is exactly why
    // basket mining scales where naive item-item similarity doesn't.

    // ---- q324: association rules over order baskets --------------------
    // Baskets are built in ONE shuffle — groupBy(order) with
    // array_distinct folds the whole-corpus DISTINCT into the same
    // exchange — then pair co-occurrence explodes each sorted basket's
    // C(k,2) pairs as PACKED longs (a << 32 | b: order-preserving, so
    // the (count desc, p1, p2) top-20 is (count desc, pk) on the packed
    // key) straight into one grouped count + TakeOrdered. The previous
    // basket self-join re-shuffled the 60M-row fact twice and paid
    // struct-keyed aggregation on ~90M support-1 pairs — measured
    // 15.4 -> 6.4 s at sf1. Rule metrics in exact ppm: support, both
    // confidence directions, lift = n·pair·1e6 div (c1·c2); item-count
    // joins on the pair frame are 20-row lookups at serve time.
    "q324_basket_association_rules" -> ((s, d) => {
      // persisted: the basket frame feeds three consumers (basket
      // count, item counts, pair explosion) — without it each subtree
      // re-runs the fact scan + basket build.
      val baskets = table(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok")
        .agg(sort_array(array_distinct(collect_list(col("pk"))))
          .as("items"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nB = baskets.agg(count(lit(1)).as("n_baskets"))
      val cnt = baskets.select(explode(col("items")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("c"))
      val pairs = baskets.filter(size(col("items")) >= 2)
        .select(explode(PackedPairs.packedUpperPairs("items")).as("pp"))
        .groupBy("pp").agg(count(lit(1)).as("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("pp"))
        .limit(20)
        .select(expr("pp div 4294967296L").as("p1"),
          expr("pp % 4294967296L").as("p2"), col("pair_cnt"))
      pairs
        .join(cnt.select(col("pk").as("p1"), col("c").as("c1")), "p1")
        .join(cnt.select(col("pk").as("p2"), col("c").as("c2")), "p2")
        .crossJoin(broadcast(nB))
        .select(col("p1"), col("p2"), col("pair_cnt"), col("c1"),
          col("c2"),
          expr("pair_cnt * 1000000 div n_baskets").as("support_ppm"),
          expr("pair_cnt * 1000000 div c1").as("conf_1to2_ppm"),
          expr("pair_cnt * 1000000 div c2").as("conf_2to1_ppm"),
          expr("pair_cnt * n_baskets * 1000000 div (c1 * c2)")
            .as("lift_ppm"))
    }),

    // Behavioral segmentation — sequential path mining
    // (the top event-type trigrams across user journeys, extending q280's
    // first-order transitions to third order) and RFM segmentation with
    // EXACT quintile thresholds (the q307 inclusive-CDF order-statistic
    // on per-dimension value histograms — no corpus-sized sort, no ntile
    // window over the customer frame).

    // ---- q325: top event-type trigrams across user paths ---------------
    // Per-user event order is (ts, event_id) — the corpus-wide
    // convention; two leads over the user-partitioned window (per-user
    // histories are the bounded dimension, same contract as q280's
    // Markov fit) emit each 3-step path; one count shuffle on the
    // trigram key; TakeOrdered top-20 with full tie-break; shares in
    // ppm of ALL trigrams (scalar broadcast).
    "q325_path_trigrams" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tri = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead("t1", 1).over(w))
        .withColumn("t3", lead("t1", 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      val tot = tri.agg(sum("n").as("n_tri"))
      tri.orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
        .crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("t3"), col("n"),
          expr("n * 1000000 div n_tri").as("share_ppm"))
    }),

    // ---- q326: RFM segmentation with exact quintile thresholds ---------
    // Per customer (one orders pass): recency = days from last order
    // to the corpus max day (higher = staler), frequency = order
    // count, monetary = total dollars. Each dimension's four quintile
    // cuts come from a VALUE HISTOGRAM + cumulative window (the q307
    // inclusive-CDF convention: thr_j = min v with cum·5 ≥ n·j) — the
    // histograms are domain-bounded (days / counts / dollars), so no
    // corpus-sized ordered window exists anywhere. Scores are
    // 1 + Σ[v ≥ thr_j] (ascending in the value); the 12 thresholds
    // pivot into ONE broadcast row. Output: ≤125 segments with counts,
    // total-monetary mean, and corpus share.
    "q326_rfm_segmentation" -> ((s, d) => {
      val maxD = table(s, d, "orders")
        .agg(max(expr(
          "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"))
          .as("max_dd"))
      val cust = table(s, d, "orders")
        .select(col("o_custkey").as("ck"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
            .as("dd"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .groupBy("ck")
        .agg(max("dd").as("last_dd"), count(lit(1)).as("f"),
          expr("sum(cents) div 100").as("m"))
        .crossJoin(broadcast(maxD))
        .select(col("ck"),
          (col("max_dd") - col("last_dd")).cast("long").as("r"),
          col("f").cast("long").as("f"), col("m"))
      val unp = cust.select(explode(array(
        struct(lit("r").as("dim"), col("r").as("v")),
        struct(lit("f").as("dim"), col("f").as("v")),
        struct(lit("m").as("dim"), col("m").as("v")))).as("x"))
        .select(col("x.dim").as("dim"), col("x.v").as("v"))
      val h = unp.groupBy("dim", "v").agg(count(lit(1)).as("c"))
      val cum = h.withColumn("cum", sum("c").over(
          Window.partitionBy("dim").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(h.groupBy("dim").agg(sum("c").as("n_dim"))),
          "dim")
      val thr = cum.crossJoin(
          broadcast(s.range(1, 5).select(col("id").as("j"))))
        .filter(col("cum") * 5 >= col("n_dim") * col("j"))
        .groupBy("dim", "j").agg(min("v").as("thr"))
        .groupBy()
        .pivot(concat(col("dim"), lit("_"), col("j")),
          Seq("r_1", "r_2", "r_3", "r_4", "f_1", "f_2", "f_3", "f_4",
            "m_1", "m_2", "m_3", "m_4"))
        .agg(first("thr"))
      def score(v: String, p: String) = expr(
        s"""1 + CAST($v >= ${p}_1 AS BIGINT) +
            CAST($v >= ${p}_2 AS BIGINT) +
            CAST($v >= ${p}_3 AS BIGINT) +
            CAST($v >= ${p}_4 AS BIGINT)""")
      cust.crossJoin(broadcast(thr))
        .select(col("ck"), col("m"),
          (score("r", "r") * 100 + score("f", "f") * 10 + score("m", "m"))
            .as("segment"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          expr("sum(m) div count(1)").as("avg_m_dollars"))
        .withColumn("share_ppm",
          expr("n_customers * 1000000 div sum(n_customers) OVER ()"))
    }),

    // Weighted-state classics — the time-weighted
    // average (TWAP: what was the level ON AVERAGE OVER TIME, not over
    // samples) and ABC/Pareto classification (which slice of the catalog
    // carries 80% of the revenue). Both keep the exact-integer
    // discipline; the ns·cents products ride DECIMAL(38,0)/HUGEINT.

    // ---- q330: ABC / Pareto revenue classification ---------------------
    // Part revenue (one fact pass folds to the catalog frame), ranked
    // by (revenue desc, part) with an inclusive cumulative share:
    // class A while cum ≤ 80% of total, B while ≤ 95%, C beyond —
    // pure integer comparisons (cum·5 ≤ tot·4, cum·20 ≤ tot·19). The
    // ordered window runs over the catalog frame (≪ facts; the q93
    // two-phase rank replaces it at real catalog scale). Three rows
    // out: the classic "20% of parts, 80% of revenue" readout.
    "q330_abc_pareto_classes" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
          .as("rev"))
      val tot = rev.agg(sum("rev").as("tot"))
      rev
        .withColumn("cum", sum("rev").over(
          Window.orderBy(col("rev").desc, col("pk"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .withColumn("cls", expr(
          """CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                  WHEN cum * 20 <= tot * 19 THEN 'B'
                  ELSE 'C' END"""))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("rev_cents"))
        .withColumn("part_share_ppm",
          expr("n_parts * 1000000 div sum(n_parts) OVER ()"))
        // rev_cents×1e6 passes ~9.2e18 at sf1 (total revenue ≈ 6e13
        // cents) — the ppm numerator goes through DECIMAL(38,0), the
        // q387 recipe; DuckDB's sum(BIGINT) is already HUGEINT so the
        // oracle needs nothing. Caught by the full-suite sf1 hash gate
        // (ANSI long overflow; count()-only benches prune the column).
        .withColumn("rev_share_ppm",
          expr("""(CAST(rev_cents AS DECIMAL(38,0)) * 1000000)
                  div sum(rev_cents) OVER ()"""))
    }),

    // Marketing analytics — multi-touch attribution
    // (first / last / linear credit per channel) and the weekly cohort
    // retention triangle. The attribution pair stage is a user-blocked
    // range join (q204's slab shape: one equi-shuffle on user, time
    // residual as a join filter); the retention triangle folds the corpus
    // to (user, week) distinct activity in one pass.

    // ---- q333: first/last/linear touch attribution ---------------------
    // Conversions = purchase events; touches = any other event by the
    // same user in the 7 days strictly before the conversion. Per
    // conversion: k touches; first/last picked by the exact
    // (ts, event_id) struct order; linear credit 1e6 div k micro-units
    // per touch (truncating — the documented remainder loss is < k
    // micro per conversion). Per channel out: touch volume, first/last
    // conversion counts, linear credit. Conversions with no touch
    // window drop out (nothing to attribute).
    "q333_touch_attribution" -> ((s, d) => {
      val ev = table(s, d, "events")
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("pid"))
      val touch = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts").as("tts"),
          col("event_id").as("tid"), col("event_type").as("channel"))
      val pairs = conv.join(touch, Seq("user_id"))
        .filter(col("tts") < col("pts") &&
          col("tts") >= col("pts") - lit(7L * 86400000000000L))
      val perConv = pairs.groupBy("pid")
        .agg(count(lit(1)).as("k"),
          min(struct(col("tts"), col("tid"))).as("fst"),
          max(struct(col("tts"), col("tid"))).as("lst"))
      pairs.join(perConv, "pid")
        .select(col("channel"),
          (col("tts") === col("fst.tts") && col("tid") === col("fst.tid"))
            .cast("long").as("is_first"),
          (col("tts") === col("lst.tts") && col("tid") === col("lst.tid"))
            .cast("long").as("is_last"),
          expr("1000000 div k").as("credit"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_touches"),
          sum("is_first").as("n_first"),
          sum("is_last").as("n_last"),
          sum("credit").as("linear_micro"))
    }),

    // ---- q334: weekly cohort retention triangle ------------------------
    // Cohort = the user's first active epoch-week; activity = distinct
    // (user, week); retention_ppm = active members at each week offset
    // over cohort size. Two corpus folds (first-week frame, activity
    // frame), one join on user, then the triangle is a
    // (cohorts × offsets)-bounded aggregate. Offset 0 is 1e6 by
    // construction — asserted in the spec.
    "q334_retention_triangle" -> ((s, d) => {
      val act = table(s, d, "events")
        .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
        .distinct()
      val cohort = act.groupBy("user_id").agg(min("wk").as("c_wk"))
      val size = cohort.groupBy("c_wk")
        .agg(count(lit(1)).as("cohort_n"))
      act.join(cohort, "user_id")
        .groupBy(col("c_wk"), (col("wk") - col("c_wk")).as("wk_offset"))
        .agg(count(lit(1)).as("active_n"))
        .join(size, "c_wk")
        .select(col("c_wk").as("cohort_week"), col("wk_offset"),
          col("active_n"), col("cohort_n"),
          expr("active_n * 1000000 div cohort_n").as("retention_ppm"))
    }),

    // Serving-layer series shapes — M4 downsampling
    // (the error-free min/max/first/last-per-pixel-bucket aggregation a
    // time-series dashboard runs before plotting millions of points) and
    // first-touch→first-purchase conversion latency deciles (the q307
    // inclusive-CDF order statistic over a minute-bucketed latency
    // histogram).

    // ---- q336: first-touch → first-purchase latency deciles ------------
    // Per user: first non-purchase event and first purchase; users
    // whose first purchase strictly follows their first touch yield a
    // minute-bucketed latency. Deciles via the q307 inclusive-CDF
    // order statistic on the latency histogram (domain-bounded:
    // minutes over the corpus span) — no corpus-sized sort. Counts of
    // converted / purchase-first / never-purchased users ride along on
    // every row (scalar broadcast) so the readout is self-describing.
    "q336_conversion_latency_deciles" -> ((s, d) => {
      val per = table(s, d, "events")
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") =!= "purchase", col("ts")))
            .as("t_touch"),
          min(when(col("event_type") === "purchase", col("ts")))
            .as("t_buy"))
      val classed = per.select(
        expr("""CASE
            WHEN t_buy IS NULL THEN 'no_purchase'
            WHEN t_touch IS NULL OR t_buy <= t_touch
              THEN 'purchase_first'
            ELSE 'converted' END""").as("cls"),
        expr("""CASE WHEN t_buy IS NOT NULL AND t_touch IS NOT NULL
            AND t_buy > t_touch
            THEN (t_buy - t_touch) div 60000000000 END""").as("lat_min"))
      val counts = classed.groupBy()
        .pivot("cls", Seq("converted", "purchase_first", "no_purchase"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("converted").as("n_converted"),
          col("purchase_first").as("n_purchase_first"),
          col("no_purchase").as("n_no_purchase"))
      val h = classed.filter(col("cls") === "converted")
        .groupBy("lat_min").agg(count(lit(1)).as("c"))
      val cum = h.withColumn("cum", sum("c").over(
          Window.orderBy("lat_min")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(h.agg(sum("c").as("n_conv"))))
      cum.crossJoin(
          broadcast(s.range(1, 10).select(col("id").as("decile"))))
        .filter(col("cum") * 10 >= col("n_conv") * col("decile"))
        .groupBy("decile").agg(min("lat_min").as("q_minutes"))
        .crossJoin(broadcast(counts))
    }),

    // Economic + linguistic scorecards — per-brand
    // price elasticity (log-log OLS of quantity on effective price, the
    // q316 micro-nat discipline, grouped) and a Flesch-style readability
    // scorecard per document source (vowel-group syllable proxy, exact
    // integer formula). Both are one corpus pass folding to small keyed
    // frames.

    // ---- q337: per-brand price elasticity ------------------------------
    // Per line: x = ln(effective price cents) micro-nats (price cents
    // is an exact integer; the ln shape is pinned identically in both
    // engines), y = ln(quantity). Per brand: OLS slope in ppm — the
    // elasticity readout (negative slope = demand falls with price).
    // Moments ride DECIMAL(38,0)/HUGEINT (micro-nat products overflow
    // i64); one part-join (part is the dimension side) and one brand
    // aggregate.
    "q337_price_elasticity" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .join(table(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          expr("""CAST(floor(ln(1.0 * CAST(floor(
              l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              * 1000000) AS BIGINT)""").as("x"),
          expr("""CAST(floor(ln(1.0 * CAST(floor(l_quantity) AS BIGINT))
              * 1000000) AS BIGINT)""").as("y"))
      li.groupBy("brand")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        .filter(col("n") >= 2)
        .select(col("brand"), col("n"),
          expr("""CAST(
              (CAST(n AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
              div (CAST(n AS DECIMAL(38,0)) * sxx
                 - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
            .as("elasticity_ppm"))
    }),

    // Engagement + serving-layer text shapes — the
    // DAU/WAU stickiness series (sliding-window distinct users WITHOUT a
    // per-window distinct scan: each user-day expands to the ≤7 report
    // days it supports, then ONE distinct fold) and KWIC
    // (keyword-in-context) extraction around the corpus's top phrase.

    // ---- q349: DAU / WAU / stickiness per day ---------------------------
    // The trailing-7-day distinct-user count per day is the classic
    // "can't window a DISTINCT" problem; the scalable form expands
    // each (user, active-day) to the 7 report days that activity
    // supports (bounded ×7 blowup), distinct-folds once, and counts —
    // total work O(7·|user-days|) regardless of window placement.
    // Stickiness = DAU·1e6 div WAU.
    "q349_dau_wau_stickiness" -> ((s, d) => {
      val ud = table(s, d, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
      val maxD = ud.agg(max("day").as("max_day"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(expr(
          "sequence(day, day + 6)")).as("rd"))
        .distinct()
        .crossJoin(broadcast(maxD))
        .filter(col("rd") <= col("max_day"))
        .groupBy(col("rd").as("day"))
        .agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000000 div wau").as("stickiness_ppm"))
    }),

    // Operational latency + load shapes — the
    // order→ship lag profile per priority class (exact mean/max/p50/p90
    // from a priority×lag-day histogram) and a sweep-line peak-concurrency
    // readout over 30-minute user sessions (the capacity-planning "how
    // many sessions were open at once" question, answered with ±1 deltas
    // and a running sum — never an interval×interval join).

    // ---- q353: ship-lag profile per order priority ---------------------
    // lag = ship date − order date in whole days (integer, tz-free);
    // one fact pass folds to the (priority × lag) histogram, exact
    // p50/p90 via the inclusive-CDF rule per priority, mean in
    // micro-days. The SLA dashboard for a fulfillment pipeline.
    "q353_ship_lag_profile" -> ((s, d) => {
      val lag = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("prio"),
          expr("datediff(CAST(l_shipdate AS DATE), " +
            "CAST(o_orderdate AS DATE))").cast("long").as("lag"))
      val h = lag.groupBy("prio", "lag").agg(count(lit(1)).as("c"))
      val cum = h.withColumn("cum", sum("c").over(
          Window.partitionBy("prio").orderBy("lag")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(h.groupBy("prio").agg(sum("c").as("n"),
          sum(expr("lag * c")).as("sl"), max("lag").as("mx"))), "prio")
      cum.groupBy("prio")
        .agg(max("n").as("n_lines"),
          expr("max(sl) * 1000000 div max(n)").as("mean_lag_micro"),
          max("mx").as("max_lag"),
          min(when(col("cum") * 2 >= col("n"), col("lag"))).as("p50"),
          min(when(col("cum") * 10 >= col("n") * 9, col("lag")))
            .as("p90"))
    }),

    // Business-analytics decompositions — the mix/rate
    // bridge (WHY did the mean move between two periods: segment mix
    // shift vs within-segment rate change) and the Herfindahl–Hirschman
    // concentration index per market. Both fold the corpus to
    // segment-sized frames and do exact micro/ppm integer arithmetic
    // there.

    // ---- q357: mix/rate bridge between the two halves -------------------
    // Periods = time halves; segments = event_type. Per segment and
    // period: share (events ppm) and rate (mean cents, micro). The
    // bridge: mix effect = (share₁−share₀)·rate₀, rate effect =
    // share₁·(rate₁−rate₀) — summed over segments they reconstruct
    // Δmean exactly up to documented ppm·micro truncation (the spec
    // pins the residual bound). One corpus pass → |segments|×2 frame.
    "q357_mean_bridge" -> ((s, d) => {
      val ev = table(s, d, "events")
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
      val seg = ev.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
        .groupBy(col("event_type").as("seg"), col("late"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("c"))
      val tot = seg.groupBy("late").agg(sum("n").as("nt"))
      val wide = seg.join(broadcast(tot), "late")
        .withColumn("share_ppm", expr("n * 1000000 div nt"))
        .withColumn("rate_micro", expr("c * 1000000 div n"))
        .groupBy("seg")
        .agg(
          max(when(col("late") === 0, col("share_ppm"))).as("share0"),
          max(when(col("late") === 0, col("rate_micro"))).as("rate0"),
          max(when(col("late") === 1, col("share_ppm"))).as("share1"),
          max(when(col("late") === 1, col("rate_micro"))).as("rate1"))
        .na.fill(0L, Seq("share0", "rate0", "share1", "rate1"))
      wide.select(col("seg"), col("share0"), col("share1"),
        col("rate0"), col("rate1"),
        expr("(share1 - share0) * rate0 div 1000000").as("mix_micro"),
        expr("share1 * (rate1 - rate0) div 1000000").as("rate_eff_micro"))
    }),

    // ---- q358: Herfindahl concentration per nation ----------------------
    // Customer spend shares within each nation; HHI = Σ share_ppm²
    // div 1e6 (micro-HHI: 1e6 = monopoly). The per-customer frame is
    // keyed (one orders fold + one dimension join); the square-sum is
    // a map-side-combinable aggregate. The "is this market one whale
    // or many small fish" readout regulators and marketplaces run.
    "q358_hhi_concentration" -> ((s, d) => {
      val spend = table(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
        .join(table(s, d, "customer").select(
          col("c_custkey").cast("long").as("ck"),
          col("c_nationkey").cast("long").as("nat")), "ck")
      val natTot = spend.groupBy("nat").agg(sum("cents").as("tot"),
        count(lit(1)).as("n_cust"))
      spend.join(broadcast(natTot), "nat")
        .withColumn("share_ppm", expr("cents * 1000000 div tot"))
        .groupBy("nat")
        .agg(max("n_cust").as("n_customers"),
          expr("sum(share_ppm * share_ppm) div 1000000")
            .as("hhi_micro"),
          max("share_ppm").as("top_share_ppm"))
    }),

    // The segment migration matrix — which spend
    // quintile did each user move to between the two halves of the
    // window (plus churned/new flows), with per-period EXACT quintile
    // cuts (the q326 inclusive-CDF histogram recipe; no ntile over the
    // user frame). The alluvial/Sankey feed of every retention review.

    // ---- q359: spend-quintile migration matrix --------------------------
    // Presence = any event in the period; quintile scored 1..5 within
    // each period's own cuts (8 thresholds pivot into ONE broadcast
    // row), 0 = absent (new/churned flows). Output: ≤36 matrix cells
    // with user counts and corpus share ppm.
    "q359_segment_migration" -> ((s, d) => {
      val ev = table(s, d, "events")
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
      val per = ev.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
        .groupBy("user_id", "late")
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("v"))
      val h = per.groupBy("late", "v").agg(count(lit(1)).as("c"))
      val cum = h.withColumn("cum", sum("c").over(
          Window.partitionBy("late").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(h.groupBy("late").agg(sum("c").as("n"))), "late")
      val thr = cum.crossJoin(
          broadcast(s.range(1, 5).select(col("id").as("j"))))
        .filter(col("cum") * 5 >= col("n") * col("j"))
        .groupBy("late", "j").agg(min("v").as("thr"))
        .groupBy()
        .pivot(concat(lit("p"), col("late"), lit("_"), col("j")),
          Seq("p0_1", "p0_2", "p0_3", "p0_4",
            "p1_1", "p1_2", "p1_3", "p1_4"))
        .agg(first("thr"))
      def score(v: String, p: String) = expr(
        s"""CASE WHEN $v IS NULL THEN 0 ELSE
            1 + CAST($v >= ${p}_1 AS BIGINT) +
            CAST($v >= ${p}_2 AS BIGINT) +
            CAST($v >= ${p}_3 AS BIGINT) +
            CAST($v >= ${p}_4 AS BIGINT) END""")
      val wide = per.groupBy("user_id")
        .agg(max(when(col("late") === 0, col("v"))).as("v0"),
          max(when(col("late") === 1, col("v"))).as("v1"))
      val scored = wide.crossJoin(broadcast(thr))
        .select(score("v0", "p0").as("q_from"),
          score("v1", "p1").as("q_to"))
      scored.groupBy("q_from", "q_to")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("share_ppm",
          expr("n_users * 1000000 div sum(n_users) OVER ()"))
    }),

    // Engagement-quality profiles — session depth
    // distribution with bounce rate (the first report any web-analytics
    // stack ships) and purchase-cadence overdue factors (which customers
    // are past their personal re-order rhythm — the churn-risk list a
    // CRM team actually pulls).

    // ---- q363: session depth distribution + bounce rate ----------------
    // Sessions by the corpus 30-min gap convention; per-session event
    // counts fold to a depth histogram (clamped at 10+ so the frame
    // is ≤10 rows at any corpus). Bounce = the depth-1 share. One
    // user-windowed pass + one tiny aggregate.
    "q363_session_depth_profile" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapNs = 1800L * 1000000000L
      val depth = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("new_s",
          (col("prev").isNull || col("ts") - col("prev") > gapNs)
            .cast("long"))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"))
      depth
        .groupBy(expr("least(10, n_events)").as("depth"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"))
        .withColumn("share_ppm",
          expr("n_sessions * 1000000 div sum(n_sessions) OVER ()"))
    }),

    // ---- q364: purchase-cadence overdue factors -------------------------
    // Per repeat purchaser: mean inter-purchase gap by TELESCOPING —
    // (last − first) div (n − 1), so no per-gap frame exists at all;
    // overdue factor = time-since-last over the personal mean gap, in
    // ppm; clamped half-cadence buckets. Customers at factor ≥ 2× are
    // the churn-risk list. One purchase fold, integer throughout.
    "q364_overdue_customers" -> ((s, d) => {
      // second resolution: ns·1e6 products overflow i64, seconds don't
      val mx = table(s, d, "events")
        .agg(max(expr("ts div 1000000000")).as("max_ts"))
      val per = table(s, d, "events")
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_buys"),
          min(expr("ts div 1000000000")).as("t_first"),
          max(expr("ts div 1000000000")).as("t_last"))
        .filter(col("n_buys") >= 2)
        .withColumn("mean_gap",
          expr("(t_last - t_first) div (n_buys - 1)"))
        .filter(col("mean_gap") > 0)
      per.crossJoin(broadcast(mx))
        .withColumn("overdue_ppm",
          expr("(max_ts - t_last) * 1000000 div mean_gap"))
        .groupBy(expr("least(8, overdue_ppm div 500000)").as("bucket"))
        .agg(count(lit(1)).as("n_users"),
          min("overdue_ppm").as("min_overdue_ppm"),
          max("overdue_ppm").as("max_overdue_ppm"))
        .withColumn("share_ppm",
          expr("n_users * 1000000 div sum(n_users) OVER ()"))
    }),

    // Inventory and randomness diagnostics — the
    // newsvendor critical-fractile stocking level per brand (the exact
    // demand quantile that balances under- vs over-stocking at a 3:1
    // cost ratio) and the Wald–Wolfowitz runs test on the daily revenue
    // series (is the above/below-median pattern random, or does the
    // series cluster).

    // ---- q365: newsvendor critical-fractile stock per brand -------------
    // Weekly demand per brand (one fact fold to the brand×week frame),
    // then the 3/4-fractile order statistic (underage:overage = 3:1 →
    // stock at P[D ≤ q] ≥ 3/4) by the inclusive-CDF rule on the
    // per-brand weekly-demand histogram, plus the mean for contrast —
    // stocking to the mean under asymmetric costs is the classic
    // mistake this operator exists to correct.
    "q365_newsvendor_stock" -> ((s, d) => {
      val weekly = table(s, d, "lineitem")
        .join(table(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          expr("""datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')
              div 7""").as("wk"))
        .agg(sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("dem"))
      val h = weekly.groupBy("brand", "dem").agg(count(lit(1)).as("c"))
      val cum = h.withColumn("cum", sum("c").over(
          Window.partitionBy("brand").orderBy("dem")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(weekly.groupBy("brand")
          .agg(count(lit(1)).as("n_weeks"), sum("dem").as("tot"))),
          "brand")
      cum.groupBy("brand")
        .agg(max("n_weeks").as("n_weeks"),
          expr("max(tot) * 1000000 div max(n_weeks)")
            .as("mean_demand_micro"),
          min(when(col("cum") * 4 >= col("n_weeks") * 3, col("dem")))
            .as("stock_q75"))
    }),

    // Revenue accounting — the growth-accounting
    // decomposition (every month's revenue delta split into new /
    // expansion / contraction / churned customer money, the SaaS
    // operating review) and a per-nation benchmark card (percentile rank
    // + robust deviation among peers). Growth accounting is one
    // customer×month fold plus a per-customer lag; the month frame is
    // calendar-bounded.

    // ---- q367: month-over-month growth accounting -----------------------
    // Per customer×month revenue cents (months as yyyy-MM strings);
    // each customer's consecutive ACTIVE months pair up via lag over
    // the customer window; a gap month means the transition is
    // churn-then-new (the standard convention). Per month out: the
    // five flows (new, expansion, contraction, churn — signed) and
    // net; Σ flows = month-over-month revenue delta by construction
    // (spec-pinned identity).
    "q367_growth_accounting" -> ((s, d) => {
      val cm = table(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"),
          expr("""datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')
              div 30""").as("m"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val w = Window.partitionBy("ck").orderBy("m")
      val flows = cm
        .withColumn("pm", lag("m", 1).over(w))
        .withColumn("pc", lag("cents", 1).over(w))
        .withColumn("prev",
          when(col("pm").isNotNull && col("pm") === col("m") - 1,
            col("pc")).otherwise(lit(0L)))
        .select(col("m"), col("cents"), col("prev"))
      val gains = flows.groupBy("m").agg(
        sum(when(col("prev") === 0, col("cents")).otherwise(0L))
          .as("new_cents"),
        sum(when(col("prev") > 0 && col("cents") > col("prev"),
          col("cents") - col("prev")).otherwise(0L))
          .as("expansion_cents"),
        sum(when(col("prev") > 0 && col("cents") < col("prev"),
          col("cents") - col("prev")).otherwise(0L))
          .as("contraction_cents"),
        sum("cents").as("revenue_cents"))
      // churn: customers active in m−1 with NO row in m
      val churn = cm.select(col("ck"), (col("m") + 1).as("m"),
          col("cents").as("prev_cents"))
        .join(cm.select(col("ck"), col("m"),
          lit(1L).as("active")), Seq("ck", "m"), "left_anti")
        .groupBy("m")
        .agg((-sum("prev_cents")).as("churned_cents"))
      gains.join(churn, Seq("m"), "left")
        .na.fill(0L, Seq("churned_cents"))
        .select(col("m"), col("revenue_cents"), col("new_cents"),
          col("expansion_cents"), col("contraction_cents"),
          col("churned_cents"),
          (col("new_cents") + col("expansion_cents")
            + col("contraction_cents") + col("churned_cents"))
            .as("net_cents"))
    }),

    // ---- q368: nation benchmark card ------------------------------------
    // Per nation: revenue, percentile rank among the 25 peers
    // (inclusive), and robust deviation = (rev − median)·1e6 div MAD
    // (median absolute deviation, exact order stats on the bounded
    // nation frame). The "how does my market compare" card.
    "q368_nation_benchmark" -> ((s, d) => {
      val rev = table(s, d, "orders")
        .join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nat"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("rev"))
      val withRank = rev
        .withColumn("rk", rank().over(Window.orderBy("rev")))
        .withColumn("n", expr("count(1) OVER ()"))
      val med = withRank
        .agg(min(when(col("rk") * 2 >= col("n"), col("rev")))
          .as("median"))
      val withDev = rev.crossJoin(broadcast(med))
        .withColumn("adev", abs(col("rev") - col("median")))
      val mad = withDev
        .withColumn("rk", rank().over(Window.orderBy("adev")))
        .withColumn("n", expr("count(1) OVER ()"))
        .agg(min(when(col("rk") * 2 >= col("n"), col("adev")))
          .as("mad"))
      withRank.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
        .select(col("nat"), col("rev").as("rev_cents"),
          expr("rk * 1000000 div n").as("pct_rank_ppm"),
          expr("""CASE WHEN mad = 0 THEN 0
              ELSE (rev - median) * 1000000 div mad END""")
            .as("robust_dev_micro"))
    }),

    // Risk-aware rankings and payment forensics — the
    // "sort by lower confidence bound" return-rate ranking (a raw rate
    // over 10 lines is noise; the LCB makes small-n brands rank
    // honestly) and a recurring similar-payment scan (same customer,
    // same amount band — the accounts-payable audit classic, blocked so
    // it scales).

    // ---- q369: return-rate ranking with a lower confidence bound --------
    // Per brand: returned lines / total lines; Wald LCB at 95%:
    // lcb_ppm = p_ppm − 1960·⌊√(p_ppm·(1e6−p_ppm) div n)⌋ div 1000,
    // clamped at 0. The sqrt argument is an exact integer < 2⁵³ so the
    // double sqrt+floor is deterministic in both engines (the q331
    // isqrt discipline). One fact fold to the brand frame.
    "q369_return_rate_lcb" -> ((s, d) => {
      table(s, d, "lineitem")
        .join(table(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(l_returnflag = 'R' AS BIGINT)")).as("n_ret"))
        .withColumn("rate_ppm", expr("n_ret * 1000000 div n_lines"))
        .withColumn("lcb_ppm", expr(
          """greatest(0, rate_ppm
             - 1960 * CAST(floor(sqrt(CAST(
                 rate_ppm * (1000000 - rate_ppm) div n_lines
               AS DOUBLE))) AS BIGINT) div 1000)"""))
        .select(col("brand"), col("n_lines"), col("n_ret"),
          col("rate_ppm"), col("lcb_ppm"))
    }),

    // ---- q374: catalog dead-stock report per brand ------------------------
    // Parts with ZERO sold lines (left anti join on the fact key) per
    // brand: count, ppm of the brand's catalog, and the brand's
    // revenue for contrast. Dimension-sized frames; the only big side
    // is the distinct fact key fold.
    "q374_dead_stock_report" -> ((s, d) => {
      val sold = table(s, d, "lineitem")
        .select(col("l_partkey").as("pk")).distinct()
      val parts = table(s, d, "part")
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand"))
      val dead = parts.join(sold, Seq("pk"), "left_anti")
        .groupBy("brand").agg(count(lit(1)).as("dead_parts"))
      val rev = table(s, d, "lineitem")
        .join(parts, col("l_partkey") === col("pk"))
        .groupBy("brand")
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
          .as("rev_cents"))
      parts.groupBy("brand").agg(count(lit(1)).as("n_parts"))
        .join(dead, Seq("brand"), "left")
        .join(rev, Seq("brand"), "left")
        .na.fill(0L, Seq("dead_parts", "rev_cents"))
        .select(col("brand"), col("n_parts"), col("dead_parts"),
          expr("dead_parts * 1000000 div n_parts").as("dead_ppm"),
          col("rev_cents"))
    }),

    // Grouped trend + diversity readouts — per-nation
    // revenue trend slopes (grouped OLS over month indices: every group's
    // regression from ONE keyed moment pass) and effective assortment
    // breadth (exp of the part-mix entropy — "how many parts does this
    // nation REALLY buy", the ecology/assortment diversity number).

    // ---- q378: effective assortment breadth per nation --------------------
    // Part-quantity shares per nation; Shannon entropy in micro-nats
    // (the q99 ln discipline: −Σ q_p·⌊ln(q_p/Q)·1e6⌋ div Q), then
    // effective breadth = ⌊exp(H)⌋ — exp on a micro-derived double,
    // pinned identically in both engines. 25 parts bought equally =
    // breadth 25; one dominant part collapses it toward 1.
    "q378_assortment_breadth" -> ((s, d) => {
      val np = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nat"),
          col("l_partkey").as("pk"))
        .agg(sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("q"))
      val tot = np.groupBy("nat").agg(sum("q").as("qt"),
        count(lit(1)).as("n_parts"))
      np.join(broadcast(tot), "nat")
        .withColumn("term", expr(
          "-(q * CAST(floor(ln((1.0 * q) / qt) * 1000000) AS BIGINT))"))
        .groupBy("nat")
        .agg(max("n_parts").as("n_parts"),
          expr("sum(term) div max(qt)").as("h_micro"))
        .withColumn("eff_breadth", expr(
          """CAST(floor(exp(CAST(h_micro AS DOUBLE) / 1000000))
             AS BIGINT)"""))
    }),

    // ---- q380: quantity-weighted median unit price per brand --------------
    // Unit price cents = extended/quantity per line (both exact
    // integers; floor division pinned); the weighted median is the
    // smallest unit price whose cumulative QUANTITY covers half the
    // brand's total quantity — the q307 inclusive-CDF rule with
    // weights. Unweighted median rides along for the contrast.
    "q380_weighted_median_price" -> ((s, d) => {
      val lines = table(s, d, "lineitem")
        .join(table(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          expr("""CAST(floor(l_extendedprice * 100) AS BIGINT)
              div CAST(floor(l_quantity) AS BIGINT)""").as("unit_c"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("q"))
      val h = lines.groupBy("brand", "unit_c")
        .agg(sum("q").as("w"), count(lit(1)).as("c"))
      // Per-brand totals as whole-partition window sums riding the SAME
      // brand exchange+sort the running sums need — the former separate
      // groupBy(brand) aggregate + broadcast join re-aggregated h and
      // paid a join for values the window pass already has in hand
      // (guide §2.4: two operations keyed the same way share one
      // exchange). Integer sums — identical values either way.
      val cum = h
        .withColumn("cw", sum("w").over(
          Window.partitionBy("brand").orderBy("unit_c")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cc", sum("c").over(
          Window.partitionBy("brand").orderBy("unit_c")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tw", sum("w").over(Window.partitionBy("brand")))
        .withColumn("tc", sum("c").over(Window.partitionBy("brand")))
      cum.groupBy("brand")
        .agg(max("tc").as("n_lines"), max("tw").as("total_qty"),
          min(when(col("cw") * 2 >= col("tw"), col("unit_c")))
            .as("wmedian_unit_cents"),
          min(when(col("cc") * 2 >= col("tc"), col("unit_c")))
            .as("median_unit_cents"))
    }),

    // ---- q382: hour-of-day × day-of-week heatmap ---------------------------
    // The canonical 168-cell activity grid: per (dow, hod) counts and
    // corpus share; the global peak cell flagged via the struct-max
    // recipe. Epoch-derived dow (day 0 = Thursday, pinned identically
    // in both engines by pure integer arithmetic — no locale, no tz).
    "q382_activity_heatmap" -> ((s, d) => {
      val g = table(s, d, "events")
        .select(
          expr("((ts div 86400000000000) + 4) % 7").as("dow"),
          expr("(ts div 3600000000000) % 24").as("hod"))
        .groupBy("dow", "hod").agg(count(lit(1)).as("n"))
      g.withColumn("share_ppm",
          expr("n * 1000000 div sum(n) OVER ()"))
        .withColumn("best", expr(
          "max(struct(n, dow, hod)) OVER ()"))
        .select(col("dow"), col("hod"), col("n"), col("share_ppm"),
          (col("n") === col("best.n") && col("dow") === col("best.dow")
            && col("hod") === col("best.hod")).cast("long")
            .as("is_peak"))
    }))

  val oracle: Map[String, String] = Map(
    "q152_scd2_history" ->
      """WITH old AS (
           SELECT doc_id, md5(text) AS oh FROM documents
           WHERE doc_id % 10 < 9),
         neu AS (
           SELECT doc_id, md5(text ||
             CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END) AS nh
           FROM documents WHERE doc_id % 11 <> 5),
         j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.oh, n.nh,
                 (o.oh IS NOT NULL AND n.nh IS NOT NULL AND o.oh <> n.nh)
                   AS changed
               FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
         SELECT doc_id, oh AS content_v, 1 AS valid_from,
           CASE WHEN changed OR nh IS NULL THEN 2 ELSE NULL END
             AS valid_to,
           NOT (changed OR nh IS NULL) AS is_current
         FROM j WHERE oh IS NOT NULL
         UNION ALL
         SELECT doc_id, nh, 2, NULL, true FROM j
         WHERE nh IS NOT NULL AND (oh IS NULL OR changed)""",
    "q118_sparse_cosine" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(lower(text), ' '),
             w -> w <> '') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id, sg FROM (
           SELECT doc_id, unnest(list_transform(range(0, len(t) - 4),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                  t[i+4] || ' ' || t[i+5])) AS sg
           FROM toks WHERE len(t) >= 5)),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
                   FROM sh GROUP BY doc_id),
         rare AS (SELECT sg FROM (
                    SELECT sg, count(*) AS df FROM sh GROUP BY sg)
                  WHERE df BETWEEN 2 AND 10),
         cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
                  FROM sh a JOIN rare USING (sg)
                       JOIN sh b ON a.sg = b.sg AND a.doc_id < b.doc_id
                  GROUP BY 1, 2 HAVING count(*) >= 2),
         inter AS (SELECT c.a_id, c.b_id,
                          CAST(count(*) AS BIGINT) AS inter
                   FROM cand c
                   JOIN sh sa ON sa.doc_id = c.a_id
                   JOIN sh sb ON sb.doc_id = c.b_id AND sb.sg = sa.sg
                   GROUP BY c.a_id, c.b_id)
         SELECT i.a_id, i.b_id, i.inter,
                CAST((i.inter * i.inter * 1000000) // (na.nsh * nb.nsh)
                  AS BIGINT) AS cos2_micro
         FROM inter i
         JOIN sizes na ON na.doc_id = i.a_id
         JOIN sizes nb ON nb.doc_id = i.b_id
         WHERE (i.inter * i.inter * 1000000) // (na.nsh * nb.nsh)
               >= 250000""",
    "q119_pagerank" ->
      """WITH eo AS (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         edges AS (SELECT src, dst FROM eo
                   UNION ALL SELECT dst, src FROM eo),
         deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM deg),
         c1 AS (SELECT e.dst, r.r // d.deg AS share FROM edges e
                JOIN r0 r ON r.id = e.src JOIN deg d ON d.src = e.src),
         r1 AS (SELECT dst AS id,
                  CAST(150000 + (sum(share) * 85) // 100 AS BIGINT) AS r
                FROM c1 GROUP BY dst),
         c2 AS (SELECT e.dst, r.r // d.deg AS share FROM edges e
                JOIN r1 r ON r.id = e.src JOIN deg d ON d.src = e.src),
         r2 AS (SELECT dst AS id,
                  CAST(150000 + (sum(share) * 85) // 100 AS BIGINT) AS r
                FROM c2 GROUP BY dst),
         c3 AS (SELECT e.dst, r.r // d.deg AS share FROM edges e
                JOIN r2 r ON r.id = e.src JOIN deg d ON d.src = e.src),
         r3 AS (SELECT dst AS id,
                  CAST(150000 + (sum(share) * 85) // 100 AS BIGINT) AS r
                FROM c3 GROUP BY dst)
         SELECT CASE WHEN id % 2 = 0 THEN 'c' || CAST(id // 2 AS BIGINT)
                     ELSE 's' || CAST(id // 2 AS BIGINT) END AS id, r
         FROM (SELECT id, r FROM r3 ORDER BY r DESC, id ASC LIMIT 20)""",
    "q120_cohort_retention" ->
      """WITH ev AS (
           SELECT DISTINCT user_id,
                  epoch_ns(ts) // 604800000000000 AS wk FROM events),
         cohort AS (SELECT user_id, min(wk) AS cohort_wk
                    FROM ev GROUP BY user_id)
         SELECT c.cohort_wk, e.wk - c.cohort_wk AS wk_offset,
                CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
         FROM ev e JOIN cohort c USING (user_id)
         GROUP BY c.cohort_wk, e.wk - c.cohort_wk""",
    "q121_funnel_steps" ->
      """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e
               JOIN v ON v.user_id = e.user_id
               WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t1
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e
               JOIN c ON c.user_id = e.user_id
               WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t2
               GROUP BY e.user_id)
         SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
         UNION ALL
         SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
         UNION ALL
         SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p""",
    "q122_json_extract" ->
      """SELECT event_type, k // 10 AS k_bucket,
                count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k
         FROM (SELECT event_type,
                 CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                   AS k
               FROM events)
         WHERE k IS NOT NULL
         GROUP BY event_type, k // 10""",
    "q123_snapshot_diff" ->
      """WITH v1 AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 13 = 0 THEN substr(text, 1, 10)
                           ELSE text END) AS h1
           FROM documents WHERE doc_id % 17 <> 0),
         v2 AS (SELECT doc_id, md5(text) AS h2
                FROM documents WHERE doc_id % 19 <> 0)
         SELECT CASE WHEN h1 IS NULL THEN 'added'
                     WHEN h2 IS NULL THEN 'removed'
                     WHEN h1 = h2 THEN 'unchanged'
                     ELSE 'changed' END AS status,
                count(*) AS n
         FROM v1 FULL OUTER JOIN v2 USING (doc_id)
         GROUP BY 1""",
    "q128_token_entropy" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split(lower(text), ' '), w -> w <> '')) AS tok
           FROM documents),
         counts AS (SELECT doc_id, tok, count(*) AS c
                    FROM toks GROUP BY doc_id, tok),
         n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
               FROM counts GROUP BY doc_id)
         SELECT counts.doc_id, max(n.n) AS n_tokens,
                CAST(sum(CAST(floor(
                  -1e6 * (CAST(c AS DOUBLE) / n.n)
                       * ln(CAST(c AS DOUBLE) / n.n)) AS BIGINT))
                  AS BIGINT) AS entropy_micro
         FROM counts JOIN n USING (doc_id)
         GROUP BY counts.doc_id""",
    "q127_zorder" ->
      """WITH b0 AS (
           SELECT l_partkey % 4096 AS xb,
                  (epoch_ms(l_shipdate) // 86400000) % 4096 AS yb
           FROM lineitem),
         s1 AS (SELECT xb, yb,
                  (xb | (xb << 8)) & 16711935 AS xs,
                  (yb | (yb << 8)) & 16711935 AS ys FROM b0),
         s2 AS (SELECT xb, yb,
                  (xs | (xs << 4)) & 252645135 AS xs,
                  (ys | (ys << 4)) & 252645135 AS ys FROM s1),
         s3 AS (SELECT xb, yb,
                  (xs | (xs << 2)) & 858993459 AS xs,
                  (ys | (ys << 2)) & 858993459 AS ys FROM s2),
         s4 AS (SELECT xb, yb,
                  (xs | (xs << 1)) & 1431655765 AS xs,
                  (ys | (ys << 1)) & 1431655765 AS ys FROM s3)
         SELECT (xs | (ys << 1)) // 4096 AS chunk,
                count(*) AS n,
                min(xb) AS x_min, max(xb) AS x_max,
                min(yb) AS y_min, max(yb) AS y_max
         FROM s4 GROUP BY 1""",
    "q126_pareto_frontier" ->
      """WITH pts AS (
           SELECT doc_id, CAST(len(text) AS BIGINT) AS x,
                  CAST(len(list_distinct(list_filter(
                    string_split(lower(text), ' '), w -> w <> '')))
                    AS BIGINT) AS y
           FROM documents)
         SELECT p.doc_id, p.x, p.y FROM pts p
         WHERE NOT EXISTS (
           SELECT 1 FROM pts q
           WHERE q.x >= p.x AND q.y >= p.y
             AND (q.x > p.x OR q.y > p.y))""",
    "q125_range_join" ->
      """WITH win AS (
           SELECT CAST(n_nationkey AS BIGINT) AS w_id,
                  788918400000 + n_nationkey * 7776000000 AS start_ms,
                  788918400000 + n_nationkey * 7776000000
                    + ((n_nationkey % 7) + 1) * CAST(1728000000 AS BIGINT)
                      AS end_ms
           FROM nation)
         SELECT w_id, count(*) AS n_orders,
                CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                  AS sum_price
         FROM orders JOIN win
           ON epoch_ms(o_orderdate) BETWEEN start_ms AND end_ms
         GROUP BY w_id""",
    "q124_collocations" ->
      """WITH toks AS (
           SELECT list_filter(string_split(lower(text), ' '), w -> w <> '')
             AS tokens FROM documents),
         uni AS (SELECT tok, count(*) AS cnt FROM (
                   SELECT unnest(tokens) AS tok FROM toks) GROUP BY tok),
         tu AS (SELECT CAST(sum(cnt) AS BIGINT) AS tu FROM uni),
         bi AS (SELECT a, b, count(*) AS cab FROM (
                  SELECT unnest(list_transform(range(0, len(tokens) - 1),
                           i -> tokens[i + 1])) AS a,
                         unnest(list_transform(range(0, len(tokens) - 1),
                           i -> tokens[i + 2])) AS b
                  FROM toks WHERE len(tokens) >= 2)
                GROUP BY a, b HAVING count(*) >= 5),
         tb AS (SELECT CAST(sum(greatest(len(tokens) - 1, 0)) AS BIGINT)
                  AS tb FROM toks)
         SELECT bi.a, bi.b, CAST(bi.cab AS BIGINT) AS cab,
                CAST(floor(ln(
                  (CAST(bi.cab AS DOUBLE) * tu.tu * tu.tu) /
                  ((CAST(tb.tb AS DOUBLE) * ua.cnt) * ub.cnt)) * 1e6)
                  AS BIGINT) AS pmi_micro
         FROM bi
         JOIN uni ua ON ua.tok = bi.a
         JOIN uni ub ON ub.tok = bi.b, tu, tb
         ORDER BY pmi_micro DESC, bi.a ASC, bi.b ASC LIMIT 25""",
    "q205_linear_attribution" ->
      """WITH p AS (
           SELECT user_id, event_id AS purchase_id, epoch_ns(ts) AS pt,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, event_id AS click_id, epoch_ns(ts) AS ct
           FROM events WHERE event_type = 'click'),
         j AS (
           SELECT p.purchase_id, p.cents, c.click_id,
                  count(*) OVER (PARTITION BY p.purchase_id) AS n_touch
           FROM p JOIN c ON p.user_id = c.user_id
             AND c.ct > p.pt - 604800000000000 AND c.ct <= p.pt)
         SELECT click_id, CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(cents // n_touch) AS BIGINT) AS credited_cents
         FROM j GROUP BY click_id""",
    "q221_event_transitions" ->
      """WITH seq AS (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY epoch_ns(ts), event_id) AS next_type
           FROM events),
         trans AS (
           SELECT event_type, next_type, count(*) AS n
           FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
         SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
                CAST(n * 1000000
                     // sum(n) OVER (PARTITION BY event_type)
                  AS BIGINT) AS ppm
         FROM trans""",
    "q242_copurchase_pairs" ->
      """WITH op AS (
           SELECT DISTINCT l_orderkey AS ord, l_partkey AS part
           FROM lineitem),
         cnt AS (SELECT part, count(*) AS n FROM op GROUP BY 1),
         freq AS (SELECT part, n FROM cnt WHERE n >= 3),
         fo AS (SELECT ord, part FROM op JOIN freq USING (part)),
         pairs AS (
           SELECT a.part AS part_a, b.part AS part_b,
                  count(*) AS support
           FROM fo a JOIN fo b ON a.ord = b.ord AND a.part < b.part
           GROUP BY 1, 2 HAVING count(*) >= 2),
         tot AS (SELECT count(DISTINCT ord) AS n_orders FROM op)
         SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
                CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
                CAST(support * n_orders * 1000000
                     // (ca.n * cb.n) AS BIGINT) AS lift_ppm
         FROM pairs
         JOIN freq ca ON ca.part = part_a
         JOIN freq cb ON cb.part = part_b
         CROSS JOIN tot""",
    "q244_rfm_features" ->
      """WITH per AS (
           SELECT o_custkey AS customer,
                  max(epoch_ms(o_orderdate) // 86400000) AS last_day,
                  count(*) AS f_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS m_cents
           FROM orders GROUP BY 1),
         mx AS (
           SELECT max(last_day) AS max_day, min(last_day) AS min_day,
                  max(f_orders) AS max_f, max(m_cents) AS max_m
           FROM per),
         sc AS (
           SELECT customer, max_day - last_day AS r_days, f_orders,
                  m_cents,
                  4 - ((max_day - last_day)
                       // ((max_day - min_day) // 5 + 1)) AS r_score,
                  f_orders // (max_f // 5 + 1) AS f_score,
                  m_cents // (max_m // 5 + 1) AS m_score
           FROM per CROSS JOIN mx)
         SELECT customer, CAST(r_days AS BIGINT) AS r_days,
                CAST(f_orders AS BIGINT) AS f_orders,
                CAST(m_cents AS BIGINT) AS m_cents,
                CAST(r_score AS BIGINT) AS r_score,
                CAST(f_score AS BIGINT) AS f_score,
                CAST(m_score AS BIGINT) AS m_score,
                CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
                  AS rfm_code
         FROM sc""",
    "q247_pareto_heads" ->
      """WITH rev AS (
           SELECT CAST(s_nationkey AS BIGINT) AS nation, s_suppkey,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2),
         w AS (
           SELECT nation, s_suppkey, cents,
                  coalesce(sum(cents) OVER (PARTITION BY nation
                    ORDER BY cents DESC, s_suppkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum_before,
                  sum(cents) OVER (PARTITION BY nation) AS n_total
           FROM rev),
         h AS (
           SELECT nation, cents,
                  CASE WHEN cum_before * 1000000 // n_total < 800000
                       THEN 1 ELSE 0 END AS in_head
           FROM w)
         SELECT nation, CAST(count(*) AS BIGINT) AS n_suppliers,
                CAST(sum(in_head) AS BIGINT) AS n_head,
                CAST(sum(CASE WHEN in_head = 1 THEN cents ELSE 0 END)
                     * 1000000 // sum(cents) AS BIGINT)
                  AS head_share_ppm,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM h GROUP BY 1""",

    "q252_seq_rules" ->
      """WITH seq AS (
           SELECT user_id, event_type AS a,
             lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS b,
             lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS c
           FROM events),
         g AS (
           SELECT a, b, c, count(*) AS n_occ,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM seq WHERE b IS NOT NULL GROUP BY 1, 2, 3),
         t AS (
           SELECT *, CAST(sum(n_occ) OVER (PARTITION BY a, b) AS BIGINT)
             AS n_ab
           FROM g)
         SELECT a || '>' || b || '>' || c AS pattern, n_users, n_occ,
           (n_occ * 1000000) // n_ab AS conf_ppm
         FROM t WHERE c IS NOT NULL""",
    "q279_gini_by_nation" ->
      """WITH per_cust AS (
           SELECT c_nationkey, c_custkey,
             CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
               AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         ranked AS (
           SELECT c_nationkey, cents,
             CAST(row_number() OVER (PARTITION BY c_nationkey
               ORDER BY cents, c_custkey) AS BIGINT) AS i
           FROM per_cust),
         g AS (
           SELECT c_nationkey, count(*) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(sum(i * cents) AS BIGINT) AS ranked_sum
           FROM ranked GROUP BY 1)
         SELECT n_name, n_customers, total_cents,
           ((2 * ranked_sum - (n_customers + 1) * total_cents)
             // n_customers) * 1000000 // total_cents AS gini_ppm
         FROM g JOIN nation ON c_nationkey = n_nationkey""",
    "q281_cohort_ltv" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         cohort AS (
           SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1),
         sizes AS (
           SELECT cohort_wk, count(*) AS n_users FROM cohort GROUP BY 1),
         cell AS (
           SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_wk,
             CAST(sum(e.cents) AS BIGINT) AS cents
           FROM ev e JOIN cohort c USING (user_id)
           GROUP BY 1, 2),
         cum AS (
           SELECT cohort_wk, age_wk, cents,
             CAST(sum(cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_cents
           FROM cell)
         SELECT cohort_wk, age_wk, n_users, cents, cum_cents,
           cum_cents // n_users AS ltv_per_user_cents
         FROM cum JOIN sizes USING (cohort_wk)""",

    "q289_funnel_sankey" ->
      """WITH seq AS (
           SELECT event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS step,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type
           FROM events),
         g AS (
           SELECT CAST(step AS BIGINT) AS step, event_type AS from_type,
                  next_type AS to_type, count(*) AS n
           FROM seq WHERE step <= 5 AND next_type IS NOT NULL
           GROUP BY 1, 2, 3)
         SELECT step, from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY step)
             AS BIGINT) AS step_ppm
         FROM g""",
    "q300_cart_abandonment" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events),
         v AS (SELECT user_id, ts FROM ev WHERE event_type = 'view'),
         p AS (SELECT user_id, ts FROM ev WHERE event_type = 'purchase'),
         ab AS (
           SELECT v.user_id, v.ts FROM v
           WHERE NOT EXISTS (
             SELECT 1 FROM p
             WHERE p.user_id = v.user_id
               AND p.ts > v.ts
               AND p.ts <= v.ts + 86400000000000)),
         vd AS (SELECT ts // 86400000000000 AS day, count(*) AS n_views
                FROM v GROUP BY 1),
         ad AS (SELECT ts // 86400000000000 AS day,
                       count(*) AS n_abandoned
                FROM ab GROUP BY 1)
         SELECT vd.day, CAST(vd.n_views AS BIGINT) AS n_views,
           CAST(coalesce(ad.n_abandoned, 0) AS BIGINT) AS n_abandoned,
           CAST(coalesce(ad.n_abandoned, 0) * 1000000 // vd.n_views
             AS BIGINT) AS abandoned_ppm
         FROM vd LEFT JOIN ad ON vd.day = ad.day""",

    "q301_nelson_aalen_churn" ->
      """WITH ld AS (
           SELECT user_id, max(epoch_ns(ts) // 86400000000000)
             AS last_day
           FROM events GROUP BY 1),
         mx AS (SELECT max(last_day) AS dmax, count(*) AS n_users
                FROM ld),
         bd AS (SELECT last_day, count(*) AS n_ending
                FROM ld GROUP BY 1),
         c AS (
           SELECT last_day, n_ending, dmax, n_users,
             coalesce(sum(n_ending) OVER (ORDER BY last_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS ended_before
           FROM bd, mx),
         h AS (
           SELECT last_day, n_users - ended_before AS n_at_risk,
             CASE WHEN last_day < dmax THEN n_ending ELSE 0 END
               AS n_churned
           FROM c)
         SELECT last_day AS day, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned,
           CAST(n_churned * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm,
           CAST(sum(n_churned * 1000000 // n_at_risk) OVER (
             ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_hazard_ppm
         FROM h""",
    "q324_basket_association_rules" ->
      """WITH items AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM items),
         cnt AS (SELECT pk, count(*) AS c FROM items GROUP BY 1),
         pairs AS (
           SELECT a.pk AS p1, b.pk AS p2, count(*) AS pair_cnt
           FROM items a JOIN items b
             ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2
           ORDER BY pair_cnt DESC, p1, p2
           LIMIT 20)
         SELECT p1, p2, CAST(pair_cnt AS BIGINT) AS pair_cnt,
           CAST(c1.c AS BIGINT) AS c1, CAST(c2.c AS BIGINT) AS c2,
           CAST(pair_cnt * 1000000 // n_baskets AS BIGINT)
             AS support_ppm,
           CAST(pair_cnt * 1000000 // c1.c AS BIGINT) AS conf_1to2_ppm,
           CAST(pair_cnt * 1000000 // c2.c AS BIGINT) AS conf_2to1_ppm,
           CAST(pair_cnt * n_baskets * 1000000 // (c1.c * c2.c)
             AS BIGINT) AS lift_ppm
         FROM pairs
         JOIN cnt c1 ON pairs.p1 = c1.pk
         JOIN cnt c2 ON pairs.p2 = c2.pk, nb""",
    "q325_path_trigrams" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_id,
             event_type AS t1
           FROM events),
         tri0 AS (
           SELECT t1,
             lead(t1, 1) OVER w AS t2,
             lead(t1, 2) OVER w AS t3
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         tri AS (
           SELECT t1, t2, t3, count(*) AS n
           FROM tri0 WHERE t2 IS NOT NULL AND t3 IS NOT NULL
           GROUP BY 1, 2, 3),
         tot AS (SELECT sum(n) AS n_tri FROM tri),
         top AS (
           SELECT * FROM tri
           ORDER BY n DESC, t1, t2, t3 LIMIT 20)
         SELECT t1, t2, t3, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // n_tri AS BIGINT) AS share_ppm
         FROM top, tot""",

    "q326_rfm_segmentation" ->
      """WITH mx AS (
           SELECT max(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
             AS max_dd FROM orders),
         cust AS (
           SELECT o_custkey AS ck,
             CAST(max_dd - max(CAST(o_orderdate AS DATE)
               - DATE '1970-01-01') AS BIGINT) AS r,
             CAST(count(*) AS BIGINT) AS f,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) // 100 AS m
           FROM orders, mx GROUP BY ck, max_dd),
         unp AS (
           SELECT 'r' AS dim, r AS v FROM cust
           UNION ALL SELECT 'f', f FROM cust
           UNION ALL SELECT 'm', m FROM cust),
         h AS (SELECT dim, v, count(*) AS c FROM unp GROUP BY 1, 2),
         cum AS (
           SELECT dim, v,
             sum(c) OVER (PARTITION BY dim ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
         nd AS (SELECT dim, sum(c) AS n_dim FROM h GROUP BY 1),
         thr AS (
           SELECT cum.dim, jj.j, min(cum.v) AS thr
           FROM cum JOIN nd ON cum.dim = nd.dim
           CROSS JOIN (SELECT unnest(range(1, 5)) AS j) jj
           WHERE cum.cum * 5 >= nd.n_dim * jj.j
           GROUP BY 1, 2),
         p AS (
           SELECT
             max(CASE WHEN dim = 'r' AND j = 1 THEN thr END) AS r_1,
             max(CASE WHEN dim = 'r' AND j = 2 THEN thr END) AS r_2,
             max(CASE WHEN dim = 'r' AND j = 3 THEN thr END) AS r_3,
             max(CASE WHEN dim = 'r' AND j = 4 THEN thr END) AS r_4,
             max(CASE WHEN dim = 'f' AND j = 1 THEN thr END) AS f_1,
             max(CASE WHEN dim = 'f' AND j = 2 THEN thr END) AS f_2,
             max(CASE WHEN dim = 'f' AND j = 3 THEN thr END) AS f_3,
             max(CASE WHEN dim = 'f' AND j = 4 THEN thr END) AS f_4,
             max(CASE WHEN dim = 'm' AND j = 1 THEN thr END) AS m_1,
             max(CASE WHEN dim = 'm' AND j = 2 THEN thr END) AS m_2,
             max(CASE WHEN dim = 'm' AND j = 3 THEN thr END) AS m_3,
             max(CASE WHEN dim = 'm' AND j = 4 THEN thr END) AS m_4
           FROM thr),
         seg AS (
           SELECT m,
             (1 + CASE WHEN r >= r_1 THEN 1 ELSE 0 END
                + CASE WHEN r >= r_2 THEN 1 ELSE 0 END
                + CASE WHEN r >= r_3 THEN 1 ELSE 0 END
                + CASE WHEN r >= r_4 THEN 1 ELSE 0 END) * 100
             + (1 + CASE WHEN f >= f_1 THEN 1 ELSE 0 END
                  + CASE WHEN f >= f_2 THEN 1 ELSE 0 END
                  + CASE WHEN f >= f_3 THEN 1 ELSE 0 END
                  + CASE WHEN f >= f_4 THEN 1 ELSE 0 END) * 10
             + (1 + CASE WHEN m >= m_1 THEN 1 ELSE 0 END
                  + CASE WHEN m >= m_2 THEN 1 ELSE 0 END
                  + CASE WHEN m >= m_3 THEN 1 ELSE 0 END
                  + CASE WHEN m >= m_4 THEN 1 ELSE 0 END) AS segment
           FROM cust, p),
         g AS (
           SELECT segment, count(*) AS n_customers,
             sum(m) // count(*) AS avg_m_dollars
           FROM seg GROUP BY 1)
         SELECT CAST(segment AS BIGINT) AS segment,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(avg_m_dollars AS BIGINT) AS avg_m_dollars,
           CAST(n_customers * 1000000 // sum(n_customers) OVER ()
             AS BIGINT) AS share_ppm
         FROM g""",

    "q330_abc_pareto_classes" ->
      """WITH rev AS (
           SELECT l_partkey AS pk,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS rev
           FROM lineitem GROUP BY 1),
         tot AS (SELECT sum(rev) AS tot FROM rev),
         c AS (
           SELECT rev,
             sum(rev) OVER (ORDER BY rev DESC, pk
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM rev),
         cls AS (
           SELECT rev,
             CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                  WHEN cum * 20 <= tot * 19 THEN 'B'
                  ELSE 'C' END AS cls
           FROM c, tot),
         g AS (
           SELECT cls, count(*) AS n_parts, sum(rev) AS rev_cents
           FROM cls GROUP BY 1)
         SELECT cls, CAST(n_parts AS BIGINT) AS n_parts,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(n_parts * 1000000 // sum(n_parts) OVER () AS BIGINT)
             AS part_share_ppm,
           CAST(rev_cents * 1000000 // sum(rev_cents) OVER () AS BIGINT)
             AS rev_share_ppm
         FROM g""",
    "q333_touch_attribution" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type
           FROM events),
         conv AS (
           SELECT user_id, ts AS pts, event_id AS pid
           FROM ev WHERE event_type = 'purchase'),
         touch AS (
           SELECT user_id, ts AS tts, event_id AS tid,
             event_type AS channel
           FROM ev WHERE event_type <> 'purchase'),
         pairs AS (
           SELECT conv.pid, touch.channel, touch.tts, touch.tid
           FROM conv JOIN touch ON conv.user_id = touch.user_id
           WHERE touch.tts < conv.pts
             AND touch.tts >= conv.pts - 604800000000000),
         flagged AS (
           SELECT channel,
             CASE WHEN row_number() OVER (PARTITION BY pid
               ORDER BY tts, tid) = 1 THEN 1 ELSE 0 END AS is_first,
             CASE WHEN row_number() OVER (PARTITION BY pid
               ORDER BY tts DESC, tid DESC) = 1 THEN 1 ELSE 0 END
               AS is_last,
             1000000 // (count(*) OVER (PARTITION BY pid)) AS credit
           FROM pairs)
         SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(is_first) AS BIGINT) AS n_first,
           CAST(sum(is_last) AS BIGINT) AS n_last,
           CAST(sum(credit) AS BIGINT) AS linear_micro
         FROM flagged GROUP BY 1""",

    "q334_retention_triangle" ->
      """WITH act AS (
           SELECT DISTINCT user_id,
             epoch_ns(ts) // 604800000000000 AS wk
           FROM events),
         cohort AS (
           SELECT user_id, min(wk) AS c_wk FROM act GROUP BY 1),
         sz AS (SELECT c_wk, count(*) AS cohort_n FROM cohort GROUP BY 1),
         tri AS (
           SELECT cohort.c_wk, act.wk - cohort.c_wk AS wk_offset,
             count(*) AS active_n
           FROM act JOIN cohort USING (user_id)
           GROUP BY 1, 2)
         SELECT tri.c_wk AS cohort_week, wk_offset,
           CAST(active_n AS BIGINT) AS active_n,
           CAST(cohort_n AS BIGINT) AS cohort_n,
           CAST(active_n * 1000000 // cohort_n AS BIGINT)
             AS retention_ppm
         FROM tri JOIN sz ON tri.c_wk = sz.c_wk""",

    "q336_conversion_latency_deciles" ->
      """WITH per AS (
           SELECT user_id,
             min(CASE WHEN event_type <> 'purchase'
               THEN epoch_ns(ts) END) AS t_touch,
             min(CASE WHEN event_type = 'purchase'
               THEN epoch_ns(ts) END) AS t_buy
           FROM events GROUP BY 1),
         classed AS (
           SELECT
             CASE WHEN t_buy IS NULL THEN 'no_purchase'
                  WHEN t_touch IS NULL OR t_buy <= t_touch
                    THEN 'purchase_first'
                  ELSE 'converted' END AS cls,
             CASE WHEN t_buy IS NOT NULL AND t_touch IS NOT NULL
                 AND t_buy > t_touch
               THEN (t_buy - t_touch) // 60000000000 END AS lat_min
           FROM per),
         counts AS (
           SELECT
             sum(CASE WHEN cls = 'converted' THEN 1 ELSE 0 END)
               AS n_converted,
             sum(CASE WHEN cls = 'purchase_first' THEN 1 ELSE 0 END)
               AS n_purchase_first,
             sum(CASE WHEN cls = 'no_purchase' THEN 1 ELSE 0 END)
               AS n_no_purchase
           FROM classed),
         h AS (
           SELECT lat_min, count(*) AS c FROM classed
           WHERE cls = 'converted' GROUP BY 1),
         cum AS (
           SELECT lat_min,
             sum(c) OVER (ORDER BY lat_min ROWS UNBOUNDED PRECEDING)
               AS cum
           FROM h),
         nc AS (SELECT sum(c) AS n_conv FROM h),
         dec AS (
           SELECT dd.decile, min(cum.lat_min) AS q_minutes
           FROM cum, nc,
             (SELECT unnest(range(1, 10)) AS decile) dd
           WHERE cum.cum * 10 >= nc.n_conv * dd.decile
           GROUP BY 1)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(q_minutes AS BIGINT) AS q_minutes,
           CAST(n_converted AS BIGINT) AS n_converted,
           CAST(n_purchase_first AS BIGINT) AS n_purchase_first,
           CAST(n_no_purchase AS BIGINT) AS n_no_purchase
         FROM dec, counts""",
    "q337_price_elasticity" ->
      """WITH li AS (
           SELECT p_brand AS brand,
             CAST(floor(ln(1.0 * CAST(floor(
               l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
               * 1000000) AS BIGINT) AS x,
             CAST(floor(ln(1.0 * CAST(floor(l_quantity) AS BIGINT))
               * 1000000) AS BIGINT) AS y
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         m AS (
           SELECT brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
           FROM li GROUP BY 1)
         SELECT brand, CAST(n AS BIGINT) AS n,
           CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
             * 1000000
             // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
             AS BIGINT) AS elasticity_ppm
         FROM m WHERE n >= 2""",
    "q349_dau_wau_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id,
             epoch_ns(ts) // 86400000000000 AS day
           FROM events),
         mx AS (SELECT max(day) AS max_day FROM ud),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         expanded AS (
           SELECT DISTINCT user_id, day + o AS rd
           FROM ud, (SELECT unnest(range(0, 7)) AS o)),
         wau AS (
           SELECT rd AS day, count(*) AS wau
           FROM expanded, mx WHERE rd <= max_day GROUP BY 1)
         SELECT dau.day, CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau,
           CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_ppm
         FROM dau JOIN wau ON dau.day = wau.day""",
    "q353_ship_lag_profile" ->
      """WITH lag AS (
           SELECT o_orderpriority AS prio,
             CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
               AS BIGINT) AS lag
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         h AS (SELECT prio, lag, count(*) AS c FROM lag GROUP BY 1, 2),
         t AS (SELECT prio, sum(c) AS n, sum(lag * c) AS sl,
                 max(lag) AS mx
               FROM h GROUP BY 1),
         cum AS (
           SELECT h.prio, h.lag,
             sum(c) OVER (PARTITION BY h.prio ORDER BY h.lag
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h)
         SELECT t.prio, CAST(t.n AS BIGINT) AS n_lines,
           CAST(t.sl * 1000000 // t.n AS BIGINT) AS mean_lag_micro,
           CAST(t.mx AS BIGINT) AS max_lag,
           CAST(min(CASE WHEN cum.cum * 2 >= t.n THEN cum.lag END)
             AS BIGINT) AS p50,
           CAST(min(CASE WHEN cum.cum * 10 >= t.n * 9 THEN cum.lag END)
             AS BIGINT) AS p90
         FROM cum JOIN t ON cum.prio = t.prio
         GROUP BY t.prio, t.n, t.sl, t.mx""",
    "q357_mean_bridge" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         seg AS (
           SELECT event_type AS seg,
             CASE WHEN epoch_ns(ts) >= t0 + (t1 - t0) // 2
               THEN 1 ELSE 0 END AS late,
             count(*) AS n,
             sum(CAST(floor(value * 100) AS BIGINT)) AS c
           FROM events, b GROUP BY 1, 2),
         tot AS (SELECT late, sum(n) AS nt FROM seg GROUP BY 1),
         r AS (
           SELECT seg.seg, seg.late,
             n * 1000000 // nt AS share_ppm,
             c * 1000000 // n AS rate_micro
           FROM seg JOIN tot ON seg.late = tot.late),
         wide AS (
           SELECT seg,
             coalesce(max(CASE WHEN late = 0 THEN share_ppm END), 0)
               AS share0,
             coalesce(max(CASE WHEN late = 0 THEN rate_micro END), 0)
               AS rate0,
             coalesce(max(CASE WHEN late = 1 THEN share_ppm END), 0)
               AS share1,
             coalesce(max(CASE WHEN late = 1 THEN rate_micro END), 0)
               AS rate1
           FROM r GROUP BY 1)
         SELECT seg, CAST(share0 AS BIGINT) AS share0,
           CAST(share1 AS BIGINT) AS share1,
           CAST(rate0 AS BIGINT) AS rate0,
           CAST(rate1 AS BIGINT) AS rate1,
           CAST((share1 - share0) * rate0 // 1000000 AS BIGINT)
             AS mix_micro,
           CAST(share1 * (rate1 - rate0) // 1000000 AS BIGINT)
             AS rate_eff_micro
         FROM wide""",

    "q358_hhi_concentration" ->
      """WITH spend AS (
           SELECT o_custkey AS ck,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         j AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nat, cents
           FROM spend JOIN customer ON ck = c_custkey),
         t AS (SELECT nat, sum(cents) AS tot, count(*) AS n_cust
               FROM j GROUP BY 1),
         sh AS (
           SELECT j.nat, t.n_cust,
             cents * 1000000 // tot AS share_ppm
           FROM j JOIN t ON j.nat = t.nat)
         SELECT nat, CAST(max(n_cust) AS BIGINT) AS n_customers,
           CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT)
             AS hhi_micro,
           CAST(max(share_ppm) AS BIGINT) AS top_share_ppm
         FROM sh GROUP BY nat""",
    "q359_segment_migration" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         per AS (
           SELECT user_id,
             CASE WHEN epoch_ns(ts) >= t0 + (t1 - t0) // 2
               THEN 1 ELSE 0 END AS late,
             sum(CAST(floor(value * 100) AS BIGINT)) AS v
           FROM events, b GROUP BY 1, 2),
         h AS (SELECT late, v, count(*) AS c FROM per GROUP BY 1, 2),
         n AS (SELECT late, sum(c) AS n FROM h GROUP BY 1),
         cum AS (
           SELECT late, v,
             sum(c) OVER (PARTITION BY late ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
         thr AS (
           SELECT cum.late, jj.j, min(cum.v) AS thr
           FROM cum JOIN n ON cum.late = n.late
           CROSS JOIN (SELECT unnest(range(1, 5)) AS j) jj
           WHERE cum.cum * 5 >= n.n * jj.j
           GROUP BY 1, 2),
         p AS (
           SELECT
             max(CASE WHEN late = 0 AND j = 1 THEN thr END) AS p0_1,
             max(CASE WHEN late = 0 AND j = 2 THEN thr END) AS p0_2,
             max(CASE WHEN late = 0 AND j = 3 THEN thr END) AS p0_3,
             max(CASE WHEN late = 0 AND j = 4 THEN thr END) AS p0_4,
             max(CASE WHEN late = 1 AND j = 1 THEN thr END) AS p1_1,
             max(CASE WHEN late = 1 AND j = 2 THEN thr END) AS p1_2,
             max(CASE WHEN late = 1 AND j = 3 THEN thr END) AS p1_3,
             max(CASE WHEN late = 1 AND j = 4 THEN thr END) AS p1_4
           FROM thr),
         wide AS (
           SELECT user_id,
             max(CASE WHEN late = 0 THEN v END) AS v0,
             max(CASE WHEN late = 1 THEN v END) AS v1
           FROM per GROUP BY 1),
         scored AS (
           SELECT
             CASE WHEN v0 IS NULL THEN 0 ELSE
               1 + CASE WHEN v0 >= p0_1 THEN 1 ELSE 0 END
                 + CASE WHEN v0 >= p0_2 THEN 1 ELSE 0 END
                 + CASE WHEN v0 >= p0_3 THEN 1 ELSE 0 END
                 + CASE WHEN v0 >= p0_4 THEN 1 ELSE 0 END END AS q_from,
             CASE WHEN v1 IS NULL THEN 0 ELSE
               1 + CASE WHEN v1 >= p1_1 THEN 1 ELSE 0 END
                 + CASE WHEN v1 >= p1_2 THEN 1 ELSE 0 END
                 + CASE WHEN v1 >= p1_3 THEN 1 ELSE 0 END
                 + CASE WHEN v1 >= p1_4 THEN 1 ELSE 0 END END AS q_to
           FROM wide, p),
         g AS (
           SELECT q_from, q_to, count(*) AS n_users
           FROM scored GROUP BY 1, 2)
         SELECT CAST(q_from AS BIGINT) AS q_from,
           CAST(q_to AS BIGINT) AS q_to,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users * 1000000 // sum(n_users) OVER () AS BIGINT)
             AS share_ppm
         FROM g""",
    "q363_session_depth_profile" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_id FROM events),
         flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > 1800000000000
               THEN 1 ELSE 0 END AS new_s
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged),
         depth AS (
           SELECT user_id, sid, count(*) AS n_events
           FROM sess GROUP BY 1, 2),
         g AS (
           SELECT least(10, n_events) AS depth,
             count(*) AS n_sessions, sum(n_events) AS n_events
           FROM depth GROUP BY 1)
         SELECT CAST(depth AS BIGINT) AS depth,
           CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_sessions * 1000000 // sum(n_sessions) OVER ()
             AS BIGINT) AS share_ppm
         FROM g""",

    "q364_overdue_customers" ->
      """WITH mx AS (
           SELECT max(epoch_ns(ts) // 1000000000) AS max_ts
           FROM events),
         per AS (
           SELECT user_id, count(*) AS n_buys,
             min(epoch_ns(ts) // 1000000000) AS t_first,
             max(epoch_ns(ts) // 1000000000) AS t_last
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1 HAVING count(*) >= 2),
         f AS (
           SELECT user_id,
             (t_last - t_first) // (n_buys - 1) AS mean_gap, t_last
           FROM per),
         o AS (
           SELECT (max_ts - t_last) * 1000000 // mean_gap
             AS overdue_ppm
           FROM f, mx WHERE mean_gap > 0),
         g AS (
           SELECT least(8, overdue_ppm // 500000) AS bucket,
             count(*) AS n_users,
             min(overdue_ppm) AS min_overdue_ppm,
             max(overdue_ppm) AS max_overdue_ppm
           FROM o GROUP BY 1)
         SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(min_overdue_ppm AS BIGINT) AS min_overdue_ppm,
           CAST(max_overdue_ppm AS BIGINT) AS max_overdue_ppm,
           CAST(n_users * 1000000 // sum(n_users) OVER () AS BIGINT)
             AS share_ppm
         FROM g""",
    "q365_newsvendor_stock" ->
      """WITH weekly AS (
           SELECT p_brand AS brand,
             (CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
             sum(CAST(floor(l_quantity) AS BIGINT)) AS dem
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         h AS (SELECT brand, dem, count(*) AS c
               FROM weekly GROUP BY 1, 2),
         t AS (SELECT brand, count(*) AS n_weeks, sum(dem) AS tot
               FROM weekly GROUP BY 1),
         cum AS (
           SELECT brand, dem,
             sum(c) OVER (PARTITION BY brand ORDER BY dem
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM h)
         SELECT t.brand, CAST(t.n_weeks AS BIGINT) AS n_weeks,
           CAST(t.tot * 1000000 // t.n_weeks AS BIGINT)
             AS mean_demand_micro,
           CAST(min(CASE WHEN cum.cum * 4 >= t.n_weeks * 3
             THEN cum.dem END) AS BIGINT) AS stock_q75
         FROM cum JOIN t ON cum.brand = t.brand
         GROUP BY t.brand, t.n_weeks, t.tot""",
    "q367_growth_accounting" ->
      """WITH cm AS (
           SELECT o_custkey AS ck,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 30 AS m,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1, 2),
         flows AS (
           SELECT m, cents,
             CASE WHEN lag(m) OVER w IS NOT NULL
                    AND lag(m) OVER w = m - 1
               THEN lag(cents) OVER w ELSE 0 END AS prev
           FROM cm WINDOW w AS (PARTITION BY ck ORDER BY m)),
         gains AS (
           SELECT m,
             sum(CASE WHEN prev = 0 THEN cents ELSE 0 END) AS new_cents,
             sum(CASE WHEN prev > 0 AND cents > prev
               THEN cents - prev ELSE 0 END) AS expansion_cents,
             sum(CASE WHEN prev > 0 AND cents < prev
               THEN cents - prev ELSE 0 END) AS contraction_cents,
             sum(cents) AS revenue_cents
           FROM flows GROUP BY 1),
         churn AS (
           SELECT a.m + 1 AS m, -sum(a.cents) AS churned_cents
           FROM cm a LEFT JOIN cm b
             ON a.ck = b.ck AND b.m = a.m + 1
           WHERE b.ck IS NULL
           GROUP BY 1)
         SELECT CAST(g.m AS BIGINT) AS m,
           CAST(revenue_cents AS BIGINT) AS revenue_cents,
           CAST(new_cents AS BIGINT) AS new_cents,
           CAST(expansion_cents AS BIGINT) AS expansion_cents,
           CAST(contraction_cents AS BIGINT) AS contraction_cents,
           CAST(coalesce(churned_cents, 0) AS BIGINT) AS churned_cents,
           CAST(new_cents + expansion_cents + contraction_cents
             + coalesce(churned_cents, 0) AS BIGINT) AS net_cents
         FROM gains g LEFT JOIN churn ON g.m = churn.m""",

    "q368_nation_benchmark" ->
      """WITH rev AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nat,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1),
         rk AS (
           SELECT *, rank() OVER (ORDER BY rev) AS rk,
             count(*) OVER () AS n
           FROM rev),
         med AS (
           SELECT min(CASE WHEN rk * 2 >= n THEN rev END) AS median
           FROM rk),
         dev AS (SELECT nat, rev, abs(rev - median) AS adev
                 FROM rev, med),
         madr AS (
           SELECT *, rank() OVER (ORDER BY adev) AS rk,
             count(*) OVER () AS n
           FROM dev),
         mad AS (
           SELECT min(CASE WHEN rk * 2 >= n THEN adev END) AS mad
           FROM madr)
         SELECT rk.nat, CAST(rk.rev AS BIGINT) AS rev_cents,
           CAST(rk.rk * 1000000 // rk.n AS BIGINT) AS pct_rank_ppm,
           CAST(CASE WHEN mad = 0 THEN 0
             ELSE (rk.rev - median) * 1000000 // mad END AS BIGINT)
             AS robust_dev_micro
         FROM rk, med, mad""",
    "q369_return_rate_lcb" ->
      """WITH g AS (
           SELECT p_brand AS brand, count(*) AS n_lines,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS n_ret
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1),
         r AS (
           SELECT *, n_ret * 1000000 // n_lines AS rate_ppm FROM g)
         SELECT brand, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_ret AS BIGINT) AS n_ret,
           CAST(rate_ppm AS BIGINT) AS rate_ppm,
           CAST(greatest(0, rate_ppm
             - 1960 * CAST(floor(sqrt(CAST(
                 rate_ppm * (1000000 - rate_ppm) // n_lines
               AS DOUBLE))) AS BIGINT) // 1000) AS BIGINT) AS lcb_ppm
         FROM r""",

    "q374_dead_stock_report" ->
      """WITH sold AS (SELECT DISTINCT l_partkey AS pk FROM lineitem),
         parts AS (SELECT p_partkey AS pk, p_brand AS brand FROM part),
         dead AS (
           SELECT brand, count(*) AS dead_parts
           FROM parts LEFT JOIN sold USING (pk)
           WHERE sold.pk IS NULL GROUP BY 1),
         rev AS (
           SELECT brand,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
               AS rev_cents
           FROM lineitem JOIN parts ON l_partkey = parts.pk
           GROUP BY 1),
         np AS (SELECT brand, count(*) AS n_parts
                FROM parts GROUP BY 1)
         SELECT np.brand, CAST(n_parts AS BIGINT) AS n_parts,
           CAST(coalesce(dead_parts, 0) AS BIGINT) AS dead_parts,
           CAST(coalesce(dead_parts, 0) * 1000000 // n_parts AS BIGINT)
             AS dead_ppm,
           CAST(coalesce(rev_cents, 0) AS BIGINT) AS rev_cents
         FROM np
         LEFT JOIN dead ON np.brand = dead.brand
         LEFT JOIN rev ON np.brand = rev.brand""",

    "q378_assortment_breadth" ->
      """WITH np AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nat, l_partkey AS pk,
             sum(CAST(floor(l_quantity) AS BIGINT)) AS q
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         tot AS (SELECT nat, sum(q) AS qt, count(*) AS n_parts
                 FROM np GROUP BY 1),
         terms AS (
           SELECT np.nat, tot.n_parts, tot.qt,
             -(q * CAST(floor(ln((1.0 * q) / qt) * 1000000) AS BIGINT))
               AS term
           FROM np JOIN tot ON np.nat = tot.nat),
         h AS (
           SELECT nat, CAST(max(n_parts) AS BIGINT) AS n_parts,
             CAST(sum(term) // max(qt) AS BIGINT) AS h_micro
           FROM terms GROUP BY 1)
         SELECT nat, n_parts, h_micro,
           CAST(floor(exp(CAST(h_micro AS DOUBLE) / 1000000))
             AS BIGINT) AS eff_breadth
         FROM h""",

    "q380_weighted_median_price" ->
      """WITH lines AS (
           SELECT p_brand AS brand,
             CAST(floor(l_extendedprice * 100) AS BIGINT)
               // CAST(floor(l_quantity) AS BIGINT) AS unit_c,
             CAST(floor(l_quantity) AS BIGINT) AS q
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         h AS (
           SELECT brand, unit_c, sum(q) AS w, count(*) AS c
           FROM lines GROUP BY 1, 2),
         t AS (SELECT brand, sum(w) AS tw, sum(c) AS tc
               FROM h GROUP BY 1),
         cum AS (
           SELECT brand, unit_c,
             sum(w) OVER (PARTITION BY brand ORDER BY unit_c
               ROWS UNBOUNDED PRECEDING) AS cw,
             sum(c) OVER (PARTITION BY brand ORDER BY unit_c
               ROWS UNBOUNDED PRECEDING) AS cc
           FROM h)
         SELECT t.brand, CAST(t.tc AS BIGINT) AS n_lines,
           CAST(t.tw AS BIGINT) AS total_qty,
           CAST(min(CASE WHEN cum.cw * 2 >= t.tw THEN cum.unit_c END)
             AS BIGINT) AS wmedian_unit_cents,
           CAST(min(CASE WHEN cum.cc * 2 >= t.tc THEN cum.unit_c END)
             AS BIGINT) AS median_unit_cents
         FROM cum JOIN t ON cum.brand = t.brand
         GROUP BY t.brand, t.tc, t.tw""",

    "q382_activity_heatmap" ->
      """WITH g AS (
           SELECT ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
             (epoch_ns(ts) // 3600000000000) % 24 AS hod,
             count(*) AS n
           FROM events GROUP BY 1, 2),
         best AS (
           SELECT n AS bn, dow AS bd, hod AS bh FROM g
           ORDER BY n DESC, dow DESC, hod DESC LIMIT 1)
         SELECT dow, hod, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm,
           CAST(CASE WHEN n = bn AND dow = bd AND hod = bh
             THEN 1 ELSE 0 END AS BIGINT) AS is_peak
         FROM g, best""")
}

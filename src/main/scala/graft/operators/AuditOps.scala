package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Corpus governance and data-quality audits: deterministic sampling,
  * cross-source overlap, column profiling, functional-dependency and key
  * discovery, semantic types, contract and referential-integrity checks,
  * privacy releases (k-anonymity, l-diversity, t-closeness) and
  * restatement and reconciliation audits.
  */
object AuditOps extends QueryModule {
  /** 3-day half-life period for q132, in event-time nanoseconds. */
  private val NsPerPeriod = 3L * 86400L * 1000L * 1000L * 1000L

  /** md5-bucketed train/valid/test assignment (8/1/1) — deterministic,
    * engine-portable, and independent of row order, so the split is
    * STABLE under corpus growth (a doc never migrates between splits
    * when new data arrives — the property hash splits are chosen for). */
  private def splitOf(docId: Column): Column = {
    val b = conv(substring(md5(docId.cast("string")), 1, 4), 16, 10)
      .cast("long") % 10
    when(b < 8, "train").when(b === 8, "valid").otherwise("test")
  }

  /** The schema's key columns, profiled for q222. */
  private val ProfiledCols: Seq[(String, String)] = Seq(
    "customer" -> "c_custkey", "orders" -> "o_custkey",
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "supplier" -> "s_suppkey", "lineitem" -> "l_suppkey",
    "part" -> "p_partkey", "lineitem" -> "l_partkey",
    "nation" -> "n_nationkey", "customer" -> "c_nationkey",
    "supplier" -> "s_nationkey")

  /** FD candidate columns (orders). o_orderkey is excluded as lhs/rhs:
    * a primary key holds trivially against everything and would only
    * pad the stacked frame. The mix spans the FD spectrum — the
    * near-unique o_totalprice holds against everything at small
    * scale and degrades as collisions appear; the low-cardinality
    * status/priority columns fail against everything. Values compare
    * as per-engine string casts, which is sound because only equality
    * classes reach the output (counts), never the rendered strings. */
  private val FdCols = Seq("o_custkey", "o_orderstatus",
    "o_orderpriority", "o_orderdate", "o_totalprice")

  private val FdPairs =
    for { x <- FdCols; y <- FdCols if x != y } yield (x, y)

  /** Key-discovery candidates (lineitem): singletons, the pairs a
    * key-inference pass would propose, and the widest combination.
    * NOTE the synthetic generator does NOT honor TPC-H's
    * (l_orderkey, l_linenumber) primary key — discovery must report
    * what the data holds, not what the spec promises (at sf0.01 only
    * the 4-column combination is unique; at sf0.001 nothing is). That
    * is exactly why a lakehouse runs this audit before trusting an
    * upstream contract. */
  private val KeyCombos: Seq[Seq[String]] = Seq(
    Seq("l_orderkey"), Seq("l_partkey"), Seq("l_suppkey"),
    Seq("l_orderkey", "l_linenumber"),
    Seq("l_orderkey", "l_partkey"),
    Seq("l_partkey", "l_suppkey"),
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))

  /** (table, column) pairs profiled by q255. */
  private val ProfCols: Seq[(String, String)] = Seq(
    ("customer", "c_custkey"), ("customer", "c_name"),
    ("customer", "c_acctbal"), ("orders", "o_orderdate"),
    ("part", "p_name"), ("documents", "lang"), ("documents", "source"),
    ("events", "props"), ("events", "event_type"))

  /** Pattern library, first match wins. Anchored regexes behave
    * identically under Java regex (rlike) and RE2 (DuckDB
    * regexp_matches): both are search-semantics engines, and ^…$
    * anchoring makes search ≡ full match. Classification is robust to
    * engine-specific value RENDERING differences (e.g. double
    * formatting) because every pattern keys on shape, not exact text,
    * and only class counts reach the output. */
  private val TypePatterns: Seq[(String, String)] = Seq(
    ("int", "^-?[0-9]+$"),
    ("decimal", "^-?[0-9]+\\.[0-9]+$"),
    ("datetime", "^[0-9]{4}-[0-9]{2}-[0-9]{2}([ T].*)?$"),
    ("code2", "^[a-z]{2}$"),
    ("json", "^\\{.*\\}$"),
    ("id_tag", "^[A-Za-z]+#[0-9]+$"),
    ("word_text", "^[A-Za-z ]+$"))

  private def classify(v: Column): Column =
    when(v.isNull, lit("null")).otherwise(
      TypePatterns.foldRight(lit("other"): Column) {
        case ((name, re), acc) => when(v.rlike(re), lit(name)).otherwise(acc)
      })

  val queries: Map[String, Q] = Map(
    // Reference context: the reference's QA surface is row counts and
    // spot queries (`dedup_parquet.py` prints per-table row counts); these
    // are the corpus-scale generalizations of that audit step.

    // ---- q130: deterministic k-per-source sample -----------------------
    // deterministic per-source sampling (q130): the "cap every source
    // at k documents" QA draw, keyed by a content-independent hash so
    // the sample is reproducible across reruns and engines;
    // Order inside each source by md5(doc_id) — a content-independent
    // uniform draw that reruns identically anywhere md5 exists. The
    // window is partitioned by source, so the sort is per-group; at
    // 100 TB with huge groups, prepend a hash-prefix prefilter
    // (keep h < bound chosen from the per-source counts) so the exact
    // rank only sees ~k×slack rows per group instead of the full group.
    "q130_sample_per_source" -> ((s, d) => {
      val w = Window.partitionBy("source")
        .orderBy(col("h"), col("doc_id"))
      table(s, d, "documents")
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("source"), col("doc_id"), col("rn"))
    }),

    // ---- q131: cross-source shingle overlap (Jaccard, ppm) -------------
    // cross-source overlap audit (q131): pairwise shingle-set Jaccard
    // between sources — the "how much of dump B is already in dump A"
    // question every corpus refresh asks. Candidates come from the
    // per-source-distinct shingle posting lists, so the pair stage is
    // bounded by #sources per shingle, never an all-pairs product;
    // Sets are DISTINCT (source, shingle) — so every posting list the
    // pair stage joins through is at most #sources long by
    // construction. The shuffles are: one distinct (by source+shingle),
    // one join keyed by shingle, one pair aggregate. No stage is
    // quadratic in corpus size; the output is #source-pairs rows.
    "q131_source_overlap" -> ((s, d) => {
      // Persisted AND eagerly materialized: the tokenize→shingle→
      // distinct subtree feeds three consumers (set sizes + both join
      // sides). Lazy persist lets the three subtrees race to populate
      // the cache (each runs the full scan); one cheap count() up
      // front buys a single computation.
      val sh = table(s, d, "documents")
        .withColumn("tokens", words(col("text")))
        .filter(size(col("tokens")) >= 3)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(tokens) - 3),
               i -> concat_ws(' ', slice(tokens, i + 1, 3)))"""))
          .as("shingle"))
        .distinct()
        .persist()
      sh.count()
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
      sh.select(col("source").as("src_a"), col("shingle"))
        .join(sh.select(col("source").as("src_b"), col("shingle")),
          "shingle")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("source").as("src_a"), col("n").as("na")),
          "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n").as("nb")),
          "src_b")
        .select(col("src_a"), col("src_b"), col("inter"),
          expr("(inter * 1000000) div (na + nb - inter)")
            .as("jaccard_ppm"))
    }),

    // ---- q132: time-decayed engagement score ---------------------------
    // time-decayed engagement (q132): per-user exponentially decayed
    // activity score in pure integer arithmetic (micro-units halved
    // per age period via arithmetic shift), so the cross-engine sums
    // are bit-exact — the freshness-weighting trick for "recency
    // score" columns without float-sum nondeterminism;
    // decayed = Σ floor(value·1e6) >> age_periods — halving per 3-day
    // period. Integer end-to-end after the one floor(), so partial
    // aggregation (map-side combine) is exact and order-independent:
    // the whole query is one broadcast of the max-ts scalar plus one
    // shuffle on user_id. Float-weighted sums (value·0.5^age) would be
    // partition-order-dependent; the shift formulation is not.
    "q132_time_decay" -> ((s, d) => {
      val e = table(s, d, "events")
      val ref = e.agg(max(col("ts")).as("ref_ts"))
      e.crossJoin(broadcast(ref))
        .withColumn("age_p",
          expr(s"cast((ref_ts - ts) div ${NsPerPeriod}L as int)"))
        .withColumn("micro",
          expr("cast(floor(value * 1000000.0) as bigint)"))
        .groupBy("user_id")
        .agg(sum(expr("shiftright(micro, age_p)")).as("decayed_micro"),
          count(lit(1)).as("n_events"))
    }),

    // ---- q133: first-order event-transition matrix ---------------------
    // event-transition matrix (q133): first-order Markov counts +
    // per-prior probabilities (ppm) over each user's event timeline —
    // lead() per user, then one tiny aggregate;
    // lead() inside each user's timeline (one shuffle, keyed by
    // user_id — co-partitioned with every other per-user stage), then
    // a tiny (type × type) aggregate joined against per-prior totals.
    "q133_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val tr = table(s, d, "events")
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("from_type").agg(sum("n").as("tot"))
      tr.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("(n * 1000000) div tot").as("ppm"))
    }),

    // ---- q134: per-language quality deciles ----------------------------
    // per-language quality deciles (q134): type-token-ratio scored
    // docs ntile(10)'d WITHIN language — per-group thresholds are the
    // correct curation filter when languages differ in baseline
    // quality (a global cut would silently drop low-resource langs);
    // Score = type-token ratio in ppm (integer-exact). ntile(10) is
    // made deterministic by the (score, doc_id) total order; the decile
    // cut points are per-language, which is the honest way to threshold
    // quality across languages with different baselines.
    "q134_quality_deciles" -> ((s, d) => {
      val scored = table(s, d, "documents")
        .withColumn("t", words(col("text")))
        .filter(size(col("t")) > 0)
        .select(col("lang"), col("doc_id"),
          expr("""(cast(size(array_distinct(t)) as bigint) * 1000000)
                  div size(t)""").as("ttr_ppm"))
      val w = Window.partitionBy("lang")
        .orderBy(col("ttr_ppm"), col("doc_id"))
      scored.withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n_docs"),
          min("ttr_ppm").as("min_ttr"), max("ttr_ppm").as("max_ttr"))
    }),

    // ---- q141: rolling time-series features ----------------------------
    // The feature-engineering pass a behavioral model trains on: per
    // event, the previous value (lag 1) and the rolling count/sum over
    // the trailing 5-row frame of that user's timeline. One shuffle
    // keyed on user_id (co-partitioned with q132/q133); frames are
    // ROWS-bounded so window state is O(frame), and values ride as
    // integer cents so the rolling sums are engine-exact.
    "q141_lag_features" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(-4, 0)
      table(s, d, "events")
        .withColumn("cents", expr("cast(floor(value * 100) as bigint)"))
        .select(col("event_id"), col("user_id"), col("cents"),
          lag(col("cents"), 1).over(w).as("prev_cents"),
          count(lit(1)).over(wf).cast("long").as("roll_n"),
          sum(col("cents")).over(wf).as("roll_cents"))
    }),

    // ---- q142: top user journeys ---------------------------------------
    // The "what do users actually do" report: each user's first five
    // events as an ordered path string, counted across users. The rank
    // and the ordered path aggregation both key on user_id (one
    // shuffle, co-partitioned with the rest of the per-user family);
    // the path table is at most |event_type|^5 rows.
    "q142_user_journeys" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      table(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
    }),

    // ---- q143: rolling 7-day active users ------------------------------
    // DAU + trailing-7-day WAU per day. Exact sliding distinct without
    // a per-day window sort: each (user, day) activity row fans out to
    // the ≤7 trailing window-days it supports (map-side sequence+
    // explode), then one distinct + one count per day. Work is
    // 7 × |active (user, day)| — linear, partitioned by day, no
    // quadratic day×day join, no global sort.
    "q143_rolling_dau" -> ((s, d) => {
      val ud = table(s, d, "events")
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
        .distinct().persist()
      ud.count()
      val mx = ud.agg(max("day").as("mx"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(explode(expr("sequence(day, day + 6)")).as("day"),
          col("user_id"))
        .distinct()
        .crossJoin(broadcast(mx)).filter(col("day") <= col("mx"))
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
    }),

    // ---- q144: anomalous-day detection, integer-exact ------------------
    // Days whose event count deviates > 2σ from the mean — in PURE
    // integer arithmetic: with N days, S = Σx, Q = Σx²,
    // (x − μ)² > 4σ² ⇔ (N·x − S)² > 4·(N·Q − S²). No float mean/std,
    // so the flag is bit-identical under any partitioning and engine.
    // Daily counts are one shuffle; the (N, S, Q) triple is a
    // broadcast scalar.
    "q144_anomaly_days" -> ((s, d) => {
      val daily = table(s, d, "events")
        .select(expr("ts div 86400000000000").as("day"))
        .groupBy("day").agg(count(lit(1)).as("n_events")).persist()
      daily.count()
      val stats = daily.agg(count(lit(1)).as("nd"),
        sum("n_events").as("s"),
        sum(expr("n_events * n_events")).as("q"))
      daily.crossJoin(broadcast(stats))
        .select(col("day"), col("n_events"),
          expr("nd * n_events - s").as("dev"),
          expr("""(nd * n_events - s) * (nd * n_events - s)
                  > 4 * (nd * q - s * s)""").as("is_anomaly"))
    }),

    // ---- q145: conversion latency distribution -------------------------
    // Time from first 'view' to first 'purchase' per user, bucketed by
    // hour. Conditional min-timestamps collapse each user to one row in
    // a single user_id-keyed aggregation (the q121 funnel recipe); the
    // bucket histogram is a second tiny aggregate.
    "q145_conversion_latency" -> ((s, d) => {
      table(s, d, "events")
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("v"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p"))
        .filter(col("v").isNotNull && col("p").isNotNull &&
          col("p") >= col("v"))
        .withColumn("latency_s", expr("(p - v) div 1000000000"))
        .withColumn("bucket_h", expr("latency_s div 3600"))
        .groupBy("bucket_h")
        .agg(count(lit(1)).as("n_users"),
          min("latency_s").as("min_s"), max("latency_s").as("max_s"))
    }),

    // ---- q135: column profile, two map-combined passes -----------------
    // one-pass column profiling (q135): null count / exact distinct /
    // min / max for every column of a table in a SINGLE scan (the
    // multi-distinct Expand), unpivoted with stack() into the
    // (column, stats) shape a data-catalog expects.
    // Every column's null count, exact distinct count, and (where the
    // string rendering is engine-portable: integers and strings) min /
    // max. NOT the obvious `agg(countDistinct(c1), countDistinct(c2),
    // …)`: six distinct aggregates in one agg plan as Expand + a
    // THREE-level SortAggregate cascade keyed on all six columns at
    // once — row-unique groups, fully sorted, twice (measured 3.1 s
    // warm at sf0.1 for a 150k-row table). Instead:
    //   pass 1 — global agg (nulls, min, max): grouping-key-free, one
    //     partial+final pair, map-side combined;
    //   pass 2 — unpivot to (col_name, value-string) → distinct →
    //     count by col_name: the per-partition partial dedup bounds
    //     shuffle volume by the distinct-value count, the standard
    //     exact-profiling shape at any scale (~0.9 s warm, 3.5×).
    // Value strings are injective renderings, so distinct counts equal
    // native distinct counts. Doubles / timestamps keep null
    // min_s/max_s (their renderings are not engine-portable); their
    // null and distinct counts are real.
    "q135_profile_stats" -> ((s, d) => {
      val o = table(s, d, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val strSafe = Set("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      val aggs = cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")) ++
          (if (strSafe(c))
            Seq(min(col(c)).cast("string").as(s"min_$c"),
              max(col(c)).cast("string").as(s"max_$c"))
          else Nil)
      }
      val wide = o.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val nd = o.select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*))
          .as("p"))
        .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
        .filter(col("v").isNotNull)
        .distinct()
        .groupBy("col_name").agg(count(lit(1)).as("n_distinct"))
      def pick(f: String => String, eligible: String => Boolean,
          zero: Column) =
        cols.filter(eligible).foldLeft(zero) { (acc, c) =>
          when(col("col_name") === c, col(f(c))).otherwise(acc)
        }
      nd.crossJoin(broadcast(wide))
        .select(col("col_name"), col("n_rows"),
          pick(c => s"null_$c", _ => true, lit(null).cast("long"))
            .as("n_null"),
          col("n_distinct"),
          pick(c => s"min_$c", strSafe, lit(null).cast("string"))
            .as("min_s"),
          pick(c => s"max_$c", strSafe, lit(null).cast("string"))
            .as("max_s"))
    }),

    // ---- q154: event-time out-of-order audit ---------------------------
    // The batch-side justification for every streaming watermark
    // choice: per user, how many events arrive with an event-time
    // EARLIER than something already seen (arrival order = event_id),
    // and how late the worst one is. An event is late iff ts < the
    // running max of all prior ts; lateness is measured against that
    // running max. One user_id shuffle; the window frame is
    // ROWS-bounded per user (running max carries O(1) state). Reading
    // this table's p99 max_late straight off sets the watermark delay
    // the streaming jobs (q52/q66/q67) should configure.
    "q154_out_of_order" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      table(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("prev_max", max("ts").over(w))
        .withColumn("late",
          col("prev_max").isNotNull && col("ts") < col("prev_max"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
          coalesce(max(when(col("late"), col("prev_max") - col("ts"))),
            lit(0L)).as("max_late_ns"))
    }),

    // ---- q155: k-anonymity audit over quasi-identifiers ----------------
    // Governance gate before releasing user-derived training data:
    // every (nation, market-segment) quasi-identifier combination must
    // cover at least k individuals, else the group is re-identifiable
    // and must be suppressed or generalized. One shuffle on the
    // quasi-identifier tuple with map-side combine; output is
    // |combinations| rows — constant-bounded however large the
    // customer table grows, so the audit is O(n) map work at any
    // scale. k=50 mirrors the usual release-review threshold.
    "q155_k_anonymity" -> ((s, d) => {
      table(s, d, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("anonymous", col("n") >= 50L)
    }),

    // ---- q159: tombstone purge (right-to-erasure propagation) ----------
    // The GDPR/takedown path: a tombstone list of deleted ids must be
    // propagated through EVERY derived table — documents and their
    // embedding rows here — and the purge must be auditable. The
    // tombstone list is small relative to the corpus (it is the set of
    // deletion requests), so each propagation is a BROADCAST anti-join:
    // one map-side pass per table, no shuffle of the 100 TB side, which
    // is why erasure over a petabyte lake is an O(scan) nightly job and
    // not a re-partitioning event. Output is the per-table audit row
    // (before/after/purged) that the compliance log keeps.
    "q159_tombstone_purge" -> ((s, d) => {
      val tomb = table(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(col("doc_id").as("del_id"))
      def audit(df: DataFrame, key: String, name: String): DataFrame = {
        val after = df.join(broadcast(tomb),
          col(key) === col("del_id"), "left_anti")
        df.agg(count(lit(1)).as("n_before"))
          .crossJoin(after.agg(count(lit(1)).as("n_after")))
          .select(lit(name).as("table_name"), col("n_before"),
            col("n_after"), (col("n_before") - col("n_after")).as("n_purged"))
      }
      audit(table(s, d, "documents"), "doc_id", "documents")
        .unionByName(
          audit(table(s, d, "embeddings"), "vec_id", "embeddings"))
    }),

    // ---- q161: time-travel snapshot reconstruction ---------------------
    // The lakehouse "AS OF version" read path over a commit log:
    // inserts at v1, updates (docs ≡0 mod 7) at v2, deletes (≡0 mod
    // 13) at v3. Every log entry fans out MAP-SIDE to the versions it
    // is visible in (explode(sequence(ver, 3))) — no non-equi join, so
    // no nested-loop plan — and per (version, doc) the latest entry
    // wins via max_by. Output is the per-version audit a snapshot
    // reader would see: live/tombstone counts + lexicographic hash
    // bounds as a content checksum. At real scale the fan-out factor
    // is the number of RETAINED versions (bounded by the vacuum
    // policy), not table size, and both shuffles carry map-side
    // combine.
    "q161_time_travel" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val ops =
        docs.select(col("doc_id"), lit(1).as("ver"), lit("I").as("op"),
            md5(col("text")).as("h"))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 0)
            .select(col("doc_id"), lit(2).as("ver"), lit("U").as("op"),
              md5(concat(col("text"), lit(" v2"))).as("h")))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
            .select(col("doc_id"), lit(3).as("ver"), lit("D").as("op"),
              // sentinel, not NULL: max_by/arg_max null-skipping
              // differs across engines, '' keeps both deterministic
              lit("").as("h")))
      ops
        .withColumn("v", explode(expr("sequence(ver, 3)")))
        .groupBy("v", "doc_id")
        .agg(expr("max_by(op, ver)").as("op"),
          expr("max_by(h, ver)").as("h"))
        .groupBy(col("v").as("version"))
        .agg(sum(when(col("op") =!= "D", 1L).otherwise(0L)).as("n_live"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
          min(when(col("op") =!= "D", col("h"))).as("min_h"),
          max(when(col("op") =!= "D", col("h"))).as("max_h"))
    }),

    // ---- q163: zone-map data skipping audit ----------------------------
    // File-level min/max statistics are THE scan reducer at 100 TB:
    // a shard whose [min, max] range misses the predicate is never
    // opened. This audit materializes the zone maps (per-shard min/max
    // of n_chars), marks which shards a `n_chars >= 900` scan could
    // skip, and JOINS BACK the true per-shard match counts to prove
    // the skipping sound (skippable shard ⇒ zero matches — the
    // invariant a corrupted stats file would break). Two shard-keyed
    // aggregations over one scan shape; output is |shards| rows.
    "q163_zone_maps" -> ((s, d) => {
      val sharded = table(s, d, "documents")
        .select(pmod(col("doc_id"), lit(20)).as("shard"), col("n_chars"))
      val zones = sharded.groupBy("shard")
        .agg(min("n_chars").as("min_c"), max("n_chars").as("max_c"),
          count(lit(1)).as("n_rows"))
      val matches = sharded.filter(col("n_chars") >= 900)
        .groupBy("shard").agg(count(lit(1)).as("n_match"))
      zones.join(matches, Seq("shard"), "left_outer")
        .select(col("shard"), col("min_c"), col("max_c"), col("n_rows"),
          (col("max_c") < 900).as("can_skip"),
          coalesce(col("n_match"), lit(0L)).as("n_match"))
    }),

    // ---- q193: declarative data-quality expectations -------------------
    // q193 data-quality expectations: a Deequ-style declarative check
    // suite (range / set-membership / null rules) evaluated in ONE scan
    // via conditional aggregation, plus a referential-integrity orphan
    // check as an anti-join — the audit a lakehouse runs on every new
    // partition before publishing it.
    // The publish gate: five row-level expectations over lineitem
    // evaluated in ONE scan (conditional aggregation — adding a rule
    // adds a counter, not a pass), plus lineitem→orders referential
    // integrity as a left anti-join (at warehouse scale both sides
    // shuffle on the key once; with a bucketed fact table it is
    // exchange-free, see PipelineSpec). Output: one row per check with
    // violation and checked counts — the contract a pipeline asserts
    // before publishing a partition.
    "q193_dq_checks" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      def check(name: String, bad: org.apache.spark.sql.Column) =
        struct(lit(name).as("check_name"),
          sum(when(bad, 1L).otherwise(0L)).as("n_violations"),
          count(lit(1)).as("n_checked"))
      val rowChecks = li.agg(array(
        check("quantity_in_1_50",
          col("l_quantity") < 1 || col("l_quantity") > 50),
        check("price_nonnegative", col("l_extendedprice") < 0),
        check("returnflag_in_domain",
          !col("l_returnflag").isin("A", "N", "R")),
        check("linestatus_in_domain", !col("l_linestatus").isin("O", "F")),
        check("shipdate_present", col("l_shipdate").isNull)).as("cs"))
        .select(explode(col("cs")).as("c"))
        .select("c.check_name", "c.n_violations", "c.n_checked")
      val total = li.count()
      val orphans = li.join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orderkey_fk_integrity").as("check_name"),
          col("n_violations"), lit(total).as("n_checked"))
      rowChecks.unionAll(orphans)
    }),

    // ---- q200: split-leakage audit -------------------------------------
    // q200 split-leakage audit: near-dup candidate pairs (q37's banded
    // MinHash) that straddle train/valid/test splits — the eval-
    // integrity check every dataset release runs.
    // Near-dup candidate pairs from q37's banded-MinHash LSH, joined to
    // the md5-hash split assignment; pairs whose endpoints land in
    // DIFFERENT splits are eval leakage. Composes two existing scale
    // postures (banded candidates — never all-pairs; hash splits —
    // stable under growth); the two split joins hash on doc_id.
    "q200_split_leakage" -> ((s, d) => {
      val pairs = TextOps.queries("q37_lsh_pairs")(s, d)
      val splits = table(s, d, "documents")
        .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
      pairs
        .join(splits.select(col("doc_id").as("a_id"),
          col("split").as("split_a")), "a_id")
        .join(splits.select(col("doc_id").as("b_id"),
          col("split").as("split_b")), "b_id")
        .filter(col("split_a") =!= col("split_b"))
        .select("a_id", "b_id", "split_a", "split_b")
    }),

    // ---- q206: l-diversity audit ---------------------------------------
    // q206 l-diversity audit: distinct-sensitive-value counts per
    // quasi-identifier group — the privacy-release complement of
    // q155's k-anonymity.
    // q155's quasi-identifier groups (nation × market segment), sensitive
    // attribute = $1000 account-balance band. A group is safe when it
    // holds >= 3 distinct sensitive values — k-anonymity (group size)
    // says nothing when everyone in the group shares the sensitive
    // value. floor(x/1000) (not integer div) so negative balances band
    // correctly in both engines. One grouped count-distinct, hashed on
    // the quasi-identifier.
    "q206_l_diversity" -> ((s, d) => {
      table(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct("band").as("l_distinct"))
        .withColumn("diverse", col("l_distinct") >= 3L)
    }),

    // ---- q208: dataset card (per-source release datasheet) -------------
    // q208 dataset card: the per-source release datasheet (doc/token/
    // char totals, language spread, quality share) in ONE conditional-
    // aggregation scan — the corpus-level analogue of q193's DQ gate.
    // One scan, conditional aggregation — adding a datasheet line adds a
    // counter, never a pass (same posture as q193). Quality share =
    // docs whose integer avg token length lands in [3000, 10000] milli-
    // chars; language spread as a distinct count. Everything integer.
    "q208_dataset_card" -> ((s, d) => {
      val toks = size(words(col("text")))
      table(s, d, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          toks.cast("long").as("n_toks"))
        .withColumn("avg_tok_milli", expr("(n_chars * 1000) div n_toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          countDistinct("lang").as("n_langs"),
          sum(when(col("avg_tok_milli").between(3000, 10000), 1L)
            .otherwise(0L)).as("n_quality"))
        .withColumn("quality_ppm", expr("n_quality * 1000000 div n_docs"))
    }),

    // ---- q222: joinable-column discovery (value-set containment) -------
    // q222 joinable-column discovery: exact value-set containment
    // across the schema's key columns (the Josie-style exact
    // baseline), with per-value posting lists bounded by the number
    // of profiled columns.
    // Which key columns join against which: distinct value sets per
    // profiled column (map-side combined), one equi-join on the value,
    // and containment = |A∩B| / min(|A|,|B|) in integer ppm. Every
    // value's posting list is bounded by the number of profiled
    // columns (11 here), so the pair stage emits ≤ 55 rows per value —
    // never all-pairs on rows. At a lakehouse's column count the exact
    // join gives way to per-column KMV sketches (q60's aggregator)
    // with the same downstream shape; this is the exact baseline a
    // sketch variant is validated against.
    "q222_joinable_columns" -> ((s, d) => {
      // ONE scan per table (its profiled columns stacked map-side into
      // (cid, v) pairs) + ONE global distinct shuffle — measured
      // 2.9 → 2.3 s vs the original per-column-distinct formulation,
      // which planned 11 separate scan+distinct stages before the
      // union; at lakehouse column counts the stage-count saving is
      // the difference between O(columns) and O(tables) scheduling.
      // The heavy phase carries a small INT column id, not the
      // "table.column" string — the label was ~20 bytes on every one of
      // the fact-sized stacked rows and dominated the distinct
      // exchange (measured 17.8 → 11.5 s at sf1); ids are assigned in
      // sorted-name order so cid_a < cid_b ≡ col_a < col_b and names
      // come back from an 11-row broadcast at the end. Same output
      // set: distinct over stacked pairs ≡ union of per-column
      // distincts.
      import s.implicits._
      val sortedNames = ProfiledCols.map { case (t, c) => s"$t.$c" }.sorted
      val cid = sortedNames.zipWithIndex.toMap
      val vals = ProfiledCols.groupBy(_._1).toSeq.map { case (t, tc) =>
        table(s, d, t).select(explode(array(tc.map { case (_, c) =>
          struct(lit(cid(s"$t.$c")).as("cid"),
            col(c).cast("long").as("v"))
        }: _*)).as("p")).select(col("p.cid"), col("p.v"))
      }.reduce(_ unionByName _).distinct()
      // NOT persisted: ReuseExchange already shares the distinct's
      // shuffle across the 3 consumers; an explicit persist measured
      // SLOWER (2.3 → 2.8 s) — the cache write outweighs the reuse.
      // Size + name ride ONE 11-row broadcast per pair side (r11): the
      // former four broadcast joins (sizes ×2, names ×2) each paid a
      // broadcast-build job + join stage on a ≤55-row frame — pure
      // job-count floor (guide §1.2 step 1). Same lookup values.
      val sizes = vals.groupBy("cid").agg(count(lit(1)).as("n"))
      val names = sortedNames.zipWithIndex
        .map { case (n, i) => (i, n) }.toDF("cid", "col_name")
      val meta = sizes.join(names, "cid")
      val a = vals.select(col("cid").as("cid_a"), col("v"))
      val b = vals.select(col("cid").as("cid_b"), col("v"))
      a.join(b, "v").filter(col("cid_a") < col("cid_b"))
        .groupBy("cid_a", "cid_b").agg(count(lit(1)).as("n_inter"))
        .join(broadcast(meta.select(col("cid").as("cid_a"),
          col("n").as("n_a"), col("col_name").as("col_a"))), "cid_a")
        .join(broadcast(meta.select(col("cid").as("cid_b"),
          col("n").as("n_b"), col("col_name").as("col_b"))), "cid_b")
        .select(col("col_a"), col("col_b"), col("n_a"), col("n_b"),
          col("n_inter"),
          expr("n_inter * 1000000L div least(n_a, n_b)")
            .as("containment_ppm"))
    }),

    // Schema-discovery profiling (the ANALYZE tier a
    // lakehouse runs before trusting inbound data).
    //
    // Both follow q222's stacked-scan shape: ONE table scan explodes the
    // candidate set map-side into (candidate, value) pairs and ONE
    // grouped shuffle answers every candidate at once — O(1) stages
    // regardless of how many dependencies/combinations are profiled,
    // where the naive per-candidate formulation schedules O(candidates)
    // scan+agg stages.

    // ---- q253: functional-dependency discovery -------------------------
    // q253 functional-dependency discovery: which X→Y dependencies
    // hold among a candidate column set, with violation counts.
    // Stacked (fd, x, y) pairs → groupBy (fd, x) with a distinct-y
    // count → per-dependency rollup. The first shuffle keys on
    // (fd, xv), so the 20 dependencies' group frames spread across ALL
    // partitions — no dependency is a hot key. The heavy phase carries
    // a small INT dependency id, not the two column-name strings — the
    // labels rode on every one of the 20 × |orders| stacked rows and
    // dominated the exchange (measured 9.9 → 0.75 s at sf1, the q222
    // lesson); names come back from a 20-row broadcast at the end.
    // X→Y holds iff no lhs group sees >1 distinct rhs value;
    // max_rhs_ndv says how badly a failing dependency fails (1 column
    // would need max_rhs_ndv repair values per key to normalize).
    "q253_fd_discovery" -> ((s, d) => {
      import s.implicits._
      val stacked = table(s, d, "orders")
        .select(explode(array(FdPairs.zipWithIndex.map {
          case ((x, y), i) =>
            struct(lit(i).as("fd"),
              col(x).cast("string").as("xv"),
              col(y).cast("string").as("yv"))
        }: _*)).as("p"))
        .select(col("p.fd").as("fd"), col("p.xv").as("xv"),
          col("p.yv").as("yv"))
      val names = broadcast(FdPairs.zipWithIndex
        .map { case ((x, y), i) => (i, x, y) }.toDF("fd", "lhs", "rhs"))
      stacked.groupBy("fd", "xv")
        .agg(countDistinct("yv").as("ndv_y"))
        .groupBy("fd")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("ndv_y") > 1, 1L).otherwise(0L)).as("n_violating"),
          max("ndv_y").as("max_rhs_ndv"))
        .join(names, "fd")
        .select(col("lhs"), col("rhs"), col("n_groups"),
          col("n_violating"), col("max_rhs_ndv"),
          when(col("n_violating") === 0, 1L).otherwise(0L).as("holds"))
    }),

    // ---- q254: candidate-key (uniqueness) discovery ---------------------
    // q254 candidate-key (uniqueness) discovery: which column
    // combinations are unique, with duplication multiplicities.
    // Combo values concatenate with '|' (safe: all candidate columns
    // are integers). ONE groupBy (combo, v) carries every candidate's
    // multiplicity histogram; the rollup emits exact duplication
    // counts, so is_key is certain — not sampled.
    "q254_key_discovery" -> ((s, d) => {
      val stacked = table(s, d, "lineitem")
        .select(explode(array(KeyCombos.map { cols =>
          struct(lit(cols.mkString("+")).as("combo"),
            concat_ws("|", cols.map(c => col(c).cast("string")): _*)
              .as("v"))
        }: _*)).as("p"))
        .select(col("p.combo").as("combo"), col("p.v").as("v"))
      stacked.groupBy("combo", "v").agg(count(lit(1)).as("m"))
        .groupBy("combo")
        .agg(sum("m").as("n_rows"), count(lit(1)).as("n_distinct"),
          max("m").as("max_multiplicity"))
        .select(col("combo"), col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_extra_rows"),
          col("max_multiplicity"),
          when(col("n_rows") === col("n_distinct"), 1L).otherwise(0L)
            .as("is_key"))
    }),

    // ---- q255: semantic-type inference profile -------------------------
    // q255 semantic-type profile: classify every profiled column's
    // values against a pattern library (int / decimal / datetime /
    // language code / JSON / tagged id / word text) — the inference
    // pass a catalog runs over untyped inbound data before assigning
    // schemas.
    // q222's stacked-scan shape: ONE scan per table explodes its
    // profiled columns map-side into (col_name, value) pairs, the
    // pattern CASE runs inside that same map stage (codegen'd rlike
    // chain, no UDF), and ONE grouped shuffle of (col_name, class)
    // pairs — already reduced to ≤ 8 rows per column by map-side
    // combine — yields the whole profile. The ppm share window runs
    // over the tiny class frame.
    "q255_semantic_types" -> ((s, d) => {
      val stacked = ProfCols.groupBy(_._1).toSeq.map { case (t, tc) =>
        table(s, d, t).select(explode(array(tc.map { case (_, c) =>
          struct(lit(s"$t.$c").as("col_name"),
            col(c).cast("string").as("v"))
        }: _*)).as("p"))
          .select(col("p.col_name").as("col_name"),
            classify(col("p.v")).as("cls"))
      }.reduce(_ unionByName _)
      val g = stacked.groupBy("col_name", "cls").agg(count(lit(1)).as("n"))
      g.withColumn("ppm",
        expr("n * 1000000 div " +
          "sum(n) OVER (PARTITION BY col_name)").cast("long"))
    }),

    // ---- q266: exact-median imputation ---------------------------------
    // q266 exact-median imputation: repair deterministic missingness
    // with the per-group exact median, computed over the value
    // HISTOGRAM (domain-bounded cumulative window) — never a
    // per-group sort of the corpus.
    // Deterministic missingness (event_id % 7 = 0 plays the NULL); the
    // repair value is the per-type LOWER MEDIAN of present cents —
    // exact, via the (type, cents) histogram and a cumulative window
    // whose frame is the VALUE DOMAIN, not the corpus (q228's
    // backbone). Output is the per-type repair report: counts, the
    // imputed median, and the post-repair total — the audit trail a
    // data-repair job must emit.
    "q266_median_impute" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_id"), col("event_type"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val present = ev.filter(col("event_id") % 7 =!= 0)
      val hist = present.groupBy("event_type", "cents")
        .agg(count(lit(1)).as("c"))
      val tot = present.groupBy("event_type")
        .agg(count(lit(1)).as("n_present"),
          sum("cents").as("present_sum"))
      val wCum = Window.partitionBy("event_type").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = hist.withColumn("cum", sum("c").over(wCum))
        .join(broadcast(tot), "event_type")
        .filter(col("cum") >= expr("(n_present + 1) div 2"))
        .groupBy("event_type").agg(min("cents").as("median_cents"))
      val missing = ev.filter(col("event_id") % 7 === 0)
        .groupBy("event_type").agg(count(lit(1)).as("n_missing"))
      tot.join(med, "event_type").join(missing, "event_type")
        .select(col("event_type"), col("n_present"), col("n_missing"),
          col("median_cents"),
          (col("present_sum") + col("n_missing") * col("median_cents"))
            .as("total_after_impute"))
    }),

    // ---- q284: t-closeness over (event_type, day-of-week) QI groups ---
    // q284 t-closeness (Li et al. 2007), completing k-anonymity
    // (q155) and l-diversity (q206): per quasi-identifier group, the
    // ordered-EMD distance between the group's sensitive-value
    // distribution and the global one.
    // Sensitive attribute = the spend decile class (q230's global bin
    // edges — shared constants, so group and global distributions are
    // comparable). For an ORDERED attribute the EMD reduces to
    // Σ|cumulative difference|/(C−1) (Li et al. §3): per group, the
    // per-class ppm shares diff against the global shares, cumulate
    // over the 11-class grid (made gapless via group × range(0,11) so
    // an empty class still carries the running difference), and sum
    // absolute values. Work: one (group, class) histogram shuffle +
    // windows over ≤11-row partitions; the grid is |groups|·11 rows —
    // tiny at any corpus size because groups are (type × dow) ≤ 35.
    "q284_t_closeness" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_type"),
          expr("(ts div 86400000000000 + 4) % 7").as("dow"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val mx = ev.agg(max("cents").as("m"))
      val cls = ev.crossJoin(broadcast(mx))
        .select(col("event_type"), col("dow"),
          expr("cents div (m div 10 + 1)").as("cls"))
      val byGrpCls = cls.groupBy("event_type", "dow", "cls")
        .agg(count(lit(1)).as("n"))
      val byGrp = byGrpCls.groupBy("event_type", "dow")
        .agg(sum("n").as("n_g"))
      val byCls = byGrpCls.groupBy("cls").agg(sum("n").as("n_c"))
      val tot = byCls.agg(sum("n_c").as("n_all"))
      val grid = byGrp.crossJoin(s.range(0, 11).select(col("id").as("cls")))
      val w = Window.partitionBy("event_type", "dow").orderBy("cls")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .join(byGrpCls, Seq("event_type", "dow", "cls"), "left_outer")
        .na.fill(0L, Seq("n"))
        .join(broadcast(byCls), Seq("cls"), "left_outer")
        .na.fill(0L, Seq("n_c"))
        .crossJoin(broadcast(tot))
        .withColumn("diff_ppm",
          expr("n * 1000000 div n_g - n_c * 1000000 div n_all"))
        .withColumn("cum", sum("diff_ppm").over(w))
        .groupBy("event_type", "dow")
        .agg(max("n_g").as("n_g"),
          expr("sum(abs(cum)) div 10").as("t_ppm"))
    }),

    // ---- q290: k-anonymity generalization ladder ----------------------
    // q290 k-anonymity generalization lattice: which QI
    // generalization level first satisfies k≥10, and what each level
    // costs in suppression — the decision a privacy release actually
    // makes (q155 measures ONE grouping; this ranks the ladder).
    // Four nested QI levels — (type, dow) → (type, weekend) → (type) →
    // (*) — audited in ONE corpus pass: each row explodes onto its 4
    // level keys (map-side), one (level, key) count shuffle, then a
    // 4×|keys| rollup. Per level: group count, smallest group, rows
    // needing suppression under k=10 (members of any group smaller
    // than k) in floored ppm, and whether the level satisfies k≥10
    // outright. dow is (epoch-days + 4) % 7 (1970-01-01 was Thursday),
    // weekend = {Saturday=6, Sunday=0} — pinned identically in the
    // oracle.
    "q290_k_anon_generalization" -> ((s, d) => {
      val lv = table(s, d, "events")
        .select(col("event_type"),
          expr("(ts div 86400000000000 + 4) % 7").as("dow"))
        .withColumn("wkend",
          expr("CASE WHEN dow IN (0, 6) THEN 'we' ELSE 'wd' END"))
        .select(explode(array(
          struct(lit("L0_type_dow").as("level"),
            concat_ws("|", col("event_type"), col("dow")).as("key")),
          struct(lit("L1_type_weekend").as("level"),
            concat_ws("|", col("event_type"), col("wkend")).as("key")),
          struct(lit("L2_type").as("level"), col("event_type").as("key")),
          struct(lit("L3_all").as("level"), lit("*").as("key"))))
          .as("g"))
        .select(col("g.level").as("level"), col("g.key").as("key"))
      lv.groupBy("level", "key").agg(count(lit(1)).as("n"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_groups"), min("n").as("k_min"),
          sum(when(col("n") < 10, col("n")).otherwise(0L))
            .as("n_suppressed"),
          sum("n").as("n_rows"))
        .select(col("level"), col("n_groups"), col("k_min"),
          expr("n_suppressed * 1000000 div n_rows").as("suppressed_ppm"),
          (col("k_min") >= 10).as("meets_k10"))
    }),

    // ---- q296: late-arrival restatement per event-time day -------------
    // q296 restatement (bitemporal correction) audit: per event-time
    // day, the metric "as known at the arrival checkpoint" vs the
    // final value — how much each day's revenue was restated by
    // late-arriving rows.
    // Arrival order is the dense event_id (generation order — the
    // transaction-time axis); the checkpoint is the halfway arrival
    // point. Per EVENT-TIME day: revenue as known at the checkpoint,
    // final revenue, late row count, and the restatement in ppm of
    // final. One conditional-sum aggregate over one corpus pass — the
    // bitemporal audit shape, any scale. (value > 0 corpus invariant
    // keeps rev_final positive, so the single division is exact floor
    // in both engines.)
    "q296_restatement_audit" -> ((s, d) => {
      val ev = table(s, d, "events").select(
        expr("ts div 86400000000000").as("day"),
        col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val ck = ev.agg(expr("max(event_id) div 2").as("ckpt"))
      ev.crossJoin(broadcast(ck))
        .groupBy("day")
        .agg(
          sum(when(col("event_id") <= col("ckpt"), col("cents"))
            .otherwise(0L)).as("rev_at_ckpt"),
          sum("cents").as("rev_final"),
          sum(when(col("event_id") > col("ckpt"), 1L).otherwise(0L))
            .as("n_late"))
        .withColumn("restated_ppm",
          expr("(rev_final - rev_at_ckpt) * 1000000 div rev_final"))
    }),

    // ---- q322: order-header vs line-rollup reconciliation --------------
    // Per order: header cents vs Σ line extended-price cents; signed
    // relative error in ppm; clamped 10%-step buckets. One equi-join
    // shuffle on the order key, then a 21-row histogram with window
    // shares over that tiny frame. Headerless/lineless drift lands in
    // the extreme buckets (coalesce(0) makes absence a −100% error) —
    // the shape auditors actually want at reconciliation time.
    "q322_reconciliation_histogram" -> ((s, d) => {
      val lines = table(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
          .as("line_cents"))
      table(s, d, "orders")
        .select(col("o_orderkey").as("ok"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
            .as("total_cents"))
        .join(lines, Seq("ok"), "left")
        .withColumn("err_ppm", expr(
          "(coalesce(line_cents, 0) - total_cents) * 1000000 " +
            "div total_cents"))
        .withColumn("bucket",
          expr("greatest(-10, least(10, err_ppm div 100000))"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("err_ppm").as("min_err_ppm"),
          max("err_ppm").as("max_err_ppm"))
        .withColumn("share_ppm", expr("n * 1000000 div sum(n) OVER ()"))
    }),

    // Declarative data-quality gates — an
    // expectation-suite conformance report (each contract check scored in
    // one corpus pass, Great-Expectations-style) and a consolidated
    // referential-integrity report over every FK edge of the star schema
    // (anti-join orphan counts, the q13 shape rolled into one audit).

    // ---- q347: contract conformance suite over the event feed ----------
    // Six declarative expectations evaluated as predicate sums in ONE
    // pass (map-side combinable), then unpivoted to a row per check
    // with pass-rate ppm and a pass/fail verdict. The check list is
    // the data contract; a new feed version that breaks one shows up
    // as a 'fail' row, not a silent drift.
    "q347_contract_conformance" -> ((s, d) => {
      val checks = Seq(
        ("value_nonneg", "value >= 0"),
        ("value_under_1k", "value < 1000"),
        ("type_in_enum",
          "event_type IN ('click','error','purchase','signup','view')"),
        ("user_id_nonneg", "user_id >= 0"),
        ("props_present", "props IS NOT NULL AND props <> ''"),
        ("ts_in_window",
          "ts >= 1577836800000000000 AND ts < 1893456000000000000"))
      val agg = table(s, d, "events").agg(
        count(lit(1)).as("n_rows"),
        checks.map { case (nm, p) =>
          sum(expr(s"CAST($p AS BIGINT)")).as(s"p_$nm")
        }: _*)
      agg.select(col("n_rows"), explode(array(
          checks.map { case (nm, _) =>
            struct(lit(nm).as("check"), col(s"p_$nm").as("n_pass"))
          }: _*)).as("c"))
        .select(col("c.check").as("check"), col("n_rows"),
          col("c.n_pass").as("n_pass"),
          expr("c.n_pass * 1000000 div n_rows").as("pass_ppm"),
          expr("""CASE WHEN c.n_pass = n_rows THEN 'pass'
              ELSE 'fail' END""").as("status"))
    }),

    // ---- q348: referential-integrity report over all FK edges ----------
    // Every FK edge of the schema scored by an anti-join orphan count
    // (child side shuffles once per edge on its key; parent sides are
    // dimension-sized or AQE-broadcast). One audit frame out: the
    // "is the star schema actually closed" report run before any
    // dimensional rollup is trusted.
    "q348_fk_integrity_report" -> ((s, d) => {
      // ONE pass per CHILD table, not per FK edge: the child scans
      // once, left-joins each referenced parent's DISTINCT key set,
      // and a single conditional aggregation counts rows and per-edge
      // misses; the per-edge report rows unpivot from that one
      // aggregate row. The former shape ran an anti-join branch plus
      // two aggregates PER EDGE — lineitem alone was scanned three
      // times (guide §1.2 step 1). Counts identical: a left-join miss
      // against a distinct parent key set IS the anti-join membership
      // test (null child keys miss in both shapes).
      def pkeys(t: String, k: String, as: String) = table(s, d, t)
        .select(col(k).cast("long").as(as)).distinct()
      def unpivot(agg1: DataFrame,
          edges: Seq[(String, String)]): DataFrame =
        agg1.select(col("n_child"), explode(array(edges.map {
          case (e, oc) => struct(lit(e).as("e"), col(oc).as("o"))
        }: _*)).as("x"))
          .select(col("x.e").as("fk_edge"), col("n_child"),
            col("x.o").as("n_orphans"),
            expr("x.o * 1000000 div n_child").as("orphan_ppm"))
      def report(child: DataFrame,
          fks: Seq[(String, String, String, String)]): DataFrame = {
        // fks: (edgeName, childKey, parentTable, parentKey)
        val base = child.select(fks.zipWithIndex.map { case (fk, i) =>
          col(fk._2).cast("long").as(s"fk$i") }: _*)
        val joined = fks.zipWithIndex.foldLeft(base) {
          case (df, ((_, _, pt, pk), i)) =>
            df.join(pkeys(pt, pk, s"pk$i"),
              col(s"fk$i") === col(s"pk$i"), "left_outer")
        }
        val agg1 = joined.agg(count(lit(1)).as("n_child"),
          fks.indices.map(i => sum(when(col(s"pk$i").isNull, 1L)
            .otherwise(0L)).as(s"o$i")): _*)
        unpivot(agg1, fks.zipWithIndex.map { case ((e, _, _, _), i) =>
          (e, s"o$i") })
      }
      Seq(
        report(table(s, d, "lineitem"), Seq(
          ("lineitem->orders", "l_orderkey", "orders", "o_orderkey"),
          ("lineitem->part", "l_partkey", "part", "p_partkey"),
          ("lineitem->supplier", "l_suppkey", "supplier", "s_suppkey"))),
        report(table(s, d, "orders"), Seq(
          ("orders->customer", "o_custkey", "customer", "c_custkey"))),
        report(table(s, d, "customer"), Seq(
          ("customer->nation", "c_nationkey", "nation", "n_nationkey"))),
        report(table(s, d, "supplier"), Seq(
          ("supplier->nation", "s_nationkey", "nation", "n_nationkey"))),
        report(table(s, d, "nation"), Seq(
          ("nation->region", "n_regionkey", "region", "r_regionkey"))))
        .reduce(_ unionByName _)
    }),

    // ---- q370: recurring similar-payment scan ----------------------------
    // Candidate pairs block on the (customer, $1000 amount band) key —
    // the coarse key is what makes the scan scale (pair explosion is
    // bounded by per-(customer, band) multiplicity); the gap between
    // the two order dates buckets into years. Same-band repeat
    // payments by one account are what an AP auditor triages first.
    "q370_duplicate_payment_scan" -> ((s, d) => {
      val o = table(s, d, "orders").select(
        col("o_orderkey").as("ok"), col("o_custkey").as("ck"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT) div 100000")
          .as("band"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
          .cast("long").as("dd"))
      val pairs = o.select(col("ck"), col("band"),
          col("ok").as("ok1"), col("dd").as("d1"))
        .join(o.select(col("ck"), col("band"), col("ok").as("ok2"),
          col("dd").as("d2")), Seq("ck", "band"))
        .filter(col("ok1") < col("ok2"))
      pairs
        .groupBy(expr("abs(d1 - d2) div 365").as("gap_years"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("ck")).as("n_customers"))
    }),

    // Semi-structured + calendar-grid shapes — JSON
    // payload field profiling (the first thing a pipeline does to a
    // `props` column: extract, type-check, profile — Spark
    // `get_json_object` vs DuckDB `json_extract_string`, both codegen'd
    // scalar paths) and the hour-of-day × day-of-week activity heatmap
    // (the bounded 168-cell ops grid with the peak cell flagged).

    // ---- q381: JSON payload field profile ---------------------------------
    // k = $.k extracted per event (map-only scalar JSON path); per
    // event_type: parse-failure count (schema drift detector), exact
    // min/max/mean micro of k, and the share of k ≥ 50 in ppm. One
    // corpus pass folding to the |types| frame.
    "q381_json_field_profile" -> ((s, d) => {
      table(s, d, "events")
        .select(col("event_type").as("et"),
          expr("CAST(get_json_object(props, '$.k') AS BIGINT)")
            .as("k"))
        .groupBy("et")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(k IS NULL AS BIGINT)")).as("n_unparsed"),
          min("k").as("min_k"), max("k").as("max_k"),
          expr("sum(k) * 1000000 div count(k)").as("mean_k_micro"),
          expr("""sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) * 1000000
              div count(k)""").as("high_k_ppm"))
    }),

    // Dependence structure — a status-consistency
    // crosstab between the order header and its lines (the denormalized
    // fields that MUST agree, audited) and the empirical copula density
    // grid (rank-dependence between customer tenure and spend: decile ×
    // decile cell counts vs the uniform-independence expectation — the
    // distribution-free dependence heatmap).

    // ---- q383: header/line status consistency crosstab -------------------
    // Every (o_orderstatus, l_linestatus) combination with counts and
    // corpus share; the verdict column flags combinations the
    // denormalization contract forbids (an 'F' order with an 'O'
    // line). One equi-join shuffle, bounded crosstab out.
    "q383_status_consistency" -> ((s, d) => {
      table(s, d, "orders")
        .join(table(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus").as("o_status"),
          col("l_linestatus").as("l_status"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_ppm",
          expr("n * 1000000 div sum(n) OVER ()"))
        .withColumn("verdict", expr(
          """CASE
             WHEN o_status = 'F' AND l_status = 'O' THEN 'violation'
             WHEN o_status = 'O' AND l_status = 'F' THEN 'partial'
             ELSE 'consistent' END"""))
    }))

  private val shingleSetsCte =
    """sh AS (
         SELECT DISTINCT source, shingle FROM (
           SELECT source,
             unnest(list_transform(range(0, len(tokens) - 2),
               i -> array_to_string(list_slice(tokens, i + 1, i + 3), ' ')))
               AS shingle
           FROM (SELECT source,
                   list_filter(string_split(lower(text), ' '), w -> w <> '')
                     AS tokens
                 FROM documents)
           WHERE len(tokens) >= 3))"""

  private val valsSql: String = ProfiledCols.map { case (t, c) =>
    s"SELECT DISTINCT '$t.$c' AS col_name, CAST($c AS BIGINT) AS v FROM $t"
  }.mkString("\n           UNION ALL ")

  private val fdStackSql = FdPairs.map { case (x, y) =>
    s"""SELECT '$x' AS lhs, '$y' AS rhs, CAST($x AS VARCHAR) AS xv,
          CAST($y AS VARCHAR) AS yv FROM orders"""
  }.mkString("\n UNION ALL ")

  private val keyStackSql = KeyCombos.map { cols =>
    val v = cols.map(c => s"CAST($c AS VARCHAR)").mkString(" || '|' || ")
    s"SELECT '${cols.mkString("+")}' AS combo, $v AS v FROM lineitem"
  }.mkString("\n UNION ALL ")

  private val profStackSql = ProfCols.map { case (t, c) =>
    s"SELECT '$t.$c' AS col_name, CAST($c AS VARCHAR) AS v FROM $t"
  }.mkString("\n UNION ALL ")

  private val typeCaseSql =
    "CASE WHEN v IS NULL THEN 'null' " +
      TypePatterns.map { case (name, re) =>
        s"WHEN regexp_matches(v, '$re') THEN '$name' "
      }.mkString +
      "ELSE 'other' END"

  val oracle: Map[String, String] = Map(
    "q154_out_of_order" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ns(ts) AS tsn,
             max(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
           FROM events)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (prev_max IS NOT NULL AND tsn < prev_max)
             AS BIGINT) AS n_late,
           CAST(coalesce(max(prev_max - tsn)
             FILTER (prev_max IS NOT NULL AND tsn < prev_max), 0)
             AS BIGINT) AS max_late_ns
         FROM e GROUP BY user_id""",
    "q155_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n, count(*) >= 50 AS anonymous
         FROM customer GROUP BY 1, 2""",
    "q161_time_travel" ->
      """WITH ops AS (
           SELECT doc_id, 1 AS ver, 'I' AS op, md5(text) AS h
           FROM documents
           UNION ALL
           SELECT doc_id, 2, 'U', md5(text || ' v2')
           FROM documents WHERE doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, 3, 'D', ''
           FROM documents WHERE doc_id % 13 = 0),
         fan AS (
           SELECT doc_id, ver, op, h, unnest(range(ver, 4)) AS v
           FROM ops),
         snap AS (
           SELECT v, doc_id, arg_max(op, ver) AS op, arg_max(h, ver) AS h
           FROM fan GROUP BY 1, 2)
         SELECT v AS version,
           CAST(count(*) FILTER (op <> 'D') AS BIGINT) AS n_live,
           CAST(count(*) FILTER (op = 'D') AS BIGINT) AS n_deleted,
           min(h) FILTER (op <> 'D') AS min_h,
           max(h) FILTER (op <> 'D') AS max_h
         FROM snap GROUP BY v""",
    "q163_zone_maps" ->
      """WITH sh AS (
           SELECT doc_id % 20 AS shard, n_chars FROM documents),
         zones AS (
           SELECT shard, min(n_chars) AS min_c, max(n_chars) AS max_c,
             count(*) AS n_rows
           FROM sh GROUP BY shard),
         m AS (
           SELECT shard, count(*) AS n_match FROM sh
           WHERE n_chars >= 900 GROUP BY shard)
         SELECT z.shard, z.min_c, z.max_c, z.n_rows,
           z.max_c < 900 AS can_skip,
           CAST(coalesce(m.n_match, 0) AS BIGINT) AS n_match
         FROM zones z LEFT JOIN m USING (shard)""",
    "q159_tombstone_purge" ->
      """WITH tomb AS (
           SELECT doc_id AS del_id FROM documents WHERE doc_id % 13 = 0)
         SELECT 'documents' AS table_name,
           (SELECT count(*) FROM documents) AS n_before,
           (SELECT count(*) FROM documents
            WHERE doc_id NOT IN (SELECT del_id FROM tomb)) AS n_after,
           (SELECT count(*) FROM documents)
             - (SELECT count(*) FROM documents
                WHERE doc_id NOT IN (SELECT del_id FROM tomb)) AS n_purged
         UNION ALL
         SELECT 'embeddings',
           (SELECT count(*) FROM embeddings),
           (SELECT count(*) FROM embeddings
            WHERE vec_id NOT IN (SELECT del_id FROM tomb)),
           (SELECT count(*) FROM embeddings)
             - (SELECT count(*) FROM embeddings
                WHERE vec_id NOT IN (SELECT del_id FROM tomb))""",
    "q130_sample_per_source" ->
      """SELECT source, doc_id, rn FROM (
           SELECT source, doc_id,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS rn
           FROM documents)
         WHERE rn <= 10""",

    "q131_source_overlap" ->
      s"""WITH $shingleSetsCte,
         sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
         iv AS (SELECT a.source AS src_a, b.source AS src_b,
                  count(*) AS inter
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.source < b.source
                GROUP BY 1, 2)
         SELECT iv.src_a, iv.src_b, iv.inter,
           (iv.inter * 1000000) // (za.n + zb.n - iv.inter) AS jaccard_ppm
         FROM iv JOIN sz za ON iv.src_a = za.source
                 JOIN sz zb ON iv.src_b = zb.source""",

    "q132_time_decay" ->
      """WITH ref AS (SELECT max(epoch_ns(ts)) AS ref_ts FROM events)
         SELECT user_id,
           CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)
                    >> CAST((ref_ts - epoch_ns(ts)) // 259200000000000
                            AS INT)) AS BIGINT) AS decayed_micro,
           count(*) AS n_events
         FROM events, ref GROUP BY user_id""",

    "q133_markov_transitions" ->
      """WITH tr AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n
               FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
               FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n, (c.n * 1000000) // t.tot AS ppm
         FROM c JOIN t ON c.from_type = t.from_type""",

    "q134_quality_deciles" ->
      """WITH q AS (
           SELECT lang, doc_id,
             (CAST(len(list_distinct(t)) AS BIGINT) * 1000000) // len(t)
               AS ttr_ppm
           FROM (SELECT lang, doc_id,
                   list_filter(string_split(lower(text), ' '), w -> w <> '')
                     AS t
                 FROM documents)
           WHERE len(t) > 0),
         b AS (SELECT lang, ttr_ppm,
                 CAST(ntile(10) OVER (
                   PARTITION BY lang ORDER BY ttr_ppm, doc_id) AS BIGINT)
                   AS decile
               FROM q)
         SELECT lang, decile, count(*) AS n_docs,
           min(ttr_ppm) AS min_ttr, max(ttr_ppm) AS max_ttr
         FROM b GROUP BY 1, 2""",

    "q142_user_journeys" ->
      """WITH o AS (
           SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
               FROM o WHERE rn <= 5 GROUP BY user_id)
         SELECT path, count(*) AS n_users FROM p GROUP BY path""",

    "q143_rolling_dau" ->
      """WITH ud AS (
           SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
           FROM events),
         mx AS (SELECT max(day) AS mx FROM ud),
         w AS (SELECT DISTINCT day, user_id FROM (
           SELECT unnest(range(u.day, u.day + 7)) AS day, u.user_id
           FROM ud u)
           WHERE day <= (SELECT mx FROM mx)),
         wau AS (SELECT day, count(*) AS wau FROM w GROUP BY day),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day)
         SELECT d.day, d.dau, w2.wau
         FROM dau d JOIN wau w2 ON d.day = w2.day""",

    "q144_anomaly_days" ->
      """WITH daily AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day,
             count(*) AS n_events
           FROM events GROUP BY 1),
         st AS (SELECT count(*) AS nd, CAST(sum(n_events) AS BIGINT) AS s,
                  CAST(sum(n_events * n_events) AS BIGINT) AS q
                FROM daily)
         SELECT day, n_events,
           nd * n_events - s AS dev,
           (nd * n_events - s) * (nd * n_events - s)
             > 4 * (nd * q - s * s) AS is_anomaly
         FROM daily, st""",

    "q145_conversion_latency" ->
      """WITH u AS (
           SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS v,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
               AS p
           FROM events GROUP BY user_id),
         l AS (SELECT (p - v) // 1000000000 AS latency_s FROM u
               WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v)
         SELECT latency_s // 3600 AS bucket_h, count(*) AS n_users,
                min(latency_s) AS min_s, max(latency_s) AS max_s
         FROM l GROUP BY 1""",

    "q141_lag_features" ->
      """SELECT event_id, user_id, cents,
           lag(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_cents,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_n,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS roll_cents
         FROM (SELECT event_id, user_id, ts,
                 CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events)""",

    "q135_profile_stats" -> {
      val specs = Seq(
        ("o_orderkey", true), ("o_custkey", true), ("o_orderstatus", true),
        ("o_totalprice", false), ("o_orderdate", false),
        ("o_orderpriority", true))
      specs.map { case (c, safe) =>
        val mm = if (safe)
          s"CAST(min($c) AS VARCHAR) AS min_s, CAST(max($c) AS VARCHAR) AS max_s"
        else "CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           count(DISTINCT $c) AS n_distinct, $mm
           FROM orders"""
      }.mkString(" UNION ALL ")
    },
    "q193_dq_checks" ->
      """SELECT 'quantity_in_1_50' AS check_name,
                CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                CAST(count(*) AS BIGINT) AS n_checked
         FROM lineitem
         UNION ALL
         SELECT 'price_nonnegative',
                CAST(sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END)
                  AS BIGINT), CAST(count(*) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'returnflag_in_domain',
                CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R')
                              THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(*) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'linestatus_in_domain',
                CAST(sum(CASE WHEN l_linestatus NOT IN ('O','F')
                              THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(*) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'shipdate_present',
                CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT), CAST(count(*) AS BIGINT)
         FROM lineitem
         UNION ALL
         SELECT 'orderkey_fk_integrity',
                CAST((SELECT count(*) FROM lineitem l
                      WHERE NOT EXISTS (SELECT 1 FROM orders o
                                        WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT),
                CAST((SELECT count(*) FROM lineitem) AS BIGINT)""",
    "q200_split_leakage" ->
      s"""WITH pairs AS (${TextOps.oracle("q37_lsh_pairs")}),
         sp AS (
           SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                         1, 4)) AS BIGINT) % 10 < 8 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                         1, 4)) AS BIGINT) % 10 = 8 THEN 'valid'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT p.a_id, p.b_id, sa.split AS split_a, sb.split AS split_b
         FROM pairs p
         JOIN sp sa ON p.a_id = sa.doc_id
         JOIN sp sb ON p.b_id = sb.doc_id
         WHERE sa.split <> sb.split""",
    "q206_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0)
                  AS BIGINT)) AS BIGINT) AS l_distinct,
                count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                  >= 3 AS diverse
         FROM customer GROUP BY c_nationkey, c_mktsegment""",
    "q208_dataset_card" ->
      """WITH sc AS (
           SELECT source, lang, n_chars,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS BIGINT) AS n_toks
           FROM documents),
         sc2 AS (
           SELECT source, lang, n_chars, n_toks,
                  (n_chars * 1000) // n_toks AS avg_tok_milli
           FROM sc)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(sum(CASE WHEN avg_tok_milli BETWEEN 3000 AND 10000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                CAST(sum(CASE WHEN avg_tok_milli BETWEEN 3000 AND 10000
                              THEN 1 ELSE 0 END) * 1000000 // count(*)
                  AS BIGINT) AS quality_ppm
         FROM sc2 GROUP BY source""",
    "q222_joinable_columns" ->
      s"""WITH vals AS (
           $valsSql),
         sizes AS (SELECT col_name, count(*) AS n FROM vals GROUP BY 1),
         inter AS (
           SELECT a.col_name AS col_a, b.col_name AS col_b,
                  count(*) AS n_inter
           FROM vals a JOIN vals b
             ON a.v = b.v AND a.col_name < b.col_name
           GROUP BY 1, 2)
         SELECT col_a, col_b, CAST(sa.n AS BIGINT) AS n_a,
                CAST(sb.n AS BIGINT) AS n_b,
                CAST(n_inter AS BIGINT) AS n_inter,
                CAST(n_inter * 1000000 // least(sa.n, sb.n) AS BIGINT)
                  AS containment_ppm
         FROM inter JOIN sizes sa ON sa.col_name = col_a
                    JOIN sizes sb ON sb.col_name = col_b""",
    "q253_fd_discovery" ->
      s"""WITH stacked AS (
           $fdStackSql),
         g AS (
           SELECT lhs, rhs, xv,
             CAST(count(DISTINCT yv) AS BIGINT) AS ndv_y
           FROM stacked GROUP BY 1, 2, 3)
         SELECT lhs, rhs, count(*) AS n_groups,
           CAST(sum(CASE WHEN ndv_y > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(max(ndv_y) AS BIGINT) AS max_rhs_ndv,
           CAST(CASE WHEN sum(CASE WHEN ndv_y > 1 THEN 1 ELSE 0 END) = 0
             THEN 1 ELSE 0 END AS BIGINT) AS holds
         FROM g GROUP BY 1, 2""",

    "q254_key_discovery" ->
      s"""WITH stacked AS (
           $keyStackSql),
         h AS (
           SELECT combo, v, count(*) AS m FROM stacked GROUP BY 1, 2)
         SELECT combo, CAST(sum(m) AS BIGINT) AS n_rows,
           count(*) AS n_distinct,
           CAST(sum(m) - count(*) AS BIGINT) AS n_extra_rows,
           CAST(max(m) AS BIGINT) AS max_multiplicity,
           CAST(CASE WHEN sum(m) = count(*) THEN 1 ELSE 0 END AS BIGINT)
             AS is_key
         FROM h GROUP BY combo""",
    "q255_semantic_types" ->
      s"""WITH stacked AS (
           $profStackSql),
         classified AS (
           SELECT col_name, $typeCaseSql AS cls FROM stacked),
         g AS (
           SELECT col_name, cls, count(*) AS n
           FROM classified GROUP BY 1, 2)
         SELECT col_name, cls, n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY col_name)
             AS BIGINT) AS ppm
         FROM g""",

    "q266_median_impute" ->
      """WITH ev AS (
           SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         present AS (SELECT * FROM ev WHERE event_id % 7 <> 0),
         hist AS (
           SELECT event_type, cents, count(*) AS c
           FROM present GROUP BY 1, 2),
         tot AS (
           SELECT event_type, count(*) AS n_present,
             CAST(sum(cents) AS BIGINT) AS present_sum
           FROM present GROUP BY 1),
         cum AS (
           SELECT h.event_type, h.cents,
             CAST(sum(h.c) OVER (PARTITION BY h.event_type
               ORDER BY h.cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
             t.n_present
           FROM hist h JOIN tot t USING (event_type)),
         med AS (
           SELECT event_type, min(cents) AS median_cents
           FROM cum WHERE cum >= (n_present + 1) // 2
           GROUP BY event_type),
         miss AS (
           SELECT event_type, count(*) AS n_missing
           FROM ev WHERE event_id % 7 = 0 GROUP BY 1)
         SELECT t.event_type, t.n_present, m2.n_missing, m.median_cents,
           t.present_sum + m2.n_missing * m.median_cents
             AS total_after_impute
         FROM tot t JOIN med m USING (event_type)
         JOIN miss m2 USING (event_type)""",

    "q284_t_closeness" ->
      """WITH ev AS (
           SELECT event_type,
                  (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         mx AS (SELECT max(cents) AS m FROM ev),
         c AS (SELECT event_type, dow, cents // (m // 10 + 1) AS cls
               FROM ev, mx),
         bgc AS (SELECT event_type, dow, cls, count(*) AS n
                 FROM c GROUP BY 1, 2, 3),
         bg AS (SELECT event_type, dow, sum(n) AS n_g
                FROM bgc GROUP BY 1, 2),
         bc AS (SELECT cls, sum(n) AS n_c FROM bgc GROUP BY 1),
         tot AS (SELECT sum(n_c) AS n_all FROM bc),
         grid AS (
           SELECT bg.event_type, bg.dow, bg.n_g, t.cls
           FROM bg CROSS JOIN (SELECT unnest(range(0, 11)) AS cls) t),
         j AS (
           SELECT g.event_type, g.dow, g.n_g, g.cls,
             coalesce(bgc.n, 0) AS n, coalesce(bc.n_c, 0) AS n_c
           FROM grid g
           LEFT JOIN bgc ON g.event_type = bgc.event_type
             AND g.dow = bgc.dow AND g.cls = bgc.cls
           LEFT JOIN bc ON g.cls = bc.cls),
         cum AS (
           SELECT event_type, dow, n_g,
             sum(n * 1000000 // n_g - n_c * 1000000 // n_all) OVER (
               PARTITION BY event_type, dow ORDER BY cls
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM j, tot)
         SELECT event_type, CAST(dow AS BIGINT) AS dow,
           CAST(max(n_g) AS BIGINT) AS n_g,
           CAST(sum(abs(cum)) // 10 AS BIGINT) AS t_ppm
         FROM cum GROUP BY 1, 2""",
    "q290_k_anon_generalization" ->
      """WITH ev AS (
           SELECT event_type,
             (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow
           FROM events),
         lv AS (
           SELECT 'L0_type_dow' AS level,
                  event_type || '|' || CAST(dow AS VARCHAR) AS key
           FROM ev
           UNION ALL
           SELECT 'L1_type_weekend',
                  event_type || '|' ||
                  CASE WHEN dow IN (0, 6) THEN 'we' ELSE 'wd' END
           FROM ev
           UNION ALL
           SELECT 'L2_type', event_type FROM ev
           UNION ALL
           SELECT 'L3_all', '*' FROM ev),
         g AS (SELECT level, key, count(*) AS n FROM lv GROUP BY 1, 2)
         SELECT level, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(n) AS BIGINT) AS k_min,
           CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) * 1000000
                // sum(n) AS BIGINT) AS suppressed_ppm,
           min(n) >= 10 AS meets_k10
         FROM g GROUP BY level""",

    "q296_restatement_audit" ->
      """WITH ev AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day, event_id,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         ck AS (SELECT max(event_id) // 2 AS ckpt FROM ev)
         SELECT day,
           CAST(sum(CASE WHEN event_id <= ckpt THEN cents ELSE 0 END)
             AS BIGINT) AS rev_at_ckpt,
           CAST(sum(cents) AS BIGINT) AS rev_final,
           CAST(sum(CASE WHEN event_id > ckpt THEN 1 ELSE 0 END)
             AS BIGINT) AS n_late,
           CAST((sum(cents)
                 - sum(CASE WHEN event_id <= ckpt THEN cents ELSE 0 END))
                * 1000000 // sum(cents) AS BIGINT) AS restated_ppm
         FROM ev, ck GROUP BY day""",

    "q322_reconciliation_histogram" ->
      """WITH lines AS (
           SELECT l_orderkey AS ok,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
               AS line_cents
           FROM lineitem GROUP BY 1),
         e AS (
           SELECT (coalesce(line_cents, 0) - total_cents) * 1000000
               // total_cents AS err_ppm
           FROM (SELECT o_orderkey AS ok,
                   CAST(floor(o_totalprice * 100) AS BIGINT)
                     AS total_cents
                 FROM orders) o
           LEFT JOIN lines USING (ok)),
         g AS (
           SELECT greatest(-10, least(10, err_ppm // 100000)) AS bucket,
             count(*) AS n, min(err_ppm) AS min_err_ppm,
             max(err_ppm) AS max_err_ppm
           FROM e GROUP BY 1)
         SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
           CAST(min_err_ppm AS BIGINT) AS min_err_ppm,
           CAST(max_err_ppm AS BIGINT) AS max_err_ppm,
           CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm
         FROM g""",
    "q347_contract_conformance" ->
      """WITH agg AS (
           SELECT count(*) AS n_rows,
             sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END) AS p1,
             sum(CASE WHEN value < 1000 THEN 1 ELSE 0 END) AS p2,
             sum(CASE WHEN event_type IN
               ('click','error','purchase','signup','view')
               THEN 1 ELSE 0 END) AS p3,
             sum(CASE WHEN user_id >= 0 THEN 1 ELSE 0 END) AS p4,
             sum(CASE WHEN props IS NOT NULL AND props <> ''
               THEN 1 ELSE 0 END) AS p5,
             sum(CASE WHEN epoch_ns(ts) >= 1577836800000000000
               AND epoch_ns(ts) < 1893456000000000000
               THEN 1 ELSE 0 END) AS p6
           FROM events),
         u AS (
           SELECT 'value_nonneg' AS check_nm, n_rows, p1 AS n_pass
             FROM agg
           UNION ALL SELECT 'value_under_1k', n_rows, p2 FROM agg
           UNION ALL SELECT 'type_in_enum', n_rows, p3 FROM agg
           UNION ALL SELECT 'user_id_nonneg', n_rows, p4 FROM agg
           UNION ALL SELECT 'props_present', n_rows, p5 FROM agg
           UNION ALL SELECT 'ts_in_window', n_rows, p6 FROM agg)
         SELECT check_nm AS "check", CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_pass AS BIGINT) AS n_pass,
           CAST(n_pass * 1000000 // n_rows AS BIGINT) AS pass_ppm,
           CASE WHEN n_pass = n_rows THEN 'pass' ELSE 'fail' END
             AS status
         FROM u""",

    "q348_fk_integrity_report" ->
      """WITH e1 AS (
           SELECT 'lineitem->orders' AS fk_edge, count(*) AS n_child,
             sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS n_orphans
           FROM lineitem
           LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON l_orderkey = o_orderkey),
         e2 AS (
           SELECT 'lineitem->part', count(*),
             sum(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END)
           FROM lineitem
           LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
             ON l_partkey = p_partkey),
         e3 AS (
           SELECT 'lineitem->supplier', count(*),
             sum(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
           FROM lineitem
           LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) su
             ON l_suppkey = s_suppkey),
         e4 AS (
           SELECT 'orders->customer', count(*),
             sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
           FROM orders
           LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o_custkey = c_custkey),
         e5 AS (
           SELECT 'customer->nation', count(*),
             sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
           FROM customer
           LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
             ON c_nationkey = n_nationkey),
         e6 AS (
           SELECT 'supplier->nation', count(*),
             sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
           FROM supplier
           LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
             ON s_nationkey = n_nationkey),
         e7 AS (
           SELECT 'nation->region', count(*),
             sum(CASE WHEN r_regionkey IS NULL THEN 1 ELSE 0 END)
           FROM nation
           LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
             ON n_regionkey = r_regionkey),
         u AS (
           SELECT * FROM e1 UNION ALL SELECT * FROM e2
           UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
           UNION ALL SELECT * FROM e5 UNION ALL SELECT * FROM e6
           UNION ALL SELECT * FROM e7)
         SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
           CAST(n_orphans AS BIGINT) AS n_orphans,
           CAST(n_orphans * 1000000 // n_child AS BIGINT) AS orphan_ppm
         FROM u""",

    "q370_duplicate_payment_scan" ->
      """WITH o AS (
           SELECT o_orderkey AS ok, o_custkey AS ck,
             CAST(floor(o_totalprice * 100) AS BIGINT) // 100000
               AS band,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
               AS BIGINT) AS dd
           FROM orders),
         pairs AS (
           SELECT a.ck, abs(a.dd - b.dd) // 365 AS gap_years
           FROM o a JOIN o b
             ON a.ck = b.ck AND a.band = b.band AND a.ok < b.ok)
         SELECT CAST(gap_years AS BIGINT) AS gap_years,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT ck) AS BIGINT) AS n_customers
         FROM pairs GROUP BY 1""",
    "q381_json_field_profile" ->
      """WITH e AS (
           SELECT event_type AS et,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
         SELECT et, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unparsed,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(k) * 1000000 // count(k) AS BIGINT)
             AS mean_k_micro,
           CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) * 1000000
             // count(k) AS BIGINT) AS high_k_ppm
         FROM e GROUP BY 1""",
    "q383_status_consistency" ->
      """WITH g AS (
           SELECT o_orderstatus AS o_status, l_linestatus AS l_status,
             count(*) AS n
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           GROUP BY 1, 2)
         SELECT o_status, l_status, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // sum(n) OVER () AS BIGINT) AS share_ppm,
           CASE
             WHEN o_status = 'F' AND l_status = 'O' THEN 'violation'
             WHEN o_status = 'O' AND l_status = 'F' THEN 'partial'
             ELSE 'consistent' END AS verdict
         FROM g""")
}

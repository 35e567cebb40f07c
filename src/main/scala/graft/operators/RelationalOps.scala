package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampNTZType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Relational operator library — the Spark-first re-expression of the
  * reference's operator inventory (SURVEY.md §2) exercised over the
  * driver-generated TPC-H-ish testdata so every operator can be
  * hash-checked against a DuckDB oracle.
  *
  * Determinism rules (the driver hash-compares values):
  *  - money aggregates go through DECIMAL(18,2) (exact, order-independent
  *    sums) and are surfaced as DOUBLE, which converts identically in
  *    Spark and DuckDB;
  *  - no raw timestamps in outputs — formatted to strings;
  *  - every window ordering / top-k has a unique tie-break key.
  */
object RelationalOps extends QueryModule {
  private val Dec = DecimalType(18, 2)

  /** Exact discounted-price sum: cast BOTH factors to decimal before the
    * multiply so no engine ever rounds a double product (rounding-mode
    * tie-breaks differ between Java BigDecimal and DuckDB). */
  private def discSum(price: Column, disc: Column): Column =
    sum(price.cast(Dec) * (lit(1).cast(Dec) - disc.cast(Dec))).cast("double")

  /** Activity interval length for q185: 30 min in ns. */
  private val IvLenNs = 1800000000000L

  /** Exact discounted-revenue sum (same contract as RelationalOps:
    * both factors decimal BEFORE the multiply, engines never round a
    * double product). */
  private def revSum(price: Column, disc: Column): Column =
    sum(price.cast(Dec) * (lit(1).cast(Dec) - disc.cast(Dec)))
      .cast("double")

  /** Exact revenue in integer cents: DECIMAL(18,2) product summed,
    * then ×100 with an EXPLICIT floor — the product has scale 4, so
    * ×100 leaves a 2-digit fraction, and the engines' bare
    * decimal→long casts disagree on it (Spark truncates, DuckDB
    * rounds). floor() pins one semantic for both. No double ever
    * enters the aggregation. */
  private def revCents(price: org.apache.spark.sql.Column,
      disc: org.apache.spark.sql.Column) =
    floor(sum(price.cast(Dec) * (lit(1).cast(Dec) - disc.cast(Dec))) * 100)
      .cast("long")

  private val K = 64

  /** q190's changelog: one (key, ts, event_id, op, new_bal) row per
    * non-error event; a purchase deletes its key, every other event
    * upserts the key's balance in integer cents. */
  private[graft] def cdcChanges(events: DataFrame): DataFrame =
    events.filter(col("event_type") =!= "error")
      .select(col("user_id").as("key"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", lit("D")).otherwise(lit("U"))
          .as("op"),
        floor(col("value") * 100).cast("long").as("new_bal"))

  /** q190's snapshot merge: the changelog heads `latest` (key, op,
    * new_bal; one row per key) full-outer joined into the customer
    * balance snapshot. A delete drops the key, an upsert overwrites or
    * inserts it, and untouched snapshot rows pass through. */
  private[graft] def cdcMerge(s: SparkSession, d: String,
      latest: DataFrame): DataFrame =
    table(s, d, "customer")
      .select(col("c_custkey").as("key"),
        floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .join(latest, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        when(col("op").isNotNull, col("new_bal")).otherwise(col("bal_cents"))
          .as("bal_cents"),
        when(col("op").isNotNull, lit("chg")).otherwise(lit("snap"))
          .as("src"))

  val queries: Map[String, Q] = Map(
    // ---- A6/A8-family aggregation over the fact table (TPC-H Q1 shape) --
    "q01_agg_pricing" -> ((s, d) => {
      table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          discSum(col("l_extendedprice"), col("l_discount"))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // ---- P1/P2/P6/P7: projection + conjunctive predicates, pushed to scan
    "q02_filter_project" -> ((s, d) => {
      table(s, d, "lineitem")
        .filter(col("l_quantity") > 49 && col("l_returnflag") === "R" &&
          col("l_shipdate").isNotNull)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),

    // ---- A1: whole-row distinct ----------------------------------------
    "q03_distinct_full" -> ((s, d) =>
      table(s, d, "lineitem").select("l_returnflag", "l_linestatus").distinct()),

    // ---- A2/W5: key dedup with deterministic survivor (DISTINCT ON) ----
    // min(struct(ordering...)) is lexicographic, so it selects exactly
    // the row_number()=1 survivor — but as a map-side-combinable
    // aggregate: each partition pre-reduces to one row per key before
    // the shuffle, instead of sorting every row inside a window. At
    // 100 TB that's the difference between shuffling n rows and
    // shuffling ~distinct-keys rows. (The oracle keeps the DISTINCT ON
    // row_number formulation — same semantics, independent derivation.)
    "q04_dedup_keys" -> ((s, d) => {
      table(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(min(struct(col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))).as("m"))
        .select(col("l_orderkey"), col("m.l_linenumber"),
          col("m.l_partkey"))
    }),

    // ---- A4: per-key column merge (max skips nulls = prefer-non-null) --
    "q05_group_merge" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy("o_custkey")
        .agg(
          max("o_orderstatus").as("status_merged"),
          date_format(max("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
            .as("latest_order_date"),
          count(lit(1)).as("n_orders"))
    }),

    // ---- A6/J2: history-stats shape — big-big join + min/max/count agg -
    "q06_history_stats" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
          date_format(min("l_shipdate"), "yyyy-MM-dd").as("first_ship"),
          date_format(max("l_shipdate"), "yyyy-MM-dd").as("last_ship"),
          min("l_linenumber").as("min_line"),
          max("l_linenumber").as("max_line"),
          count(lit(1)).as("n_items"))
    }),

    // ---- A7/J4: left-outer join + count of matches (0 preserved) -------
    "q07_left_join_count" -> ((s, d) => {
      val o = table(s, d, "orders")
      val li = table(s, d, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_outer")
        .groupBy("o_orderkey")
        .agg(count(li("l_orderkey")).as("n_items"))
    }),

    // ---- A8: scalar aggregates -----------------------------------------
    "q08_scalar_agg" -> ((s, d) => {
      table(s, d, "orders").agg(
        max("o_orderkey").as("max_key"),
        count(lit(1)).as("n_orders"),
        date_format(min("o_orderdate"), "yyyy-MM-dd").as("first_date"),
        date_format(max("o_orderdate"), "yyyy-MM-dd").as("last_date"))
    }),

    // ---- A9: group rows into one value per key (map-pivot analogue) ----
    "q09_group_concat" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"))
    }),

    // ---- O2: total-order top-k with offset pagination ------------------
    "q10_topk_offset" -> ((s, d) => {
      table(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(10).limit(100)
        .select("o_orderkey", "o_totalprice")
    }),

    // ---- J2: big-big equi-join + aggregation ---------------------------
    "q11_join_agg" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          discSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---- J5/J11: dimension-chain join (broadcast both dims) ------------
    "q12_join_chain" -> ((s, d) => {
      val c = table(s, d, "customer")
      val n = table(s, d, "nation")
      val r = table(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("total_bal"))
    }),

    // ---- J9: left-semi join (presence) ---------------------------------
    "q13_semi_join" -> ((s, d) => {
      val c = table(s, d, "customer")
      val o = table(s, d, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // ---- J10: left-anti join (absence / set difference) ----------------
    "q14_anti_join" -> ((s, d) => {
      val c = table(s, d, "customer")
      val o = table(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // ---- J11: composite-natural-key lookup join ------------------------
    "q15_composite_key_join" -> ((s, d) => {
      val p = table(s, d, "part")
      val dim = p.groupBy("p_brand", "p_size")
        .agg(min("p_retailprice").as("min_price"))
      p.join(broadcast(dim), Seq("p_brand", "p_size"))
        .filter(col("p_retailprice") === col("min_price"))
        .select("p_partkey", "p_brand", "p_size")
    }),

    // ---- J12: left join against a deduped subquery ---------------------
    "q16_dedup_subquery_join" -> ((s, d) => {
      val n = table(s, d, "nation")
      val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
      val top = table(s, d, "customer")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("c_nationkey"), col("c_custkey"), col("c_name"))
      n.join(top, n("n_nationkey") === top("c_nationkey"), "left_outer")
        .select(col("n_name"), col("c_custkey"), col("c_name"))
    }),

    // ---- W2: latest-per-group via window max (currently_visible shape) -
    "q17_window_latest" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey")
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_shipdate") === max("l_shipdate").over(w)).as("is_latest"))
    }),

    // ---- W4: next-element-in-timeline via lead -------------------------
    "q18_window_lead" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      table(s, d, "events")
        .select(col("event_id"),
          lead("event_id", 1).over(w).as("next_event_id"))
    }),

    // ---- W5: per-group top-k via row_number ----------------------------
    "q19_window_topk" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      table(s, d, "customer")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("c_nationkey", "c_custkey", "rank")
    }),

    // ---- distribution-rank window suite --------------------------------
    // percent_rank / cume_dist / ntile over a partitioned total order —
    // the statistics windows the reference's report layer would reach
    // for next. The ordering includes the unique o_orderkey tie-break
    // so every rank is deterministic; doubles round to 6 for the
    // cross-engine hash.
    "q108_rank_suite" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).cast("long").as("quartile"))
    }),

    // ---- set ops: UNION ALL --------------------------------------------
    "q20_union_all" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val hi = li.filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("key")).withColumn("src", lit("hi"))
      val lo = li.filter(col("l_quantity") < 5)
        .select(col("l_orderkey").as("key")).withColumn("src", lit("lo"))
      hi.unionByName(lo).groupBy("src")
        .agg(count(lit(1)).as("n"), countDistinct(col("key")).as("n_keys"))
    }),

    // ---- set ops: INTERSECT --------------------------------------------
    "q21_intersect" -> ((s, d) => {
      val o = table(s, d, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.intersect(op)
    }),

    // ---- set ops: EXCEPT -----------------------------------------------
    "q22_except" -> ((s, d) => {
      val o = table(s, d, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.except(op)
    }),

    // ---- F1/F2: content-address hashing (md5 + sha2; reference keys
    //      everything by hash, models.py:57-59 / build_db.py:343-344) ----
    "q23_hash_funcs" -> ((s, d) => {
      table(s, d, "customer")
        .select(col("c_custkey"),
          md5(col("c_name")).as("name_md5"),
          sha2(col("c_name"), 256).as("name_sha256"))
    }),

    // ---- F3/F4/F6: URL synthesis, host extraction, language-from-host --
    "q24_url_funcs" -> ((s, d) => {
      table(s, d, "nation")
        .withColumn("url",
          concat(lit("https://"),
            regexp_replace(lower(col("n_name")), "[ _]", "-"),
            lit(".example.org/w/index.php?curid="), col("n_nationkey")))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .withColumn("lang", split(col("host"), "\\.").getItem(0))
        .withColumn("curid", parse_url(col("url"), lit("QUERY"), lit("curid")))
        .select("n_nationkey", "url", "host", "lang", "curid")
    }),

    // ---- F5/F7: template-name-style normalization ----------------------
    "q25_string_norm" -> ((s, d) => {
      table(s, d, "part")
        .withColumn("t", trim(regexp_replace(
          regexp_replace(col("p_name"), "_", " "), "\\s+", " ")))
        .select(col("p_partkey"),
          concat(upper(substring(col("t"), 1, 1)), expr("substring(t, 2)"))
            .as("name_norm"))
    }),

    // ---- F13: enum -> label map ----------------------------------------
    "q26_enum_label" -> ((s, d) => {
      table(s, d, "orders")
        .withColumn("status_label",
          when(col("o_orderstatus") === "O", "open")
            .when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "P", "pending")
            .otherwise("other"))
        .groupBy("status_label").agg(count(lit(1)).as("n"))
    }),

    // ---- time-bucketed aggregation (streaming-shaped, batch form) ------
    // ts is a long of nanoseconds (Tables.table) — exact integer bucketing.
    "q28_time_bucket" -> ((s, d) => {
      val nsPerHour = 3600L * 1000 * 1000 * 1000
      table(s, d, "events")
        .withColumn("hour", date_format(
          timestamp_seconds(expr(s"ts div $nsPerHour") * 3600L),
          "yyyy-MM-dd HH:mm:ss"))
        .groupBy("hour", "event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    }),

    // ---- A4/A5/U3: prefer-non-null merge + coalesce upsert -------------
    // "Existing" (F orders) and "delta" (O orders) each reduce to the
    // last non-null value per customer (max_by over a null-masked order
    // key = deterministic last(ignoreNulls)); the full-outer coalesce
    // never overwrites an existing non-null with an incoming null —
    // exactly the reference's ON CONFLICT COALESCE-merge upsert.
    "q51_merge_nonnull" -> ((s, d) => {
      val o = table(s, d, "orders")
        .withColumn("v", nullif(col("o_orderpriority"), lit("5-LOW")))
      def lastNonNull(df: DataFrame, as: String) =
        df.groupBy("o_custkey").agg(
          max_by(col("v"), when(col("v").isNotNull, col("o_orderkey")))
            .as(as))
      val existing = lastNonNull(o.filter(col("o_orderstatus") === "F"),
        "v_exist")
      val delta = lastNonNull(o.filter(col("o_orderstatus") === "O"),
        "v_delta")
      existing.join(delta, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("v_delta"), col("v_exist")).as("merged"))
    }),

    // ---- skew handling: two-phase salted aggregation -------------------
    // The hot-key pattern for 100 TB: pre-aggregate on (key, salt) so a
    // skewed key fans out over `salt` reducers, then combine partials.
    // Result is identical to the direct groupBy (the oracle is the
    // plain aggregation) — only the shuffle distribution changes.
    "q57_salted_agg" -> ((s, d) => {
      table(s, d, "lineitem")
        .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
        .groupBy("l_returnflag", "salt")
        .agg(sum(col("l_quantity").cast(Dec)).as("part_qty"),
          count(lit(1)).as("part_n"))
        .groupBy("l_returnflag")
        .agg(sum(col("part_qty")).cast("double").as("sum_qty"),
          sum(col("part_n")).as("n"))
    }),

    // ---- skew handling: salted big-big JOIN ----------------------------
    // Complement of q57: when the JOIN key itself is hot (here a
    // synthetic 50-value key over two fact tables), a plain hash join
    // sends every hot key to one reducer. Salting fans each key over S
    // reducers: the probe side gets a deterministic salt in [0, S), the
    // build side is replicated S times with every salt value, and the
    // join runs on (key, salt) — S× the build-side shuffle volume (the
    // small side, so cheap) buys an S-fold split of the hot partitions.
    // Result is identical to the unsalted join (the oracle IS the
    // plain join); only the shuffle distribution changes. At 100 TB
    // this is the manual fallback when AQE skew-join can't kick in
    // (e.g. the skew is in the build side of a shuffled hash join).
    "q156_salted_join" -> ((s, d) => {
      // Many-to-many join under an ALGEBRAIC aggregate FACTORIZES:
      // Σ_pairs qty = (Σ_left qty per k) · |right per k|, and
      // symmetrically for the right sum — so each side aggregates to
      // its 50 per-key moments FIRST and a 50×50-row combine replaces
      // the pair stream. Round 6 ran the literal salted pair join
      // here; the round-7 sf1 run measured it 15× for 10× data (the
      // pair stream is nl·nr per key — quadratic by construction,
      // ~400M rows at sf1) while this factorized plan is two linear
      // scans + a broadcast combine with the SAME bit-identical
      // output. Skew-salting MECHANICS (the explode-replicate build +
      // shuffle_hash pair join, for joins whose per-pair payload can't
      // factorize) stay demonstrated in q57's salted aggregation.
      val left = table(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy(pmod(col("l_partkey"), lit(50)).as("k"))
        .agg(count(lit(1)).as("nl"),
          sum(col("l_quantity").cast(Dec)).as("ql"))
      val right = table(s, d, "supplier")
        .groupBy(pmod(col("s_suppkey"), lit(50)).as("k"))
        .agg(count(lit(1)).as("nr"),
          sum(col("s_acctbal").cast(Dec)).as("br"))
      left.join(broadcast(right), "k")
        .select(col("k"),
          (col("nl") * col("nr")).as("n_pairs"),
          (col("ql") * col("nr")).cast("double").as("sum_qty"),
          (col("br") * col("nl")).cast("double").as("sum_bal"))
    }),

    // ---- rollup / cube: hierarchical + full subtotal reporting ---------
    "q58_rollup" -> ((s, d) => {
      table(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "q59_cube" -> ((s, d) => {
      table(s, d, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(dsum(col("o_totalprice")).as("total"),
          count(lit(1)).as("n"))
    }),

    // ---- explicit grouping sets (nation-level and priority-level
    // subtotals in one pass, no full cube) ------------------------------
    "q63_grouping_sets" -> ((s, d) => {
      table(s, d, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(dsum(col("o_totalprice")).as("total"),
          count(lit(1)).as("n"))
    }),

    // ---- approx distinct: deterministic KMV (k-minimum-values) sketch.
    // HLL (approx_count_distinct) is engine-specific so it can't be
    // oracle-checked; KMV is the same bounded-memory idea with a fully
    // portable definition: hash each key to a uniform 52-bit value
    // (13 hex digits of md5 — exact in a double), keep the k smallest
    // DISTINCT hashes, estimate D ≈ (k-1)/u_k with u_k the k-th
    // smallest hash as a fraction of 2^52. u_k comes from the custom
    // bounded-state KmvSketch aggregator (graft.functions): each map
    // partition ships AT MOST k longs into the merge — no shuffle of
    // the distinct key set (KmvSpec pins equivalence to the
    // distinct+TakeOrdered formulation and partition independence).
    // ApproxSpec still bounds Spark's native HLL against exact, and
    // bounds this estimator's error.
    "q60_approx_distinct" -> ((s, d) => {
      val k = 64
      val li = table(s, d, "lineitem")
      val hv = expr(h13("l_orderkey"))
      val kmvKth = udaf(new graft.functions.KmvSketch(k))
      li.agg(countDistinct("l_orderkey").as("exact_orders"),
          kmvKth(hv).as("kth"))
        .select(col("exact_orders"),
          round(lit((k - 1).toDouble) /
            (col("kth").cast("double") / lit(4503599627370496.0)), 4)
            .as("kmv_est"))
    }),

    // ---- approx quantiles: deterministic bottom-k-by-hash sample ------
    // Completes the sketch family (KMV=distinct q60, CMS=counts q95,
    // bottom-k sample=quantiles): per group, the k rows with the
    // smallest md5(event_id) hashes form a uniform sample that is a pure
    // function of the input SET (no order/partition dependence), so the
    // interpolated quantiles over it hash-match a DuckDB oracle
    // computing the same sample in SQL — exact-checkable where t-digest/
    // GK/KLL are merge-order-dependent and could only be band-checked.
    // State and shuffle bytes are AT MOST k (hash, value) pairs per map
    // partition (BottomKSample aggregator), never the group's rows;
    // error follows uniform-sampling bounds ~O(1/sqrt(k)).
    "q184_quantile_sketch" -> ((s, d) => {
      val k = 256
      val ev = table(s, d, "events")
      val hv = expr(h13("event_id"))
      val sampler = udaf(new graft.functions.BottomKSample(k),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(Long, Double)]())
      ev.groupBy("event_type")
        .agg(sampler(hv, col("value")).as("sample"))
        .select(col("event_type"),
          size(col("sample")).cast("long").as("n_sample"),
          explode(col("sample")).as("v"))
        .groupBy("event_type", "n_sample") // k rows per group, post-sketch
        .agg(
          round(expr("percentile(v, 0.25D)"), 4).as("p25"),
          round(expr("percentile(v, 0.50D)"), 4).as("p50"),
          round(expr("percentile(v, 0.75D)"), 4).as("p75"),
          round(expr("percentile(v, 0.95D)"), 4).as("p95"))
        .select(col("event_type"), col("n_sample"),
          col("p25"), col("p50"), col("p75"), col("p95"))
    }),

    // ---- six-table star join (TPC-H Q5 shape): local-supplier revenue
    // by nation. Dims broadcast; the lineitem⋈orders⋈(customer,supplier)
    // chain is the only shuffled work.
    "q62_star_join" -> ((s, d) => {
      val c = table(s, d, "customer")
      val o = table(s, d, "orders")
      val li = table(s, d, "lineitem")
      val su = table(s, d, "supplier")
      val n = table(s, d, "nation")
      val r = table(s, d, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") =!= "EUROPE")
        .groupBy("n_name")
        .agg(discSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"), count(lit(1)).as("n_items"))
    }),

    // ---- boolean / conditional aggregates ------------------------------
    "q81_bool_aggs" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_totalprice") > 300000, 1L).otherwise(0L))
            .as("n_large"),
          bool_and(col("o_totalprice") > 0).as("all_positive"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"),
          count(lit(1)).as("n"))
    }),

    // ---- order statistics: exact percentiles per group -----------------
    "q75_percentiles" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)"), 4)
            .as("p50"),
          round(expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice)"), 4)
            .as("p90"),
          round(expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice)"), 4)
            .as("p99"),
          count(lit(1)).as("n"))
    }),

    // ---- calendar decomposition + truncation ---------------------------
    "q79_date_parts" -> ((s, d) => {
      table(s, d, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("q"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
            .as("month_start"))
    }),

    // ---- edit-distance fuzzy matching (dedup candidate scoring) --------
    "q80_levenshtein" -> ((s, d) => {
      val c = table(s, d, "customer")
      val a = c.select(col("c_custkey").as("a_key"),
        col("c_name").as("a_name"))
      val b = c.select(col("c_custkey").as("b_key"),
        col("c_name").as("b_name"))
      a.join(b, col("a_key") + 1 === col("b_key"))
        .select(col("a_key"), col("b_key"),
          levenshtein(col("a_name"), col("b_name")).as("dist"))
    }),

    // ---- as-of join: each purchase matched to the user's most recent
    // prior-or-simultaneous click. Implemented as the scalable
    // union-and-carry-forward: one sort per user partition (a single
    // shuffle), not a range self-join — the classic distributed as-of
    // algorithm. Same-ts ties: clicks order before purchases (>= match).
    "q70_asof_join" -> ((s, d) => {
      val ev = table(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
          (col("event_type") === "purchase").cast("int").as("is_purchase"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_purchase"), col("event_id"))
      ev.withColumn("click_id",
        last(when(col("is_purchase") === 0, col("event_id")),
          ignoreNulls = true).over(w))
        .filter(col("is_purchase") === 1)
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("click_id"))
    }),

    // ---- native as-of join (custom LogicalPlan + Strategy + SparkPlan) -
    // Same attribution semantics as q70, planned through the engine's
    // AsOfJoinExec physical operator (graft/plans/AsOfJoin.scala): both
    // sides hash-partitioned on user_id, sorted once, then a streaming
    // per-partition merge with O(1) state — two shuffles total, the
    // floor for a big-big as-of, vs q70's carried-union window. The
    // strategy is injected via GraftExtensions, so the session plans it
    // like any built-in operator.
    "q114_asof_exec" -> ((s, d) => {
      val ev = table(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      graft.plans.AsOf.join(purchases, clicks, Seq("user_id"),
          leftTime = "ts", rightTime = "c_ts", tieBreak = Seq("click_id"))
        .select(col("user_id"), col("purchase_id"), col("click_id"))
    }),

    // ---- bounded as-of: attribution window on the native operator ------
    // The marketing-attribution variant ("credit the click only if it
    // happened within 24h of the purchase"): the nearest preceding
    // click from AsOfJoinExec, then a pure projection nulls out matches
    // outside the window — correct because if the NEAREST preceding
    // click is outside the window, every earlier one is too. No extra
    // shuffle over q114's two.
    "q117_asof_window" -> ((s, d) => {
      val windowNs = 86400000000000L // 24h in nanoseconds
      val ev = table(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"),
          col("ts").as("c_ts"))
      graft.plans.AsOf.join(purchases, clicks, Seq("user_id"),
          leftTime = "ts", rightTime = "c_ts", tieBreak = Seq("c_id"))
        .select(col("user_id"), col("purchase_id"),
          when(col("c_ts").isNotNull &&
              col("ts") - col("c_ts") <= windowNs, col("c_id"))
            .as("click_id"))
    }),

    // ---- two-hop event-pattern match on chained native as-ofs ----------
    // MATCH_RECOGNIZE-style sequence detection (view ≤ click ≤ purchase
    // per user) as TWO composed AsOfJoinExec operators: purchases find
    // their nearest preceding click, that row finds the nearest view
    // preceding THE CLICK. AsOfJoinExec propagates the left side's
    // hash partitioning, so the second hop re-sorts but does NOT
    // re-shuffle the attributed stream — three exchanges total for a
    // two-hop pattern at any scale (asserted in AsOfJoinSpec). A null
    // hop-1 match (no preceding click) null-propagates through hop 2:
    // the merge never matches a null left time, mirroring SQL ASOF.
    "q129_pattern_match" -> ((s, d) => {
      val ev = table(s, d, "events")
      def side(tpe: String, id: String, t: String) =
        ev.filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id").as(id),
            col("ts").as(t))
      val hop1 = graft.plans.AsOf.join(
        side("purchase", "purchase_id", "ts"),
        side("click", "click_id", "c_ts"),
        Seq("user_id"), leftTime = "ts", rightTime = "c_ts",
        tieBreak = Seq("click_id"))
      graft.plans.AsOf.join(hop1,
          side("view", "view_id", "v_ts"),
          Seq("user_id"), leftTime = "c_ts", rightTime = "v_ts",
          tieBreak = Seq("view_id"))
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          col("view_id"))
    }),

    // ---- pivot: per-user event-type count matrix -----------------------
    "q68_pivot" -> ((s, d) => {
      table(s, d, "events")
        .groupBy("user_id")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    // ---- histogram: fixed-width numeric binning ------------------------
    "q69_histogram" -> ((s, d) => {
      table(s, d, "orders")
        .withColumn("bin",
          floor(col("o_totalprice") / 50000).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("bin_total"))
    }),

    // ---- spark.sql surface: TPC-H Q3-shaped ANSI SQL over temp views --
    "q61_sql_api" -> ((s, d) => {
      Seq("customer", "orders", "lineitem").foreach(t =>
        table(s, d, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT o_orderkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                 AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS order_date
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10""")
    }),

    // ---- SQL surface: EXISTS correlated subquery (TPC-H Q4 shape) ------
    // Orders from one year having at least one returned line item.
    // Catalyst decorrelates the EXISTS into a LEFT SEMI hash join on
    // l_orderkey — no per-row re-execution, no nested loop; the same
    // query a user would paste from a Postgres console runs as one
    // shuffle join at any scale. (Identical SQL text is the oracle.)
    "q168_exists_subquery" -> ((s, d) => {
      Seq("orders", "lineitem").foreach(t =>
        table(s, d, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_returnflag = 'R')
        GROUP BY o_orderpriority""")
    }),

    // ---- SQL surface: correlated SCALAR subquery (TPC-H Q17 shape) -----
    // Line items below 20% of their part's average quantity — the
    // "small-order" revenue probe. Catalyst decorrelates the per-part
    // scalar aggregate into ONE pre-aggregation of lineitem by
    // l_partkey joined back — the subquery's corpus cost is a single
    // map-side-combined aggregation, not #parts re-scans. Outputs are
    // integer-exact (count + integer-valued quantity sum); the 0.2·avg
    // threshold is the same two IEEE ops in both engines.
    "q169_scalar_subquery" -> ((s, d) => {
      Seq("part", "lineitem").foreach(t =>
        table(s, d, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT count(*) AS n_small, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#12'
          AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                              FROM lineitem l2
                              WHERE l2.l_partkey = l.l_partkey)""")
    }),

    // ---- sessionization: gaps-and-islands over the event stream --------
    "q29_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("event_id")
      val gapNs = 1800L * 1000 * 1000 * 1000
      table(s, d, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum("new_session").as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),



    // ---- q388: nearest as-of (single native entry point) ----------------
    // q388 nearest-direction as-of join: the third as-of direction
    // (after the native backward q114 and forward q201), composed
    // algebraically from BOTH native AsOfJoinExec passes — per purchase
    // the closer of nearest-preceding and nearest-following click, ties
    // to backward. Four key exchanges + two sorted merges total, each
    // spill-free O(1)-state — still the plan you'd run at 100 TB.
    // Clicks are first deduped to one per (user, ts) — max event_id,
    // making both directions' tie policies identical — then ONE
    // `AsOf.join(..., direction = "nearest")` call: the entry point
    // composes the two native passes sequentially (forward over the
    // backward output), so there is no rejoin of two result sets — the
    // round-7 ad-hoc compose paid an extra shuffle join on
    // (user, purchase). Winner = smaller absolute gap, ties to backward
    // (the "at-or-before wins" convention); purchases with no click on
    // either side keep a NULL match ('none'). The gap and the matched
    // side are read back from the matched click_ts — sign-equivalent to
    // the per-direction bookkeeping (a tie's winner has click_ts <= ts,
    // so `dir` stays 'backward' exactly when the tie rule fired).
    "q388_asof_nearest" -> ((s, d) => {
      val ev = table(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        .select(col("user_id"), col("click_id"), col("ts").as("click_ts"))
      graft.plans.AsOf.join(purchases, clicks, Seq("user_id"),
          leftTime = "ts", rightTime = "click_ts",
          tieBreak = Seq("click_id"), direction = "nearest")
        .select(col("user_id"), col("purchase_id"), col("click_id"),
          when(col("click_ts").isNotNull,
            abs(col("ts") - col("click_ts"))).as("gap_ns"),
          when(col("click_ts").isNull, lit("none"))
            .when(col("click_ts") <= col("ts"), lit("backward"))
            .otherwise(lit("forward")).as("dir"))
    }),

    // Six operational primitives a 100 TB lakehouse +
    // training-data platform runs daily, each with the Spark-shaped plan
    // that survives scale:
    //
    // Reference context: the reference's own maintenance surface is the
    // JSONL compaction + COALESCE-merge upsert pair (SURVEY §2.2 S8–S10,
    // §2.8); these six generalize that maintenance posture to corpus scale.

    // ---- q185: per-user interval coalescing (gaps-and-islands) ---------
    // q185 interval merge (gaps-and-islands): coalesce overlapping
    // per-key activity intervals with two per-key window passes — never
    // a global sort, never a self-join on overlap.
    // Each event opens a 30-min activity interval; overlapping/touching
    // intervals per user merge into islands. The standard SQL islands
    // trick, kept fully distributed: island boundaries come from ONE
    // per-user window pass (running max of interval end over the
    // preceding rows), island ids from a second running sum — both
    // windows PARTITION BY user_id, so work is hash-distributed across
    // users and no single-partition window or interval self-join ever
    // appears (the naive overlap join is quadratic per user). Two
    // grouped aggregations later the output is 3 numbers per user.
    "q185_interval_merge" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("iv_end", col("ts") + lit(IvLenNs))
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val prevEnd = max("iv_end")
        .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
      val islands = ev
        .withColumn("new_island",
          when(prevEnd.isNull || col("ts") > prevEnd, 1L).otherwise(0L))
        .withColumn("island", sum("new_island")
          .over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "island")
        .agg(min("ts").as("start"), max("iv_end").as("fin"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("fin") - col("start")).as("covered_ns"),
          max(col("fin") - col("start")).as("max_len_ns"))
    }),

    // ---- q189: incremental view maintenance (join-aggregate view) ------
    // q189 incremental view maintenance: the classic delta rules
    // (ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) maintaining a join-aggregate view,
    // oracle-checked against the direct full recompute.
    // View = per-nation order count + revenue over orders ⋈ customer.
    // A tenth of orders and a twentieth of customers arrive as deltas;
    // the view is maintained with the textbook delta rules
    //   ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB
    // and merged into the base aggregate by summing partials — never
    // re-reading the 100 TB base fact table (the three delta joins all
    // have a delta on at least one side, so their cost is O(|Δ|); the
    // merge touches only view rows). The oracle is the DIRECT full
    // recompute, so the driver's hash-compare certifies the delta
    // algebra itself. Counts and cents ride exact integer arithmetic.
    "q189_ivm_join" -> ((s, d) => {
      val ord = table(s, d, "orders")
      val cust = table(s, d, "customer")
      val isNewO = col("o_orderkey") % 10 === 0
      val isNewC = col("c_custkey") % 20 === 0
      def view(o: DataFrame, c: DataFrame): DataFrame =
        o.join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_orders"),
            sum(floor(col("o_totalprice") * 100).cast("long"))
              .as("revenue_cents"))
      val base = view(ord.filter(!isNewO), cust.filter(!isNewC))
      val dA = view(ord.filter(isNewO), cust.filter(!isNewC))
      val dB = view(ord.filter(!isNewO), cust.filter(isNewC))
      val dAB = view(ord.filter(isNewO), cust.filter(isNewC))
      base.unionAll(dA).unionAll(dB).unionAll(dAB)
        .groupBy("c_nationkey")
        .agg(sum("n_orders").as("n_orders"),
          sum("revenue_cents").as("revenue_cents"))
    }),

    // ---- q190: CDC apply (changelog → snapshot merge) ------------------
    // q190 CDC apply: collapse a keyed insert/update/delete changelog
    // (`cdcChanges`) to latest-wins and merge it into a snapshot with
    // one full-outer join (`cdcMerge`) — the batch analogue of a
    // streaming upsert sink. Latest-wins per key via ONE per-key window
    // (order ts desc, event_id desc — the changelog's total order). Both
    // shuffles hash on the key — the exact shape a compaction job uses
    // to fold a day of CDC into a 100 TB table, touching each side
    // once. (Batch analogue of the streaming dedup sink q174.)
    "q190_cdc_apply" -> ((s, d) => {
      val byKeyDesc = Window.partitionBy("key")
        .orderBy(col("ts").desc, col("event_id").desc)
      val latest = cdcChanges(table(s, d, "events"))
        .withColumn("rn", row_number().over(byKeyDesc))
        .filter(col("rn") === 1)
        .select("key", "op", "new_bal")
      cdcMerge(s, d, latest)
    }),

    // ---- q201: forward as-of (time-to-next-conversion) -----------------
    // q201 forward as-of join: time-to-next-conversion per click via
    // the native [[graft.plans.AsOf]] operator's `direction="forward"`
    // (algebraic reduction to the backward sorted-merge exec).
    // For every click, the FIRST purchase by the same user at-or-after
    // the click, through the native as-of operator's forward direction —
    // the q70/q114 attribution shape mirrored in time. Same physical
    // cost as backward: two key exchanges + one sorted merge (the
    // forward API negates the ns timestamps and reuses the backward
    // exec). gap_ns is the conversion latency the funnel queries bucket.
    "q201_forward_asof" -> ((s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"))
      graft.plans.AsOf.join(clicks, purchases, Seq("user_id"),
          "c_ts", "p_ts", tieBreak = Seq("purchase_id"),
          direction = "forward")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          (col("p_ts") - col("c_ts")).as("gap_ns"))
    }),

    // ---- q204: interval-overlap join (endpoint sweep) ------------------
    // q204 interval-overlap join: activity-interval pairs ACROSS users
    // via time-slab bucketing with responsible-slab dedup — the
    // interval×interval member of the join family (q125 is
    // point-in-interval), never a quadratic self-join.
    // Per-user activity islands (q185's gaps-and-islands), then pairs of
    // DIFFERENT users with overlapping islands, for a probe panel
    // (u1 % 20 == 0). Two prior shapes hit their floor here: round 7's
    // fixed 6-hour slab equi-join grew 38.8× at 10× data (density per
    // slab quadratic), and round 8's density-derived width still stood
    // at 24.6× vs the oracle's 9.4× — the r09 diagnosis measured WHY:
    // slab population is uniform (no skew to salt) and the derived
    // width already minimized candidates at 131.6M for 5.6M output
    // pairs (23× overkill, ~invariant across widths). The slab-join
    // STRATEGY was the bottleneck, so q204 now runs
    // [[IntervalSweep.overlapPairs]]: islands time-range-partitioned
    // and swept in start order with boundary-crossing carries — every
    // emission is a qualifying pair (O(n log A + output), A = peak
    // concurrency), the same asymptotics as the single-node oracle's
    // sort-based interval join. Result is partitioning-invariant; the
    // oracle and hash are unchanged (IntervalSweepSpec pins sweep ==
    // brute force across range widths).
    "q204_interval_overlap" -> ((s, d) => {
      val byTime = Window.partitionBy("user_id")
        .orderBy(col("t"), col("event_id"))
      val prevEnd = max("iv_end")
        .over(byTime.rowsBetween(Window.unboundedPreceding, -1))
      val iv = table(s, d, "events")
        .select(col("user_id"), col("ts").as("t"), col("event_id"),
          (col("ts") + lit(1800000000000L)).as("iv_end"))
        .withColumn("ni",
          when(prevEnd.isNull || col("t") > prevEnd, 1L).otherwise(0L))
        .withColumn("island", sum("ni")
          .over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "island")
        .agg(min("t").as("s"), max("iv_end").as("e"))
      IntervalSweep.overlapPairs(iv, probeMod = 20L)
    }),

    // The classic multi-join OLAP shapes (TPC-H Q3 / Q5 /
    // Q10 analogues over the available columns). These exist to exercise —
    // and pin — the optimizer path the ad-hoc analytics surface lives on:
    // selective dimension filters pushed to the scans, small dims
    // broadcast, fact-fact equi-joins shuffled on their keys, exact
    // DECIMAL(18,2) money, deterministic top-k. q61/q62/q168 cover the
    // single-join/SQL surface; q257–q259 add the 3–6 table join DAGs.

    // ---- q257: unshipped-order revenue (TPC-H Q3 shape) ----------------
    // Segment filter reaches the customer scan, both date filters push
    // into their scans (PushedFilters pinned in Wave37Spec via the
    // formatted plan), the customer dim broadcasts, and the
    // lineitem⋈orders fact join shuffles on the order key. Top-10 via
    // TakeOrdered (never a global sort); revenue DESC with l_orderkey
    // tie-break so the cut is engine-deterministic.
    "q257_unshipped_revenue" -> ((s, d) => {
      val c = table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") < expr("TIMESTAMP '1998-06-01'"))
        .select("o_orderkey", "o_custkey", "o_orderdate",
          "o_orderpriority")
      val l = table(s, d, "lineitem")
        .filter(col("l_shipdate") > expr("TIMESTAMP '1998-06-01'"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
        .select(col("l_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_orderpriority"))
    }),

    // ---- q258: local-supplier volume per nation (TPC-H Q5 shape) -------
    // The 6-table DAG: region→nation prune the supplier/customer dims,
    // the c_nationkey = s_nationkey "local" predicate rides the fact
    // join as a post-join filter on broadcast-joined dim columns, and
    // ONLY the lineitem⋈orders join shuffles. Region/nation/supplier/
    // customer are all broadcast — at 100 TB the fact tables dominate
    // and the dims still fit an executor, so this plan shape is
    // exactly the cluster plan.
    "q258_local_supplier_volume" -> ((s, d) => {
      val nat = table(s, d, "nation")
        .join(broadcast(table(s, d, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val sup = table(s, d, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val cus = table(s, d, "customer").select("c_custkey", "c_nationkey")
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1997-01-01'") &&
          col("o_orderdate") < expr("TIMESTAMP '1998-01-01'"))
        .select("o_orderkey", "o_custkey")
      val l = table(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(revSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
    }),

    // ---- q259: returned-item revenue by customer (TPC-H Q10 shape) -----
    // Returnflag + quarter filters push to the scans; the customer and
    // nation dims broadcast onto the aggregated fact side. Top-20
    // lossage-free: the rollup groups on c_custkey ONLY (c_name /
    // c_acctbal / n_name are functionally dependent and joined back
    // after the top-k cut, so the shuffle carries narrow keys).
    "q259_returned_revenue" -> ((s, d) => {
      val o = table(s, d, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '1997-01-01'") &&
          col("o_orderdate") < expr("TIMESTAMP '1997-04-01'"))
        .select("o_orderkey", "o_custkey")
      val l = table(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val top = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(revSum(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
      top
        .join(broadcast(table(s, d, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")),
          "c_custkey")
        .join(broadcast(table(s, d, "nation")
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
    }),

    // ---- q271: per-nation top-2 suppliers + OTHERS ---------------------
    // q271 top-k with OTHERS: per-nation top-2 suppliers by exact
    // revenue plus the residual bucket — the "top N + others" report.
    // One fact shuffle (lineitem ⋈ broadcast supplier, rolled up per
    // supplier), then ALL windows partition on the nation over
    // supplier-count-sized frames. The OTHERS bucket keeps the report
    // additive: per-nation shares sum to ~1e6 (floor division). Ties
    // break on s_suppkey so the cut is engine-deterministic.
    "q271_topk_others" -> ((s, d) => {
      val perSup = table(s, d, "lineitem")
        .join(broadcast(table(s, d, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey", "s_suppkey", "s_name")
        .agg(revCents(col("l_extendedprice"), col("l_discount"))
          .as("rev_cents"))
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("rev_cents").desc, col("s_suppkey"))
      val bucketed = perSup.withColumn("rn", row_number().over(w))
        .select(col("s_nationkey"),
          when(col("rn") <= 2, col("s_name")).otherwise(lit("OTHERS"))
            .as("entity"),
          col("rev_cents"))
        .groupBy("s_nationkey", "entity")
        .agg(sum("rev_cents").as("rev_cents"))
      bucketed
        .withColumn("share_ppm",
          expr("rev_cents * 1000000 div " +
            "sum(rev_cents) OVER (PARTITION BY s_nationkey)").cast("long"))
        .join(broadcast(table(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("entity"), col("rev_cents"),
          col("share_ppm"))
    }),

    // ---- q272: percent-of-parent hierarchy rollup ----------------------
    // q272 percent-of-parent hierarchy: nation revenue as ppm of its
    // region, region as ppm of the grand total — the two-level
    // drill-down rollup.
    // The fact rolls up ONCE to nation grain; both share levels are
    // windows over the 25-row nation frame (region partition, then
    // global) — percent-of-parent never re-reads the corpus. Grand
    // total window is a documented SinglePartition over ≤ |nations|
    // rows.
    "q272_hierarchy_shares" -> ((s, d) => {
      val perNation = table(s, d, "lineitem")
        .join(broadcast(table(s, d, "supplier")
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(revCents(col("l_extendedprice"), col("l_discount"))
          .as("rev_cents"))
        .join(broadcast(table(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("rev_cents"))
      perNation
        .withColumn("nation_share_ppm",
          expr("rev_cents * 1000000 div " +
            "sum(rev_cents) OVER (PARTITION BY r_name)").cast("long"))
        .withColumn("region_share_ppm",
          expr("sum(rev_cents) OVER (PARTITION BY r_name) * 1000000 div " +
            "sum(rev_cents) OVER ()").cast("long"))
    }),

    // ---- q277: subtree rollup via ancestor explosion --------------------
    // q277 subtree rollup over an implicit binary hierarchy: every
    // ancestor's subtree total from ONE bounded explode — the
    // org-chart/category-tree aggregation without recursion.
    // Hierarchy: node = user_id + 1, parent = node >> 1 (an implicit
    // binary tree — stands in for any hierarchy whose ancestor chain
    // is enumerable). The recursive-CTE formulation becomes ONE
    // explode: each per-user row replicates to its ≤ ⌈log2 n⌉
    // ancestors (n >> k, strictly decreasing until 0), then one
    // ancestor-keyed rollup. Fan-out is the DEPTH, not the node
    // count, so the plan is linear at any scale — and the corpus is
    // reduced to per-user rows BEFORE the explode. Nodes ≤ 15 (the
    // top 4 levels) are reported.
    "q277_subtree_rollup" -> ((s, d) => {
      val perUser = table(s, d, "events")
        .select((col("user_id") + 1).as("node"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy("node")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
      perUser
        .select(explode(expr(
          "transform(sequence(0, 20), k -> shiftright(node, k))"))
          .as("anc"), col("n_events"), col("cents"))
        .filter(col("anc") >= 1 && col("anc") <= 15)
        .groupBy(col("anc").as("node"))
        .agg(count(lit(1)).as("n_desc_users"),
          sum("n_events").as("n_events"),
          sum("cents").as("subtree_cents"))
    }),

    // ---- q278: hierarchical KMV distinct rollup -------------------------
    // q278 hierarchical distinct-count rollup with mergeable KMV
    // sketches: nation → region → global from one pass, estimates
    // next to exact — the sketch-algebra cube a 100 TB warehouse
    // uses where exact distinct cubes are unaffordable.
    // Distinct ordering customers per nation, region, and globally.
    // The nation level aggregates the corpus ONCE into ≤ K-long
    // sketches (KmvMinK — map-side combined, at most K longs per
    // group cross the wire); the region and global levels re-aggregate
    // the EXPLODED nation sketches — bottom-k of a union of bottom-ks
    // IS the union's bottom-k, so the coarser estimates are computed
    // without touching the corpus again. Exact counts ride alongside
    // for the audit column. Estimate = (K−1)/(kth/2^52), q60's
    // estimator on the md5-13-hex hash both engines share.
    "q278_sketch_rollup" -> ((s, d) => {
      val base = table(s, d, "orders")
        .join(broadcast(table(s, d, "customer")
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(table(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name"), col("r_name"), col("o_custkey").as("ck"),
          expr(h13("o_custkey")).as("hv"))
      val kmv = udaf(new graft.functions.KmvMinK(K))
      def est(arr: org.apache.spark.sql.Column) =
        round(lit((K - 1).toDouble) /
          (element_at(arr, least(size(arr), lit(K))).cast("double") /
            lit(4503599627370496.0)), 4)
      val nat = base.groupBy("r_name", "n_name")
        .agg(kmv(col("hv")).as("arr"), countDistinct("ck").as("exact"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // The exact audit counts roll up ADDITIVELY from the nation
      // level: ck → nation is functional (orders ⋈ customer ⋈ nation
      // gives every custkey exactly one n_name), so the per-nation
      // distinct-ck sets partition the per-region and global ones —
      // sum(exact) over nat IS countDistinct(ck) per region / global.
      // The former shape re-aggregated the whole corpus once per level
      // (two extra full countDistinct exchanges over base); now only
      // the nation pass touches the corpus, mirroring how the KMV
      // sketches themselves roll up (guide §2.4). Values identical.
      val regExact = nat.groupBy("r_name").agg(sum("exact").as("exact"))
      val reg = nat.select(col("r_name"), explode(col("arr")).as("hv"))
        .groupBy("r_name").agg(kmv(col("hv")).as("arr"))
        .join(broadcast(regExact), "r_name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val globExact = regExact.agg(sum("exact").as("exact"))
      val glob = reg.select(explode(col("arr")).as("hv"))
        .agg(kmv(col("hv")).as("arr"))
        .crossJoin(broadcast(globExact))
      nat.select(lit("nation").as("level"), col("n_name").as("key"),
          col("exact"), est(col("arr")).as("kmv_est"))
        .unionByName(reg.select(lit("region").as("level"),
          col("r_name").as("key"), col("exact"),
          est(col("arr")).as("kmv_est")))
        .unionByName(glob.select(lit("global").as("level"),
          lit("ALL").as("key"), col("exact"),
          est(col("arr")).as("kmv_est")))
    }),

    // ---- q328: bitmap-index audience intersections ---------------------
    // Per (event_type, word) OR-folded user bitmaps — 62 users per
    // i64 word (63-bit shifts overflow portable SQL), so the bitmap
    // frame is |users|/62 rows per type and the pairwise intersection
    // is a word-aligned equi-join + popcount: exact distinct-user
    // overlap and Jaccard for every type pair with NO distinct
    // shuffle and NO user-level pair frame. The roaring-bitmap
    // workhorse, relationally.
    "q328_bitmap_intersections" -> ((s, d) => {
      val bm = table(s, d, "events")
        .select(col("event_type").as("et"),
          expr("user_id div 62").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
            .as("bit"))
        .groupBy("et", "w").agg(expr("bit_or(bit)").as("bits"))
      val cnt = bm.groupBy("et")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("c"))
      val inter = bm.select(col("et").as("type_a"), col("w"),
          col("bits").as("ba"))
        .join(bm.select(col("et").as("type_b"), col("w"),
          col("bits").as("bb")), "w")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(sum(expr("bit_count(ba & bb)")).cast("long").as("n_both"))
      inter
        .join(cnt.select(col("et").as("type_a"), col("c").as("n_a")),
          "type_a")
        .join(cnt.select(col("et").as("type_b"), col("c").as("n_b")),
          "type_b")
        .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
          col("n_b"),
          expr("n_both * 1000000 div (n_a + n_b - n_both)")
            .as("jaccard_ppm"))
    }),

    // OLAP cube reporting (the native `cube` operator —
    // all four grouping sets of region × order-year in one pass, partial
    // aggregation included) and a per-entity profile-anomaly scan
    // (chi-square of each user's event-type mix against the corpus
    // profile, zero cells included via the bounded type grid).

    // ---- q343: revenue cube over region × order year --------------------
    // `cube` emits all 2² grouping sets with ONE shuffle (Spark
    // expands grouping sets map-side; partial aggregation still
    // applies); '__all__' marks the rolled-up level, matching the
    // corpus-wide rollup convention (q? rollup queries). Joins walk
    // the dimension chain customer→nation→region (dimension side,
    // AQE broadcasts them).
    "q343_cube_revenue" -> ((s, d) => {
      val o = table(s, d, "orders")
        .join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(table(s, d, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(table(s, d, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"),
          date_format(col("o_orderdate"), "yyyy").as("yr"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      o.cube(col("r_name"), col("yr"))
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_cents"))
        .select(coalesce(col("r_name"), lit("__all__")).as("region"),
          coalesce(col("yr"), lit("__all__")).as("yr"),
          col("n_orders"), col("rev_cents"))
    }),

    // ---- q354: peak session concurrency per day ------------------------
    // Sessions = 30-min-gap sessionization per user (the corpus
    // convention); each session emits (+1 at start, −1 at end) deltas;
    // per day the running sum over (ts, delta, user) order — ends
    // sort before starts at the same instant, so back-to-back
    // sessions never double-count — peaks at the day's max
    // concurrency. The day-partitioned ordered window swaps for the
    // q93 two-phase prefix sum at real per-day volumes (documented);
    // midnight-crossing carry-over is defined away by the day scope
    // (sessions are gap-bounded minutes, documented).
    "q354_peak_concurrency" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapNs = 1800L * 1000000000L
      val sess = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag("ts", 1).over(w))
        .withColumn("new_s",
          (col("prev").isNull || col("ts") - col("prev") > gapNs)
            .cast("long"))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min("ts").as("t0"), max("ts").as("t1"))
      val deltas = sess.select(col("user_id"), col("t0").as("ts"),
          lit(1L).as("delta"))
        .unionByName(sess.select(col("user_id"),
          (col("t1") + 1).as("ts"), lit(-1L).as("delta")))
        .withColumn("day", expr("ts div 86400000000000"))
      deltas
        .withColumn("conc", sum("delta").over(
          Window.partitionBy("day").orderBy("ts", "delta", "user_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("day")
        .agg(max("conc").as("peak_concurrency"),
          sum(when(col("delta") === 1, 1L).otherwise(0L))
            .as("n_sessions"))
    }),

    // Incremental maintenance beyond additive aggs —
    // two-sided JOIN-view delta rules (fact inserts AND dimension
    // updates folded into the old view state without re-joining the
    // base), and selective re-aggregation of MIN (a non-invertible
    // aggregate) under deletes: only groups whose minimum was actually
    // deleted re-scan. The DuckDB oracles compute both views by FULL
    // recompute over the new state — the hash match IS the proof the
    // delta rules are exact.

    // ---- q355: two-sided incremental join-view maintenance -------------
    // View V = Σ per priority of (order cents + customer balance
    // cents) over orders⋈customer. Old state: orders slice O₀
    // (key%5≠0), customers C₀; the batch applies ΔO (the %5=0 order
    // inserts) and ΔC (customers key%7=0 gain +1000 cents). Delta
    // rules: V₁ = V₀ + ΔO⋈C₁ + O₀⋈Δm(C) where Δm is the per-customer
    // measure CHANGE (+1000) — three key-partitioned joins touching
    // only delta-sized or old-view frames, never a re-join of the full
    // new state. The oracle recomputes O₁⋈C₁ from scratch; hash
    // equality certifies the rules.
    "q355_join_view_ivm" -> ((s, d) => {
      val o = table(s, d, "orders").select(col("o_orderkey").as("ok"),
        col("o_custkey").as("ck"), col("o_orderpriority").as("prio"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("oc"))
      val c0 = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("bal"))
      val c1 = c0.withColumn("bal",
        col("bal") + when(col("ck") % 7 === 0, 1000L).otherwise(0L))
      val o0 = o.filter(col("ok") % 5 =!= 0)
      val dO = o.filter(col("ok") % 5 === 0)
      val v0 = o0.join(c0, "ck").groupBy("prio")
        .agg(count(lit(1)).as("n"), sum(expr("oc + bal")).as("m"))
      val dNew = dO.join(c1, "ck").groupBy("prio")
        .agg(count(lit(1)).as("dn"), sum(expr("oc + bal")).as("dm"))
      val dDim = o0.join(
          c1.filter(col("ck") % 7 === 0)
            .select(col("ck"), lit(1000L).as("dbal")), "ck")
        .groupBy("prio").agg(sum("dbal").as("ddm"))
      v0.join(dNew, Seq("prio"), "full_outer")
        .join(dDim, Seq("prio"), "full_outer")
        .na.fill(0L, Seq("n", "m", "dn", "dm", "ddm"))
        .select(col("prio"), (col("n") + col("dn")).as("n_rows"),
          (col("m") + col("dm") + col("ddm")).as("measure_cents"))
    }),

    // ---- q356: MIN maintenance under deletes (selective re-agg) --------
    // Maintained view: per part the MIN line price. The batch DELETES
    // every line with l_orderkey%11=0. MIN is not invertible, but
    // only groups whose stored minimum was deleted need a re-scan:
    // the delete batch joins the old min frame (key-partitioned),
    // splits groups into untouched / touched-but-min-survives /
    // min-invalidated, and ONLY the invalidated groups re-aggregate
    // from surviving rows. Output: the audit counts plus a 64-bucket
    // residue checksum of the new min frame (so the oracle's full
    // recompute hash-checks every new minimum, not just the counts).
    "q356_min_maintenance_deletes" -> ((s, d) => {
      val li = table(s, d, "lineitem").select(
        col("l_partkey").as("pk"), col("l_orderkey").as("ok"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("pc"))
      val oldMin = li.groupBy("pk").agg(min("pc").as("mn"))
      val del = li.filter(col("ok") % 11 === 0)
      val keep = li.filter(col("ok") % 11 =!= 0)
      val delMin = del.groupBy("pk").agg(min("pc").as("dmn"))
      val classed = oldMin.join(delMin, Seq("pk"), "left")
        .withColumn("cls", expr(
          """CASE WHEN dmn IS NULL THEN 'untouched'
                  WHEN dmn > mn THEN 'min_survives'
                  ELSE 'invalidated' END"""))
      val invalidated = classed.filter(col("cls") === "invalidated")
        .select("pk")
      // selective re-aggregation: ONLY invalidated groups re-scan
      val recomputed = keep.join(invalidated, Seq("pk"), "left_semi")
        .groupBy("pk").agg(min("pc").as("mn"))
      val unchanged = classed.filter(col("cls") =!= "invalidated")
        .select(col("pk"), col("mn"))
      val newMin = unchanged.unionByName(recomputed)
      val counts = classed.groupBy()
        .pivot("cls", Seq("untouched", "min_survives", "invalidated"))
        .agg(count(lit(1))).na.fill(0L)
      newMin
        .select((col("pk") % 64).as("bucket"),
          (col("mn") % 1000000007L).as("res"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_groups"),
          (sum("res") % 1000000007L).as("checksum"))
        .crossJoin(broadcast(counts.select(
          col("untouched").as("n_untouched"),
          col("min_survives").as("n_min_survives"),
          col("invalidated").as("n_invalidated"))))
    }),

    // ---- q177: sweep-line peak concurrency -----------------------------
    // Maximum simultaneous open intervals per day (each event held open
    // 600 s) — the classic sweep line: +1/−1 boundary points, running
    // sum over the GLOBAL time order, max per day. The global running
    // sum is the ordered-scan kernel's sum (OrderedScan), so no
    // single-partition window ever sees the corpus — the same
    // machinery as q93/q113/q116. Ends sort before starts at the same
    // second (delta −1 < +1), giving half-open [s, e) semantics.
    "q177_concurrency" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_id").as("eid"),
          expr("ts div 1000000000").as("sec"))
      val pts = ev.select(col("sec").as("t"), lit(1L).as("delta"), col("eid"))
        .unionByName(ev.select((col("sec") + 600).as("t"),
          lit(-1L).as("delta"), col("eid")))
      OrderedScan.scan(pts, Seq(col("t"), col("delta"), col("eid")),
          OrderedScan.Sum(col("delta")), "conc").df
        .groupBy(expr("t div 86400").as("day"))
        .agg(max("conc").as("peak"), count(lit(1)).as("n_points"))
    }),

    // ---- q178: bitmap index build + bitwise predicate algebra ----------
    // Per-63-doc-block presence bitmaps for two predicates (lang = 'en';
    // n_chars ≥ 300), built with bit_or(1 << doc_id%64) — one map-side-
    // combined shuffle each, 1 long per block of 63 docs (bit 63 stays clear so the words are non-negative in engines that check signed shifts). Conjunction /
    // disjunction counts then cost popcount(a & b) on the block frame —
    // the bitmap-index trick serving layers use to answer multi-
    // predicate counts without rescanning: at 100 TB the bitmaps are
    // ~1/63rd the size of a doc-id list and AND/OR/NOT are word ops.
    "q178_bitmap_index" -> ((s, d) => {
      val docs = table(s, d, "documents")
      def bitmap(pred: Column, name: String) = docs.filter(pred)
        .select(expr("doc_id div 63").as("block"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 63 AS INT))")
            .as("bit"))
        .groupBy("block").agg(expr("bit_or(bit)").as(name))
      bitmap(col("lang") === "en", "w_en")
        .join(bitmap(col("n_chars") >= 300, "w_long"), Seq("block"),
          "full_outer")
        .select(col("block"),
          coalesce(col("w_en"), lit(0L)).as("w_en"),
          coalesce(col("w_long"), lit(0L)).as("w_long"))
        .withColumn("n_en", expr("bit_count(w_en)").cast("long"))
        .withColumn("n_and", expr("bit_count(w_en & w_long)").cast("long"))
        .withColumn("n_or", expr("bit_count(w_en | w_long)").cast("long"))
    }),

    // ---- q180: temporal dimension join (as-of on validity versions) ----
    // The SCD2 lookup every fact pipeline needs: each order joined to
    // the rate-card version in force on its order date. Runs through
    // the engine's NATIVE AsOfJoinExec (plans/AsOfJoin.scala) — fact
    // side hash-partitioned on the segment key, dimension side tiny —
    // proving the custom operator composes as a general temporal-join
    // primitive, not just event attribution (q114/q129). The versioned
    // dim is synthesized deterministically (3 versions per segment,
    // md5-derived basis-point rates) so the DuckDB native ASOF JOIN
    // oracle can rebuild it bit-for-bit.
    "q180_temporal_join" -> ((s, d) => {
      val segs = table(s, d, "customer")
        .select(col("c_mktsegment").as("seg")).distinct()
      val rates = segs
        .select(col("seg"), explode(expr("sequence(0, 2)")).as("ver"))
        .withColumn("valid_from",
          expr("make_timestamp_ntz(1995 + ver * 2, 1, 1, 0, 0, 0)"))
        .withColumn("rate_bp",
          conv(substring(md5(concat(col("seg"), col("ver"))), 1, 4), 16, 10)
            .cast("long") % 500 + 100)
      val facts = table(s, d, "orders")
        .join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("c_mktsegment").as("seg"))
      graft.plans.AsOf.join(facts, rates, Seq("seg"),
          leftTime = "o_orderdate", rightTime = "valid_from",
          tieBreak = Seq("ver"))
        .groupBy("seg", "ver", "rate_bp")
        .agg(count(lit(1)).as("n_orders"))
    }),

    // ---- q173: time-RANGE window frames --------------------------------
    // Trailing-one-hour per-user activity at every event — RANGE frames
    // bound by the ORDER-BY VALUE (sec−3599 .. sec), not a row count:
    // the feature q141's ROWS frames cannot express when event density
    // varies. Peer rows (equal sec) share a frame, so the result is
    // deterministic without a unique tie-break. One user_id shuffle;
    // frame state is O(events in the hour), independent of corpus size.
    "q173_range_frame" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("sec")
        .rangeBetween(-3599L, org.apache.spark.sql.expressions.Window.currentRow)
      table(s, d, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000000").as("sec"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("cents_1h", sum("cents").over(w))
        .select("event_id", "user_id", "sec", "n_1h", "cents_1h")
    }))

  /** Each purchase attributed to the user's latest click at or before
    * it (null when there is none). */
  private val asofClickSql =
    """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
         FROM (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                         WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts"""

  val oracle: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 49 AND l_returnflag = 'R' AND l_shipdate IS NOT NULL""",
    "q03_distinct_full" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q04_dedup_keys" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM (
           SELECT l_orderkey, l_linenumber, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
           FROM lineitem) WHERE rn = 1""",
    "q05_group_merge" ->
      """SELECT o_custkey, max(o_orderstatus) AS status_merged,
         strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS latest_order_date,
         count(*) AS n_orders
         FROM orders GROUP BY o_custkey""",
    "q06_history_stats" ->
      """SELECT o_orderkey,
         strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
         strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship,
         min(l_linenumber) AS min_line, max(l_linenumber) AS max_line,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderkey""",
    "q07_left_join_count" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_items
         FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
         GROUP BY o_orderkey""",
    "q08_scalar_agg" ->
      """SELECT max(o_orderkey) AS max_key, count(*) AS n_orders,
         strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
         strftime(max(o_orderdate), '%Y-%m-%d') AS last_date
         FROM orders""",
    "q09_group_concat" ->
      """SELECT o_orderpriority,
         string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
         FROM orders GROUP BY o_orderpriority""",
    "q10_topk_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100 OFFSET 10""",
    "q11_join_agg" ->
      """SELECT o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",
    "q12_join_chain" ->
      """SELECT r_name, count(*) AS n_customers,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q13_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",
    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "q15_composite_key_join" ->
      """SELECT p_partkey, p.p_brand, p.p_size
         FROM part p
         JOIN (SELECT p_brand, p_size, min(p_retailprice) AS min_price
               FROM part GROUP BY p_brand, p_size) d
           ON p.p_brand = d.p_brand AND p.p_size = d.p_size
         WHERE p.p_retailprice = d.min_price""",
    "q16_dedup_subquery_join" ->
      """SELECT n_name, c_custkey, c_name
         FROM nation LEFT JOIN (
           SELECT c_nationkey, c_custkey, c_name FROM (
             SELECT c_nationkey, c_custkey, c_name,
                    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
             FROM customer) WHERE rn = 1) t
         ON n_nationkey = t.c_nationkey""",
    "q17_window_latest" ->
      """SELECT l_orderkey, l_linenumber,
         l_shipdate = max(l_shipdate) OVER (PARTITION BY l_orderkey) AS is_latest
         FROM lineitem""",
    "q18_window_lead" ->
      """SELECT event_id,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS next_event_id
         FROM events""",
    "q19_window_topk" ->
      """SELECT c_nationkey, c_custkey, rank FROM (
           SELECT c_nationkey, c_custkey,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
           FROM customer) WHERE rank <= 3""",
    "q108_rank_suite" ->
      """SELECT o_orderkey, o_orderpriority,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice ASC, o_orderkey ASC)""",
    "q20_union_all" ->
      """SELECT src, count(*) AS n, count(DISTINCT key) AS n_keys FROM (
           SELECT l_orderkey AS key, 'hi' AS src FROM lineitem WHERE l_quantity > 45
           UNION ALL
           SELECT l_orderkey AS key, 'lo' AS src FROM lineitem WHERE l_quantity < 5)
         GROUP BY src""",
    "q21_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q22_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""",
    "q23_hash_funcs" ->
      """SELECT c_custkey, md5(c_name) AS name_md5, sha256(c_name) AS name_sha256
         FROM customer""",
    "q24_url_funcs" ->
      """SELECT n_nationkey, url,
         regexp_extract(url, 'https?://([^/]+)', 1) AS host,
         split_part(regexp_extract(url, 'https?://([^/]+)', 1), '.', 1) AS lang,
         regexp_extract(url, 'curid=([0-9]+)', 1) AS curid
         FROM (SELECT n_nationkey,
                 'https://' || replace(replace(lower(n_name), ' ', '-'), '_', '-') ||
                 '.example.org/w/index.php?curid=' || n_nationkey AS url
               FROM nation)""",
    "q25_string_norm" ->
      """SELECT p_partkey,
         upper(substr(t, 1, 1)) || substr(t, 2) AS name_norm
         FROM (SELECT p_partkey,
                 trim(regexp_replace(replace(p_name, '_', ' '), '\s+', ' ', 'g')) AS t
               FROM part)""",
    "q26_enum_label" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                WHEN 'P' THEN 'pending' ELSE 'other' END AS status_label,
         count(*) AS n
         FROM orders GROUP BY 1""",
    "q28_time_bucket" ->
      """SELECT strftime(make_timestamp((epoch_ns(ts) // 3600000000000) * 3600000000),
                         '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q81_bool_aggs" ->
      """SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
         bool_and(o_totalprice > 0) AS all_positive,
         bool_or(o_orderstatus = 'P') AS any_pending,
         count(*) AS n
         FROM orders GROUP BY o_orderpriority""",
    "q75_percentiles" ->
      """SELECT o_orderstatus,
         round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
         round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
         round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
         count(*) AS n
         FROM orders GROUP BY o_orderstatus""",
    "q79_date_parts" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INTEGER) AS y,
         CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(day(o_orderdate) AS INTEGER) AS dom,
         CAST(quarter(o_orderdate) AS INTEGER) AS q,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
         FROM orders""",
    "q80_levenshtein" ->
      """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
         levenshtein(a.c_name, b.c_name) AS dist
         FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey""",
    "q70_asof_join" -> asofClickSql,
    // Same attribution as q70, planned by the native as-of operator.
    "q114_asof_exec" -> asofClickSql,
    "q117_asof_window" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
           CASE WHEN c.event_id IS NOT NULL
                 AND epoch_ns(p.ts) - epoch_ns(c.ts) <= 86400000000000
                THEN c.event_id END AS click_id
         FROM (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                         WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q129_pattern_match" ->
      """WITH pc AS (
           SELECT p.user_id, p.event_id AS purchase_id,
                  c.event_id AS click_id, c.ts AS c_ts
           FROM (SELECT user_id, event_id, ts FROM events
                 WHERE event_type = 'purchase') p
           ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                           WHERE event_type = 'click') c
             ON p.user_id = c.user_id AND p.ts >= c.ts)
         -- DuckDB's ASOF treats a NULL probe time as +infinity (it
         -- would attribute the LATEST view to purchases with no click);
         -- the engine's contract is that a null time never matches, so
         -- null-click rows bypass the second hop explicitly.
         SELECT pc.user_id, pc.purchase_id, pc.click_id,
                v.event_id AS view_id
         FROM (SELECT * FROM pc WHERE click_id IS NOT NULL) pc
         ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                         WHERE event_type = 'view') v
           ON pc.user_id = v.user_id AND pc.c_ts >= v.ts
         UNION ALL
         SELECT user_id, purchase_id, CAST(NULL AS BIGINT),
                CAST(NULL AS BIGINT)
         FROM pc WHERE click_id IS NULL""",
    "q68_pivot" ->
      """SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         FROM events GROUP BY user_id""",
    "q69_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS bin_total
         FROM orders GROUP BY 1""",
    "q62_star_join" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                       AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name <> 'EUROPE'
         GROUP BY n_name""",
    "q61_sql_api" ->
      """SELECT o_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue,
         strftime(o_orderdate, '%Y-%m-%d') AS order_date
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'O'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey ASC
         LIMIT 10""",
    "q168_exists_subquery" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_returnflag = 'R')
         GROUP BY o_orderpriority""",
    "q169_scalar_subquery" ->
      """SELECT count(*) AS n_small, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE p.p_brand = 'Brand#12'
           AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                               FROM lineitem l2
                               WHERE l2.l_partkey = l.l_partkey)""",
    "q60_approx_distinct" ->
      """WITH hv AS (
           SELECT DISTINCT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
           FROM lineitem),
         kth AS (SELECT max(hv) AS kth
                 FROM (SELECT hv FROM hv ORDER BY hv LIMIT 64)),
         ex AS (SELECT count(DISTINCT l_orderkey) AS exact_orders FROM lineitem)
         SELECT exact_orders,
                round(63.0 / (CAST(kth AS DOUBLE) / 4503599627370496.0), 4) AS kmv_est
         FROM ex, kth""",
    "q57_salted_agg" ->
      """SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "q184_quantile_sketch" ->
      """WITH h AS (
           SELECT event_type, value,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
               AS BIGINT) AS hv
           FROM events),
         hm AS (SELECT event_type, hv, min(value) AS value
                FROM h GROUP BY event_type, hv),
         r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY hv)
                   AS rn
               FROM hm),
         s AS (SELECT event_type, value FROM r WHERE rn <= 256)
         SELECT event_type, count(*) AS n_sample,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95
         FROM s GROUP BY event_type""",
    "q156_salted_join" ->
      """SELECT l.k, count(*) AS n_pairs,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM (SELECT l_partkey % 50 AS k, l_quantity
               FROM lineitem WHERE l_returnflag = 'R') l
         JOIN (SELECT s_suppkey % 50 AS k, s_acctbal FROM supplier) r
           ON l.k = r.k
         GROUP BY l.k""",
    "q58_rollup" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q59_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "q63_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
         count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
    "q51_merge_nonnull" ->
      """WITH src AS (
           SELECT o_custkey, o_orderkey, o_orderstatus,
                  nullif(o_orderpriority, '5-LOW') AS v
           FROM orders),
         e AS (SELECT o_custkey,
                 arg_max(v, CASE WHEN v IS NOT NULL THEN o_orderkey END)
                   AS v_exist
               FROM src WHERE o_orderstatus = 'F' GROUP BY o_custkey),
         d AS (SELECT o_custkey,
                 arg_max(v, CASE WHEN v IS NOT NULL THEN o_orderkey END)
                   AS v_delta
               FROM src WHERE o_orderstatus = 'O' GROUP BY o_custkey)
         SELECT coalesce(e.o_custkey, d.o_custkey) AS o_custkey,
                coalesce(d.v_delta, e.v_exist) AS merged
         FROM e FULL OUTER JOIN d ON e.o_custkey = d.o_custkey""",
    "q29_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
         FROM (
           SELECT user_id,
                  CASE WHEN prev_ts IS NULL
                            OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000 THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
                 FROM events))
         GROUP BY user_id""",
    "q388_asof_nearest" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns
           FROM events WHERE event_type IN ('click', 'purchase')),
         c1 AS (
           SELECT user_id, tns, max(event_id) AS click_id
           FROM e WHERE event_type = 'click' GROUP BY 1, 2),
         u AS (
           SELECT user_id, tns, 0 AS isp, click_id AS eid FROM c1
           UNION ALL
           SELECT user_id, tns, 1, event_id FROM e
           WHERE event_type = 'purchase'),
         b AS (
           SELECT u.*,
             last_value(CASE WHEN isp = 0 THEN eid END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tns, isp, eid
                     ROWS UNBOUNDED PRECEDING) AS cb_id,
             last_value(CASE WHEN isp = 0 THEN tns END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tns, isp, eid
                     ROWS UNBOUNDED PRECEDING) AS cb_ts
           FROM u),
         f AS (
           SELECT user_id, tns, isp, eid,
             first_value(CASE WHEN isp = 0 THEN eid END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tns, 1 - isp, eid
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS cf_id,
             first_value(CASE WHEN isp = 0 THEN tns END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tns, 1 - isp, eid
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS cf_ts
           FROM u)
         SELECT b.user_id, b.eid AS purchase_id,
           CASE WHEN b.cb_id IS NOT NULL AND
                     (f.cf_id IS NULL OR b.tns - b.cb_ts <= f.cf_ts - b.tns)
                THEN b.cb_id ELSE f.cf_id END AS click_id,
           CASE WHEN b.cb_id IS NOT NULL AND
                     (f.cf_id IS NULL OR b.tns - b.cb_ts <= f.cf_ts - b.tns)
                THEN b.tns - b.cb_ts ELSE f.cf_ts - b.tns END AS gap_ns,
           CASE WHEN b.cb_id IS NOT NULL AND
                     (f.cf_id IS NULL OR b.tns - b.cb_ts <= f.cf_ts - b.tns)
                THEN 'backward'
                WHEN f.cf_id IS NOT NULL THEN 'forward'
                ELSE 'none' END AS dir
         FROM b JOIN f
           ON b.user_id = f.user_id AND b.eid = f.eid
             AND b.isp = 1 AND f.isp = 1""",
    "q185_interval_merge" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS t, event_id,
                  epoch_ns(ts) + 1800000000000 AS iv_end
           FROM events),
         marked AS (
           SELECT user_id, t, iv_end,
                  CASE WHEN max(iv_end) OVER (
                         PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR t > max(iv_end) OVER (
                         PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island,
                  event_id
           FROM ev),
         isl AS (
           SELECT user_id, t, iv_end,
                  sum(new_island) OVER (
                    PARTITION BY user_id ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
           FROM marked),
         merged AS (
           SELECT user_id, island, min(t) AS start, max(iv_end) AS fin
           FROM isl GROUP BY user_id, island)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
                CAST(sum(fin - start) AS BIGINT) AS covered_ns,
                CAST(max(fin - start) AS BIGINT) AS max_len_ns
         FROM merged GROUP BY user_id""",
    "q189_ivm_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS revenue_cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey""",
    "q190_cdc_apply" ->
      """WITH ch AS (
           SELECT user_id AS key, epoch_ns(ts) AS t, event_id,
                  CASE WHEN event_type = 'purchase' THEN 'D'
                       ELSE 'U' END AS op,
                  CAST(floor(value * 100) AS BIGINT) AS new_bal
           FROM events WHERE event_type <> 'error'),
         latest AS (
           SELECT key, op, new_bal FROM (
             SELECT key, op, new_bal,
                    row_number() OVER (PARTITION BY key
                                       ORDER BY t DESC, event_id DESC) AS rn
             FROM ch)
           WHERE rn = 1),
         snap AS (
           SELECT c_custkey AS key,
                  CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
           FROM customer)
         SELECT COALESCE(s.key, l.key) AS key,
                CASE WHEN l.op IS NOT NULL THEN l.new_bal
                     ELSE s.bal_cents END AS bal_cents,
                CASE WHEN l.op IS NOT NULL THEN 'chg'
                     ELSE 'snap' END AS src
         FROM snap s FULL OUTER JOIN latest l ON s.key = l.key
         WHERE l.op IS NULL OR l.op <> 'D'""",
    "q201_forward_asof" ->
      """SELECT c.user_id, c.event_id AS click_id,
                p.event_id AS purchase_id,
                epoch_ns(p.ts) - epoch_ns(c.ts) AS gap_ns
         FROM (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                         WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id AND c.ts <= p.ts""",
    "q204_interval_overlap" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS t, event_id,
                  epoch_ns(ts) + 1800000000000 AS iv_end
           FROM events),
         marked AS (
           SELECT user_id, t, iv_end, event_id,
                  CASE WHEN max(iv_end) OVER (
                         PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR t > max(iv_end) OVER (
                         PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS ni
           FROM ev),
         isl AS (
           SELECT user_id, t, iv_end,
                  sum(ni) OVER (PARTITION BY user_id ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS island
           FROM marked),
         iv AS (SELECT user_id, island, min(t) AS s, max(iv_end) AS e
                FROM isl GROUP BY user_id, island)
         SELECT a.user_id AS u1, b.user_id AS u2,
                CAST(count(*) AS BIGINT) AS n_overlaps,
                CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
                  AS overlap_ns
         FROM iv a JOIN iv b
           ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
         WHERE a.user_id % 20 = 0
         GROUP BY a.user_id, b.user_id""",
    "q257_unshipped_revenue" ->
      """SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q258_local_supplier_volume" ->
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE c_nationkey = s_nationkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name""",

    "q259_returned_revenue" ->
      """WITH top AS (
           SELECT o_custkey AS c_custkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))))
               AS DOUBLE) AS revenue
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1997-04-01'
             AND l_returnflag = 'R'
           GROUP BY o_custkey
           ORDER BY revenue DESC, o_custkey LIMIT 20)
         SELECT t.c_custkey, c.c_name, t.revenue, c.c_acctbal, n.n_name
         FROM top t
         JOIN customer c ON t.c_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    "q271_topk_others" ->
      """WITH per_sup AS (
           SELECT s_nationkey, s_suppkey, s_name,
             CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 100)
               AS BIGINT) AS rev_cents
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           GROUP BY 1, 2, 3),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY s_nationkey
             ORDER BY rev_cents DESC, s_suppkey) AS rn
           FROM per_sup),
         bucketed AS (
           SELECT s_nationkey,
             CASE WHEN rn <= 2 THEN s_name ELSE 'OTHERS' END AS entity,
             CAST(sum(rev_cents) AS BIGINT) AS rev_cents
           FROM ranked GROUP BY 1, 2)
         SELECT n_name, entity, rev_cents,
           CAST(rev_cents * 1000000 // sum(rev_cents)
             OVER (PARTITION BY s_nationkey) AS BIGINT) AS share_ppm
         FROM bucketed JOIN nation ON s_nationkey = n_nationkey""",

    "q272_hierarchy_shares" ->
      """WITH per_nation AS (
           SELECT r_name, n_name,
             CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 100)
               AS BIGINT) AS rev_cents
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, n_name, rev_cents,
           CAST(rev_cents * 1000000 // sum(rev_cents)
             OVER (PARTITION BY r_name) AS BIGINT) AS nation_share_ppm,
           CAST(sum(rev_cents) OVER (PARTITION BY r_name) * 1000000
             // sum(rev_cents) OVER () AS BIGINT) AS region_share_ppm
         FROM per_nation""",
    "q277_subtree_rollup" ->
      """WITH pu AS (
           SELECT user_id + 1 AS node, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events GROUP BY 1),
         anc AS (
           SELECT node >> k AS anc, n_events, cents
           FROM pu, (SELECT unnest(range(0, 21)) AS k)
           WHERE node >> k >= 1 AND node >> k <= 15)
         SELECT anc AS node, count(*) AS n_desc_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS subtree_cents
         FROM anc GROUP BY anc""",

    "q278_sketch_rollup" ->
      """WITH base AS (
           SELECT n_name, r_name, o_custkey AS ck,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
               AS BIGINT) AS hv
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         dn AS (SELECT DISTINCT r_name, n_name, hv FROM base),
         kn AS (
           SELECT r_name, n_name, max(hv) AS kth FROM (
             SELECT r_name, n_name, hv, row_number() OVER (
               PARTITION BY r_name, n_name ORDER BY hv) AS rn
             FROM dn) WHERE rn <= 64 GROUP BY 1, 2),
         kr AS (
           SELECT r_name, max(hv) AS kth FROM (
             SELECT r_name, hv, row_number() OVER (
               PARTITION BY r_name ORDER BY hv) AS rn
             FROM (SELECT DISTINCT r_name, hv FROM base))
           WHERE rn <= 64 GROUP BY 1),
         kg AS (
           SELECT max(hv) AS kth FROM (
             SELECT hv, row_number() OVER (ORDER BY hv) AS rn
             FROM (SELECT DISTINCT hv FROM base)) WHERE rn <= 64),
         en AS (SELECT r_name, n_name, count(DISTINCT ck) AS exact
                FROM base GROUP BY 1, 2),
         er AS (SELECT r_name, count(DISTINCT ck) AS exact
                FROM base GROUP BY 1),
         eg AS (SELECT count(DISTINCT ck) AS exact FROM base)
         SELECT 'nation' AS level, kn.n_name AS key, en.exact,
           round(63.0 / (CAST(kn.kth AS DOUBLE) / 4503599627370496.0), 4)
             AS kmv_est
         FROM kn JOIN en ON kn.r_name = en.r_name AND kn.n_name = en.n_name
         UNION ALL
         SELECT 'region', kr.r_name, er.exact,
           round(63.0 / (CAST(kr.kth AS DOUBLE) / 4503599627370496.0), 4)
         FROM kr JOIN er ON kr.r_name = er.r_name
         UNION ALL
         SELECT 'global', 'ALL', eg.exact,
           round(63.0 / (CAST(kg.kth AS DOUBLE) / 4503599627370496.0), 4)
         FROM kg CROSS JOIN eg""",

    "q328_bitmap_intersections" ->
      """WITH bm AS (
           SELECT event_type AS et, user_id // 62 AS w,
             bit_or(1::BIGINT << CAST(user_id % 62 AS INTEGER)) AS bits
           FROM events GROUP BY 1, 2),
         cnt AS (
           SELECT et, CAST(sum(bit_count(bits)) AS BIGINT) AS c
           FROM bm GROUP BY 1),
         inter AS (
           SELECT a.et AS type_a, b.et AS type_b,
             CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both
           FROM bm a JOIN bm b ON a.w = b.w AND a.et < b.et
           GROUP BY 1, 2)
         SELECT type_a, type_b, n_both,
           ca.c AS n_a, cb.c AS n_b,
           CAST(n_both * 1000000 // (ca.c + cb.c - n_both) AS BIGINT)
             AS jaccard_ppm
         FROM inter
         JOIN cnt ca ON inter.type_a = ca.et
         JOIN cnt cb ON inter.type_b = cb.et""",
    "q343_cube_revenue" ->
      """WITH o AS (
           SELECT r_name,
             strftime(CAST(o_orderdate AS DATE), '%Y') AS yr,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey)
         SELECT coalesce(r_name, '__all__') AS region,
           coalesce(yr, '__all__') AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS rev_cents
         FROM o GROUP BY CUBE (r_name, yr)""",

    "q354_peak_concurrency" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_id FROM events),
         flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > 1800000000000
               THEN 1 ELSE 0 END AS new_s
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sid AS (
           SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged),
         sess AS (
           SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1
           FROM sid GROUP BY 1, 2),
         deltas AS (
           SELECT user_id, t0 AS ts, 1 AS delta FROM sess
           UNION ALL SELECT user_id, t1 + 1, -1 FROM sess),
         dd AS (
           SELECT *, ts // 86400000000000 AS day FROM deltas),
         conc AS (
           SELECT day, delta,
             sum(delta) OVER (PARTITION BY day
               ORDER BY ts, delta, user_id
               ROWS UNBOUNDED PRECEDING) AS conc
           FROM dd)
         SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrency,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions
         FROM conc GROUP BY day""",
    // FULL recompute of the new state — no delta rules.
    "q355_join_view_ivm" ->
      """WITH o1 AS (
           SELECT o_custkey AS ck, o_orderpriority AS prio,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS oc
           FROM orders),
         c1 AS (
           SELECT CAST(c_custkey AS BIGINT) AS ck,
             CAST(floor(c_acctbal * 100) AS BIGINT)
               + CASE WHEN c_custkey % 7 = 0 THEN 1000 ELSE 0 END
               AS bal
           FROM customer)
         SELECT prio, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(oc + bal) AS BIGINT) AS measure_cents
         FROM o1 JOIN c1 USING (ck)
         GROUP BY prio""",

    // FULL recompute of the post-delete min frame; audit counts
    // re-derived from the old/delete states directly.
    "q356_min_maintenance_deletes" ->
      """WITH li AS (
           SELECT l_partkey AS pk, l_orderkey AS ok,
             CAST(floor(l_extendedprice * 100) AS BIGINT) AS pc
           FROM lineitem),
         oldmin AS (SELECT pk, min(pc) AS mn FROM li GROUP BY 1),
         delmin AS (SELECT pk, min(pc) AS dmn FROM li
                    WHERE ok % 11 = 0 GROUP BY 1),
         classed AS (
           SELECT oldmin.pk,
             CASE WHEN dmn IS NULL THEN 'untouched'
                  WHEN dmn > mn THEN 'min_survives'
                  ELSE 'invalidated' END AS cls
           FROM oldmin LEFT JOIN delmin USING (pk)),
         cnt AS (
           SELECT
             sum(CASE WHEN cls = 'untouched' THEN 1 ELSE 0 END)
               AS n_untouched,
             sum(CASE WHEN cls = 'min_survives' THEN 1 ELSE 0 END)
               AS n_min_survives,
             sum(CASE WHEN cls = 'invalidated' THEN 1 ELSE 0 END)
               AS n_invalidated
           FROM classed),
         newmin AS (
           SELECT pk, min(pc) AS mn FROM li WHERE ok % 11 <> 0
           GROUP BY 1)
         SELECT pk % 64 AS bucket, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(mn % 1000000007) % 1000000007 AS BIGINT)
             AS checksum,
           CAST(n_untouched AS BIGINT) AS n_untouched,
           CAST(n_min_survives AS BIGINT) AS n_min_survives,
           CAST(n_invalidated AS BIGINT) AS n_invalidated
         FROM newmin, cnt
         GROUP BY 1, n_untouched, n_min_survives, n_invalidated""",
    "q177_concurrency" ->
      """WITH pts AS (
           SELECT epoch_ns(ts) // 1000000000 AS t, 1 AS delta,
             event_id AS eid
           FROM events
           UNION ALL
           SELECT epoch_ns(ts) // 1000000000 + 600, -1, event_id
           FROM events),
         cum AS (
           SELECT t, CAST(sum(delta) OVER (ORDER BY t, delta, eid
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS conc
           FROM pts)
         SELECT t // 86400 AS day, max(conc) AS peak, count(*) AS n_points
         FROM cum GROUP BY 1""",
    "q178_bitmap_index" ->
      """WITH en AS (
           SELECT doc_id // 63 AS block,
             bit_or(CAST(1 AS BIGINT) << CAST(doc_id % 63 AS INTEGER))
               AS w_en
           FROM documents WHERE lang = 'en' GROUP BY 1),
         lng AS (
           SELECT doc_id // 63 AS block,
             bit_or(CAST(1 AS BIGINT) << CAST(doc_id % 63 AS INTEGER))
               AS w_long
           FROM documents WHERE n_chars >= 300 GROUP BY 1)
         SELECT block,
           coalesce(w_en, 0) AS w_en,
           coalesce(w_long, 0) AS w_long,
           CAST(bit_count(coalesce(w_en, 0)) AS BIGINT) AS n_en,
           CAST(bit_count(coalesce(w_en, 0) & coalesce(w_long, 0)) AS BIGINT)
             AS n_and,
           CAST(bit_count(coalesce(w_en, 0) | coalesce(w_long, 0)) AS BIGINT)
             AS n_or
         FROM en FULL OUTER JOIN lng USING (block)""",
    "q180_temporal_join" ->
      """WITH segs AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
         rates AS (
           SELECT seg, CAST(v AS INTEGER) AS ver,
             make_timestamp(CAST(1995 + v * 2 AS BIGINT), 1, 1, 0, 0, 0)
               AS valid_from,
             CAST(('0x' || substr(md5(seg || v), 1, 4)) AS BIGINT) % 500
               + 100 AS rate_bp
           FROM segs, range(3) t(v)),
         facts AS (
           SELECT o_orderkey, o_orderdate, c_mktsegment AS seg
           FROM orders JOIN customer ON o_custkey = c_custkey)
         SELECT f.seg, r.ver, r.rate_bp, count(*) AS n_orders
         FROM facts f
         ASOF LEFT JOIN rates r
           ON f.seg = r.seg AND f.o_orderdate >= r.valid_from
         GROUP BY 1, 2, 3""",
    "q173_range_frame" ->
      """SELECT event_id, user_id, sec,
           count(*) OVER w AS n_1h,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_1h
         FROM (SELECT event_id, user_id,
                 epoch_ns(ts) // 1000000000 AS sec,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""")
}

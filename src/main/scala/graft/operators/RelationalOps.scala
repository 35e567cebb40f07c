package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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
object RelationalOps {

  private val Dec = DecimalType(18, 2)
  /** Exact, order-independent sum of a money-like double column. */
  private def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")
  /** Exact discounted-price sum: cast BOTH factors to decimal before the
    * multiply so no engine ever rounds a double product (rounding-mode
    * tie-breaks differ between Java BigDecimal and DuckDB). */
  private def discSum(price: Column, disc: Column): Column =
    sum(price.cast(Dec) * (lit(1).cast(Dec) - disc.cast(Dec))).cast("double")

  type Q = (SparkSession, String) => DataFrame

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
      val hv = conv(substring(md5(col("l_orderkey").cast("string")), 1, 13),
        16, 10).cast("long")
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
      val hv = conv(substring(md5(col("event_id").cast("string")), 1, 13),
        16, 10).cast("long")
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
    })
  )

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
    "q70_asof_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
         FROM (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                         WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q114_asof_exec" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
         FROM (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events
                         WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts""",
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
         GROUP BY user_id"""
  )
}

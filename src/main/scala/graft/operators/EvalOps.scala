package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table

/** Model-evaluation metrics over a scored corpus: ROC AUC, KS,
  * calibration, precision/recall, ranking metrics (NDCG, MRR), forecast
  * and probabilistic scoring, label-noise and conformal audits, and the
  * train/test preparation checks (target encoding, group k-fold).
  *
  * Shared framing for the rank metrics: score = event value in integer
  * cents, binary label = `event_type = 'purchase'` (`scored`). Every AUC
  * goes through one tie-adjusted Mann–Whitney recipe (`aucPpm`).
  */
object EvalOps extends QueryModule {
  /** Corpus → (cents, pos) scored frame: one narrow projection, reused
    * by all four metrics. */
  private def scored(s: SparkSession, d: String): DataFrame =
    table(s, d, "events").select(
      expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
      expr("CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END " +
        "AS BIGINT)").as("pos"))

  /** Per-distinct-score (pos, neg) histogram — the sufficient statistic
    * for every rank metric below; map-side combined, domain-bounded. */
  private def hist(ev: DataFrame): DataFrame =
    ev.groupBy("cents")
      .agg(sum("pos").as("pos_s"), sum(expr("1 - pos")).as("neg_s"))

  /** Tie-adjusted Mann–Whitney AUC per `keys` group (none: one global
    * row) from a per-(group, score) histogram of `pos_s`/`neg_s` counts.
    * Per distinct score, pos_s·(2·neg_below + neg_s) adds to 2U, so tie
    * credit (½ per tied pair) stays integer; the running negative count
    * is a window over the domain-sized histogram, partitioned by group.
    * `bothClasses` drops groups without a positive or a negative.
    * Output: keys, n_pos, n_neg, u2, auc_ppm = 2U·1e6 div 2·n_pos·n_neg. */
  private def aucPpm(h: DataFrame, keys: Seq[String], score: String,
      bothClasses: Boolean = false): DataFrame = {
    val by = keys.map(col)
    val below = Window.partitionBy(by: _*).orderBy(score)
      .rowsBetween(Window.unboundedPreceding, -1)
    val u = h.withColumn("cnb", coalesce(sum("neg_s").over(below), lit(0L)))
      .groupBy(by: _*)
      .agg(sum(expr("pos_s * (2 * cnb + neg_s)")).as("u2"),
        sum("pos_s").as("n_pos"), sum("neg_s").as("n_neg"))
    (if (bothClasses) u.filter(col("n_pos") > 0 && col("n_neg") > 0) else u)
      .select(by ++ Seq(col("n_pos"), col("n_neg"), col("u2"),
        expr("u2 * 1000000L div (2 * n_pos * n_neg)").as("auc_ppm")): _*)
  }

  /** ppm discount weights 1e6/log2(rank+1) for ranks 1..10 — shared
    * constant table with the oracle SQL (exactness by construction). */
  private val NdcgW =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L, 356207L, 333333L,
      315465L, 301030L, 289065L)

  private val Taus = Seq(100000L, 500000L, 900000L)

  /** (feature, score fval, MI bin, pos) stack: spend cents (binned to
    * 20 for MI), hour-of-day, day-of-week, user_id mod 100 (a control
    * that must score near-random), and the props JSON counter. */
  private def stacked(s: SparkSession, d: String): DataFrame = {
    val base = table(s, d, "events").select(
      expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
      expr("(ts div 3600000000000) % 24").as("hour"),
      expr("(ts div 86400000000000 + 4) % 7").as("dow"),
      expr("user_id % 100").as("umod"),
      expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("pk"),
      expr("CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END " +
        "AS BIGINT)").as("pos"))
    val mx = base.agg(max("cents").as("m"))
    base.crossJoin(broadcast(mx))
      .select(col("pos"), explode(array(
        struct(lit("value_cents").as("feature"), col("cents").as("fval"),
          expr("cents div (m div 20 + 1)").as("mbin")),
        struct(lit("hour_of_day").as("feature"), col("hour").as("fval"),
          col("hour").as("mbin")),
        struct(lit("day_of_week").as("feature"), col("dow").as("fval"),
          col("dow").as("mbin")),
        struct(lit("user_mod100").as("feature"), col("umod").as("fval"),
          expr("umod div 5").as("mbin")),
        struct(lit("props_k").as("feature"), col("pk").as("fval"),
          expr("pk div 10").as("mbin")))).as("f"))
      .select(col("f.feature").as("feature"), col("f.fval").as("fval"),
        col("f.mbin").as("mbin"), col("pos"))
  }

  val queries: Map[String, Q] = Map(
    // ---- q224: leave-one-out target encoding ---------------------------
    // q224 leave-one-out target encoding: the leakage-safe
    // categorical encoder (each row's own label excluded from its
    // category mean) in exact integer arithmetic.
    // Per-category sums/counts once (map-side combined), broadcast back
    // (the category dimension is |event_type|-sized — at a
    // high-cardinality categorical the same two-pass plan hash-joins on
    // the category instead; never a per-row window over the corpus),
    // then enc_i = (Σcat − y_i) div (n−1) per row. value ≥ 0 in this
    // corpus so the numerator is non-negative and truncating `div` ==
    // floor division on both engines; a signed-label variant would ride
    // q215's non-negativity shift. Excluding the row's own label
    // is what makes the encoding leakage-safe for training.
    "q224_loo_target_encoding" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_id"), col("event_type"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val stats = ev.groupBy("event_type")
        .agg(sum("cents").as("cat_sum"), count(lit(1)).as("cat_n"))
      ev.join(broadcast(stats), "event_type")
        .filter(col("cat_n") > 1)
        .select(col("event_id"), col("event_type"), col("cents"),
          expr("(cat_sum - cents) div (cat_n - 1)").as("loo_enc"))
    }),

    // ---- q225: group-aware K-fold + stratification audit ---------------
    // q225 group-aware K-fold assignment + stratification audit:
    // hash-of-user folds (a user can never straddle folds, by
    // construction) with per-fold class-share ppm.
    // fold(user) = hash(user) mod 5: assignment is a pure map-side
    // function of the grouping key, so a user's events can NEVER leak
    // across folds — the invariant group K-fold exists to provide, here
    // by construction instead of by bookkeeping. The audit emits the
    // per-(fold, class) cell counts, distinct users, and within-fold
    // class share (integer ppm) — the stratification evidence a CV
    // setup reports. One (fold, class, user)-keyed aggregation.
    "q225_group_kfold" -> ((s, d) => {
      table(s, d, "events")
        .select(col("user_id"), col("event_type"))
        .withColumn("fold", expr(s"${h13("user_id")} % 5"))
        .groupBy("fold", "event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .withColumn("share_ppm", expr(
          "n_events * 1000000L div sum(n_events) over (partition by fold)"))
    }),

    // ---- q227: class-balanced downsampling plan ------------------------
    // q227 class-balanced downsampling plan: every label kept at
    // exactly the minority-class count, chosen by deterministic hash
    // rank, with an order-independent checksum of the kept set.
    // Undersample every class to exactly the minority-class count,
    // members chosen by hash rank (hash ties broken by vec_id) — same
    // corpus in, same sample out, under any partitioning. The per-label
    // window sort keys the shuffle on the label; at 100 TB class sizes
    // the full sort gives way to the bottom-k-by-hash aggregator
    // (q184's BottomKSample) selecting the target-count smallest hashes
    // with O(k) state — identical sample by construction. kept_id_sum
    // is the order-independent checksum a downstream job re-verifies
    // the materialized sample against.
    "q227_class_balance" -> ((s, d) => {
      val e = table(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .withColumn("h", expr(h13("vec_id")))
      val target = e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min("n").as("target"))
      val w = Window.partitionBy("label").orderBy(col("h"), col("vec_id"))
      e.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(target))
        .withColumn("kept", col("rk") <= col("target"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("kept"), col("vec_id"))).as("kept_id_sum"))
    }),

    // Model-evaluation metrics — the scoring side of the
    // training-data loop (a curation pipeline that reweights/filters on a
    // model score needs the score AUDITED at the same corpus scale).
    //
    // Shared framing: score = event value in integer cents, binary label =
    // `event_type = 'purchase'` ("does spend predict purchase"). Every
    // metric reduces the corpus to a per-distinct-score histogram FIRST
    // (one map-side-combined shuffle keyed on the score), then runs the
    // classical cumulative-sum formulation over that histogram — the
    // histogram is |score-domain|-bounded (cents of a bounded monetary
    // range), so the ordered window after it is domain-sized, never
    // corpus-sized. All ratios are integer ppm, so the reports are
    // engine-exact (the float formulations differ in the last ulp across
    // engines and would be un-hash-checkable).
    //
    // Scale posture: the post-histogram ordered windows are
    // SinglePartition by design — domain-sized (bounded), never
    // corpus-sized. A score with an unbounded domain first buckets
    // (q231's recipe) or swaps the window for the OrderedScan kernel's
    // sum; the metric formulas are unchanged.

    // ---- q228: ROC AUC (tie-adjusted Mann–Whitney, integer 2U) ---------
    // q228 ROC AUC via the tie-adjusted Mann–Whitney U, carried as
    // 2U so tie credit (½ per tied pair) stays integer.
    // AUC = P(score_pos > score_neg) + ½·P(tie). Per distinct score s:
    // pos_s·(2·neg_below + neg_s) contributes to 2U (ties earn 1 of 2).
    // The running neg count is a window over the DOMAIN-sized histogram.
    // u2·1e6 stays inside Long up to n_pos·n_neg ≈ 4.6e12 (≈2M balanced
    // rows); past that the division happens first (u2 div (npn2 div
    // 1e6)) or the accumulator widens to DECIMAL(38,0) — the plan shape
    // is unchanged. Output: one row, exact.
    "q228_roc_auc" -> ((s, d) => aucPpm(hist(scored(s, d)), Nil, "cents")),

    // ---- q229: Kolmogorov–Smirnov separation statistic -----------------
    // q229 Kolmogorov–Smirnov separation: max CDF gap and the score
    // threshold attaining it.
    // KS = max over thresholds of |CDF_pos − CDF_neg| (both in ppm of
    // their class totals, inclusive CDFs over the score histogram), plus
    // the smallest score attaining the max — the natural decision
    // threshold. Class totals ride a 1-row broadcast; the argmax is a
    // scalar-broadcast equi-join back into the domain-sized frame.
    "q229_ks_statistic" -> ((s, d) => {
      val h = hist(scored(s, d))
      val upTo = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = h.agg(sum("pos_s").as("n_pos"), sum("neg_s").as("n_neg"))
      val ks = h
        .withColumn("cum_pos", sum("pos_s").over(upTo))
        .withColumn("cum_neg", sum("neg_s").over(upTo))
        .crossJoin(broadcast(tot))
        .select(col("cents"), col("n_pos"), col("n_neg"),
          expr("abs(cum_pos * 1000000L div n_pos" +
            " - cum_neg * 1000000L div n_neg)").as("ks_ppm"))
      val best = ks.agg(max("ks_ppm").as("ks_ppm"))
      ks.join(broadcast(best), "ks_ppm")
        .groupBy("ks_ppm")
        .agg(min("cents").as("at_cents"),
          min("n_pos").as("n_pos"), min("n_neg").as("n_neg"))
    }),

    // ---- q230: calibration table (positive rate per score bin) ---------
    // q230 calibration table: positive rate vs mean score per
    // fixed-width score bin.
    // Ten fixed-width score bins from the global max (1-row scalar
    // broadcast, q226's binning recipe): per bin the row count, positive
    // count, positive rate in ppm, and mean score — a calibrated score
    // shows rate monotone in mean_cents. One scan + one 10-row agg.
    "q230_calibration" -> ((s, d) => {
      val ev = scored(s, d)
      val mx = ev.agg(max("cents").as("m"))
      ev.crossJoin(broadcast(mx))
        .select(expr("cents div (m div 10 + 1)").as("bin"),
          col("cents"), col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
          sum("cents").as("sum_cents"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("n_pos * 1000000L div n").as("pos_rate_ppm"),
          expr("sum_cents div n").as("mean_cents"))
    }),

    // ---- q231: precision/recall threshold sweep ------------------------
    // q231 precision/recall sweep over 100 threshold buckets — the
    // operating-point curve, empty buckets materialized so the sweep
    // is gapless.
    // 100 threshold buckets (width from the global max): predict
    // positive when cents ≥ bucket·width. TP and predicted-positive
    // counts are DESCENDING cumulative sums over the bucket histogram —
    // materialized gapless via range(100) + left join so empty buckets
    // inherit the correct cumulative (a missing bucket would otherwise
    // silently skip an operating point). Buckets with zero predicted
    // positives are dropped (precision undefined). 100-row window.
    "q231_pr_sweep" -> ((s, d) => {
      val ev = scored(s, d)
      val mx = ev.agg(max("cents").as("m"))
      val hb = ev.crossJoin(broadcast(mx))
        .select(expr("cents div (m div 100 + 1)").as("bucket"), col("pos"))
        .groupBy("bucket")
        .agg(sum("pos").as("pos_s"), count(lit(1)).as("all_s"))
      val tot = ev.agg(sum("pos").as("n_pos"))
      val desc = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.range(0, 100).select(col("id").as("bucket"))
        .join(hb, Seq("bucket"), "left_outer")
        .na.fill(0L, Seq("pos_s", "all_s"))
        .withColumn("tp", sum("pos_s").over(desc))
        .withColumn("pp", sum("all_s").over(desc))
        .filter(col("pp") > 0)
        .crossJoin(broadcast(tot)).crossJoin(broadcast(mx))
        .select(col("bucket"),
          expr("bucket * (m div 100 + 1)").as("thr_cents"),
          col("tp"), col("pp"),
          expr("tp * 1000000L div pp").as("precision_ppm"),
          expr("tp * 1000000L div n_pos").as("recall_ppm"))
    }),

    // ---- q238: per-slice ROC AUC ---------------------------------------
    // q238 per-slice ROC AUC: the q228 Mann–Whitney formulation
    // PARTITIONED by a dimension (customer market segment via a dim
    // join) — slice analysis is where single-number metrics hide
    // regressions, and the partitioned histogram window is the shape
    // that scales it (no single-partition frame anywhere).
    // Score = order total in cents, label = finished status, slice =
    // the customer's market segment (broadcast dim join — customer is
    // the small side here; at parity-size dims it's a plain hash
    // join). Histogram per (slice, score), cumulative window
    // PARTITIONED on the slice, per-slice U2/AUC — the corpus never
    // sees a global ordering, so the plan is fully parallel across
    // slices AND across each slice's hash partitions.
    "q238_sliced_auc" -> ((s, d) => {
      val o = table(s, d, "orders").select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END" +
          " AS BIGINT)").as("pos"))
      val c = table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("slice"))
      val h = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("slice", "cents")
        .agg(sum("pos").as("pos_s"), sum(expr("1 - pos")).as("neg_s"))
      aucPpm(h, Seq("slice"), "cents", bothClasses = true)
    }),

    // ---- q239: NDCG@10 per group ---------------------------------------
    // q239 NDCG@10 per group: graded-relevance ranking quality with
    // an INTEGER discount table (ppm of 1/log2(rank+1), hardcoded) —
    // engine-exact where float log2 discounts drift; both the model
    // and the ideal ranking are per-group top-10 windows.
    // Groups = document sources; the "model" ranks docs by length
    // (n_chars desc), graded relevance from char thresholds (0/1/2).
    // DCG@10 over the model order, IDCG@10 over the relevance-ideal
    // order, both as per-group top-10 windows (WindowGroupLimit — the
    // group is never fully sorted past its top-k under AQE's limit
    // pushdown; groups hash-partition freely). ndcg in exact ppm via
    // the shared integer discount table.
    "q239_ndcg_at_10" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          expr("CAST(CASE WHEN n_chars >= 400 THEN 2 WHEN n_chars >= 200" +
            " THEN 1 ELSE 0 END AS BIGINT)").as("rel"))
      val w = array(NdcgW.map(lit): _*)
      val byModel = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val byIdeal = Window.partitionBy("source")
        .orderBy(col("rel").desc, col("doc_id").asc)
      val ranked = docs
        .withColumn("mr", row_number().over(byModel))
        .withColumn("ir", row_number().over(byIdeal))
      val dcg = ranked.filter(col("mr") <= 10).groupBy("source")
        .agg(sum(col("rel") * element_at(w, col("mr").cast("int")))
          .as("dcg"))
      val idcg = ranked.filter(col("ir") <= 10).groupBy("source")
        .agg(sum(col("rel") * element_at(w, col("ir").cast("int")))
          .as("idcg"))
      dcg.join(idcg, "source").filter(col("idcg") > 0)
        .select(col("source"), col("dcg"), col("idcg"),
          expr("dcg * 1000000L div idcg").as("ndcg_ppm"))
    }),

    // ---- q262: seasonal-naive forecast evaluation ----------------------
    // q262 seasonal-naive forecast evaluation: lag-7 baseline error
    // (MAE, WAPE) per series — the forecast-eval loop every
    // monitoring pipeline runs, integer-exact.
    // Per-type daily cents series (calendar-bounded frames, as q250);
    // forecast(d) = y(d−7) via lag(7) over the per-type window —
    // row-lag equals calendar-lag here because the generator emits
    // every day, and the oracle shares the same definition either
    // way. MAE and WAPE in exact integer cents/ppm.
    "q262_seasonal_forecast_eval" -> ((s, d) => {
      val daily = table(s, d, "events")
        .select(col("event_type"),
          expr("ts div 86400000000000").as("day"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("y"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("yhat", lag("y", 7).over(w))
        .filter(col("yhat").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days_eval"),
          sum(abs(col("y") - col("yhat"))).as("total_abs_err"),
          sum("y").as("total_actual"))
        .select(col("event_type"), col("n_days_eval"),
          col("total_abs_err"),
          expr("total_abs_err div n_days_eval").as("mae_cents"),
          expr("total_abs_err * 1000000 div total_actual").as("wape_ppm"))
    }),

    // ---- q274: pinball (quantile) loss of the lag-7 forecast -----------
    // q274 pinball (quantile) loss: score the lag-7 forecast at
    // τ ∈ {0.1, 0.5, 0.9} — the quantile-forecast metric, exact in
    // integer ppm·cents.
    // q262's calendar-bounded daily series and lag; the loss at each
    // τ is max(τ·e, (τ−1e6)·e) on the ppm scale — both branches are
    // integer products, and the max formulation avoids any sign
    // division. The 3 τ values explode map-side from a literal array;
    // output is (type, τ) grain.
    "q274_pinball_loss" -> ((s, d) => {
      val daily = table(s, d, "events")
        .select(col("event_type"),
          expr("ts div 86400000000000").as("day"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("y"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.withColumn("yhat", lag("y", 7).over(w))
        .filter(col("yhat").isNotNull)
        .select(col("event_type"), (col("y") - col("yhat")).as("e"),
          explode(lit(Taus.toArray)).as("tau_ppm"))
        .groupBy("event_type", "tau_ppm")
        .agg(count(lit(1)).as("n_days"),
          sum(greatest(expr("tau_ppm * e"),
            expr("(tau_ppm - 1000000) * e"))).as("pinball_ppm_cents"))
    }),

    // In-engine baseline-model evaluation.
    //
    // q280 trains a first-order Markov next-event model on the first
    // time-half of the corpus and scores its argmax predictions on the
    // second half — the train/test evaluation loop (temporal split, fit,
    // predict, accuracy) expressed entirely as relational operators,
    // integer-exact.

    // ---- q280: Markov next-event accuracy under a temporal split --------
    // The split point is (min+max) div 2 of event time — deterministic
    // from two scalar aggregates, broadcast once. Transitions come
    // from ONE user-keyed lead window over the whole timeline; a
    // transition belongs to train/test by the time of its FIRST
    // event, so the sets partition exactly. The model is the per-prior
    // argmax over the tiny (type × type) train matrix (ties broken
    // (count desc, type asc) — engine-deterministic); scoring is a
    // broadcast join of that ≤|types| model onto the test transitions
    // and one rollup. Output per prior type: test size, hits, and
    // accuracy ppm — plus the model's predicted type for the audit.
    "q280_markov_eval" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
      val bounds = ev.agg(min("ts").as("tmin"), max("ts").as("tmax"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .crossJoin(broadcast(bounds))
        .withColumn("is_train",
          col("ts") < expr("tmin + (tmax - tmin) div 2"))
        .select(col("event_type").as("from_type"), col("to_type"),
          col("is_train"))
      val train = trans.filter(col("is_train"))
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val model = train
        .withColumn("rn", row_number().over(Window
          .partitionBy("from_type")
          .orderBy(col("n").desc, col("to_type"))))
        .filter(col("rn") === 1)
        .select(col("from_type"), col("to_type").as("predicted"))
      trans.filter(!col("is_train"))
        .join(broadcast(model), "from_type")
        .groupBy("from_type", "predicted")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("to_type") === col("predicted"), 1L).otherwise(0L))
            .as("n_hit"))
        .withColumn("acc_ppm", expr("n_hit * 1000000 div n_test"))
    }),

    // Label-noise auditing, forecast-calibration
    // decomposition, the third leg of the privacy triad, and conformal
    // coverage — four evaluation/curation operators a training-data
    // pipeline runs over its scored corpus.

    // ---- q282: nearest-centroid confusion matrix (label-noise audit) --
    // q282 nearest-centroid confusion matrix: the standard cheap
    // label-noise screen over an embedded corpus (cf. confident
    // learning): assign every vector to its nearest class centroid
    // and tabulate true-label × predicted-label counts.
    // Centroids are per-label cell means rounded to 6 dp (q104's exact
    // recipe, so Spark's sequential-double accumulation matches the
    // oracle bit-for-bit). Every vector scores against ALL centroids
    // via a broadcast of the P-row centroid frame — the q85 k-means
    // shape: the corpus stays map-only through scoring (P·n scored
    // rows never shuffle; the argmin is a map-side-combinable min of
    // struct(dist, label)), then one tiny shuffle on the P×P confusion
    // key. v·v is constant within a vector so the score drops it:
    // score = c·c − 2 v·c orders identically to squared distance.
    "q282_centroid_confusion" -> ((s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"),
        col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val cents = e
        .select(col("label").as("clabel"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("clabel", "pos").agg(round(avg("x"), 6).as("c"))
        .groupBy("clabel")
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, c))), p -> p.c)")
          .as("cvec"))
      val pred = e.crossJoin(broadcast(cents))
        .withColumn("score",
          round(dotD("cvec", "cvec") - lit(2) * dotD("v", "cvec"), 6))
        .groupBy("vec_id", "label")
        .agg(min(struct(col("score"), col("clabel"))).as("m"))
        .select(col("label"), col("m.clabel").as("pred_label"))
      pred.groupBy("label", "pred_label").agg(count(lit(1)).as("n"))
        .withColumn("row_ppm",
          expr("n * 1000000 div sum(n) OVER (PARTITION BY label)")
            .cast("long"))
    }),

    // ---- q283: Brier decomposition (reliability / resolution) ---------
    // q283 Brier-score decomposition (Murphy 1973): reliability /
    // resolution terms per forecast bin, exact in integer ppm.
    // Forecast p = cents/(m+1) in ppm; 10 forecast bins (q230's edges).
    // Per bin k: n_k, p̄_k, ō_k and the Murphy terms
    //   rel_k = n_k(p̄_k−ō_k)²/N,  res_k = n_k(ō_k−ō)²/N
    // reported in ppm of the (ppm²-scaled) Brier units, all integer
    // division so both engines agree exactly. One histogram shuffle
    // (10 partials, map-side combined) + two 1-row broadcast scalars.
    // i64 headroom: (1e6)²·n_k needs n_k < 9.2e6·1e6/1e12 ≈ 9e6 per
    // bin per partial — the global agg is on the 10-row bin frame, so
    // the product is computed once per bin on already-summed counts;
    // at ≥1e13-row corpora rescale the ppm unit first (documented).
    "q283_brier_decomposition" -> ((s, d) => {
      val ev = scored(s, d)
      val mx = ev.agg(max("cents").as("m"))
      val tot = ev.agg(count(lit(1)).as("n_all"), sum("pos").as("pos_all"))
      val g = ev.crossJoin(broadcast(mx))
        .select(expr("cents div (m div 10 + 1)").as("bin"),
          expr("cents * 1000000 div (m + 1)").as("p_ppm"), col("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
          sum("p_ppm").as("sum_p"))
      g.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"),
          expr("sum_p div n").as("pbar_ppm"),
          expr("n_pos * 1000000 div n").as("obar_ppm"),
          expr("""n * (sum_p div n - n_pos * 1000000 div n)
                    * (sum_p div n - n_pos * 1000000 div n)
                  div (n_all * 1000000)""").as("rel_ppm"),
          expr("""n * (n_pos * 1000000 div n - pos_all * 1000000 div n_all)
                    * (n_pos * 1000000 div n - pos_all * 1000000 div n_all)
                  div (n_all * 1000000)""").as("res_ppm"))
    }),

    // ---- q285: split-conformal coverage audit -------------------------
    // q285 split-conformal coverage: calibration-half residual
    // quantile, test-half coverage — the distribution-free interval
    // guarantee audit.
    // Deterministic md5 split (the q273 hash family): half calibrates,
    // half tests. Point prediction = per-type floor-mean cents from
    // the calibration half; nonconformity = |cents − pred|. q̂ is the
    // ⌈0.9(n+1)⌉-th smallest calibration residual — an EXACT order
    // statistic found on the distinct-residual histogram (value domain
    // ≤ the cents domain, so the cumulative window runs over a
    // domain-bounded frame, never the corpus — the q181 exact-median
    // discipline). Coverage = share of test rows within q̂, per type
    // and overall (rollup). Conformal guarantees ≥ 90% marginal
    // coverage; the audit verifies it empirically in exact ppm.
    "q285_conformal_coverage" -> ((s, d) => {
      val ev = table(s, d, "events").select(col("event_id"),
        col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"),
        expr(s"${h13("event_id")} % 2").as("half"))
      val cal = ev.filter(col("half") === 0)
      val test = ev.filter(col("half") === 1)
      val pred = cal.groupBy("event_type")
        .agg(expr("sum(cents) div count(1)").as("pred"))
      val resid = cal.join(broadcast(pred), "event_type")
        .select(abs(col("cents") - col("pred")).as("r"))
      val kRow = resid.agg(
        expr("(9 * (count(1) + 1) + 9) div 10").as("k"))
      val wr = Window.orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val qhat = resid.groupBy("r").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(wr))
        .crossJoin(broadcast(kRow))
        .filter(col("cum") >= col("k"))
        .agg(min("r").as("qhat"))
      test.join(broadcast(pred), "event_type")
        .crossJoin(broadcast(qhat))
        .withColumn("cov",
          expr("CAST(abs(cents - pred) <= qhat AS BIGINT)"))
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n_test"), sum("cov").as("n_covered"),
          expr("sum(cov) * 1000000 div count(1)").as("coverage_ppm"))
        .select(coalesce(col("event_type"), lit("__all__"))
          .as("event_type"),
          col("n_test"), col("n_covered"), col("coverage_ppm"))
    }),

    // ---- q292: mean reciprocal rank at 10 ------------------------------
    // q292 MRR@10, completing the retrieval-eval family next to
    // NDCG (q239), AUC (q228) and the PR sweep (q231).
    // q239's retrieval setup verbatim (sources are the queries,
    // n_chars the model score, rel=2 the relevant grade) so the two
    // metrics grade the SAME ranking. Per source: the first rank ≤ 10
    // holding a rel-2 doc and its reciprocal in floored ppm (0 when
    // none); a final '__all__' row carries the MRR itself. Work: one
    // per-source window over the doc frame + a 1-row-per-source
    // aggregate — the corpus shuffles once on source.
    "q292_mrr_at_10" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          expr("CAST(CASE WHEN n_chars >= 400 THEN 2 WHEN n_chars >= 200" +
            " THEN 1 ELSE 0 END AS BIGINT)").as("rel"))
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val firsts = docs
        .withColumn("mr", row_number().over(w).cast("long"))
        .filter(col("mr") <= 10 && col("rel") === 2)
        .groupBy("source").agg(min("mr").as("first_rank"))
      val perSource = docs.select("source").distinct()
        .join(firsts, Seq("source"), "left_outer")
        .na.fill(0L, Seq("first_rank"))
        .withColumn("rr_ppm", expr(
          "CASE WHEN first_rank > 0 THEN 1000000 div first_rank ELSE 0 END"))
      perSource.unionByName(
        perSource.agg(
          lit("__all__").as("source"), lit(0L).as("first_rank"),
          expr("sum(rr_ppm) div count(1)").as("rr_ppm")))
    }),

    // Automated feature auditing over the event stream —
    // the two screens a feature store runs before a model ever trains.
    //
    // Both stack the candidate features by exploding each row onto
    // (feature, value) pairs — map-side, one pass over the corpus, then
    // domain-bounded per-feature histograms (the value domain caps the
    // frame, never the row count), so the audit costs O(corpus) at any
    // scale with 5× map amplification and tiny shuffles.

    // ---- q293: MI + chi-square feature relevance ----------------------
    // q293 feature relevance ranking: mutual information (micro-nats)
    // and the chi-square statistic of each candidate feature against
    // the purchase label, from ONE stacked contingency pass.
    // Contingency cells (feature, bin, label) in one shuffle; margins
    // re-aggregate the tiny cell frame. MI cells accumulate
    // n_vy·⌊ln(n_vy·N/(n_v·n_y))·1e6⌋ exactly (i64) and divide ONCE by
    // N with an explicit floor-mod — a per-cell division would hit the
    // trunc-vs-floor divergence on negative cells. Chi-square cells
    // floor((n_vy−E)²/E·1e6) with E in double from exact ints — the
    // established micro-unit discipline, order-independent under any
    // partial aggregation.
    "q293_feature_relevance" -> ((s, d) => {
      val cells = stacked(s, d).groupBy("feature", "mbin", "pos")
        .agg(count(lit(1)).as("n_vy"))
      val nv = cells.groupBy("feature", "mbin").agg(sum("n_vy").as("n_v"))
      val ny = cells.groupBy("feature", "pos").agg(sum("n_vy").as("n_y"))
      val nt = cells.groupBy("feature").agg(sum("n_vy").as("nn"))
      cells
        .join(nv, Seq("feature", "mbin"))
        .join(ny, Seq("feature", "pos"))
        .join(broadcast(nt), "feature")
        .withColumn("mi_num", expr(
          """n_vy * CAST(floor(ln(CAST(n_vy AS DOUBLE) * nn
               / (CAST(n_v AS DOUBLE) * n_y)) * 1000000) AS BIGINT)"""))
        .withColumn("chi_cell", expr(
          """CAST(floor(
               (n_vy - CAST(n_v AS DOUBLE) * n_y / nn)
               * (n_vy - CAST(n_v AS DOUBLE) * n_y / nn)
               / (CAST(n_v AS DOUBLE) * n_y / nn) * 1000000) AS BIGINT)"""))
        .groupBy("feature")
        .agg(countDistinct("mbin").as("n_bins"),
          sum("mi_num").as("mi_num"), max("nn").as("nn"),
          sum("chi_cell").as("chi2_micro"))
        .select(col("feature"), col("n_bins"),
          expr("(mi_num - ((mi_num % nn) + nn) % nn) div nn")
            .as("mi_micro"),
          col("chi2_micro"))
    }),

    // ---- q294: per-feature AUC leakage scan ---------------------------
    // q294 target-leakage scan: per-feature ROC AUC (q228's exact
    // U-statistic, partitioned by feature); a feature whose solo AUC
    // approaches 1.0 (or 0.0) is leaking the label and gets flagged.
    // q228's histogram U-statistic, partitioned by feature: per
    // (feature, value) pos/neg counts, cumulative negatives below in
    // value order, AUC = Σ pos·(2·cnb+neg) / 2PN in exact ppm. The
    // window runs over value-domain-sized partitions, never rows.
    // |AUC − ½| > 0.4 flags the feature as label-leaking — spend cents
    // trips it by construction (the label IS a value threshold here),
    // the user-id control must not.
    "q294_target_leakage" -> ((s, d) => {
      val h = stacked(s, d).groupBy("feature", "fval")
        .agg(sum("pos").as("pos_s"), sum(expr("1 - pos")).as("neg_s"))
      aucPpm(h, Seq("feature"), "fval").drop("u2")
        .withColumn("leak_flag",
          expr("abs(auc_ppm - 500000) > 400000"))
    }),

    // A bias-only recommender baseline evaluated under a
    // temporal split (the alternating-means model every collaborative
    // filter is benchmarked against) and a fact-vs-rollup reconciliation
    // histogram (does the order header total agree with its line items,
    // and by how much). Integer discipline throughout: ratings are exact
    // integers, every mean is one truncating division applied identically
    // in both engines, and the error distribution folds to a clamped
    // 21-bucket frame.

    // ---- q321: bias-only recommender under a temporal split ------------
    // Rating = line quantity (exact 1..50 integer) for (customer,
    // part); train = first 80% of the order-date span, test = rest.
    // μ, then item bias b_i = mean(r − μ), then user bias
    // b_u = mean(r − μ − b_i) — two bounded alternating-means rounds,
    // each ONE key-partitioned aggregate (the bias frames are
    // key-sized, never corpus-sized; the scalar μ is a broadcast).
    // Prediction μ + b_i + b_u clamps to the rating domain; cold
    // items/users fall back to the available partial sum. One row out:
    // split sizes, μ, MAE in micro-rating units, cold counts.
    "q321_bias_recommender_mae" -> ((s, d) => {
      val r = table(s, d, "lineitem")
        .join(table(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("r"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
            .as("dd"))
      val bounds = r.agg(min("dd").as("t0"), max("dd").as("t1"))
      val tagged = r.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(dd >= t0 + (t1 - t0) * 4 div 5 AS BIGINT)"))
        .select("u", "i", "r", "late")
      val train = tagged.filter(col("late") === 0)
      val test = tagged.filter(col("late") === 1)
      val muF = train.agg(count(lit(1)).as("n_train"),
        expr("sum(r) div count(1)").as("mu"))
      val trainMu = train.crossJoin(broadcast(muF))
      val bi = trainMu.groupBy("i")
        .agg(expr("sum(r - mu) div count(1)").as("b_i"))
      val bu = trainMu.join(bi, "i")
        .groupBy("u")
        .agg(expr("sum(r - mu - b_i) div count(1)").as("b_u"))
      test.crossJoin(broadcast(muF))
        .join(bi, Seq("i"), "left")
        .join(bu, Seq("u"), "left")
        .withColumn("pred", expr(
          """greatest(1, least(50,
               mu + coalesce(b_i, 0) + coalesce(b_u, 0)))"""))
        .agg(max("n_train").as("n_train"),
          count(lit(1)).as("n_test"),
          max("mu").as("mu"),
          expr("sum(abs(r - pred)) * 1000000 div count(1)")
            .as("mae_micro"),
          sum(expr("CAST(b_i IS NULL AS BIGINT)")).as("cold_item_rows"),
          sum(expr("CAST(b_u IS NULL AS BIGINT)")).as("cold_user_rows"))
    }))

  private val stackedCte =
    """base AS (
         SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                (epoch_ns(ts) // 3600000000000) % 24 AS hour,
                (epoch_ns(ts) // 86400000000000 + 4) % 7 AS dow,
                user_id % 100 AS umod,
                CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
                  AS pk,
                CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS BIGINT) AS pos
         FROM events),
       mx AS (SELECT max(cents) AS m FROM base),
       stacked AS (
         SELECT 'value_cents' AS feature, cents AS fval,
                cents // (m // 20 + 1) AS mbin, pos FROM base, mx
         UNION ALL
         SELECT 'hour_of_day', hour, hour, pos FROM base
         UNION ALL
         SELECT 'day_of_week', dow, dow, pos FROM base
         UNION ALL
         SELECT 'user_mod100', umod, umod // 5, pos FROM base
         UNION ALL
         SELECT 'props_k', pk, pk // 10, pos FROM base)"""

  val oracle: Map[String, String] = Map(
    "q224_loo_target_encoding" ->
      """WITH ev AS (
           SELECT event_id, event_type,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         stats AS (
           SELECT event_type, sum(cents) AS cat_sum, count(*) AS cat_n
           FROM ev GROUP BY 1)
         SELECT event_id, event_type, cents,
                CAST((cat_sum - cents) // (cat_n - 1) AS BIGINT) AS loo_enc
         FROM ev JOIN stats USING (event_type) WHERE cat_n > 1""",
    "q225_group_kfold" ->
      """WITH ev AS (
           SELECT user_id, event_type,
                  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                    1, 13)) AS BIGINT) % 5 AS fold
           FROM events),
         cell AS (
           SELECT fold, event_type, count(*) AS n_events,
                  count(DISTINCT user_id) AS n_users
           FROM ev GROUP BY 1, 2)
         SELECT fold, event_type, CAST(n_events AS BIGINT) AS n_events,
                CAST(n_users AS BIGINT) AS n_users,
                CAST(n_events * 1000000
                     // sum(n_events) OVER (PARTITION BY fold)
                  AS BIGINT) AS share_ppm
         FROM cell""",
    "q227_class_balance" ->
      """WITH e AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)),
                    1, 13)) AS BIGINT) AS h
           FROM embeddings),
         t AS (SELECT min(cnt) AS target FROM
                 (SELECT count(*) AS cnt FROM e GROUP BY label)),
         r AS (SELECT vec_id, label,
                      row_number() OVER (PARTITION BY label
                        ORDER BY h, vec_id) AS rk
               FROM e)
         SELECT label, CAST(count(*) AS BIGINT) AS n_total,
                CAST(sum(CASE WHEN rk <= (SELECT target FROM t)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN rk <= (SELECT target FROM t)
                         THEN vec_id END) AS BIGINT) AS kept_id_sum
         FROM r GROUP BY label""",
    "q228_roc_auc" ->
      """WITH ev AS (
           SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         hist AS (
           SELECT cents, sum(pos) AS pos_s, sum(1 - pos) AS neg_s
           FROM ev GROUP BY 1),
         cum AS (
           SELECT pos_s, neg_s,
                  coalesce(sum(neg_s) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cnb
           FROM hist),
         agg AS (
           SELECT sum(pos_s * (2 * cnb + neg_s)) AS u2,
                  sum(pos_s) AS n_pos, sum(neg_s) AS n_neg
           FROM cum)
         SELECT CAST(n_pos AS BIGINT) AS n_pos,
                CAST(n_neg AS BIGINT) AS n_neg,
                CAST(u2 AS BIGINT) AS u2,
                CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
                  AS auc_ppm
         FROM agg""",
    "q229_ks_statistic" ->
      """WITH ev AS (
           SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         hist AS (
           SELECT cents, sum(pos) AS pos_s, sum(1 - pos) AS neg_s
           FROM ev GROUP BY 1),
         tot AS (
           SELECT sum(pos_s) AS n_pos, sum(neg_s) AS n_neg FROM hist),
         frame AS (
           SELECT cents,
                  sum(pos_s) OVER (ORDER BY cents) AS cum_pos,
                  sum(neg_s) OVER (ORDER BY cents) AS cum_neg
           FROM hist),
         ks AS (
           SELECT cents, n_pos, n_neg,
                  abs(cum_pos * 1000000 // n_pos
                      - cum_neg * 1000000 // n_neg) AS ks_ppm
           FROM frame, tot)
         SELECT CAST(ks_ppm AS BIGINT) AS ks_ppm,
                CAST(min(cents) AS BIGINT) AS at_cents,
                CAST(min(n_pos) AS BIGINT) AS n_pos,
                CAST(min(n_neg) AS BIGINT) AS n_neg
         FROM ks WHERE ks_ppm = (SELECT max(ks_ppm) FROM ks)
         GROUP BY ks_ppm""",
    "q230_calibration" ->
      """WITH ev AS (
           SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         mx AS (SELECT max(cents) AS m FROM ev),
         b AS (
           SELECT cents // (m // 10 + 1) AS bin, cents, pos FROM ev, mx),
         g AS (
           SELECT bin, count(*) AS n, sum(pos) AS n_pos,
                  sum(cents) AS sum_cents
           FROM b GROUP BY 1)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
                CAST(n_pos AS BIGINT) AS n_pos,
                CAST(n_pos * 1000000 // n AS BIGINT) AS pos_rate_ppm,
                CAST(sum_cents // n AS BIGINT) AS mean_cents
         FROM g""",
    "q231_pr_sweep" ->
      """WITH ev AS (
           SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         mx AS (SELECT max(cents) AS m FROM ev),
         hb AS (
           SELECT cents // (m // 100 + 1) AS bucket,
                  sum(pos) AS pos_s, count(*) AS all_s
           FROM ev, mx GROUP BY 1),
         fullb AS (
           SELECT r.bucket, coalesce(pos_s, 0) AS pos_s,
                  coalesce(all_s, 0) AS all_s
           FROM (SELECT unnest(range(100)) AS bucket) r
           LEFT JOIN hb ON hb.bucket = r.bucket),
         cum AS (
           SELECT bucket,
                  sum(pos_s) OVER (ORDER BY bucket DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS tp,
                  sum(all_s) OVER (ORDER BY bucket DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS pp
           FROM fullb),
         tot AS (SELECT sum(pos) AS n_pos FROM ev)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(bucket * (m // 100 + 1) AS BIGINT) AS thr_cents,
                CAST(tp AS BIGINT) AS tp, CAST(pp AS BIGINT) AS pp,
                CAST(tp * 1000000 // pp AS BIGINT) AS precision_ppm,
                CAST(tp * 1000000 // n_pos AS BIGINT) AS recall_ppm
         FROM cum, tot, mx WHERE pp > 0""",
    "q238_sliced_auc" ->
      """WITH o AS (
           SELECT o_custkey,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
           FROM orders),
         j AS (
           SELECT c_mktsegment AS slice, cents, pos
           FROM o JOIN customer ON o_custkey = c_custkey),
         hist AS (
           SELECT slice, cents, sum(pos) AS pos_s,
                  sum(1 - pos) AS neg_s
           FROM j GROUP BY 1, 2),
         cum AS (
           SELECT slice, pos_s, neg_s,
                  coalesce(sum(neg_s) OVER (PARTITION BY slice
                    ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cnb
           FROM hist),
         agg AS (
           SELECT slice, sum(pos_s * (2 * cnb + neg_s)) AS u2,
                  sum(pos_s) AS n_pos, sum(neg_s) AS n_neg
           FROM cum GROUP BY 1)
         SELECT slice, CAST(n_pos AS BIGINT) AS n_pos,
                CAST(n_neg AS BIGINT) AS n_neg,
                CAST(u2 AS BIGINT) AS u2,
                CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
                  AS auc_ppm
         FROM agg WHERE n_pos > 0 AND n_neg > 0""",
    "q239_ndcg_at_10" ->
      """WITH docs AS (
           SELECT source, doc_id, n_chars,
                  CASE WHEN n_chars >= 400 THEN 2
                       WHEN n_chars >= 200 THEN 1 ELSE 0 END AS rel
           FROM documents),
         wt(rnk, wgt) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
           (4, 430677), (5, 386853), (6, 356207), (7, 333333),
           (8, 315465), (9, 301030), (10, 289065)),
         ranked AS (
           SELECT source, rel,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id ASC) AS mr,
                  row_number() OVER (PARTITION BY source
                    ORDER BY rel DESC, doc_id ASC) AS ir
           FROM docs),
         dcg AS (
           SELECT source, sum(rel * wgt) AS dcg
           FROM ranked JOIN wt ON mr = rnk GROUP BY 1),
         idcg AS (
           SELECT source, sum(rel * wgt) AS idcg
           FROM ranked JOIN wt ON ir = rnk GROUP BY 1)
         SELECT source, CAST(dcg AS BIGINT) AS dcg,
                CAST(idcg AS BIGINT) AS idcg,
                CAST(dcg * 1000000 // idcg AS BIGINT) AS ndcg_ppm
         FROM dcg JOIN idcg USING (source) WHERE idcg > 0""",

    "q262_seasonal_forecast_eval" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
           FROM events GROUP BY 1, 2),
         f AS (
           SELECT event_type, y,
             lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS yhat
           FROM daily)
         SELECT event_type, count(*) AS n_days_eval,
           CAST(sum(abs(y - yhat)) AS BIGINT) AS total_abs_err,
           CAST(sum(abs(y - yhat)) // count(*) AS BIGINT) AS mae_cents,
           CAST(sum(abs(y - yhat)) * 1000000 // sum(y) AS BIGINT)
             AS wape_ppm
         FROM f WHERE yhat IS NOT NULL GROUP BY event_type""",

    "q274_pinball_loss" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
           FROM events GROUP BY 1, 2),
         f AS (
           SELECT event_type,
             y - lag(y, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS e
           FROM daily),
         x AS (
           SELECT event_type, e, unnest([100000, 500000, 900000])
             AS tau_ppm
           FROM f WHERE e IS NOT NULL)
         SELECT event_type, CAST(tau_ppm AS BIGINT) AS tau_ppm,
           count(*) AS n_days,
           CAST(sum(greatest(tau_ppm * e, (tau_ppm - 1000000) * e))
             AS BIGINT) AS pinball_ppm_cents
         FROM x GROUP BY 1, 2""",
    "q280_markov_eval" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
           FROM events),
         b AS (SELECT min(t) AS tmin, max(t) AS tmax FROM ev),
         trans AS (
           SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY t, event_id) AS to_type,
             t < tmin + (tmax - tmin) // 2 AS is_train
           FROM ev CROSS JOIN b),
         tr AS (SELECT * FROM trans WHERE to_type IS NOT NULL),
         train AS (
           SELECT from_type, to_type, count(*) AS n
           FROM tr WHERE is_train GROUP BY 1, 2),
         model AS (
           SELECT from_type, to_type AS predicted FROM (
             SELECT *, row_number() OVER (PARTITION BY from_type
               ORDER BY n DESC, to_type) AS rn
             FROM train) WHERE rn = 1)
         SELECT t.from_type, m.predicted, count(*) AS n_test,
           CAST(sum(CASE WHEN t.to_type = m.predicted THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN t.to_type = m.predicted THEN 1 ELSE 0 END)
             * 1000000 // count(*) AS BIGINT) AS acc_ppm
         FROM tr t JOIN model m USING (from_type)
         WHERE NOT t.is_train
         GROUP BY 1, 2""",
    "q282_centroid_confusion" ->
      """WITH e AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
                  CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         cent AS (
           SELECT clabel, list(c ORDER BY pos) AS cvec FROM (
             SELECT CAST(label AS BIGINT) AS clabel, i AS pos,
                    round(avg(x), 6) AS c
             FROM (SELECT label,
                     unnest(range(1, len(embedding) + 1)) AS i,
                     unnest(CAST(embedding AS DOUBLE[])) AS x
                   FROM embeddings)
             GROUP BY 1, 2)
           GROUP BY clabel),
         sc AS (
           SELECT e.vec_id, e.label, c.clabel,
             round(list_dot_product(c.cvec, c.cvec)
                   - 2 * list_dot_product(e.v, c.cvec), 6) AS score
           FROM e CROSS JOIN cent c),
         p AS (
           SELECT label, clabel AS pred_label FROM (
             SELECT label, clabel, row_number() OVER (
               PARTITION BY vec_id ORDER BY score ASC, clabel ASC) AS rn
             FROM sc)
           WHERE rn = 1),
         g AS (SELECT label, pred_label, count(*) AS n
               FROM p GROUP BY 1, 2)
         SELECT label, pred_label, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY label)
             AS BIGINT) AS row_ppm
         FROM g""",

    "q283_brier_decomposition" ->
      """WITH ev AS (
           SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                  CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS BIGINT) AS pos
           FROM events),
         mx AS (SELECT max(cents) AS m FROM ev),
         tot AS (SELECT count(*) AS n_all, sum(pos) AS pos_all FROM ev),
         g AS (
           SELECT cents // (m // 10 + 1) AS bin, count(*) AS n,
                  sum(pos) AS n_pos,
                  sum(cents * 1000000 // (m + 1)) AS sum_p
           FROM ev, mx GROUP BY 1)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
           CAST(sum_p // n AS BIGINT) AS pbar_ppm,
           CAST(n_pos * 1000000 // n AS BIGINT) AS obar_ppm,
           CAST(n * (sum_p // n - n_pos * 1000000 // n)
                  * (sum_p // n - n_pos * 1000000 // n)
                // (n_all * 1000000) AS BIGINT) AS rel_ppm,
           CAST(n * (n_pos * 1000000 // n - pos_all * 1000000 // n_all)
                  * (n_pos * 1000000 // n - pos_all * 1000000 // n_all)
                // (n_all * 1000000) AS BIGINT) AS res_ppm
         FROM g, tot""",

    "q285_conformal_coverage" ->
      """WITH ev AS (
           SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
               AS BIGINT) % 2 AS half
           FROM events),
         pred AS (
           SELECT event_type, sum(cents) // count(*) AS pred
           FROM ev WHERE half = 0 GROUP BY 1),
         resid AS (
           SELECT abs(e.cents - p.pred) AS r
           FROM ev e JOIN pred p ON e.event_type = p.event_type
           WHERE e.half = 0),
         k AS (SELECT (9 * (count(*) + 1) + 9) // 10 AS k FROM resid),
         hist AS (
           SELECT r, sum(count(*)) OVER (ORDER BY r
             ROWS UNBOUNDED PRECEDING) AS cum
           FROM resid GROUP BY r),
         qhat AS (SELECT min(r) AS qhat FROM hist, k WHERE cum >= k.k),
         t AS (
           SELECT e.event_type,
             CAST(abs(e.cents - p.pred) <= q.qhat AS BIGINT) AS cov
           FROM ev e JOIN pred p ON e.event_type = p.event_type
           CROSS JOIN qhat q WHERE e.half = 1),
         per AS (
           SELECT event_type, count(*) AS n_test, sum(cov) AS n_covered
           FROM t GROUP BY 1
           UNION ALL
           SELECT '__all__', count(*), sum(cov) FROM t)
         SELECT event_type, CAST(n_test AS BIGINT) AS n_test,
           CAST(n_covered AS BIGINT) AS n_covered,
           CAST(n_covered * 1000000 // n_test AS BIGINT) AS coverage_ppm
         FROM per""",

    "q292_mrr_at_10" ->
      """WITH docs AS (
           SELECT source, doc_id, n_chars,
             CAST(CASE WHEN n_chars >= 400 THEN 2
                       WHEN n_chars >= 200 THEN 1 ELSE 0 END AS BIGINT)
               AS rel
           FROM documents),
         ranked AS (
           SELECT source, rel, row_number() OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS mr
           FROM docs),
         firsts AS (
           SELECT source, min(mr) AS first_rank
           FROM ranked WHERE mr <= 10 AND rel = 2 GROUP BY 1),
         per AS (
           SELECT s.source,
             CAST(coalesce(f.first_rank, 0) AS BIGINT) AS first_rank,
             CAST(CASE WHEN coalesce(f.first_rank, 0) > 0
               THEN 1000000 // f.first_rank ELSE 0 END AS BIGINT) AS rr_ppm
           FROM (SELECT DISTINCT source FROM docs) s
           LEFT JOIN firsts f ON s.source = f.source)
         SELECT source, first_rank, rr_ppm FROM per
         UNION ALL
         SELECT '__all__', 0, CAST(sum(rr_ppm) // count(*) AS BIGINT)
         FROM per""",
    "q293_feature_relevance" ->
      s"""WITH $stackedCte,
          cells AS (
            SELECT feature, mbin, pos, count(*) AS n_vy
            FROM stacked GROUP BY 1, 2, 3),
          nv AS (SELECT feature, mbin, sum(n_vy) AS n_v
                 FROM cells GROUP BY 1, 2),
          ny AS (SELECT feature, pos, sum(n_vy) AS n_y
                 FROM cells GROUP BY 1, 2),
          nt AS (SELECT feature, sum(n_vy) AS nn FROM cells GROUP BY 1),
          j AS (
            SELECT c.feature, c.mbin, c.n_vy, nv.n_v, ny.n_y, nt.nn,
              c.n_vy * CAST(floor(ln(CAST(c.n_vy AS DOUBLE) * nt.nn
                  / (CAST(nv.n_v AS DOUBLE) * ny.n_y)) * 1000000)
                AS BIGINT) AS mi_num,
              CAST(floor(
                (c.n_vy - CAST(nv.n_v AS DOUBLE) * ny.n_y / nt.nn)
                * (c.n_vy - CAST(nv.n_v AS DOUBLE) * ny.n_y / nt.nn)
                / (CAST(nv.n_v AS DOUBLE) * ny.n_y / nt.nn) * 1000000)
                AS BIGINT) AS chi_cell
            FROM cells c
            JOIN nv ON c.feature = nv.feature AND c.mbin = nv.mbin
            JOIN ny ON c.feature = ny.feature AND c.pos = ny.pos
            JOIN nt ON c.feature = nt.feature)
          SELECT feature,
            CAST(count(DISTINCT mbin) AS BIGINT) AS n_bins,
            CAST((sum(mi_num) - ((sum(mi_num) % max(nn)) + max(nn))
                  % max(nn)) // max(nn) AS BIGINT) AS mi_micro,
            CAST(sum(chi_cell) AS BIGINT) AS chi2_micro
          FROM j GROUP BY feature""",

    "q294_target_leakage" ->
      s"""WITH $stackedCte,
          h AS (
            SELECT feature, fval, sum(pos) AS pos_s,
                   sum(1 - pos) AS neg_s
            FROM stacked GROUP BY 1, 2),
          c AS (
            SELECT feature, pos_s, neg_s,
              coalesce(sum(neg_s) OVER (PARTITION BY feature
                ORDER BY fval ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS cnb
            FROM h),
          a AS (
            SELECT feature, sum(pos_s * (2 * cnb + neg_s)) AS u2,
                   sum(pos_s) AS n_pos, sum(neg_s) AS n_neg
            FROM c GROUP BY 1)
          SELECT feature, CAST(n_pos AS BIGINT) AS n_pos,
            CAST(n_neg AS BIGINT) AS n_neg,
            CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm,
            abs(u2 * 1000000 // (2 * n_pos * n_neg) - 500000) > 400000
              AS leak_flag
          FROM a""",
    "q321_bias_recommender_mae" ->
      """WITH r AS (
           SELECT o_custkey AS u, l_partkey AS i,
             CAST(floor(l_quantity) AS BIGINT) AS r,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS dd
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         b AS (SELECT min(dd) AS t0, max(dd) AS t1 FROM r),
         tagged AS (
           SELECT u, i, r.r,
             CASE WHEN dd >= t0 + (t1 - t0) * 4 // 5 THEN 1 ELSE 0 END
               AS late
           FROM r, b),
         train AS (SELECT * FROM tagged WHERE late = 0),
         test AS (SELECT * FROM tagged WHERE late = 1),
         muf AS (SELECT count(*) AS n_train, sum(r) // count(*) AS mu
                 FROM train),
         bi AS (SELECT i, sum(r - mu) // count(*) AS b_i
                FROM train, muf GROUP BY i),
         bu AS (SELECT u, sum(r - mu - b_i) // count(*) AS b_u
                FROM train JOIN bi USING (i), muf GROUP BY u),
         pred AS (
           SELECT test.r,
             greatest(1, least(50,
               mu + coalesce(b_i, 0) + coalesce(b_u, 0))) AS pred,
             CASE WHEN b_i IS NULL THEN 1 ELSE 0 END AS ci,
             CASE WHEN b_u IS NULL THEN 1 ELSE 0 END AS cu
           FROM test
           LEFT JOIN bi USING (i)
           LEFT JOIN bu USING (u), muf)
         SELECT CAST((SELECT n_train FROM muf) AS BIGINT) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST((SELECT mu FROM muf) AS BIGINT) AS mu,
           CAST(sum(abs(r - pred)) * 1000000 // count(*) AS BIGINT)
             AS mae_micro,
           CAST(sum(ci) AS BIGINT) AS cold_item_rows,
           CAST(sum(cu) AS BIGINT) AS cold_user_rows
         FROM pred""")
}

package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables.table

/** Experimentation and causal inference: A/B readouts, SPRT,
  * stratified and quantile treatment effects, CUPED, power analysis,
  * difference-in-differences, matching, uplift, bandit replay, UCB1 and
  * Neyman allocation.
  */
object ExperimentOps extends QueryModule {
  // LLR increments and the Wald bound, floored micro-nats. Computed
  // IN-ENGINE from pinned literals so both engines run the identical
  // IEEE expression (the q99 ln discipline).
  private val LnHit =
    "CAST(floor(ln(CAST(0.22 AS DOUBLE) / 0.18) * 1000000) AS BIGINT)"

  private val LnMiss =
    "CAST(floor(ln(CAST(0.78 AS DOUBLE) / 0.82) * 1000000) AS BIGINT)"

  private val Bound =
    "CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000) AS BIGINT)"

  /** Per-user (pre, post) spend cents + parity arm — the q309 frame. */
  private def userFrame(s: SparkSession, d: String): DataFrame = {
    val ev = table(s, d, "events")
    val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("late",
        expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
      .groupBy("user_id")
      .agg(
        sum(expr("(1 - late) * CAST(floor(value * 100) AS BIGINT)"))
          .as("x"),
        sum(expr("late * CAST(floor(value * 100) AS BIGINT)")).as("y"))
      .withColumn("t", expr("user_id % 2"))
  }

  val queries: Map[String, Q] = Map(
    // ---- q246: A/B experiment audit ------------------------------------
    // q246 A/B experiment audit: hash-split cohorts, per-cohort
    // conversion in ppm, and the chi-square-style significance
    // contribution on the pooled expectation — the readout an
    // experimentation platform renders.
    // Cohort = md5(user) % 2 — the assignment IS the experiment
    // bucketing (pure map-side hash, stable under re-runs and corpus
    // growth, the q225 construction). Per cohort: users exposed,
    // converting users (any purchase), conversion ppm; plus the
    // chi-square-style contribution of each cohort against the pooled
    // rate on the ppm scale (integer, q226's recipe) — rank the
    // contributions and you have the significance readout. One
    // user-keyed rollup + a 2-row report.
    "q246_ab_experiment" -> ((s, d) => {
      val perUser = table(s, d, "events")
        .select(col("user_id"), col("event_type"))
        .groupBy("user_id")
        .agg(max(expr("CASE WHEN event_type = 'purchase' THEN 1L" +
          " ELSE 0L END")).as("converted"))
        .withColumn("cohort", expr(s"${h13("user_id")} % 2"))
      val tot = perUser.agg(count(lit(1)).as("t_users"),
        sum("converted").as("t_conv"))
      perUser.groupBy("cohort")
        .agg(count(lit(1)).as("n_users"), sum("converted").as("n_conv"))
        .crossJoin(broadcast(tot))
        .select(col("cohort"), col("n_users"), col("n_conv"),
          expr("n_conv * 1000000L div n_users").as("rate_ppm"),
          expr("t_conv * 1000000L div t_users").as("pooled_ppm"))
        .withColumn("chi2_contrib", expr(
          "(rate_ppm - pooled_ppm) * (rate_ppm - pooled_ppm)" +
            " div greatest(pooled_ppm, 1L)"))
    }),

    // ---- q273: offline bandit replay -----------------------------------
    // q273 offline bandit replay (Li et al.'s replay method): evaluate
    // a deterministic hash policy against logged events — the
    // counterfactual "what would this policy have earned" estimator.
    // Arms are the event types (indexed by sorted order — a tiny
    // broadcast frame). The evaluated policy picks arm
    // md5(user_id) % |arms| — deterministic, so the replay is
    // reproducible under any partitioning. Replay keeps exactly the
    // logged events whose arm equals the policy's choice (unbiased
    // under uniform logging) and reports each arm's matched count,
    // exact cents value, and the overall match rate. One broadcast
    // arm-index join + one rollup; the corpus shuffles once on the
    // arm key.
    "q273_bandit_replay" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("event_type"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val arms = ev.select(col("event_type").as("arm")).distinct()
        .withColumn("arm_idx",
          (row_number().over(Window.orderBy("arm")) - 1).cast("long"))
      val nArms = arms.agg(count(lit(1)).as("n_arms"))
      val chosen = ev
        .crossJoin(broadcast(nArms))
        .withColumn("chosen_idx", expr(s"${h13("user_id")} % n_arms"))
        .join(broadcast(arms), col("event_type") === col("arm"))
      val tot = ev.agg(count(lit(1)).as("n_total"))
      chosen.filter(col("arm_idx") === col("chosen_idx"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_matched"), sum("cents").as("sum_cents"))
        .crossJoin(broadcast(tot))
        .select(col("arm"), col("n_matched"), col("sum_cents"),
          expr("sum_cents div n_matched").as("avg_cents"),
          expr("n_matched * 1000000 div n_total").as("match_ppm"))
    }),

    // Sequential analysis and causal adjustment — the
    // two statistical decision shapes the experiment family (q246 raw
    // A/B, q273 bandit replay) still lacked.

    // ---- q304: when could the experiment have stopped? -----------------
    // q304 SPRT audit (Wald's sequential probability ratio test):
    // replay the event stream in arrival order and find the first
    // moment the log-likelihood ratio for "purchase rate is 0.22"
    // vs "0.18" crosses the ±ln19 bounds — i.e. when the experiment
    // COULD have stopped. The running LLR rides the two-phase
    // distributed prefix sum (TextOps.orderedCumsum), never a
    // single-partition window.
    // Each event contributes one of two constant micro-nat increments;
    // the running sum in arrival order (dense event_id) uses the
    // range-partitioned two-phase cumsum, so no corpus-sized sort ever
    // lands on one reducer. First crossing of ±ln19 (α=β=0.05) gives
    // the decision and the sample fraction it needed; 'continue' if
    // the walk never leaves the bounds. Driver state: two scalar rows.
    "q304_sprt_audit" -> ((s, d) => {
      val ev = table(s, d, "events").select(col("event_id"),
        expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
          .as("hit"))
        .withColumn("v",
          expr(s"CASE WHEN hit = 1 THEN $LnHit ELSE $LnMiss END"))
      val cum = TextOps.orderedCumsum(ev, Seq("event_id"), "v",
        "llr_micro")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = cum.agg(count(lit(1)).as("n_total"),
        max("event_id").as("last_id"))
      val cross = cum
        .filter(expr(s"abs(llr_micro) >= $Bound"))
        .agg(min("event_id").as("first_cross_id"))
      val lastLlr = cum.join(broadcast(tot),
        col("event_id") === col("last_id"))
        .select(col("llr_micro").as("final_llr_micro"))
      val crossLlr = cum.join(broadcast(cross),
        col("event_id") === col("first_cross_id"))
        .select(col("llr_micro").as("cross_llr_micro"))
      tot.crossJoin(broadcast(cross))
        .crossJoin(broadcast(lastLlr))
        .join(broadcast(crossLlr), lit(true), "left_outer")
        .select(col("n_total"),
          expr(s"$Bound").as("bound_micro"),
          coalesce(col("first_cross_id"), lit(-1L))
            .as("first_cross_id"),
          expr("""CASE WHEN first_cross_id IS NULL THEN 'continue'
                  WHEN cross_llr_micro > 0 THEN 'accept_h1'
                  ELSE 'accept_h0' END""").as("decision"),
          expr("""coalesce((first_cross_id + 1) * 1000000
                    div n_total, -1)""").as("sample_frac_ppm"),
          col("final_llr_micro"))
    }),

    // ---- q305: stratified (standardized) treatment effect --------------
    // q305 stratified treatment effect (the g-formula/standardization
    // estimator): per-stratum treated-vs-control outcome rates and
    // the stratum-size-weighted ATE, all exact integer ppm with the
    // portable floor-division for the signed differences.
    // Treatment = user parity (the deterministic assignment q246
    // uses), outcome = purchase, stratum = 6-hour block of day (the
    // "confounder"). Per stratum: arm sizes, outcome rates in floored
    // ppm, signed rate difference via portable floor-div; the __ate__
    // row weights the per-stratum differences by stratum share —
    // Σ n_s·Δ_s / N with ONE signed division at the end. One
    // (stratum, arm) histogram shuffle; everything downstream is on
    // the 4×2-row frame.
    "q305_stratified_ate" -> ((s, d) => {
      val ev = table(s, d, "events").select(
        expr("(ts div 3600000000000) % 24 div 6").as("stratum"),
        expr("user_id % 2").as("t"),
        expr("CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END " +
          "AS BIGINT)").as("y"))
      val g = ev.groupBy("stratum", "t")
        .agg(count(lit(1)).as("n"), sum("y").as("ny"))
      val wide = g.groupBy("stratum").agg(
        sum("n").as("n_s"),
        max(when(col("t") === 1, col("n"))).as("n1"),
        max(when(col("t") === 0, col("n"))).as("n0"),
        max(when(col("t") === 1, col("ny"))).as("ny1"),
        max(when(col("t") === 0, col("ny"))).as("ny0"))
        .withColumn("y1_ppm", expr("ny1 * 1000000 div n1"))
        .withColumn("y0_ppm", expr("ny0 * 1000000 div n0"))
        .withColumn("diff_ppm", col("y1_ppm") - col("y0_ppm"))
      val per = wide.select(
        col("stratum").cast("string").as("stratum"), col("n_s"),
        col("n1").as("n_treated"), col("n0").as("n_control"),
        col("y1_ppm"), col("y0_ppm"), col("diff_ppm"))
      per.unionByName(wide.agg(
        lit("__ate__").as("stratum"), sum("n_s").as("n_s"),
        sum("n1").as("n_treated"), sum("n0").as("n_control"),
        lit(0L).as("y1_ppm"), lit(0L).as("y0_ppm"),
        expr(floorDiv("sum(n_s * diff_ppm)", "sum(n_s)"))
          .as("diff_ppm")))
    }),

    // ---- q307: quantile treatment effects at the deciles ---------------
    // q307 quantile treatment effects: decile-wise treated-vs-control
    // outcome quantiles — the distributional view of q305's mean
    // effect (a treatment can move the p90 while leaving the mean
    // alone).
    // Arms are the q305 assignment (user parity), outcome the spend
    // cents. Per arm: the exact d/10-quantile for d = 1..9 as the
    // smallest value with cum·10 ≥ n·d (inclusive-CDF order statistic
    // on the per-arm value histogram — windows over the value DOMAIN,
    // the q181/q285 discipline). Output per decile: both arm
    // quantiles and their signed difference (plain subtraction — no
    // division, so no floor-semantics trap). A location-only view
    // (q305) cannot see a variance-widening treatment; this can.
    "q307_quantile_treatment_effect" -> ((s, d) => {
      val ev = table(s, d, "events").select(
        expr("user_id % 2").as("t"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val h = ev.groupBy("t", "cents").agg(count(lit(1)).as("c"))
      val wA = Window.partitionBy("t").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.withColumn("cum", sum("c").over(wA))
        .join(broadcast(
          h.groupBy("t").agg(sum("c").as("n_arm"))), "t")
      val dec = cum.crossJoin(
        broadcast(s.range(1, 10).select(col("id").as("decile"))))
        .filter(col("cum") * 10 >= col("n_arm") * col("decile"))
        .groupBy("t", "decile").agg(min("cents").as("q"))
      dec.groupBy("decile")
        .agg(max(when(col("t") === 1, col("q"))).as("q_treated"),
          max(when(col("t") === 0, col("q"))).as("q_control"))
        .withColumn("qte_cents", col("q_treated") - col("q_control"))
    }),

    // Experiment-design numerics — the variance tooling
    // around the A/B machinery (q246 raw diff, q304 SPRT, q305
    // stratification, q307 QTE).

    // ---- q309: CUPED-adjusted treatment effect -------------------------
    // q309 CUPED adjustment (Deng et al., WSDM 2013): use each
    // user's PRE-period spend as the control covariate, estimate
    // θ = cov(x,y)/var(x) on pooled users, and report the adjusted
    // treatment difference plus the variance-reduction factor ρ² —
    // the standard trick that makes experiments read weeks earlier.
    // All moments are exact integer sums lifted into DECIMAL(38,0)
    // (Spark) / HUGEINT (DuckDB) for the big products, with floored
    // ppm divisions — bit-equal across engines.
    // Per user: x = pre-period spend cents (first half of the time
    // window), y = post-period spend cents, t = parity assignment.
    // One per-user aggregate (the corpus pass), then all second
    // moments from ONE pass over the user frame. θ and ρ² use the
    // n·Sxy − Sx·Sy forms whose products overflow i64 — DECIMAL(38,0)
    // carries them exactly. Output one row: θ (ppm), raw and adjusted
    // differences (micro-cents), and ρ² (the variance-reduction
    // fraction, ppm).
    "q309_cuped_adjustment" -> ((s, d) => {
      val ev = table(s, d, "events")
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
      val users = ev.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
        .groupBy("user_id")
        .agg(
          sum(expr("(1 - late) * CAST(floor(value * 100) AS BIGINT)"))
            .as("x"),
          sum(expr("late * CAST(floor(value * 100) AS BIGINT)"))
            .as("y"))
        .withColumn("t", expr("user_id % 2"))
      val m = users.agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("t") === 1, col("x")).otherwise(0L)).as("sxt"),
        sum(when(col("t") === 1, col("y")).otherwise(0L)).as("syt"),
        sum(when(col("t") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("t") === 0, col("x")).otherwise(0L)).as("sxc"),
        sum(when(col("t") === 0, col("y")).otherwise(0L)).as("syc"))
      // All divisions are EXACT integral `div` on DECIMAL(38,0)
      // numerators (quotients fit i64) — Spark `div` and DuckDB `//`
      // both truncate toward zero on integers, so signed values agree
      // with no floor/round divergence (verified empirically; the
      // decimal `/`+floor route rounds at result scale and floors,
      // neither of which HUGEINT `//` does).
      m
        .withColumn("theta_ppm", expr("""CAST(
            (CAST(n AS DECIMAL(38,0)) * sxy
             - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            div (CAST(n AS DECIMAL(38,0)) * sxx
               - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"""))
        .withColumn("raw_diff_micro", expr("""CAST(
            (CAST(syt AS DECIMAL(38,0)) * nc
             - CAST(syc AS DECIMAL(38,0)) * nt) * 1000000
            div (CAST(nt AS DECIMAL(38,0)) * nc) AS BIGINT)"""))
        .withColumn("x_diff_micro", expr("""CAST(
            (CAST(sxt AS DECIMAL(38,0)) * nc
             - CAST(sxc AS DECIMAL(38,0)) * nt) * 1000000
            div (CAST(nt AS DECIMAL(38,0)) * nc) AS BIGINT)"""))
        .withColumn("adj_diff_micro", expr(
          "raw_diff_micro - (theta_ppm * x_diff_micro div 1000000)"))
        .withColumn("rho2_ppm", expr("""CAST(
            (CAST(n AS DECIMAL(38,0)) * sxy
             - CAST(sx AS DECIMAL(38,0)) * sy)
            * (CAST(n AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
            div ((CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx)
               * (CAST(n AS DECIMAL(38,0)) * syy
                  - CAST(sy AS DECIMAL(38,0)) * sy)) AS BIGINT)"""))
        .select(col("n").as("n_users"), col("theta_ppm"),
          col("raw_diff_micro"), col("x_diff_micro"),
          col("adj_diff_micro"), col("rho2_ppm"))
    }),

    // ---- q310: minimum detectable effect of the current sample ---------
    // q310 power analysis: the minimum detectable effect of the
    // current sample at α=0.05 (two-sided) / 80% power, from the
    // pooled conversion rate — MDE = (z₀.₉₇₅+z₀.₈)·√(2p(1−p)/n),
    // z constants pinned in micro units, √ on an exact integer
    // argument (IEEE sqrt is correctly rounded, so both engines
    // agree bit-for-bit).
    // Pooled conversion p from the corpus, per-arm n from the parity
    // split. MDE in ppm of conversion probability; also relative to p.
    // √ runs on an exactly-representable integer expression, and the
    // z-sum (1959964 + 841621 micro) is a pinned literal — so the
    // double path is deterministic across engines.
    "q310_power_mde" -> ((s, d) => {
      val ev = table(s, d, "events").select(
        expr("user_id % 2").as("t"),
        expr("CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END " +
          "AS BIGINT)").as("pos"))
      ev.agg(count(lit(1)).as("n_total"), sum("pos").as("n_pos"),
        sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_treat"))
        .select(
          col("n_total"), col("n_treat"),
          (col("n_total") - col("n_treat")).as("n_control"),
          expr("n_pos * 1000000 div n_total").as("p_ppm"),
          expr("""CAST(floor(2801585
              * sqrt(CAST(2 * (n_pos * 1000000 div n_total)
                     * (1000000 - n_pos * 1000000 div n_total)
                     AS DOUBLE)
                   / least(n_treat, n_total - n_treat))
              / 1000000) AS BIGINT)""").as("mde_ppm"))
        .withColumn("mde_rel_ppm",
          expr("mde_ppm * 1000000 div p_ppm"))
    }),

    // Sampling design and series coupling — Neyman
    // (variance-optimal) sample allocation with exact largest-remainder
    // rounding, and a lead-lag regression scan between two daily series.
    // Both fold the corpus to tiny frames (strata / days) in one pass and
    // do the numeric work there in exact integers.

    // ---- q331: Neyman allocation with largest-remainder rounding -------
    // A 1000-row sampling budget split across event-type strata
    // ∝ n_h·σ_h (the allocation that minimizes the stratified-mean
    // variance). σ_h is the integer sqrt of the population variance in
    // cents² (numerator in DECIMAL(38,0); the sqrt argument is < 2⁵³
    // so the double is exact and the floor deterministic). Rounding is
    // exact largest-remainder: base = ⌊B·w_h/W⌋, the B − Σbase
    // leftover units go to the largest remainders (full tie-break) —
    // Σalloc = B exactly, certified by the spec. All arithmetic on the
    // |strata| frame.
    "q331_neyman_allocation" -> ((s, d) => {
      val st = table(s, d, "events")
        .select(col("event_type").as("et"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("x"))
        .groupBy("et")
        .agg(count(lit(1)).as("n_h"), sum("x").as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        .withColumn("var_c2", expr(
          """CAST((CAST(n_h AS DECIMAL(38,0)) * sxx
               - CAST(sx AS DECIMAL(38,0)) * sx)
             div (CAST(n_h AS DECIMAL(38,0)) * n_h) AS BIGINT)"""))
        .withColumn("sd_cents", expr(
          "CAST(floor(sqrt(CAST(var_c2 AS DOUBLE))) AS BIGINT)"))
        .withColumn("w", col("n_h") * col("sd_cents"))
      val b = lit(1000L)
      val alloc = st
        .withColumn("tot_w", expr("sum(w) OVER ()"))
        .withColumn("base", expr("(1000 * w) div tot_w"))
        .withColumn("rem", expr("(1000 * w) % tot_w"))
        .withColumn("leftover",
          (b - expr("sum(base) OVER ()")).cast("long"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("et"))))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("leftover"), 1L)
            .otherwise(0L))
      alloc.select(col("et"), col("n_h"), col("sd_cents"), col("w"),
        col("alloc"))
    }),

    // Causal-inference estimators beyond the randomized
    // readouts (q305/q309) — difference-in-differences over the 2×2
    // arm×period grid, and a nearest-neighbor MATCHING estimator (each
    // treated user matched to the control with the closest pre-period
    // spend via one sorted scan — no all-pairs distance stage).

    // ---- q341: difference-in-differences -------------------------------
    // Cells = arm × period; each cell mean is per-user (arm-sized
    // denominator, micro-cents, one truncating division); DiD =
    // (treated post−pre) − (control post−pre). One user-frame pass,
    // then pure scalar arithmetic on the 1-row moment frame. The
    // parallel-trends readout that the randomized diff (q309) doesn't
    // need but every observational rollout does.
    "q341_did_estimate" -> ((s, d) => {
      userFrame(s, d)
        .groupBy()
        .agg(
          sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("t") === 1, col("x")).otherwise(0L)).as("sxt"),
          sum(when(col("t") === 1, col("y")).otherwise(0L)).as("syt"),
          sum(when(col("t") === 0, col("x")).otherwise(0L)).as("sxc"),
          sum(when(col("t") === 0, col("y")).otherwise(0L)).as("syc"))
        .select(col("n_t"), col("n_c"),
          expr("sxt * 1000000 div n_t").as("pre_t_micro"),
          expr("syt * 1000000 div n_t").as("post_t_micro"),
          expr("sxc * 1000000 div n_c").as("pre_c_micro"),
          expr("syc * 1000000 div n_c").as("post_c_micro"),
          expr("""(syt * 1000000 div n_t - sxt * 1000000 div n_t)
              - (syc * 1000000 div n_c - sxc * 1000000 div n_c)""")
            .as("did_micro"))
    }),

    // ---- q342: nearest-neighbor matching ATT ---------------------------
    // Sort treated and control users together by pre-spend; each
    // treated row reads its backward (last control at x ≤ x_t,
    // equal-x controls sort before treated; max-uid tie) and forward
    // (first control at x > x_t; min-uid tie) neighbors — the
    // sorted-scan form of nearest-neighbor matching, O(n log n) not
    // O(n²). The closer side wins (tie → backward). ATT = mean
    // treated-minus-matched post spend; the mean match gap rides along
    // as the match-quality readout. The neighbor reads run through
    // [[OrderedScan.neighborScan]] — the two-phase range-partitioned
    // scan (round-7's sf1 run measured the previous single global
    // Window.orderBy at 24.4× for 10× data: the whole user frame
    // funnelled through one task); now every stage is n/P-bounded and
    // the hash is unchanged.
    "q342_matching_att" -> ((s, d) => {
      val u = userFrame(s, d)
        .select(col("user_id").as("uid"), col("x"), col("y"), col("t"))
      val control = when(col("t") === 0,
        struct(col("x").as("cx"), col("y").as("cy")))
      val matched = OrderedScan
        .neighborScan(u, Seq("x", "t", "uid"), control, "_b", "_f")
        .withColumn("bx", col("_b.cx"))
        .withColumn("by", col("_b.cy"))
        .withColumn("fx", col("_f.cx"))
        .withColumn("fy", col("_f.cy"))
        .filter(col("t") === 1)
        .withColumn("useB", expr(
          """CASE WHEN bx IS NULL THEN false
                  WHEN fx IS NULL THEN true
                  ELSE x - bx <= fx - x END"""))
        .select(col("x"), col("y"),
          when(col("useB"), col("by")).otherwise(col("fy")).as("my"),
          when(col("useB"), col("x") - col("bx"))
            .otherwise(col("fx") - col("x")).as("gap"))
        .filter(col("my").isNotNull)
      val nC = u.filter(col("t") === 0)
        .agg(count(lit(1)).as("n_control"))
      matched
        .agg(count(lit(1)).as("n_matched"),
          sum(expr("y - my")).as("sd"), sum("gap").as("sg"))
        .crossJoin(broadcast(nC))
        .select(col("n_matched"), col("n_control"),
          expr("sd * 1000000 div n_matched").as("att_micro"),
          expr("sg * 1000000 div n_matched").as("avg_gap_micro"))
    }),

    // ---- q372: uplift (Qini) by pre-spend decile -------------------------
    // Users scored by pre-period spend (the proxy targeting score);
    // deciles by the exact inclusive-CDF cuts; per decile the
    // treated-vs-control post-spend means and their difference
    // (uplift micro) plus the cumulative uplift running top-down —
    // the Qini curve points that tell you WHO to treat. One user
    // fold; decile frame arithmetic only.
    "q372_uplift_deciles" -> ((s, d) => {
      val ev = table(s, d, "events")
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
      val users = ev.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
        .groupBy("user_id")
        .agg(sum(expr("(1 - late) * CAST(floor(value * 100) AS BIGINT)"))
          .as("x"),
          sum(expr("late * CAST(floor(value * 100) AS BIGINT)"))
            .as("y"))
        .withColumn("t", expr("user_id % 2"))
      val h = users.groupBy("x").agg(count(lit(1)).as("c"))
      val cuts = h.withColumn("cum", sum("c").over(
          Window.orderBy("x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(h.agg(sum("c").as("n"))))
        .crossJoin(broadcast(s.range(1, 10).select(col("id").as("j"))))
        .filter(col("cum") * 10 >= col("n") * col("j"))
        .groupBy("j").agg(min("x").as("thr"))
        .agg(expr("sort_array(collect_list(struct(j, thr)))").as("ts"))
        .select(expr("transform(ts, t -> t.thr)").as("thrs"))
      val dec = users.crossJoin(broadcast(cuts))
        .withColumn("decile", expr(
          """1 + size(filter(thrs, t -> x >= t))"""))
        .groupBy("decile")
        .agg(
          sum(when(col("t") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("t") === 1, col("y")).otherwise(0L)).as("sy_t"),
          sum(when(col("t") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("t") === 0, col("y")).otherwise(0L)).as("sy_c"))
        .filter(col("n_t") > 0 && col("n_c") > 0)
        .withColumn("uplift_micro", expr(
          "sy_t * 1000000 div n_t - sy_c * 1000000 div n_c"))
      dec.withColumn("cum_uplift_micro",
          sum("uplift_micro").over(Window.orderBy(col("decile").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile").cast("long").as("decile"), col("n_t"),
          col("n_c"), col("uplift_micro"), col("cum_uplift_micro"))
    }),

    // Allocation advisors — UCB1 arm scoring over the
    // event "arms" (the exploration-bonus arithmetic done exactly: pinned
    // micro-nat ln, integer isqrt) and the catalog dead-stock report
    // (which parts never sold — the anti-join coverage audit purchasing
    // runs before every buy cycle).

    // ---- q373: UCB1 arm advisor ------------------------------------------
    // Arms = event types; reward = value normalized to the corpus max
    // (ppm). UCB1 = mean_ppm + ⌊√(2·lnN_micro·1e6 div n)⌋ — the
    // exploration bonus in the same ppm scale, sqrt on an exact
    // integer < 2⁵³. The argmax arm is flagged via the struct-max
    // recipe. What a traffic allocator would pull next.
    "q373_ucb1_advisor" -> ((s, d) => {
      val mx = table(s, d, "events")
        .agg(max(expr("CAST(floor(value * 100) AS BIGINT)")).as("mc"),
          count(lit(1)).as("nn"))
      val arms = table(s, d, "events")
        .crossJoin(broadcast(mx))
        .select(col("event_type").as("arm"),
          expr("CAST(floor(value * 100) AS BIGINT) * 1000000 div mc")
            .as("r_ppm"),
          col("nn"))
        .groupBy("arm")
        .agg(count(lit(1)).as("n_pulls"), sum("r_ppm").as("sr"),
          max("nn").as("nn"))
        .withColumn("mean_ppm", expr("sr div n_pulls"))
        .withColumn("bonus_ppm", expr(
          """CAST(floor(sqrt(CAST(
               (2 * CAST(floor(ln(1.0 * nn) * 1000000) AS BIGINT)
                * 1000000) div n_pulls AS DOUBLE))) AS BIGINT)"""))
        .withColumn("ucb_ppm", col("mean_ppm") + col("bonus_ppm"))
      arms
        .withColumn("best", max(struct(col("ucb_ppm"), col("arm")))
          .over(Window.partitionBy()))
        .select(col("arm"), col("n_pulls"), col("mean_ppm"),
          col("bonus_ppm"), col("ucb_ppm"),
          (col("ucb_ppm") === col("best.ucb_ppm") &&
            col("arm") === col("best.arm")).cast("long").as("chosen"))
    }))

  val oracle: Map[String, String] = Map(
    "q246_ab_experiment" ->
      """WITH pu0 AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) AS converted
           FROM events GROUP BY 1),
         pu AS (
           SELECT user_id, converted,
                  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                    1, 13)) AS BIGINT) % 2 AS cohort
           FROM pu0),
         tot AS (
           SELECT count(*) AS t_users, sum(converted) AS t_conv FROM pu),
         c AS (
           SELECT cohort, count(*) AS n_users, sum(converted) AS n_conv
           FROM pu GROUP BY 1),
         r AS (
           SELECT cohort, n_users, n_conv,
                  n_conv * 1000000 // n_users AS rate_ppm,
                  t_conv * 1000000 // t_users AS pooled_ppm
           FROM c CROSS JOIN tot)
         SELECT CAST(cohort AS BIGINT) AS cohort,
                CAST(n_users AS BIGINT) AS n_users,
                CAST(n_conv AS BIGINT) AS n_conv,
                CAST(rate_ppm AS BIGINT) AS rate_ppm,
                CAST(pooled_ppm AS BIGINT) AS pooled_ppm,
                CAST((rate_ppm - pooled_ppm) * (rate_ppm - pooled_ppm)
                     // greatest(pooled_ppm, 1) AS BIGINT)
                  AS chi2_contrib
         FROM r""",
    "q273_bandit_replay" ->
      """WITH ev AS (
           SELECT user_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         arms AS (
           SELECT arm, CAST(row_number() OVER (ORDER BY arm) - 1
             AS BIGINT) AS arm_idx
           FROM (SELECT DISTINCT event_type AS arm FROM ev)),
         na AS (SELECT count(*) AS n_arms FROM arms),
         tot AS (SELECT count(*) AS n_total FROM ev),
         matched AS (
           SELECT e.event_type AS arm, e.cents
           FROM ev e JOIN arms a ON e.event_type = a.arm
           CROSS JOIN na
           WHERE a.arm_idx =
             CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 13))
               AS BIGINT) % na.n_arms)
         SELECT arm, count(*) AS n_matched,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents,
           count(*) * 1000000 // n_total AS match_ppm
         FROM matched CROSS JOIN tot
         GROUP BY arm, n_total""",
    "q304_sprt_audit" ->
      s"""WITH ev AS (
            SELECT event_id,
              CASE WHEN event_type = 'purchase'
                THEN CAST(floor(ln(CAST(0.22 AS DOUBLE) / 0.18)
                       * 1000000) AS BIGINT)
                ELSE CAST(floor(ln(CAST(0.78 AS DOUBLE) / 0.82)
                       * 1000000) AS BIGINT) END AS v
            FROM events),
          cum AS (
            SELECT event_id, sum(v) OVER (ORDER BY event_id
              ROWS UNBOUNDED PRECEDING) AS llr
            FROM ev),
          bound AS (
            SELECT CAST(floor(ln(CAST(19 AS DOUBLE)) * 1000000)
              AS BIGINT) AS b),
          tot AS (SELECT count(*) AS n_total, max(event_id) AS last_id
                  FROM cum),
          cr AS (SELECT min(event_id) AS first_cross_id
                 FROM cum, bound WHERE abs(llr) >= b),
          fin AS (SELECT llr AS final_llr FROM cum, tot
                  WHERE event_id = last_id),
          crl AS (SELECT llr AS cross_llr FROM cum, cr
                  WHERE event_id = first_cross_id)
          SELECT t.n_total, bound.b AS bound_micro,
            coalesce(cr.first_cross_id, -1) AS first_cross_id,
            CASE WHEN cr.first_cross_id IS NULL THEN 'continue'
                 WHEN (SELECT cross_llr FROM crl) > 0 THEN 'accept_h1'
                 ELSE 'accept_h0' END AS decision,
            coalesce((cr.first_cross_id + 1) * 1000000 // t.n_total, -1)
              AS sample_frac_ppm,
            CAST((SELECT final_llr FROM fin) AS BIGINT)
              AS final_llr_micro
          FROM tot t, bound, cr""",

    "q305_stratified_ate" ->
      """WITH ev AS (
           SELECT (epoch_ns(ts) // 3600000000000) % 24 // 6 AS stratum,
                  user_id % 2 AS t,
                  CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END AS BIGINT) AS y
           FROM events),
         g AS (SELECT stratum, t, count(*) AS n, sum(y) AS ny
               FROM ev GROUP BY 1, 2),
         wide AS (
           SELECT stratum, sum(n) AS n_s,
             max(CASE WHEN t = 1 THEN n END) AS n1,
             max(CASE WHEN t = 0 THEN n END) AS n0,
             max(CASE WHEN t = 1 THEN ny END) AS ny1,
             max(CASE WHEN t = 0 THEN ny END) AS ny0
           FROM g GROUP BY 1),
         w2 AS (
           SELECT stratum, n_s, n1, n0,
             ny1 * 1000000 // n1 AS y1_ppm,
             ny0 * 1000000 // n0 AS y0_ppm,
             ny1 * 1000000 // n1 - ny0 * 1000000 // n0 AS diff_ppm
           FROM wide)
         SELECT CAST(stratum AS VARCHAR) AS stratum,
           CAST(n_s AS BIGINT) AS n_s, CAST(n1 AS BIGINT) AS n_treated,
           CAST(n0 AS BIGINT) AS n_control,
           CAST(y1_ppm AS BIGINT) AS y1_ppm,
           CAST(y0_ppm AS BIGINT) AS y0_ppm,
           CAST(diff_ppm AS BIGINT) AS diff_ppm
         FROM w2
         UNION ALL
         SELECT '__ate__', CAST(sum(n_s) AS BIGINT),
           CAST(sum(n1) AS BIGINT), CAST(sum(n0) AS BIGINT), 0, 0,
           CAST(sum(n_s * diff_ppm) // sum(n_s) AS BIGINT)
         FROM w2""",

    "q307_quantile_treatment_effect" ->
      """WITH ev AS (
           SELECT user_id % 2 AS t,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         h AS (SELECT t, cents, count(*) AS c FROM ev GROUP BY 1, 2),
         cum AS (
           SELECT t, cents, sum(c) OVER (PARTITION BY t ORDER BY cents
             ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
         na AS (SELECT t, sum(c) AS n_arm FROM h GROUP BY 1),
         dec AS (
           SELECT cum.t, dd.decile, min(cum.cents) AS q
           FROM cum
           JOIN na ON cum.t = na.t
           CROSS JOIN (SELECT unnest(range(1, 10)) AS decile) dd
           WHERE cum.cum * 10 >= na.n_arm * dd.decile
           GROUP BY 1, 2)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(max(CASE WHEN t = 1 THEN q END) AS BIGINT) AS q_treated,
           CAST(max(CASE WHEN t = 0 THEN q END) AS BIGINT) AS q_control,
           CAST(max(CASE WHEN t = 1 THEN q END)
                - max(CASE WHEN t = 0 THEN q END) AS BIGINT) AS qte_cents
         FROM dec GROUP BY decile""",
    "q309_cuped_adjustment" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS ts,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         bounds AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM ev),
         users AS (
           SELECT user_id,
             sum(CASE WHEN ts < t0 + (t1 - t0) // 2 THEN cents ELSE 0
               END) AS x,
             sum(CASE WHEN ts >= t0 + (t1 - t0) // 2 THEN cents ELSE 0
               END) AS y,
             user_id % 2 AS t
           FROM ev, bounds GROUP BY user_id),
         m AS (
           SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(y AS HUGEINT) * y) AS syy,
             sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS nt,
             sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS sxt,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS syt,
             sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS nc,
             sum(CASE WHEN t = 0 THEN x ELSE 0 END) AS sxc,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS syc
           FROM users),
         d AS (
           SELECT n,
             CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                  * 1000000
                  // (CAST(n AS HUGEINT) * sxx
                     - CAST(sx AS HUGEINT) * sx) AS BIGINT)
               AS theta_ppm,
             CAST((CAST(syt AS HUGEINT) * nc
                   - CAST(syc AS HUGEINT) * nt) * 1000000
                  // (CAST(nt AS HUGEINT) * nc) AS BIGINT)
               AS raw_diff_micro,
             CAST((CAST(sxt AS HUGEINT) * nc
                   - CAST(sxc AS HUGEINT) * nt) * 1000000
                  // (CAST(nt AS HUGEINT) * nc) AS BIGINT)
               AS x_diff_micro,
             CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                  * (CAST(n AS HUGEINT) * sxy
                     - CAST(sx AS HUGEINT) * sy) * 1000000
                  // ((CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx)
                     * (CAST(n AS HUGEINT) * syy
                        - CAST(sy AS HUGEINT) * sy)) AS BIGINT)
               AS rho2_ppm
           FROM m)
         SELECT CAST(n AS BIGINT) AS n_users, theta_ppm,
           raw_diff_micro, x_diff_micro,
           raw_diff_micro - (theta_ppm * x_diff_micro // 1000000)
             AS adj_diff_micro,
           rho2_ppm
         FROM d""",

    "q310_power_mde" ->
      """WITH ev AS (
           SELECT user_id % 2 AS t,
             CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
               AS BIGINT) AS pos
           FROM events),
         m AS (
           SELECT count(*) AS n_total, sum(pos) AS n_pos,
             sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_treat
           FROM ev)
         SELECT n_total, CAST(n_treat AS BIGINT) AS n_treat,
           CAST(n_total - n_treat AS BIGINT) AS n_control,
           CAST(n_pos * 1000000 // n_total AS BIGINT) AS p_ppm,
           CAST(floor(2801585
             * sqrt(CAST(2 * (n_pos * 1000000 // n_total)
                    * (1000000 - n_pos * 1000000 // n_total)
                    AS DOUBLE)
                  / least(n_treat, n_total - n_treat))
             / 1000000) AS BIGINT) AS mde_ppm,
           CAST(CAST(floor(2801585
             * sqrt(CAST(2 * (n_pos * 1000000 // n_total)
                    * (1000000 - n_pos * 1000000 // n_total)
                    AS DOUBLE)
                  / least(n_treat, n_total - n_treat))
             / 1000000) AS BIGINT) * 1000000
             // (n_pos * 1000000 // n_total) AS BIGINT) AS mde_rel_ppm
         FROM m""",
    "q331_neyman_allocation" ->
      """WITH st AS (
           SELECT event_type AS et, count(*) AS n_h,
             sum(CAST(floor(value * 100) AS BIGINT)) AS sx,
             sum(CAST(CAST(floor(value * 100) AS BIGINT) AS HUGEINT)
               * CAST(floor(value * 100) AS BIGINT)) AS sxx
           FROM events GROUP BY 1),
         v AS (
           SELECT et, n_h, sx,
             CAST((CAST(n_h AS HUGEINT) * sxx
               - CAST(sx AS HUGEINT) * sx)
               // (CAST(n_h AS HUGEINT) * n_h) AS BIGINT) AS var_c2
           FROM st),
         w AS (
           SELECT et, n_h,
             CAST(floor(sqrt(CAST(var_c2 AS DOUBLE))) AS BIGINT)
               AS sd_cents,
             n_h * CAST(floor(sqrt(CAST(var_c2 AS DOUBLE))) AS BIGINT)
               AS w
           FROM v),
         t AS (
           SELECT *, sum(w) OVER () AS tot_w,
             (1000 * w) // sum(w) OVER () AS base,
             (1000 * w) % sum(w) OVER () AS rem
           FROM w),
         r AS (
           SELECT *, 1000 - sum(base) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, et) AS rk
           FROM t)
         SELECT et, CAST(n_h AS BIGINT) AS n_h,
           CAST(sd_cents AS BIGINT) AS sd_cents, CAST(w AS BIGINT) AS w,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS alloc
         FROM r""",
    "q341_did_estimate" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         u AS (
           SELECT user_id,
             sum(CASE WHEN epoch_ns(ts) < t0 + (t1 - t0) // 2
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS x,
             sum(CASE WHEN epoch_ns(ts) >= t0 + (t1 - t0) // 2
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS y,
             user_id % 2 AS t
           FROM events, b GROUP BY user_id),
         m AS (
           SELECT
             sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS sxt,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS syt,
             sum(CASE WHEN t = 0 THEN x ELSE 0 END) AS sxc,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS syc
           FROM u)
         SELECT CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
           CAST(sxt * 1000000 // n_t AS BIGINT) AS pre_t_micro,
           CAST(syt * 1000000 // n_t AS BIGINT) AS post_t_micro,
           CAST(sxc * 1000000 // n_c AS BIGINT) AS pre_c_micro,
           CAST(syc * 1000000 // n_c AS BIGINT) AS post_c_micro,
           CAST((syt * 1000000 // n_t - sxt * 1000000 // n_t)
             - (syc * 1000000 // n_c - sxc * 1000000 // n_c) AS BIGINT)
             AS did_micro
         FROM m""",

    "q342_matching_att" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         u AS (
           SELECT user_id AS uid,
             sum(CASE WHEN epoch_ns(ts) < t0 + (t1 - t0) // 2
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS x,
             sum(CASE WHEN epoch_ns(ts) >= t0 + (t1 - t0) // 2
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS y,
             user_id % 2 AS t
           FROM events, b GROUP BY user_id),
         w AS (
           SELECT *,
             last_value(CASE WHEN t = 0 THEN x END IGNORE NULLS)
               OVER bw AS bx,
             last_value(CASE WHEN t = 0 THEN y END IGNORE NULLS)
               OVER bw AS by,
             first_value(CASE WHEN t = 0 THEN x END IGNORE NULLS)
               OVER fw AS fx,
             first_value(CASE WHEN t = 0 THEN y END IGNORE NULLS)
               OVER fw AS fy
           FROM u
           WINDOW
             bw AS (ORDER BY x, t, uid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             fw AS (ORDER BY x, t, uid
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
         matched AS (
           SELECT x, y,
             CASE WHEN (bx IS NOT NULL AND fx IS NULL)
                    OR (bx IS NOT NULL AND x - bx <= fx - x)
               THEN by ELSE fy END AS my,
             CASE WHEN (bx IS NOT NULL AND fx IS NULL)
                    OR (bx IS NOT NULL AND x - bx <= fx - x)
               THEN x - bx ELSE fx - x END AS gap
           FROM w WHERE t = 1),
         agg AS (
           SELECT count(*) AS n_matched, sum(y - my) AS sd,
             sum(gap) AS sg
           FROM matched WHERE my IS NOT NULL),
         nc AS (SELECT count(*) AS n_control FROM u WHERE t = 0)
         SELECT CAST(n_matched AS BIGINT) AS n_matched,
           CAST(n_control AS BIGINT) AS n_control,
           CAST(sd * 1000000 // n_matched AS BIGINT) AS att_micro,
           CAST(sg * 1000000 // n_matched AS BIGINT) AS avg_gap_micro
         FROM agg, nc""",

    "q372_uplift_deciles" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         u AS (
           SELECT user_id,
             sum(CASE WHEN epoch_ns(ts) < t0 + (t1 - t0) // 2
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS x,
             sum(CASE WHEN epoch_ns(ts) >= t0 + (t1 - t0) // 2
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS y,
             user_id % 2 AS t
           FROM events, b GROUP BY user_id),
         h AS (SELECT x, count(*) AS c FROM u GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM h),
         cuts AS (
           SELECT jj.j, min(cum.x) AS thr
           FROM (SELECT x, sum(c) OVER (ORDER BY x
                   ROWS UNBOUNDED PRECEDING) AS cum FROM h) cum,
             n, (SELECT unnest(range(1, 10)) AS j) jj
           WHERE cum.cum * 10 >= n.n * jj.j
           GROUP BY 1),
         dec AS (
           SELECT u.*,
             1 + (SELECT count(*) FROM cuts WHERE u.x >= cuts.thr)
               AS decile
           FROM u),
         g AS (
           SELECT decile,
             sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS n_t,
             sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS sy_t,
             sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_c,
             sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS sy_c
           FROM dec GROUP BY 1),
         up AS (
           SELECT decile, n_t, n_c,
             sy_t * 1000000 // n_t - sy_c * 1000000 // n_c
               AS uplift_micro
           FROM g WHERE n_t > 0 AND n_c > 0)
         SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
           CAST(uplift_micro AS BIGINT) AS uplift_micro,
           CAST(sum(uplift_micro) OVER (ORDER BY decile DESC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_uplift_micro
         FROM up""",
    "q373_ucb1_advisor" ->
      """WITH mx AS (
           SELECT max(CAST(floor(value * 100) AS BIGINT)) AS mc,
             count(*) AS nn
           FROM events),
         arms AS (
           SELECT event_type AS arm, count(*) AS n_pulls,
             sum(CAST(floor(value * 100) AS BIGINT) * 1000000 // mc)
               AS sr,
             max(nn) AS nn
           FROM events, mx GROUP BY 1),
         scored AS (
           SELECT arm, n_pulls, sr // n_pulls AS mean_ppm,
             CAST(floor(sqrt(CAST(
               (2 * CAST(floor(ln(1.0 * nn) * 1000000) AS BIGINT)
                * 1000000) // n_pulls AS DOUBLE))) AS BIGINT)
               AS bonus_ppm
           FROM arms),
         u AS (
           SELECT *, mean_ppm + bonus_ppm AS ucb_ppm FROM scored),
         best AS (
           SELECT ucb_ppm AS b_ucb, arm AS b_arm FROM u
           ORDER BY ucb_ppm DESC, arm DESC LIMIT 1)
         SELECT arm, CAST(n_pulls AS BIGINT) AS n_pulls,
           CAST(mean_ppm AS BIGINT) AS mean_ppm,
           CAST(bonus_ppm AS BIGINT) AS bonus_ppm,
           CAST(ucb_ppm AS BIGINT) AS ucb_ppm,
           CAST(CASE WHEN ucb_ppm = b_ucb AND arm = b_arm
             THEN 1 ELSE 0 END AS BIGINT) AS chosen
         FROM u, best""")
}

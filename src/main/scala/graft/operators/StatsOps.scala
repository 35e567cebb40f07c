package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables.table
import graft.operators.TextKernel.words

/** Statistical tests, drift scores and series diagnostics: robust
  * statistics, distribution comparisons (KS, PSI, chi-square, copulas),
  * change-point detection (one integer CUSUM helper, `cusumArgmax`),
  * trend, seasonality and burst detection, and the frequency and
  * cardinality sketches.
  */
object StatsOps extends QueryModule {
  /** Whitespace tokens of the document corpus, lowercased. */
  private def tokens(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
      .select(explode(words(col("text"))).as("token"))

  /** Mid-month cutoff (2024-01-16 00:00 UTC) splitting the events span
    * into the reference (A) and comparison (B) periods for q226. */
  private val CutSec = 1705363200L

  /** End of the events month (2024-02-01 00:00 UTC): the horizon the
    * last event's value holds to in q245. */
  private val HorizonSec = 1706745600L

  /** Slab width for the inverse-CDF lookup join. */
  private val B = 512L

  /** Benford expected first-digit shares, ppm of log10(1+1/d) —
    * hardcoded integers shared verbatim with the oracle so no engine
    * ever evaluates a float log. */
  private val BenfordPpm = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Integer mean-shift CUSUM over a daily series `y` per `keys` group
    * (none: one series), days ordered by `day`. D_k = n·S_k − k·S_n is
    * n times the CUSUM statistic, exact in DECIMAL(38,0); its argmax
    * |D_k| (earliest day on ties) is the change point. Per-group n and
    * S_n are a group-sized broadcast, and the windows run over the
    * calendar-bounded day frame. `lastDay` keeps k = n, where D_n = 0,
    * as a candidate. Output per group: keys, day, k, n, s_k, s_n, d. */
  private def cusumArgmax(daily: DataFrame, keys: Seq[String],
      lastDay: Boolean): DataFrame = {
    val by = keys.map(col)
    val ordered = Window.partitionBy(by: _*).orderBy("day")
    val stats = daily.groupBy(by: _*)
      .agg(count(lit(1)).as("n"), sum("y").as("s_n"))
    val cum = (if (keys.isEmpty) daily.crossJoin(broadcast(stats))
        else daily.join(broadcast(stats), keys))
      .withColumn("k", row_number().over(ordered).cast("long"))
      .withColumn("s_k", sum("y").over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("d", expr("""CAST(CAST(n AS DECIMAL(38,0)) * s_k
        - CAST(k AS DECIMAL(38,0)) * s_n AS BIGINT)"""))
    val pick = Window.partitionBy(by: _*).orderBy(abs(col("d")).desc, col("day"))
    (if (lastDay) cum else cum.filter(col("k") < col("n")))
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1).drop("rn")
  }

  /** q317's burst rule over an (hour_id, cnt) frame: an hour bursts
    * when its count exceeds 2× the mean of the 24 hours before it
    * (cnt·24 > 2·trail_sum, exact integers). Only hours with a FULL
    * trailing window qualify (no partial-baseline false positives at
    * the series head). The global window sorts the hour frame, which
    * is bounded by the corpus time span, not its row count. */
  private[graft] def burstRule(hourly: DataFrame): DataFrame = {
    val w = Window.orderBy("hour_id").rowsBetween(-24, -1)
    hourly
      .withColumn("trail_sum", sum("cnt").over(w))
      .withColumn("trail_n", count(lit(1)).over(w))
      .filter(col("trail_n") === 24 &&
        col("cnt") * 24 > col("trail_sum") * 2)
      .select(col("hour_id"), col("cnt"), col("trail_sum"),
        expr("(cnt * 24 * 1000000) div trail_sum").as("ratio_ppm"))
  }

  val queries: Map[String, Q] = Map(
    // ---- q192: per-user daily gap fill + forward fill ------------------
    // q192 gap fill: per-user daily resampling with forward fill —
    // sequence() generates each user's day range, a left join lands
    // observed days, last(ignoreNulls) over the per-user window carries
    // values across gaps. Everything partitions by user.
    // Each user's observed span (min..max event day) is densified with
    // sequence(), observed daily spend lands via a left join on
    // (user, day), and gaps carry the last observed value forward with
    // last(ignoreNulls) over the per-user ordered window. Day counts
    // and values stay integer (epoch days, cents). Every stage
    // partitions on user_id; the generated rows are |users| x |span|,
    // which scales with the DIMENSION (users x days), not the event
    // count — the standard time-series repair before per-entity
    // modeling.
    "q192_gap_fill" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), expr(s"ts div $NsPerDay").as("day"),
          floor(col("value") * 100).cast("long").as("cents"))
      val daily = ev.groupBy("user_id", "day")
        .agg(sum("cents").as("day_cents"))
      val span = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val filled = span.join(daily, Seq("user_id", "day"), "left")
      val byDay = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      filled.select(col("user_id"), col("day"),
        last("day_cents", ignoreNulls = true).over(byDay).as("filled_cents"),
        col("day_cents").isNull.as("is_gap"))
    }),

    // ---- q203: winsorized group statistics -----------------------------
    // q203 winsorized group statistics: robust revenue stats with the
    // clip bounds at exact RANK positions (integer arithmetic, no
    // interpolated quantiles) — engine-exact where quantile_cont
    // interpolation would drift in the last ulp.
    // Revenue cents per nation, clipped at the exact rank-position
    // bounds lo = value@rank((5(n-1)) div 100 + 1), hi = value@rank(
    // (95(n-1)) div 100 + 1) — pure integer arithmetic end to end, so
    // the robust sum is engine-exact (interpolated quantiles differ in
    // the last ulp across engines and were rejected for the gate). One
    // window pass + one grouped aggregation, both hashed on the group.
    "q203_winsorized_stats" -> ((s, d) => {
      val v = table(s, d, "orders")
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("grp"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val byGrp = Window.partitionBy("grp")
      val rk = v
        .withColumn("rn", row_number().over(byGrp.orderBy("cents")).cast("long"))
        .withColumn("n", count(lit(1)).over(byGrp))
      val bounds = rk.groupBy("grp").agg(
        max(when(col("rn") === expr("(5 * (n - 1)) div 100 + 1"),
          col("cents"))).as("lo"),
        max(when(col("rn") === expr("(95 * (n - 1)) div 100 + 1"),
          col("cents"))).as("hi"))
      rk.join(bounds, "grp")
        .groupBy("grp")
        .agg(count(lit(1)).as("n"),
          min("lo").as("lo_cents"), min("hi").as("hi_cents"),
          sum(when(col("cents") < col("lo"), col("lo"))
            .when(col("cents") > col("hi"), col("hi"))
            .otherwise(col("cents"))).as("winsorized_sum_cents"),
          sum(when(col("cents") < col("lo") || col("cents") > col("hi"), 1L)
            .otherwise(0L)).as("n_clipped"))
    }),

    // ---- q212: banded median + MAD robust outlier gate ------------------
    // q212 robust outlier gate per source: banded lower-median + MAD
    // (median absolute deviation) over the value-domain histogram —
    // never a per-group sort of the corpus.
    // Per-source robust center/spread without ever sorting the corpus:
    // n_chars is banded (div 10) onto a bounded value domain, the lower
    // median comes from the per-(source, band) HISTOGRAM via a running
    // sum whose window frame is |domain|-bounded (q181's machinery,
    // grouped), and MAD repeats the same trick on |band − median|.
    // Outliers = docs beyond 3 MAD bands. Median/MAD are the robust
    // replacements for the mean/σ gate (q144): one mega-doc cannot drag
    // the threshold. All shuffles key on source (+band); the two
    // median frames are |sources|·|bands| rows — broadcastable at any
    // corpus size.
    "q212_mad_outliers" -> ((s, d) => {
      val banded = table(s, d, "documents")
        .select(col("source"), expr("n_chars div 10").as("band"))
      def lowerMedian(df: DataFrame, valueCol: String, out: String)
          : DataFrame = {
        val hist = df.groupBy("source", valueCol)
          .agg(count(lit(1)).as("cnt"))
        val n = hist.groupBy("source").agg(sum("cnt").as("n"))
        val run = Window.partitionBy("source").orderBy(valueCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist.withColumn("run", sum("cnt").over(run))
          .join(n, "source")
          .filter(col("run") >= expr("(n + 1) div 2"))
          .groupBy("source").agg(min(valueCol).as(out))
      }
      val med = lowerMedian(banded, "band", "med_band")
      val dev = banded.join(med, "source")
        .select(col("source"), col("band"), col("med_band"),
          abs(col("band") - col("med_band")).as("dev"))
      val mad = lowerMedian(dev.select("source", "dev"), "dev", "mad_band")
      dev.join(mad, "source")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min("med_band").as("med_band"),
          min("mad_band").as("mad_band"),
          sum(when(col("dev") > col("mad_band") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // ---- q220: Misra–Gries heavy hitters (candidates + exact verify) ----
    // q220 Misra–Gries heavy hitters: single-pass bounded-state
    // candidate generation (a mergeable `Aggregator`) composed with
    // an exact verify of just the candidates — exact output, O(k)
    // shuffle bytes per partition for the full-universe pass.
    // The two-phase shape a corpus-scale frequency query should take:
    // phase 1 streams every token through the mergeable MG summary
    // (state ≤ k entries per partition, O(k) bytes shuffled — never a
    // token-universe-sized hash table); phase 2 exactly counts ONLY
    // the ≤ k candidates via a broadcast semi-join. MG's deficit
    // guarantee (undercount ≤ n/(k+1), k=199) means every token with
    // true frequency > n/200 is a candidate, so the final filter
    // `cnt · 200 > n` yields EXACTLY the oracle's full groupBy answer.
    // MisraGriesSpec property-tests the guarantee under random merge
    // splits; this gate catches any candidate the sketch ever drops.
    "q220_mg_heavy_hitters" -> ((s, d) => {
      val toks = tokens(s, d)
      val mg = udaf(new graft.functions.MisraGries(199))
      val cands = toks.agg(mg(col("token")).as("summary"))
        .select(explode(map_keys(col("summary"))).as("token"))
      val tot = toks.agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(cands), Seq("token"), "left_semi")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * 200 > col("n_total"))
        .select(col("token"), col("cnt"), col("n_total"))
    }),

    // ---- q226: distribution drift audit (chi² on ppm shares) -----------
    // q226 distribution drift audit: first- vs second-half-month
    // value histograms and per-bin chi-square contributions on ppm
    // shares — the train/serve skew check a deployment runs.
    // Ten fixed-width value bins sized from the global max (a 1-row
    // scalar broadcast), counts per bin for the first (A) and second
    // (B) half of the month, per-bin shares in integer ppm, and the
    // chi-square-style contribution (q−p)² div max(p,1) on the ppm
    // scale — integer end to end, so the drift report is engine-exact
    // (true χ² needs a float expected-count division; on ppm shares
    // the ranking and the alarm threshold carry the same information).
    // Bins materialize from sequence(0,9) and LEFT joins so empty bins
    // report 0s instead of vanishing. One scan + two 10-row aggs.
    "q226_drift_audit" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(expr("ts div 1000000000").as("sec"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val mx = ev.agg(max("cents").as("m"))
      val binned = ev.crossJoin(broadcast(mx))
        .select(expr("cents div (m div 10 + 1)").as("bin"), col("sec"))
      val a = binned.filter(col("sec") < CutSec)
        .groupBy("bin").agg(count(lit(1)).as("n_a"))
      val b = binned.filter(col("sec") >= CutSec)
        .groupBy("bin").agg(count(lit(1)).as("n_b"))
      val tots = binned.agg(
        sum(when(col("sec") < CutSec, 1L).otherwise(0L)).as("tot_a"),
        sum(when(col("sec") >= CutSec, 1L).otherwise(0L)).as("tot_b"))
      s.range(0, 10).select(col("id").as("bin"))
        .join(a, Seq("bin"), "left_outer")
        .join(b, Seq("bin"), "left_outer")
        .na.fill(0L, Seq("n_a", "n_b"))
        .crossJoin(broadcast(tots))
        .select(col("bin"), col("n_a"), col("n_b"),
          expr("n_a * 1000000L div tot_a").as("p_ppm"),
          expr("n_b * 1000000L div tot_b").as("q_ppm"))
        .withColumn("chi2_contrib",
          expr("(q_ppm - p_ppm) * (q_ppm - p_ppm) div greatest(p_ppm, 1L)"))
    }),

    // Statistical plumbing for curation decisions —
    // normalizing a raw score into a corpus-relative one, quantifying how
    // much two heuristic filters actually agree, and putting error bars
    // on a corpus metric without rerunning the pipeline.

    // ---- q232: percentile-rank normalization ---------------------------
    // q232 percentile-rank normalization: every event's value mapped
    // to its exact corpus percentile (ppm) — the rank transform that
    // makes thresholds transferable across corpora.
    // pct(x) = (#rows strictly below x)·1e6 div n. The corpus reduces
    // to the per-distinct-value histogram (one map-side-combined
    // shuffle, domain-bounded); the strictly-below cumulative runs on
    // the domain-sized frame; rows get their percentile back through a
    // join keyed on the value (domain-sized build side — broadcastable
    // here, plain hash join at wider domains). Same domain-histogram
    // backbone as q228/q229 — this is the row-level companion that
    // WRITES the normalized score back onto the corpus.
    "q232_percentile_rank" -> ((s, d) => {
      val ev = table(s, d, "events").select(col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val hist = ev.groupBy("cents").agg(count(lit(1)).as("n_c"))
      val below = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hist.withColumn("cum_below",
        coalesce(sum("n_c").over(below), lit(0L)))
      val tot = ev.agg(count(lit(1)).as("n"))
      ev.join(broadcast(cum.select("cents", "cum_below")), "cents")
        .crossJoin(broadcast(tot))
        .select(col("event_id"), col("cents"),
          expr("cum_below * 1000000L div n").as("pct_ppm"))
    }),

    // ---- q233: filter-agreement audit (Cohen's kappa) ------------------
    // q233 filter-agreement audit: Cohen's kappa between two quality
    // gates (length vs token-count), chance-corrected, in integer ppm.
    // Two real quality gates over documents — A: length ≥ 300 chars,
    // B: whitespace tokens ≥ 55 — and their chance-corrected agreement:
    // kappa = (p_o − p_e) / (1 − p_e) on the ppm scale, all integer
    // (p_e's product term divides by n² before scaling). High kappa ⇒
    // the second filter adds little signal; near-zero ⇒ the gates cut
    // different corpora. ONE conditional-aggregation scan, 1-row output.
    "q233_filter_kappa" -> ((s, d) => {
      val flags = table(s, d, "documents").select(
        expr("CASE WHEN length(text) >= 300 THEN 1L ELSE 0L END").as("a"),
        expr("CASE WHEN length(text) - length(replace(text, ' ', '')) + 1" +
          " >= 55 THEN 1L ELSE 0L END").as("b"))
      flags.agg(
        count(lit(1)).as("n"),
        sum(expr("a * b")).as("n11"),
        sum(expr("a * (1 - b)")).as("n10"),
        sum(expr("(1 - a) * b")).as("n01"),
        sum(expr("(1 - a) * (1 - b)")).as("n00"))
        .withColumn("po_ppm", expr("(n11 + n00) * 1000000L div n"))
        .withColumn("pe_ppm", expr(
          "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))" +
            " * 1000000L div (n * n)"))
        .withColumn("kappa_ppm", expr(
          "(po_ppm - pe_ppm) * 1000000L div (1000000L - pe_ppm)"))
    }),

    // ---- q234: deterministic Poisson bootstrap -------------------------
    // q234 deterministic Poisson bootstrap: 20 hash-seeded resample
    // replicates of the mean-value metric in one pass — the
    // error-bar machinery of the online/big-data bootstrap, fully
    // reproducible under any partitioning.
    // The big-data bootstrap: replicate b weights each row by an
    // independent Poisson(1) draw; the spread of the replicate means IS
    // the sampling uncertainty of the corpus mean. Draws are
    // hash-seeded (md5 of row-id × replicate), so the whole resample is
    // a PURE MAP: reproducible under any partitioning, no RNG state,
    // no second corpus pass. Inverse-CDF thresholds are fixed ppm
    // constants (P(0)=P(1)=.367879, ...), weights capped at 5. The ×20
    // explode is a bounded fan-out (documented class); replicate means
    // aggregate map-side into 20 rows, then a 1-row summary: the
    // unweighted mean, the bootstrap mean-of-means, and the integer
    // variance of the replicate means (the error bar, ppm-free since
    // cents are already integer).
    "q234_poisson_bootstrap" -> ((s, d) => {
      val ev = table(s, d, "events").select(col("event_id"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val reps = ev
        .select(col("event_id"), col("cents"),
          explode(expr("sequence(0L, 19L)")).as("rep"))
        .withColumn("u", expr(
          "CAST(conv(substring(md5(CAST(event_id * 20 + rep AS STRING))," +
            " 1, 13), 16, 10) AS BIGINT) % 1000000"))
        .withColumn("w", expr(
          "CASE WHEN u < 367879 THEN 0L WHEN u < 735759 THEN 1L" +
            " WHEN u < 919699 THEN 2L WHEN u < 981012 THEN 3L" +
            " WHEN u < 996340 THEN 4L ELSE 5L END"))
        .groupBy("rep")
        .agg(sum(expr("w * cents")).as("wsum"), sum("w").as("wn"))
        .select(col("rep"), expr("wsum div wn").as("mean_b"))
      val base = ev.agg(count(lit(1)).as("n"),
        expr("sum(cents) div count(1)").as("mean_cents"))
      val center = reps.agg(
        expr("sum(mean_b) div count(1)").as("boot_mean"))
      reps.crossJoin(broadcast(center))
        .agg(count(lit(1)).as("n_reps"),
          min("boot_mean").as("boot_mean"),
          expr("sum((mean_b - boot_mean) * (mean_b - boot_mean))" +
            " div count(1)").as("boot_var"),
          min("mean_b").as("rep_min"), max("mean_b").as("rep_max"))
        .crossJoin(broadcast(base))
    }),

    // ---- q245: time-weighted average value per user --------------------
    // q245 time-weighted average value per user: each event's value
    // "holds" until the next event (the state-over-time semantics
    // behind TWAP, average balance, fleet-utilization metrics) —
    // integer second-weighted, engine-exact.
    // dt = seconds to the user's next event (the horizon constant for
    // the last one); twa = Σ(cents·dt) div Σ(dt). One user-partitioned
    // lead window + one user-keyed rollup — both hash on the user, so
    // a billion users spread freely; per-user state is one ordered
    // pass. cents·dt ≤ 49k·2.6M ≈ 1.3e11 per event — sums stay deep
    // inside Long at any per-user event count that fits a month.
    "q245_time_weighted_avg" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      table(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000000").as("sec"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .withColumn("dt", coalesce(lead("sec", 1).over(w), lit(HorizonSec))
          - col("sec"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("dt").as("held_sec"),
          sum(expr("cents * dt")).as("wsum"))
        .select(col("user_id"), col("n_events"), col("held_sec"),
          expr("wsum div held_sec").as("twa_cents"))
    }),

    // ---- q250: CUSUM change-point per event_type -----------------------
    // q250 CUSUM change-point detection on the per-type daily revenue
    // series — the classic page-level drift detector, integer-exact.
    // Daily cents sums roll the corpus up to (type × day) rows FIRST —
    // the cumulative window then partitions by type over a frame whose
    // size is bounded by the calendar, not the corpus, so no
    // corpus-sized SinglePartition window exists at any scale. The
    // deviation is cross-multiplied (n·y_d − S) to stay integer-exact:
    // it is n·(y_d − mean), so the running sum is the CUSUM statistic
    // scaled by the constant n, and its argmax day is the change point
    // (CUSUM telescopes to 0 at the last day by construction). Per-type
    // stats are a types-row frame → broadcast join.
    "q250_cusum_changepoint" -> ((s, d) => {
      val daily = table(s, d, "events")
        .select(col("event_type"),
          expr("ts div 86400000000000").as("day"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("y"))
      cusumArgmax(daily, Seq("event_type"), lastDay = true)
        .select(col("event_type"), col("day").as("change_day"),
          col("n").as("n_days"), col("d").as("peak_cusum"))
    }),

    // ---- q261: floor-clamped running balance ---------------------------
    // q261 floor-clamped running balance: the "credits can't go
    // negative" state machine, distributed via the prefix-sum
    // identity R_t = S_t − min(0, min_{s≤t} S_s) — windows only, no
    // sequential recursion.
    // Balance starts at 0, purchases credit +cents, clicks debit
    // −cents, and the balance FLOORS at 0 (a debit against an empty
    // balance burns only what exists). The clamped process is not a
    // plain prefix sum — but for a floor-only clamp it has the closed
    // form R_t = S_t − min(0, min_{s≤t} S_s), so two per-user windows
    // (cumsum + running min) compute the exact sequential semantics
    // with NO driver-side recursion and no UDAF state. Frames
    // partition on user_id — co-partitioned with every other per-user
    // stage, never corpus-sized. Output: final balance, total credits/
    // debits, and the deficit the floor absorbed (burned debits).
    "q261_clamped_balance" -> ((s, d) => {
      val ev = table(s, d, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase",
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .otherwise(expr("-CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .as("delta"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = ev
        .withColumn("s", sum("delta").over(w))
        .withColumn("m", min("s").over(w))
      cum.groupBy("user_id").agg(
          max(struct(col("ts"), col("event_id"), col("s"), col("m")))
            .as("last"),
          sum(when(col("delta") > 0, col("delta")).otherwise(0L))
            .as("credits"),
          sum(when(col("delta") < 0, -col("delta")).otherwise(0L))
            .as("debits"))
        .select(col("user_id"),
          expr("last.s - least(0L, last.m)").as("final_balance"),
          col("credits"), col("debits"),
          expr("-least(0L, last.m)").as("burned_debits"))
    }),

    // Cross-distribution quantile matching.
    //
    // q267 maps every per-type value onto the GLOBAL distribution's value
    // at the same quantile (rank transform → global inverse-CDF lookup) —
    // the distribution-alignment step used to make quality scores
    // comparable across heterogeneous sources before mixing. Exact
    // integer semantics: rank r of n_type maps to global position
    // j = (r−1)·n_glob div n_type + 1, and v(j) is the j-th smallest
    // global value.

    // ---- q267: per-type → global quantile matching ---------------------
    // The global inverse CDF is the (cents → position interval)
    // histogram: row covers positions [cum−c+1, cum]. Position lookup
    // runs as a SLAB equi-join (q204's technique): each histogram row
    // replicates to the ⌈width/B⌉ slabs it overlaps (total expansion
    // ≤ H + n_glob/B rows), each target position joins its single
    // slab, and interval containment filters to the UNIQUE match —
    // positions partition into intervals, so no dedup is needed and
    // the join never goes quadratic. The per-type rank window matches
    // q134's per-group rank shape; at corpus scale it swaps for the
    // two-phase distributed rank (q93's machinery) without touching
    // the lookup. The cumulative window runs over the domain-bounded
    // histogram, never the corpus.
    "q267_quantile_match" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_type"), col("event_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val nT = ev.groupBy("event_type").agg(count(lit(1)).as("n_type"))
      val nG = ev.agg(count(lit(1)).as("n_glob"))
      val wT = Window.partitionBy("event_type")
        .orderBy(col("cents"), col("event_id"))
      val ranked = ev.withColumn("r", row_number().over(wT))
        .join(broadcast(nT), "event_type")
        .crossJoin(broadcast(nG))
        .select(col("event_type"), col("cents").as("orig_cents"),
          expr("(CAST(r - 1 AS BIGINT) * n_glob) div n_type + 1").as("j"))
      val wCum = Window.orderBy("gcents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val hist = ev.groupBy(col("cents").as("gcents"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("lo", col("cum") - col("c") + 1)
      val slabs = hist.select(col("gcents"), col("lo"), col("cum"),
        explode(expr(s"sequence(lo div ${B}L, cum div ${B}L)")).as("slab"))
      ranked.withColumn("slab", expr(s"j div ${B}L"))
        .join(slabs, "slab")
        .filter(col("j") >= col("lo") && col("j") <= col("cum"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("orig_cents").as("sum_orig_cents"),
          sum("gcents").as("sum_matched_cents"),
          min("gcents").as("min_matched"),
          max("gcents").as("max_matched"))
    }),

    // ---- q268: Simpson's-paradox trend audit ---------------------------
    // q268 Simpson's-paradox detector: per-slice vs pooled trend
    // direction, integer-exact covariance numerators.
    // Slope sign of cents vs hour-of-day, per event_type and pooled:
    // num = n·Σxy − Σx·Σy (the regression-slope numerator — exact
    // integers, no division). A slice whose sign differs from the
    // pooled sign is the paradox flag: aggregate the corpus once per
    // grouping (two map-side-combined rollups), broadcast the pooled
    // 1-row frame.
    "q268_simpson_audit" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("x"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"))
      def mom(df: DataFrame, keys: Seq[String]) = {
        val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.head)
        g.agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum("y").as("sy"), sum(expr("x * y")).as("sxy"))
          .withColumn("num", expr("n * sxy - sx * sy"))
      }
      val pooled = mom(ev, Nil)
        .select(col("num").as("pooled_num"))
      mom(ev, Seq("event_type"))
        .crossJoin(broadcast(pooled))
        .select(col("event_type"), col("n"), col("num").as("slice_num"),
          col("pooled_num"),
          // sign comparison, NOT a product — slice·pooled overflows
          // long once each numerator passes ~3e9 (n·Σxy grows with n²)
          when((col("num") < 0) =!= (col("pooled_num") < 0) &&
            col("num") =!= 0 && col("pooled_num") =!= 0, 1L)
            .otherwise(0L).as("sign_flip"))
    }),

    // ---- q269: Benford first-digit audit -------------------------------
    // q269 Benford first-digit audit: observed vs log-law first-digit
    // shares — the fraud/synthetic-data screen.
    // First digit via string head of the positive integer cents — no
    // float log anywhere; expected shares are the shared hardcoded
    // ppm table (broadcast 9-row join). chi_ppm is each digit's
    // (obs−exp)²/exp contribution — the screening statistic for
    // "does this value column look organic".
    "q269_benford_audit" -> ((s, d) => {
      val digits = table(s, d, "events")
        .select(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .filter(col("cents") > 0)
        .select(expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)")
          .as("digit"))
      val expect = s
        .createDataFrame(BenfordPpm.map { case (d0, p) => (d0.toLong, p) })
        .toDF("digit", "exp_ppm")
      val n = digits.agg(count(lit(1)).as("n_total"))
      digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(n))
        .join(broadcast(expect), "digit")
        .select(col("digit"), col("n_obs"),
          expr("n_obs * 1000000 div n_total").as("obs_ppm"),
          col("exp_ppm"),
          expr("""(n_obs * 1000000 div n_total - exp_ppm)
                  * (n_obs * 1000000 div n_total - exp_ppm)
                  div exp_ppm""").as("chi_ppm"))
    }),

    // ---- q275: PMI profile (type × hour) -------------------------------
    // q275 pointwise-mutual-information profile between event type
    // and hour-of-day — the feature-interaction screen (are these
    // two columns independent?), in q99's integer micro-nats.
    // One (type, hour) cell rollup plus the two broadcast marginals;
    // pmi_micro = floor(ln(N·n_ij/(n_i·n_j))·1e6) — the same
    // floored-double-log discipline as q99, so the per-cell values
    // are engine-exact integers and contrib sums exactly. Cells with
    // pmi far from 0 flag dependence a feature-crossing (or leakage
    // check) should know about. N·n_ij stays in DOUBLE for the ratio,
    // never in long products.
    "q275_pmi_cells" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("hour"))
      val cells = ev.groupBy("event_type", "hour")
        .agg(count(lit(1)).as("n_ij"))
      val mType = ev.groupBy("event_type").agg(count(lit(1)).as("n_i"))
      val mHour = ev.groupBy("hour").agg(count(lit(1)).as("n_j"))
      val tot = ev.agg(count(lit(1)).as("n_tot"))
      cells
        .join(broadcast(mType), "event_type")
        .join(broadcast(mHour), "hour")
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("hour"), col("n_ij"),
          floor(log(
            (col("n_tot").cast("double") * col("n_ij").cast("double")) /
              (col("n_i").cast("double") * col("n_j").cast("double")))
            * 1e6).cast("long").as("pmi_micro"))
        .withColumn("contrib_micro", col("n_ij") * col("pmi_micro"))
    }),

    // ---- q287: PSI between the first and second half of the window ----
    // q287 Population Stability Index: THE industry drift score
    // (banking/model-monitoring standard), complementing the
    // chi-square drift audit (q226) and KL term drift (q109) with
    // the per-bin (p−q)·ln(p/q) decomposition over a time split.
    // Time split at the midpoint of [min ts, max ts] (two 1-row
    // broadcast scalars). Two stacked features — the global spend
    // decile bin (q230's shared edges, so both halves bin identically)
    // and the event type. Shares are floored ppm per half; the PSI
    // contribution is (p−q)·ln(p'/q') with ln in the q99 floor(·1e6)
    // micro-nat discipline and zero shares clamped to 1 ppm (the
    // standard epsilon, documented as part of the metric). Since p−q
    // and ln(p/q) always share a sign the contribution is
    // non-negative, so truncating div == floor in both engines. Work:
    // two (feature, bin) histogram shuffles of ≤ a few dozen partials
    // each — one corpus pass per feature, any scale.
    "q287_psi_stability" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("ts"), col("event_type"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"),
        max("cents").as("m"))
      val tagged = ev.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
      def psi(binned: DataFrame, feature: String): DataFrame = {
        val g = binned.groupBy("bin")
          .agg(sum(expr("1 - late")).as("n_p"), sum("late").as("n_q"))
        val tot = g.agg(sum("n_p").as("tp"), sum("n_q").as("tq"))
        g.crossJoin(broadcast(tot))
          .select(lit(feature).as("feature"), col("bin"),
            expr("n_p * 1000000 div tp").as("p_ppm"),
            expr("n_q * 1000000 div tq").as("q_ppm"))
          .withColumn("psi_micro", expr(
            """(greatest(p_ppm, 1) - greatest(q_ppm, 1))
               * CAST(floor(ln(CAST(greatest(p_ppm, 1) AS DOUBLE)
                                / greatest(q_ppm, 1)) * 1000000) AS BIGINT)
               div 1000000"""))
      }
      psi(tagged.withColumn("bin",
          expr("CAST(cents div (m div 10 + 1) AS STRING)")), "value_bin")
        .unionByName(psi(
          tagged.withColumn("bin", col("event_type")), "event_type"))
    }),

    // ---- q288: HLL cardinality per event type, audited vs exact -------
    // q288 HyperLogLog distinct counts via the native bounded-state
    // Aggregator (`functions/HllSketch.scala`) with its exact-integer
    // estimator, audited against the exact distinct count.
    // The Aggregator path: 128 one-byte registers per group shipped
    // from each map partition (vs the exact countDistinct's shuffle of
    // the distinct keys themselves — the audit column). The 60-bit
    // input hash is derived portably from md5 IN THE QUERY, so the
    // oracle can rebuild the registers relationally and the pinned
    // integer estimator (HllSketch.scala) matches bit-for-bit.
    // Raw-estimator caveat: no small-range correction, so err_ppm
    // reflects the documented ±1.04/√128 ≈ 9% band, not a defect.
    "q288_hll_distinct" -> ((s, d) => {
      val hll = udaf(new graft.functions.HllSketch())
      table(s, d, "events")
        .select(col("event_type"), col("user_id"),
          expr("""CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15),
               16, 10) AS BIGINT)""").as("h"))
        .groupBy("event_type")
        .agg(hll(col("h")).as("hll_est"),
          countDistinct("user_id").as("n_exact"))
        .withColumn("err_ppm",
          expr("abs(hll_est - n_exact) * 1000000 div n_exact"))
    }),

    // ---- q303: Theil–Sen robust trend per event type -------------------
    // q303 Theil–Sen slope: the median of all pairwise day slopes of
    // each event type's daily revenue — the robust trend that one
    // outlier day cannot move, next to q176's least-squares slope.
    // Day counts bound the pair work (C(days,2) per type), so the
    // "quadratic" stage is constant-sized at ANY corpus scale.
    // Daily revenue series per type (the corpus pass), then ALL day
    // pairs d1<d2 within each type — a self-join on the DAY-DOMAIN
    // frame, C(days,2) rows per type regardless of corpus size. Slope
    // = floor-div((r2−r1)·1e6, d2−d1) with the portable floor form
    // (slopes go negative; div-vs-// would diverge). The median is
    // the ⌈n/2⌉-th smallest by (slope, d1, d2) rank — fully
    // deterministic ties.
    "q303_theil_sen_trend" -> ((s, d) => {
      val daily = table(s, d, "events")
        .groupBy(col("event_type"),
          expr(s"ts div $NsPerDay").as("day"))
        .agg(sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("rev"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("rev").as("r1"))
      val b = daily.select(col("event_type"), col("day").as("d2"),
        col("rev").as("r2"))
      val pairs = a.join(b, Seq("event_type"))
        .filter(col("d1") < col("d2"))
        .withColumn("slope_micro",
          expr(floorDiv("(r2 - r1) * 1000000", "d2 - d1")))
      val w = Window.partitionBy("event_type")
        .orderBy(col("slope_micro"), col("d1"), col("d2"))
      pairs.withColumn("rn", row_number().over(w))
        .withColumn("n_pairs",
          count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("n_pairs").cast("long")
          .as("n_pairs"), col("slope_micro")
          .as("median_slope_micro"))
    }),

    // ---- q306: which segment's distribution drifted? -------------------
    // q306 per-segment KS drift scan: each source's length
    // distribution against its complement — the "which segment
    // drifted" sweep a data-quality monitor runs per ingest batch
    // (q229 computes one global KS; this localizes it).
    // One (source, value) histogram pass; the evaluation grid is
    // |sources| × |distinct values| (20 × ~300 here — domain-bounded,
    // NEVER corpus rows). Each source's inclusive CDF diffs against
    // its complement's (complement = global − source, computed by
    // joining the global per-value cumulative), both in floored ppm;
    // KS = max |diff| with the smallest attaining value as the
    // natural drift threshold. Ties and floors are deterministic in
    // both engines.
    "q306_segment_drift_scan" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("source"), col("n_chars").cast("long").as("v"))
      val byVal = docs.groupBy("source", "v").agg(count(lit(1)).as("n"))
      val srcTot = byVal.groupBy("source").agg(sum("n").as("n_src"))
      val gVal = byVal.groupBy("v").agg(sum("n").as("g_n"))
      val tot = gVal.agg(sum("g_n").as("n_all"))
      val grid = srcTot.crossJoin(gVal.select("v"))
      val wSrc = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wG = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cdf = grid
        .join(byVal, Seq("source", "v"), "left_outer")
        .na.fill(0L, Seq("n"))
        .join(gVal.withColumn("g_cum", sum("g_n").over(wG))
          .select("v", "g_cum"), "v")
        .withColumn("s_cum", sum("n").over(wSrc))
        .crossJoin(broadcast(tot))
        .withColumn("diff", abs(
          expr("s_cum * 1000000 div n_src") -
            expr("(g_cum - s_cum) * 1000000 div (n_all - n_src)")))
      cdf.groupBy("source")
        .agg(max("diff").as("ks_ppm"))
        .join(cdf.select("source", "v", "diff"), "source")
        .filter(col("diff") === col("ks_ppm"))
        .groupBy("source", "ks_ppm")
        .agg(min("v").as("at_value"))
        .select("source", "ks_ppm", "at_value")
    }),

    // ---- q314: per-nation Kendall-tau rank agreement -------------------
    // Two ranking policies over the same customers — wealth (account
    // balance) vs activity (order count) — compared per nation by exact
    // Kendall tau: row_number ranks (no ties by construction), top-50
    // per block so the pair stage is ≤ C(50,2) = 1225 pairs per nation
    // at ANY corpus size; tau_ppm = (C − D)·1e6 div pairs in pure
    // integers. The partitioned window ranks within a 25-value nation
    // key — at real scale the top-50 pre-filter swaps for the q93
    // two-phase distributed rank so no single partition sees a nation's
    // full population; the pair self-join is block-bounded either way.
    "q314_kendall_rank_agreement" -> ((s, d) => {
      val c = table(s, d, "customer").select(
        col("c_custkey").cast("long").as("ck"),
        col("c_nationkey").cast("long").as("nat"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
      val vol = table(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("n_ord"))
      val ranked = c.join(vol, Seq("ck"), "left")
        .na.fill(0L, Seq("n_ord"))
        .withColumn("r1", row_number().over(
          Window.partitionBy("nat").orderBy(col("cents").desc, col("ck"))))
        .filter(col("r1") <= 50)
        .withColumn("r2", row_number().over(
          Window.partitionBy("nat").orderBy(col("n_ord").desc, col("ck"))))
      val a = ranked.select(col("nat"), col("ck").as("ck_a"),
        col("r1").as("r1_a"), col("r2").as("r2_a"))
      val b = ranked.select(col("nat").as("nat_b"), col("ck").as("ck_b"),
        col("r1").as("r1_b"), col("r2").as("r2_b"))
      val pairs = a.join(b,
          col("nat") === col("nat_b") && col("ck_a") < col("ck_b"))
        .select(col("nat"),
          ((col("r1_a") < col("r1_b")) === (col("r2_a") < col("r2_b")))
            .cast("long").as("conc"))
        .groupBy("nat")
        .agg(sum("conc").as("c_pairs"), count(lit(1)).as("n_pairs"))
      ranked.groupBy("nat").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .join(pairs, "nat")
        .select(col("nat"), col("n"), col("c_pairs").as("conc"),
          (col("n_pairs") - col("c_pairs")).as("disc"),
          expr("((2 * c_pairs - n_pairs) * 1000000) div n_pairs")
            .as("tau_ppm"))
    }),

    // Series diagnostics — CUSUM changepoint
    // localization over the daily revenue series and a Zipf-exponent fit
    // over the token frequency spectrum. Both follow the exact-integer
    // disciplines: the CUSUM statistic n·S_k − k·S_n never leaves
    // integers (DECIMAL(38,0)/HUGEINT for the products), and the log-log
    // OLS runs on micro-nat ln values with the q309 moment forms.

    // ---- q315: CUSUM changepoint localization --------------------------
    // Daily revenue series (one corpus pass → ≤ a-few-thousand-row
    // day frame, domain-bounded, so the ordered cumsum window over it
    // is NOT a corpus-sized single partition). The changepoint
    // statistic D_k = n·S_k − k·S_n is the integer-exact form of
    // |mean-shift CUSUM|: argmax_k |D_k| splits the series where the
    // prefix mean diverges most from the global mean. Argmax via the
    // established struct-min recipe (earliest day wins ties); output
    // the split day, |D|, and the pre/post daily-mean cents.
    "q315_cusum_changepoint" -> ((s, d) => {
      val daily = table(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("y"))
      cusumArgmax(daily, Nil, lastDay = false)
        .select(col("day").as("split_day"), col("k").as("k_days"),
          abs(col("d")).as("d_abs"),
          expr("s_k div k").as("pre_mean_cents"),
          expr("(s_n - s_k) div (n - k)").as("post_mean_cents"))
    }),

    // Temporal-shape monitors — burst detection over the
    // hourly event stream and a seasonal (day-of-week) decomposition with
    // anomaly flagging over the daily revenue series. Both reduce the
    // corpus to a domain-bounded time frame (hours / days) in ONE pass,
    // then run their window logic on that frame — the windows are never
    // corpus-sized, so the shapes hold at any event volume.

    // ---- q317: trailing-baseline burst detection -----------------------
    // Events fold to hour buckets (pure integer ts arithmetic on the
    // canonical ns column), then `burstRule` flags the bursts.
    "q317_burst_detection" -> ((s, d) =>
      burstRule(table(s, d, "events")
        .groupBy(expr("ts div 3600000000000").as("hour_id"))
        .agg(count(lit(1)).as("cnt")))),

    // ---- q318: day-of-week decomposition + anomaly days ----------------
    // Daily revenue → centered 7-row moving average (full windows
    // only) → detrended residual → day-of-week effect (Sunday=0
    // convention pinned in both engines) → per-day remainder. Days
    // whose |remainder| exceeds 3× the mean absolute deviation are
    // the anomalies. Every statistic is exact-integer (div at each
    // defined step, identically in both engines); the dow frame is 7
    // rows and the MAD a single scalar, both broadcast.
    "q318_seasonal_anomaly_days" -> ((s, d) => {
      val daily = table(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val det = daily
        .withColumn("ma_sum", sum("cents").over(w))
        .withColumn("ma_n", count(lit(1)).over(w))
        .filter(col("ma_n") === 7)
        .withColumn("ma7", expr("ma_sum div 7"))
        .withColumn("det", col("cents") - col("ma7"))
        .withColumn("dow",
          (dayofweek(to_date(col("day"))) - 1).cast("long"))
      val dowEff = det.groupBy("dow")
        .agg(expr("sum(det) div count(1)").as("dow_eff"))
      val withResid = det.join(broadcast(dowEff), "dow")
        .withColumn("resid", col("det") - col("dow_eff"))
      val mad = withResid
        .agg(expr("sum(abs(resid)) div count(1)").as("mad"))
      withResid.crossJoin(broadcast(mad))
        .filter(abs(col("resid")) > col("mad") * 3)
        .select(col("day"), col("cents"), col("ma7"), col("dow"),
          col("dow_eff"), col("resid"))
    }),

    // ---- q319: category + null-rate drift across a temporal split -----
    // The feed splits at its time midpoint (q309's bounds pattern);
    // each event_type reports counts, corpus-share ppm, share delta,
    // and the props null-rate ppm on each side, plus a new/gone/common
    // status (absence on one side IS the schema drift). One corpus
    // pass folds to the |event_type| frame; the share totals come from
    // an unpartitioned window over that tiny frame, not the corpus.
    "q319_category_drift_audit" -> ((s, d) => {
      val ev = table(s, d, "events")
      val bounds = ev.agg(min("ts").as("t0"), max("ts").as("t1"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("late",
          expr("CAST(ts >= t0 + (t1 - t0) div 2 AS BIGINT)"))
        .groupBy("event_type")
        .agg(
          sum(expr("1 - late")).as("cnt_a"),
          sum("late").as("cnt_b"),
          sum(expr("(1 - late) * CAST(props IS NULL AS BIGINT)"))
            .as("null_a"),
          sum(expr("late * CAST(props IS NULL AS BIGINT)")).as("null_b"))
        .withColumn("share_a_ppm",
          expr("cnt_a * 1000000 div sum(cnt_a) OVER ()"))
        .withColumn("share_b_ppm",
          expr("cnt_b * 1000000 div sum(cnt_b) OVER ()"))
        .select(col("event_type"), col("cnt_a"), col("cnt_b"),
          col("share_a_ppm"), col("share_b_ppm"),
          (col("share_b_ppm") - col("share_a_ppm")).as("delta_ppm"),
          expr("CASE WHEN cnt_a = 0 THEN 0 " +
            "ELSE null_a * 1000000 div cnt_a END").as("null_a_ppm"),
          expr("CASE WHEN cnt_b = 0 THEN 0 " +
            "ELSE null_b * 1000000 div cnt_b END").as("null_b_ppm"),
          expr("CASE WHEN cnt_a = 0 THEN 'new' " +
            "WHEN cnt_b = 0 THEN 'gone' ELSE 'common' END").as("status"))
    }),

    // ---- q329: per-user time-weighted average level --------------------
    // Each event sets the user's level (value cents) until the next
    // event; the final segment extends to the corpus max timestamp —
    // so Σ level·dt computes over a complete partition of the user's
    // observed lifetime. One lead over the user-partitioned window
    // (per-user histories bounded — the corpus-wide contract), the
    // ns-weighted sum in DECIMAL(38,0), ONE division per user at the
    // end, then TakeOrdered top-20 by (twap desc, user). The
    // point-in-time average (q08-style mean of samples) would weight a
    // burst of updates the same as a year-long steady level; this is
    // the monitoring/finance-correct aggregate.
    "q329_user_twap" -> ((s, d) => {
      val mx = table(s, d, "events").agg(max("ts").as("max_ts"))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      table(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
        .withColumn("nxt", lead("ts", 1).over(w))
        .crossJoin(broadcast(mx))
        .withColumn("dt", coalesce(col("nxt"), col("max_ts")) - col("ts"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(cents AS DECIMAL(38,0)) * dt")).as("wsum"),
          sum("dt").as("dts"))
        .filter(col("dts") > 0)
        .select(col("user_id"), col("n_events"),
          expr("CAST(wsum div dts AS BIGINT)").as("twap_cents"))
        .orderBy(col("twap_cents").desc, col("user_id"))
        .limit(20)
    }),

    // ---- q332: lead-lag regression between two daily series ------------
    // x = daily total event count, y = daily purchase revenue cents;
    // for each lag in −7..+7, regress y(day+lag) on x(day) over the
    // joined day frame: slope_micro = (nΣxy−ΣxΣy)·1e6 div (nΣxx−Σx²)
    // with DECIMAL(38,0) moments. The day frame is one corpus fold;
    // the 15-lag grid crossJoins that bounded frame, so the scan costs
    // 15 tiny regressions — the "which series moves first" readout.
    "q332_leadlag_regression" -> ((s, d) => {
      val daily = table(s, d, "events")
        .groupBy(expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("x"),
          sum(expr("""CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END"""))
            .as("y"))
      val lags = s.range(-7, 8).select(col("id").as("lag"))
      daily.select(col("day"), col("x"))
        .crossJoin(broadcast(lags))
        .join(daily.select(col("day").as("dj"), col("y")),
          col("dj") === col("day") + col("lag"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        .select(col("lag"), col("n_days"),
          expr("""CAST(
              (CAST(n_days AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
              div (CAST(n_days AS DECIMAL(38,0)) * sxx
                 - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
            .as("slope_micro"))
    }),

    // ---- q335: M4 downsampling to 100 pixel buckets --------------------
    // bucket = (ts−t0)·100 div span (integer, 0..99); per bucket the
    // M4 tuple (first, last, min, max of the value in cents) — first/
    // last via the exact (ts, event_id) struct order, so the whole
    // query is ONE combinable aggregate over the corpus (map-side
    // partials, no window, no sort): the downsampling shape that
    // preserves every line-rendering extreme pixel-exactly.
    "q335_m4_downsample" -> ((s, d) => {
      val b = table(s, d, "events")
        .agg(min("ts").as("t0"), max("ts").as("t1"))
      table(s, d, "events")
        .select(col("ts"), col("event_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("c"))
        .crossJoin(broadcast(b))
        .withColumn("bucket",
          expr("((ts - t0) * 100) div (t1 - t0 + 1)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("c").as("min_c"), max("c").as("max_c"),
          min(struct(col("ts"), col("event_id"), col("c"))).as("f"),
          max(struct(col("ts"), col("event_id"), col("c"))).as("l"))
        .select(col("bucket"), col("n"), col("min_c"), col("max_c"),
          col("f.c").as("first_c"), col("l.c").as("last_c"))
    }),

    // ---- q344: per-user event-mix chi-square anomalies ------------------
    // Observed (user, type) counts vs expected n_u·c_t/N; zero cells
    // ride the bounded user×type grid (|types| rows per user — the
    // grid is corpus-keyed × a 5-value domain, never quadratic).
    // χ²_micro = Σ (o·N − n_u·c_t)²·1e6 div (n_u·c_t·N) in
    // DECIMAL(38,0) — the exact-integer scaled statistic; top-20
    // most-anomalous users by (χ² desc, user) via TakeOrdered. The
    // "bot detector" shape: users whose mix diverges hardest from the
    // corpus.
    "q344_user_profile_anomaly" -> ((s, d) => {
      val ev = table(s, d, "events")
        .select(col("user_id"), col("event_type"))
      val tot = ev.agg(count(lit(1)).as("nn"))
      val types = ev.groupBy("event_type")
        .agg(count(lit(1)).as("c_t"))
      val userN = ev.groupBy("user_id").agg(count(lit(1)).as("n_u"))
      val obs = ev.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("o"))
      userN.crossJoin(broadcast(types))
        .join(obs, Seq("user_id", "event_type"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n_u"),
          expr("""CAST(
              (CAST(o AS DECIMAL(38,0)) * nn
               - CAST(n_u AS DECIMAL(38,0)) * c_t)
              * (CAST(o AS DECIMAL(38,0)) * nn
                 - CAST(n_u AS DECIMAL(38,0)) * c_t) * 1000000
              div (CAST(n_u AS DECIMAL(38,0)) * c_t * nn) AS BIGINT)""")
            .as("term"))
        .groupBy("user_id")
        .agg(max("n_u").as("n_events"), sum("term").as("chi2_micro"))
        .orderBy(col("chi2_micro").desc, col("user_id"))
        .limit(20)
    }),

    // Robust-statistics reporting — winsorized and
    // trimmed means with EXACT p5/p95 order-statistic fences (the q307
    // inclusive-CDF on the value-frequency frame), and a leave-one-out
    // regression influence scan (each day's effect on the trend slope
    // from ONE global moment pass — the Cook's-distance shape without a
    // per-point refit).

    // ---- q345: winsorized + trimmed order-value means ------------------
    // Fences p5/p95 by the inclusive-CDF rule (min v with cum·20 ≥
    // n·k) on the cents-frequency frame; then one corpus pass computes
    // the raw mean, the winsorized mean (values clamped to the
    // fences), and the trimmed mean (fence-exceeding values dropped) —
    // all in exact micro-cents with one final division each. The
    // robust pair every metrics pipeline wants when a fat tail
    // pollutes the raw mean.
    "q345_robust_means" -> ((s, d) => {
      val v = table(s, d, "orders")
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
          .as("c"))
      val h = v.groupBy("c").agg(count(lit(1)).as("n"))
      val cum = h.withColumn("cum", sum("n").over(
          Window.orderBy("c")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(h.agg(sum("n").as("nn"))))
      val fences = cum
        .agg(min(when(col("cum") * 20 >= col("nn"), col("c"))).as("p5"),
          min(when(col("cum") * 20 >= col("nn") * 19, col("c")))
            .as("p95"))
      // The micro-cent numerators pass sum(c)≈2.3e13 at sf1, so ×1e6
      // overflows BIGINT — DECIMAL(38,0) intermediates (q387 recipe);
      // DuckDB's sum(BIGINT) is already HUGEINT, oracle unchanged.
      // Caught by the full-suite sf1 hash gate (ANSI long overflow;
      // count()-only benches prune these columns).
      v.crossJoin(broadcast(fences))
        .agg(count(lit(1)).as("n_orders"),
          max("p5").as("p5_cents"), max("p95").as("p95_cents"),
          expr("""(CAST(sum(c) AS DECIMAL(38,0)) * 1000000)
              div count(1)""").as("mean_micro"),
          expr("""(CAST(sum(greatest(p5, least(p95, c)))
                AS DECIMAL(38,0)) * 1000000
              div count(1))""").as("winsor_micro"),
          expr("""(CAST(sum(CASE WHEN c >= p5 AND c <= p95 THEN c
                ELSE 0 END) AS DECIMAL(38,0)) * 1000000)
              div sum(CASE WHEN c >= p5 AND c <= p95 THEN 1 ELSE 0 END)
            """).as("trim_micro"),
          sum(expr("CASE WHEN c < p5 OR c > p95 THEN 1 ELSE 0 END"))
            .as("n_trimmed"))
    }),

    // ---- q346: leave-one-out slope influence per day -------------------
    // Daily revenue series (bounded day frame); global OLS moments in
    // DECIMAL(38,0) broadcast to every row; each day's LOO slope uses
    // only the global sums minus its own (x, y) — O(1) per row, no
    // refit. Influence = slope_all − slope_without_day in ppm; top-10
    // days by (|influence| desc, day). The "which single day bent the
    // trend" diagnostic.
    "q346_slope_influence" -> ((s, d) => {
      val daily = table(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("y"))
        .withColumn("x",
          row_number().over(Window.orderBy("day")).cast("long"))
      val m = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      daily.crossJoin(broadcast(m))
        .withColumn("slope_all", expr(
          """CAST((CAST(n AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
             div (CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)"""))
        .withColumn("slope_loo", expr(
          """CAST((CAST(n - 1 AS DECIMAL(38,0)) * (sxy
                 - CAST(x AS DECIMAL(38,0)) * y)
               - CAST(sx - x AS DECIMAL(38,0)) * (sy - y)) * 1000000
             div (CAST(n - 1 AS DECIMAL(38,0)) * (sxx
                 - CAST(x AS DECIMAL(38,0)) * x)
               - CAST(sx - x AS DECIMAL(38,0)) * (sx - x))
             AS BIGINT)"""))
        .select(col("day"), col("y").as("cents"),
          col("slope_all").as("slope_all_ppm"),
          col("slope_loo").as("slope_loo_ppm"),
          (col("slope_all") - col("slope_loo")).as("influence_ppm"))
        .orderBy(abs(col("influence_ppm")).desc, col("day"))
        .limit(10)
    }),

    // Information-theoretic structure tests — a
    // chi-square test of independence on the lang×source contingency
    // grid (is the corpus mix balanced, or does each source push its own
    // languages) and the first-order entropy rate of the event-type
    // process (how predictable is the next user action given the
    // current one — the information-content companion to q280's Markov
    // accuracy).

    // ---- q361: lang × source independence test --------------------------
    // One corpus fold to the bounded contingency grid (every
    // lang×source cell, zeros included via the margins cross join);
    // per cell the exact scaled χ² term (o·N − r·c)²·1e6 div (r·c·N)
    // in DECIMAL(38,0) and the signed residual ppm (o·N − r·c)·1e6
    // div (r·c). Output: cells with their terms — the drill-down a
    // mix dashboard needs, not just the scalar statistic.
    "q361_lang_source_independence" -> ((s, d) => {
      val docs = table(s, d, "documents").select("lang", "source")
      val tot = docs.agg(count(lit(1)).as("nn"))
      val rl = docs.groupBy("lang").agg(count(lit(1)).as("r"))
      val cs = docs.groupBy("source").agg(count(lit(1)).as("c"))
      val obs = docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("o"))
      rl.crossJoin(cs)
        .join(obs, Seq("lang", "source"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("o"), col("r"), col("c"),
          expr("""CAST(
              (CAST(o AS DECIMAL(38,0)) * nn
               - CAST(r AS DECIMAL(38,0)) * c)
              * (CAST(o AS DECIMAL(38,0)) * nn
                 - CAST(r AS DECIMAL(38,0)) * c) * 1000000
              div (CAST(r AS DECIMAL(38,0)) * c * nn) AS BIGINT)""")
            .as("chi2_term_micro"),
          expr("""CAST((CAST(o AS DECIMAL(38,0)) * nn
               - CAST(r AS DECIMAL(38,0)) * c) * 1000000
              div (CAST(r AS DECIMAL(38,0)) * c) AS BIGINT)""")
            .as("residual_ppm"))
    }),

    // ---- q366: Wald–Wolfowitz runs test on daily revenue ----------------
    // Daily cents vs the exact median (inclusive-CDF); the run count
    // is 1 + Σ[sign ≠ previous sign] over the bounded day frame;
    // expected runs under randomness = 2·n1·n2/n + 1 in micro. A
    // large deficit means the series clusters (trends/regimes); the
    // spec pins the recompute and the sign partition.
    "q366_runs_test" -> ((s, d) => {
      val daily = table(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
      val h = daily.groupBy("cents").agg(count(lit(1)).as("c"))
      val med = h.withColumn("cum", sum("c").over(
          Window.orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(h.agg(sum("c").as("n"))))
        .agg(min(when(col("cum") * 2 >= col("n"), col("cents")))
          .as("median"))
      val signed = daily.crossJoin(broadcast(med))
        .withColumn("sgn", (col("cents") > col("median")).cast("long"))
        .withColumn("chg", when(
          lag("sgn", 1).over(Window.orderBy("day")).isNull ||
            lag("sgn", 1).over(Window.orderBy("day")) =!= col("sgn"),
          1L).otherwise(0L))
      signed.agg(
          count(lit(1)).as("n_days"),
          sum("sgn").as("n_above"),
          (count(lit(1)) - sum("sgn")).as("n_below"),
          sum("chg").as("runs"),
          max("median").as("median_cents"))
        .select(col("n_days"), col("n_above"), col("n_below"),
          col("runs"),
          expr("""2 * n_above * n_below * 1000000 div n_days
              + 1000000""").as("expected_runs_micro"),
          expr("""runs * 1000000 -
              (2 * n_above * n_below * 1000000 div n_days + 1000000)""")
            .as("deficit_micro"),
          col("median_cents"))
    }),

    // ---- q176: per-group trend slope, integer-exact ---------------------
    // Least-squares slope of daily revenue per event type — the drift /
    // trend monitor over any keyed daily series. Emitted as the exact
    // integer numerator and denominator (n·Σxy − Σx·Σy, n·Σx² − (Σx)²)
    // rather than a float slope: sums of integer cents and epoch-days
    // are order-independent and engine-exact, so the driver hash-match
    // proves the regression itself, not a rounding of it. Two shuffles
    // (day rollup, then type rollup), both map-side combined; every
    // magnitude is bounded by date-range·cents, well inside BIGINT.
    "q176_trend_slope" -> ((s, d) => {
      val daily = table(s, d, "events")
        .select(col("event_type"),
          expr("ts div 86400000000000").as("day"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("y"))
      daily.groupBy("event_type").agg(
          count(lit(1)).as("n_days"),
          sum(expr("day * y")).as("sxy"),
          sum("day").as("sx"),
          sum("y").as("sy"),
          sum(expr("day * day")).as("sxx"))
        .select(col("event_type"), col("n_days"),
          expr("n_days * sxy - sx * sy").as("slope_num"),
          expr("n_days * sxx - sx * sx").as("slope_den"))
    }),

    // ---- q181: exact median via value-domain histogram -----------------
    // Exact (lower) median per group WITHOUT sorting the corpus: one
    // map-side-combined shuffle builds the (group, value) → count
    // histogram, then the running sum and the median pick run over
    // frames bounded by |value domain| (≤50 quantities here), not row
    // count. The standard exact-order-statistic move when the domain
    // is small — at 100 TB the per-group window never sees more rows
    // than distinct values.
    "q181_exact_median" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("q")
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(wAll))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("l_returnflag")
        .agg(min("q").as("median_lo"), min("n").as("n_rows"))
    }),

    // Demand-shape diagnostics — the month-of-year
    // seasonal index per brand (merchandising's buy-plan input) and the
    // index-of-dispersion test on per-customer order counts (is demand
    // Poisson, or does it cluster — the assumption check behind every
    // Poisson-based capacity model).

    // ---- q375: month-of-year seasonal index per brand --------------------
    // Quantity share of each calendar month within the brand vs the
    // uniform 1/12 in ppm: index_ppm = share_ppm·12 (1e6 = flat). One
    // fact fold to the 25×12 frame; window shares over that frame.
    "q375_brand_seasonal_index" -> ((s, d) => {
      table(s, d, "lineitem")
        .join(table(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"),
          month(expr("CAST(l_shipdate AS DATE)")).cast("long").as("moy"))
        .agg(sum(expr("CAST(floor(l_quantity) AS BIGINT)")).as("qty"))
        .withColumn("brand_qty",
          expr("sum(qty) OVER (PARTITION BY brand)"))
        .select(col("brand"), col("moy"), col("qty"),
          expr("qty * 1000000 div brand_qty").as("share_ppm"),
          expr("qty * 12000000 div brand_qty").as("index_ppm"))
    }),

    // ---- q376: index-of-dispersion (Poisson) test -------------------------
    // Per-customer order counts; dispersion = sample variance over
    // mean in ppm (DECIMAL moments, one exact division at the end).
    // 1e6 = Poisson; materially above = clustered demand (burstiness),
    // below = regular. One row out with the verdict string.
    "q376_dispersion_test" -> ((s, d) => {
      val counts = table(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(count(lit(1)).as("k"))
      counts.agg(count(lit(1)).as("n"), sum("k").as("sk"),
          sum(expr("CAST(k AS DECIMAL(38,0)) * k")).as("skk"))
        .select(col("n"), col("sk"),
          expr("sk * 1000000 div n").as("mean_micro"),
          expr("""CAST(
              (CAST(n AS DECIMAL(38,0)) * skk
               - CAST(sk AS DECIMAL(38,0)) * sk) * 1000000
              div (CAST(n AS DECIMAL(38,0)) * (n - 1) * sk div n)
              AS BIGINT)""").as("dispersion_ppm"))
        .withColumn("verdict", expr(
          """CASE WHEN dispersion_ppm > 1100000 THEN 'overdispersed'
                  WHEN dispersion_ppm < 900000 THEN 'underdispersed'
                  ELSE 'poisson_like' END"""))
    }),

    // ---- q377: per-nation monthly revenue trend slope --------------------
    // Month index x (epoch-months), y = nation-month revenue cents;
    // grouped OLS slope_micro per nation (DECIMAL moments) — cents
    // per month, exactly. Ranked output tells which markets grow.
    "q377_nation_trend_slopes" -> ((s, d) => {
      val nm = table(s, d, "orders")
        .join(table(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nat"),
          expr("""datediff(CAST(o_orderdate AS DATE),
              DATE '1970-01-01') div 30""").as("x"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
          .as("y"))
      nm.groupBy("nat")
        .agg(count(lit(1)).as("n_months"), sum("x").as("sx"),
          sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        .filter(col("n_months") >= 2)
        .select(col("nat"), col("n_months"),
          expr("""CAST(
              (CAST(n_months AS DECIMAL(38,0)) * sxy
               - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
              div (CAST(n_months AS DECIMAL(38,0)) * sxx
                 - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)""")
            .as("slope_micro"))
    }),

    // ---- q384: empirical copula density grid ------------------------------
    // Per customer: tenure days (first→last order) and total spend;
    // both axes decile-scored by the exact inclusive-CDF cuts; the
    // 10×10 cell counts against the n/100 independence expectation in
    // ppm (1e6 = independent). Diagonal mass = positive rank
    // dependence. Distribution-free, exact integers throughout.
    "q384_copula_grid" -> ((s, d) => {
      val cust = table(s, d, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(
          (max(expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"))
            - min(expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")))
            .cast("long").as("tenure"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)"))
            .as("spend"))
      def cuts(colName: String, tag: String): DataFrame = {
        val h = cust.groupBy(colName).agg(count(lit(1)).as("c"))
          .withColumnRenamed(colName, "v")
        h.withColumn("cum", sum("c").over(Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(h.agg(sum("c").as("n"))))
          .crossJoin(broadcast(
            cust.sparkSession.range(1, 10).select(col("id").as("j"))))
          .filter(col("cum") * 10 >= col("n") * col("j"))
          .groupBy("j").agg(min("v").as("thr"))
          .agg(expr("sort_array(collect_list(struct(j, thr)))").as("t"))
          .select(expr("transform(t, x -> x.thr)").as(s"${tag}_cuts"))
      }
      val scored = cust
        .crossJoin(broadcast(cuts("tenure", "t")))
        .crossJoin(broadcast(cuts("spend", "s")))
        .select(
          expr("1 + size(filter(t_cuts, c -> tenure >= c))").as("t_dec"),
          expr("1 + size(filter(s_cuts, c -> spend >= c))").as("s_dec"))
      val tot = cust.agg(count(lit(1)).as("n_cust"))
      scored.groupBy("t_dec", "s_dec").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("t_dec").cast("long").as("tenure_decile"),
          col("s_dec").cast("long").as("spend_decile"), col("n"),
          expr("n * 100 * 1000000 div n_cust").as("density_ppm"))
    }))

  private val benfordSql = BenfordPpm
    .map { case (d0, p) => s"SELECT $d0 AS digit, ${p} AS exp_ppm" }
    .mkString(" UNION ALL ")

  /** DuckDB CTEs that rebuild q288's 128 HLL registers per event type
    * from the md5-derived 60-bit user hash and apply the pinned integer
    * estimator; the last, `est`, holds (event_type, hll_est). q288's
    * oracle audits it against the exact count, q297's returns it. */
  val hllEstimateCtes: String =
    """h AS (
           SELECT event_type, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS h
           FROM events),
         b AS (
           SELECT event_type, h // 9007199254740992 AS bucket,
                  h % 9007199254740992 AS rest
           FROM h),
         r AS (
           SELECT event_type, bucket,
             CASE WHEN rest = 0 THEN 54
                  ELSE 54 - length(format('{:b}', rest)) END AS rho
           FROM b),
         reg AS (SELECT event_type, bucket, max(rho) AS rr
                 FROM r GROUP BY 1, 2),
         grid AS (
           SELECT g.event_type, t.bucket
           FROM (SELECT DISTINCT event_type FROM h) g
           CROSS JOIN (SELECT unnest(range(0, 128)) AS bucket) t),
         full_reg AS (
           SELECT grid.event_type, coalesce(reg.rr, 0) AS rr
           FROM grid LEFT JOIN reg
             ON grid.event_type = reg.event_type
             AND grid.bucket = reg.bucket),
         s AS (
           SELECT event_type,
             sum(CAST(1 AS BIGINT) << (48 - least(rr, 48))) AS sv
           FROM full_reg GROUP BY 1),
         est AS (
           SELECT event_type,
             CAST(CAST(715275 AS HUGEINT)
                  * (4611686018427387904 // sv) // 1000000 AS BIGINT)
               AS hll_est
           FROM s)"""

  val oracle: Map[String, String] = Map(
    "q192_gap_fill" ->
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         daily AS (SELECT user_id, day, sum(cents) AS day_cents
                   FROM ev GROUP BY user_id, day),
         span AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day
                  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
                        FROM daily GROUP BY user_id)),
         j AS (SELECT s.user_id, s.day, d.day_cents
               FROM span s LEFT JOIN daily d
                 ON d.user_id = s.user_id AND d.day = s.day)
         SELECT user_id, day,
                CAST(last_value(day_cents IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS filled_cents,
                day_cents IS NULL AS is_gap
         FROM j""",
    "q203_winsorized_stats" ->
      """WITH v AS (
           SELECT c_nationkey AS grp,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders JOIN customer ON o_custkey = c_custkey),
         rk AS (
           SELECT grp, cents,
                  row_number() OVER (PARTITION BY grp ORDER BY cents)
                    AS rn,
                  count(*) OVER (PARTITION BY grp) AS n
           FROM v),
         bounds AS (
           SELECT grp,
                  max(CASE WHEN rn = (5 * (n - 1)) // 100 + 1
                           THEN cents END) AS lo,
                  max(CASE WHEN rn = (95 * (n - 1)) // 100 + 1
                           THEN cents END) AS hi
           FROM rk GROUP BY grp)
         SELECT r.grp, CAST(count(*) AS BIGINT) AS n,
                CAST(min(b.lo) AS BIGINT) AS lo_cents,
                CAST(min(b.hi) AS BIGINT) AS hi_cents,
                CAST(sum(CASE WHEN cents < b.lo THEN b.lo
                              WHEN cents > b.hi THEN b.hi
                              ELSE cents END) AS BIGINT)
                  AS winsorized_sum_cents,
                CAST(sum(CASE WHEN cents < b.lo OR cents > b.hi
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
         FROM rk r JOIN bounds b ON r.grp = b.grp
         GROUP BY r.grp""",
    "q212_mad_outliers" ->
      """WITH banded AS (
           SELECT source, n_chars // 10 AS band FROM documents),
         hist AS (
           SELECT source, band, count(*) AS cnt
           FROM banded GROUP BY 1, 2),
         n AS (SELECT source, sum(cnt) AS n FROM hist GROUP BY 1),
         med AS (
           SELECT source, min(band) AS med_band
           FROM (SELECT h.source, h.band,
                        sum(h.cnt) OVER (PARTITION BY h.source
                                         ORDER BY h.band
                                         ROWS UNBOUNDED PRECEDING) AS run,
                        n.n
                 FROM hist h JOIN n ON n.source = h.source)
           WHERE run >= (n + 1) // 2
           GROUP BY source),
         dev AS (
           SELECT b.source, abs(b.band - m.med_band) AS dev, m.med_band
           FROM banded b JOIN med m ON m.source = b.source),
         dhist AS (
           SELECT source, dev, count(*) AS cnt FROM dev GROUP BY 1, 2),
         mad AS (
           SELECT source, min(dev) AS mad_band
           FROM (SELECT h.source, h.dev,
                        sum(h.cnt) OVER (PARTITION BY h.source
                                         ORDER BY h.dev
                                         ROWS UNBOUNDED PRECEDING) AS run,
                        n.n
                 FROM dhist h JOIN n ON n.source = h.source)
           WHERE run >= (n + 1) // 2
           GROUP BY source)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(min(d.med_band) AS BIGINT) AS med_band,
                CAST(min(m.mad_band) AS BIGINT) AS mad_band,
                CAST(sum(CASE WHEN d.dev > m.mad_band * 3 THEN 1 ELSE 0
                         END) AS BIGINT) AS n_outliers
         FROM dev d JOIN mad m ON m.source = d.source
         GROUP BY d.source""",
    "q220_mg_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
                    w -> w <> '')) AS token
           FROM documents),
         tot AS (SELECT count(*) AS n_total FROM toks)
         SELECT token, CAST(count(*) AS BIGINT) AS cnt,
                (SELECT n_total FROM tot) AS n_total
         FROM toks GROUP BY token
         HAVING count(*) * 200 > (SELECT n_total FROM tot)""",
    "q226_drift_audit" ->
      """WITH ev AS (
           SELECT epoch_ns(ts) // 1000000000 AS sec,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         mx AS (SELECT max(cents) AS m FROM ev),
         binned AS (
           SELECT cents // (m // 10 + 1) AS bin, sec FROM ev, mx),
         a AS (SELECT bin, count(*) AS n_a FROM binned
               WHERE sec < 1705363200 GROUP BY 1),
         b AS (SELECT bin, count(*) AS n_b FROM binned
               WHERE sec >= 1705363200 GROUP BY 1),
         tots AS (
           SELECT count(*) FILTER (WHERE sec < 1705363200) AS tot_a,
                  count(*) FILTER (WHERE sec >= 1705363200) AS tot_b
           FROM binned),
         shares AS (
           SELECT r.bin, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
                  coalesce(n_a, 0) * 1000000 // tot_a AS p_ppm,
                  coalesce(n_b, 0) * 1000000 // tot_b AS q_ppm
           FROM (SELECT unnest(range(10)) AS bin) r
           LEFT JOIN a ON a.bin = r.bin
           LEFT JOIN b ON b.bin = r.bin, tots)
         SELECT CAST(bin AS BIGINT) AS bin, CAST(n_a AS BIGINT) AS n_a,
                CAST(n_b AS BIGINT) AS n_b,
                CAST(p_ppm AS BIGINT) AS p_ppm,
                CAST(q_ppm AS BIGINT) AS q_ppm,
                CAST((q_ppm - p_ppm) * (q_ppm - p_ppm)
                     // greatest(p_ppm, 1) AS BIGINT) AS chi2_contrib
         FROM shares""",
    "q232_percentile_rank" ->
      """WITH ev AS (
           SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         hist AS (SELECT cents, count(*) AS n_c FROM ev GROUP BY 1),
         cum AS (
           SELECT cents,
                  coalesce(sum(n_c) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cum_below
           FROM hist),
         tot AS (SELECT count(*) AS n FROM ev)
         SELECT event_id, cents,
                CAST(cum_below * 1000000 // n AS BIGINT) AS pct_ppm
         FROM ev JOIN cum USING (cents), tot""",
    "q233_filter_kappa" ->
      """WITH flags AS (
           SELECT CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS a,
                  CASE WHEN length(text) - length(replace(text, ' ', ''))
                       + 1 >= 55 THEN 1 ELSE 0 END AS b
           FROM documents),
         c AS (
           SELECT count(*) AS n, sum(a * b) AS n11,
                  sum(a * (1 - b)) AS n10, sum((1 - a) * b) AS n01,
                  sum((1 - a) * (1 - b)) AS n00
           FROM flags),
         p AS (
           SELECT *, (n11 + n00) * 1000000 // n AS po_ppm,
                  ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)) * 1000000 // (n * n)
                    AS pe_ppm
           FROM c)
         SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n11,
                CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
                CAST(n00 AS BIGINT) AS n00,
                CAST(po_ppm AS BIGINT) AS po_ppm,
                CAST(pe_ppm AS BIGINT) AS pe_ppm,
                CAST((po_ppm - pe_ppm) * 1000000
                     // (1000000 - pe_ppm) AS BIGINT) AS kappa_ppm
         FROM p""",
    "q234_poisson_bootstrap" ->
      """WITH ev AS (
           SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         reps AS (
           SELECT e.event_id, e.cents, r.rep,
                  CAST(('0x' || substr(md5(CAST(e.event_id * 20 + r.rep
                    AS VARCHAR)), 1, 13)) AS BIGINT) % 1000000 AS u
           FROM ev e, (SELECT unnest(range(20)) AS rep) r),
         w AS (
           SELECT rep, cents,
                  CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                       WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                       WHEN u < 996340 THEN 4 ELSE 5 END AS w
           FROM reps),
         m AS (
           SELECT rep, sum(w * cents) // sum(w) AS mean_b
           FROM w GROUP BY 1),
         center AS (SELECT sum(mean_b) // count(*) AS boot_mean FROM m),
         base AS (
           SELECT count(*) AS n, sum(cents) // count(*) AS mean_cents
           FROM ev)
         SELECT CAST(count(*) AS BIGINT) AS n_reps,
                CAST(min(boot_mean) AS BIGINT) AS boot_mean,
                CAST(sum((mean_b - boot_mean) * (mean_b - boot_mean))
                     // count(*) AS BIGINT) AS boot_var,
                CAST(min(mean_b) AS BIGINT) AS rep_min,
                CAST(max(mean_b) AS BIGINT) AS rep_max,
                CAST(min(n) AS BIGINT) AS n,
                CAST(min(mean_cents) AS BIGINT) AS mean_cents
         FROM m, center, base""",
    "q245_time_weighted_avg" ->
      """WITH ev AS (
           SELECT user_id, event_id,
                  epoch_ns(ts) // 1000000000 AS sec,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         d AS (
           SELECT user_id,
                  coalesce(lead(sec, 1) OVER (PARTITION BY user_id
                    ORDER BY sec, event_id), 1706745600) - sec AS dt,
                  cents
           FROM ev)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(dt) AS BIGINT) AS held_sec,
                CAST(sum(cents * dt) // sum(dt) AS BIGINT) AS twa_cents
         FROM d GROUP BY 1""",
    "q250_cusum_changepoint" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT event_type, count(*) AS n_days,
             CAST(sum(y) AS BIGINT) AS s_tot
           FROM daily GROUP BY 1),
         cum AS (
           SELECT d.event_type, d.day, st.n_days,
             CAST(sum(d.y * st.n_days - st.s_tot) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS c
           FROM daily d JOIN st USING (event_type)),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY abs(c) DESC, day) AS rn
           FROM cum)
         SELECT event_type, day AS change_day, n_days, c AS peak_cusum
         FROM r WHERE rn = 1""",

    "q261_clamped_balance" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
               ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT) END AS delta
           FROM events WHERE event_type IN ('purchase', 'click')),
         cum1 AS (
           SELECT user_id, delta, ts, event_id,
             CAST(sum(delta) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s
           FROM ev),
         cum AS (
           SELECT user_id, delta, s,
             CAST(min(s) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS m,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM cum1)
         SELECT user_id,
           max(CASE WHEN rn = 1 THEN s - least(0, m) END) AS final_balance,
           CAST(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT)
             AS credits,
           CAST(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) AS BIGINT)
             AS debits,
           max(CASE WHEN rn = 1 THEN -least(0, m) END) AS burned_debits
         FROM cum GROUP BY user_id""",
    "q267_quantile_match" ->
      """WITH ev AS (
           SELECT event_type, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           FROM events),
         g AS (SELECT cents AS gcents,
                 row_number() OVER (ORDER BY cents) AS pos
               FROM ev),
         nt AS (SELECT event_type, count(*) AS n_type
                FROM ev GROUP BY 1),
         ng AS (SELECT count(*) AS n_glob FROM ev),
         r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY cents, event_id) AS r
               FROM ev),
         j AS (SELECT r.event_type, r.cents AS orig_cents,
                 ((r.r - 1) * ng.n_glob) // nt.n_type + 1 AS j
               FROM r JOIN nt USING (event_type) CROSS JOIN ng)
         SELECT j.event_type, count(*) AS n,
           CAST(sum(j.orig_cents) AS BIGINT) AS sum_orig_cents,
           CAST(sum(g.gcents) AS BIGINT) AS sum_matched_cents,
           CAST(min(g.gcents) AS BIGINT) AS min_matched,
           CAST(max(g.gcents) AS BIGINT) AS max_matched
         FROM j JOIN g ON g.pos = j.j
         GROUP BY j.event_type""",
    "q268_simpson_audit" ->
      """WITH ev AS (
           SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
           FROM events),
         sl AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
           FROM ev GROUP BY 1),
         pl AS (
           SELECT CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
             AS pooled_num
           FROM ev)
         SELECT event_type, n, n * sxy - sx * sy AS slice_num, pooled_num,
           CAST(CASE WHEN ((n * sxy - sx * sy) < 0) <> (pooled_num < 0)
               AND (n * sxy - sx * sy) <> 0 AND pooled_num <> 0
             THEN 1 ELSE 0 END AS BIGINT) AS sign_flip
         FROM sl CROSS JOIN pl""",

    "q269_benford_audit" ->
      s"""WITH digits AS (
           SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
             AS digit
           FROM (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
                 FROM events)
           WHERE cents > 0),
         n AS (SELECT count(*) AS n_total FROM digits),
         e AS ($benfordSql),
         o AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY 1)
         SELECT o.digit, o.n_obs,
           o.n_obs * 1000000 // n.n_total AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           (o.n_obs * 1000000 // n.n_total - e.exp_ppm)
             * (o.n_obs * 1000000 // n.n_total - e.exp_ppm)
             // e.exp_ppm AS chi_ppm
         FROM o CROSS JOIN n JOIN e ON e.digit = o.digit""",
    "q275_pmi_cells" ->
      """WITH ev AS (
           SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hour
           FROM events),
         cells AS (SELECT event_type, hour, count(*) AS n_ij
                   FROM ev GROUP BY 1, 2),
         mt AS (SELECT event_type, count(*) AS n_i FROM ev GROUP BY 1),
         mh AS (SELECT hour, count(*) AS n_j FROM ev GROUP BY 1),
         tot AS (SELECT count(*) AS n_tot FROM ev)
         SELECT event_type, hour, n_ij,
           CAST(floor(ln((CAST(n_tot AS DOUBLE) * n_ij)
             / (CAST(n_i AS DOUBLE) * n_j)) * 1e6) AS BIGINT) AS pmi_micro,
           n_ij * CAST(floor(ln((CAST(n_tot AS DOUBLE) * n_ij)
             / (CAST(n_i AS DOUBLE) * n_j)) * 1e6) AS BIGINT)
             AS contrib_micro
         FROM cells
         JOIN mt USING (event_type) JOIN mh USING (hour)
         CROSS JOIN tot""",
    "q287_psi_stability" ->
      """WITH ev AS (
           SELECT epoch_ns(ts) AS ts, event_type,
                  CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         bounds AS (SELECT min(ts) AS t0, max(ts) AS t1,
                           max(cents) AS m FROM ev),
         tagged AS (
           SELECT CASE WHEN ts >= t0 + (t1 - t0) // 2 THEN 1 ELSE 0 END
                    AS late,
                  CAST(cents // (m // 10 + 1) AS VARCHAR) AS vbin,
                  event_type
           FROM ev, bounds),
         stacked AS (
           SELECT 'value_bin' AS feature, vbin AS bin, late FROM tagged
           UNION ALL
           SELECT 'event_type', event_type, late FROM tagged),
         g AS (
           SELECT feature, bin, sum(1 - late) AS n_p, sum(late) AS n_q
           FROM stacked GROUP BY 1, 2),
         tot AS (
           SELECT feature, sum(n_p) AS tp, sum(n_q) AS tq
           FROM g GROUP BY 1)
         SELECT g.feature, g.bin,
           CAST(n_p * 1000000 // tp AS BIGINT) AS p_ppm,
           CAST(n_q * 1000000 // tq AS BIGINT) AS q_ppm,
           CAST((greatest(n_p * 1000000 // tp, 1)
                 - greatest(n_q * 1000000 // tq, 1))
                * CAST(floor(ln(CAST(greatest(n_p * 1000000 // tp, 1)
                                  AS DOUBLE)
                                / greatest(n_q * 1000000 // tq, 1))
                             * 1000000) AS BIGINT)
                // 1000000 AS BIGINT) AS psi_micro
         FROM g JOIN tot ON g.feature = tot.feature""",

    "q288_hll_distinct" ->
      s"""WITH $hllEstimateCtes,
         exact AS (
           SELECT event_type, count(DISTINCT user_id) AS n_exact
           FROM h GROUP BY 1)
         SELECT e.event_type, e.hll_est,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(abs(e.hll_est - x.n_exact) * 1000000 // x.n_exact
             AS BIGINT) AS err_ppm
         FROM est e JOIN exact x ON e.event_type = x.event_type""",

    "q303_theil_sen_trend" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                  sum(CAST(floor(value * 100) AS BIGINT)) AS rev
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT a.event_type, a.day AS d1, b.day AS d2,
             ((b.rev - a.rev) * 1000000
              - ((((b.rev - a.rev) * 1000000) % (b.day - a.day))
                 + (b.day - a.day)) % (b.day - a.day))
               // (b.day - a.day) AS slope_micro
           FROM daily a JOIN daily b
             ON a.event_type = b.event_type AND a.day < b.day),
         ranked AS (
           SELECT event_type, slope_micro,
             row_number() OVER (PARTITION BY event_type
               ORDER BY slope_micro, d1, d2) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_pairs
           FROM pairs)
         SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(slope_micro AS BIGINT) AS median_slope_micro
         FROM ranked WHERE rn = (n_pairs + 1) // 2""",
    "q306_segment_drift_scan" ->
      """WITH d AS (
           SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
         bv AS (SELECT source, v, count(*) AS n FROM d GROUP BY 1, 2),
         st AS (SELECT source, sum(n) AS n_src FROM bv GROUP BY 1),
         gv AS (SELECT v, sum(n) AS g_n FROM bv GROUP BY 1),
         tot AS (SELECT sum(g_n) AS n_all FROM gv),
         gc AS (SELECT v, sum(g_n) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS g_cum FROM gv),
         grid AS (SELECT st.source, st.n_src, gv.v
                  FROM st CROSS JOIN gv),
         cdf AS (
           SELECT g.source, g.v,
             abs(sum(coalesce(bv.n, 0)) OVER (PARTITION BY g.source
                   ORDER BY g.v ROWS UNBOUNDED PRECEDING)
                 * 1000000 // g.n_src
               - (gc.g_cum
                  - sum(coalesce(bv.n, 0)) OVER (PARTITION BY g.source
                      ORDER BY g.v ROWS UNBOUNDED PRECEDING))
                 * 1000000 // (tot.n_all - g.n_src)) AS diff
           FROM grid g
           LEFT JOIN bv ON g.source = bv.source AND g.v = bv.v
           JOIN gc ON g.v = gc.v
           CROSS JOIN tot),
         mx AS (SELECT source, max(diff) AS ks_ppm
                FROM cdf GROUP BY 1)
         SELECT m.source, CAST(m.ks_ppm AS BIGINT) AS ks_ppm,
           CAST(min(c.v) AS BIGINT) AS at_value
         FROM mx m JOIN cdf c
           ON m.source = c.source AND c.diff = m.ks_ppm
         GROUP BY m.source, m.ks_ppm""",

    "q314_kendall_rank_agreement" ->
      """WITH c AS (
           SELECT CAST(c_custkey AS BIGINT) AS ck,
             CAST(c_nationkey AS BIGINT) AS nat,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
         v AS (SELECT o_custkey AS ck, count(*) AS n_ord
               FROM orders GROUP BY 1),
         j AS (SELECT c.ck, c.nat, c.cents, coalesce(v.n_ord, 0) AS n_ord
               FROM c LEFT JOIN v ON c.ck = v.ck),
         r1 AS (SELECT ck, nat, n_ord,
                  row_number() OVER (PARTITION BY nat
                    ORDER BY cents DESC, ck) AS r1
                FROM j),
         top AS (SELECT * FROM r1 WHERE r1 <= 50),
         rk AS (SELECT ck, nat, r1,
                  row_number() OVER (PARTITION BY nat
                    ORDER BY n_ord DESC, ck) AS r2
                FROM top),
         p AS (
           SELECT a.nat,
             CASE WHEN (a.r1 < b.r1) = (a.r2 < b.r2) THEN 1 ELSE 0 END
               AS conc
           FROM rk a JOIN rk b ON a.nat = b.nat AND a.ck < b.ck),
         agg AS (SELECT nat, sum(conc) AS c_pairs, count(*) AS n_pairs
                 FROM p GROUP BY 1),
         nn AS (SELECT nat, count(*) AS n FROM rk GROUP BY 1)
         SELECT nn.nat, CAST(nn.n AS BIGINT) AS n,
           CAST(agg.c_pairs AS BIGINT) AS conc,
           CAST(agg.n_pairs - agg.c_pairs AS BIGINT) AS disc,
           CAST(((2 * agg.c_pairs - agg.n_pairs) * 1000000) // agg.n_pairs
             AS BIGINT) AS tau_ppm
         FROM nn JOIN agg ON nn.nat = agg.nat
         WHERE nn.n >= 2""",
    "q315_cusum_changepoint" ->
      """WITH daily AS (
           SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         cum AS (
           SELECT day,
             row_number() OVER (ORDER BY day) AS k,
             sum(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k
           FROM daily),
         tot AS (SELECT count(*) AS n, sum(cents) AS s_n FROM daily),
         scored AS (
           SELECT day, k, s_k, n, s_n,
             CAST(abs(CAST(n AS HUGEINT) * s_k
               - CAST(k AS HUGEINT) * s_n) AS BIGINT) AS d_abs
           FROM cum, tot WHERE k < n),
         best AS (
           SELECT *, row_number() OVER (ORDER BY d_abs DESC, day) AS rn
           FROM scored)
         SELECT day AS split_day, CAST(k AS BIGINT) AS k_days, d_abs,
           CAST(s_k // k AS BIGINT) AS pre_mean_cents,
           CAST((s_n - s_k) // (n - k) AS BIGINT) AS post_mean_cents
         FROM best WHERE rn = 1""",
    "q317_burst_detection" ->
      """WITH hourly AS (
           SELECT epoch_ns(ts) // 3600000000000 AS hour_id,
             count(*) AS cnt
           FROM events GROUP BY 1),
         trail AS (
           SELECT hour_id, cnt,
             sum(cnt) OVER (ORDER BY hour_id
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_sum,
             count(*) OVER (ORDER BY hour_id
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_n
           FROM hourly)
         SELECT hour_id, CAST(cnt AS BIGINT) AS cnt,
           CAST(trail_sum AS BIGINT) AS trail_sum,
           CAST((cnt * 24 * 1000000) // trail_sum AS BIGINT) AS ratio_ppm
         FROM trail
         WHERE trail_n = 24 AND cnt * 24 > trail_sum * 2""",

    "q318_seasonal_anomaly_days" ->
      """WITH daily AS (
           SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         ma AS (
           SELECT day, cents,
             sum(cents) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma_sum,
             count(*) OVER (ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma_n
           FROM daily),
         det AS (
           SELECT day, cents, ma_sum // 7 AS ma7,
             cents - ma_sum // 7 AS det,
             CAST(strftime(CAST(day AS DATE), '%w') AS BIGINT) AS dow
           FROM ma WHERE ma_n = 7),
         eff AS (
           SELECT dow, sum(det) // count(*) AS dow_eff
           FROM det GROUP BY 1),
         resid AS (
           SELECT det.day, det.cents, det.ma7, det.dow, eff.dow_eff,
             det.det - eff.dow_eff AS resid
           FROM det JOIN eff ON det.dow = eff.dow),
         mad AS (SELECT sum(abs(resid)) // count(*) AS mad FROM resid)
         SELECT day, CAST(cents AS BIGINT) AS cents,
           CAST(ma7 AS BIGINT) AS ma7, dow,
           CAST(dow_eff AS BIGINT) AS dow_eff,
           CAST(resid AS BIGINT) AS resid
         FROM resid, mad
         WHERE abs(resid) > mad * 3""",
    "q319_category_drift_audit" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         f AS (
           SELECT event_type, props,
             CASE WHEN epoch_ns(ts) >= t0 + (t1 - t0) // 2
               THEN 1 ELSE 0 END AS late
           FROM events, b),
         g AS (
           SELECT event_type,
             sum(1 - late) AS cnt_a, sum(late) AS cnt_b,
             sum((1 - late) * CASE WHEN props IS NULL THEN 1 ELSE 0 END)
               AS null_a,
             sum(late * CASE WHEN props IS NULL THEN 1 ELSE 0 END)
               AS null_b
           FROM f GROUP BY 1),
         sh AS (
           SELECT *,
             cnt_a * 1000000 // sum(cnt_a) OVER () AS share_a_ppm,
             cnt_b * 1000000 // sum(cnt_b) OVER () AS share_b_ppm
           FROM g)
         SELECT event_type, CAST(cnt_a AS BIGINT) AS cnt_a,
           CAST(cnt_b AS BIGINT) AS cnt_b,
           CAST(share_a_ppm AS BIGINT) AS share_a_ppm,
           CAST(share_b_ppm AS BIGINT) AS share_b_ppm,
           CAST(share_b_ppm - share_a_ppm AS BIGINT) AS delta_ppm,
           CAST(CASE WHEN cnt_a = 0 THEN 0
             ELSE null_a * 1000000 // cnt_a END AS BIGINT) AS null_a_ppm,
           CAST(CASE WHEN cnt_b = 0 THEN 0
             ELSE null_b * 1000000 // cnt_b END AS BIGINT) AS null_b_ppm,
           CASE WHEN cnt_a = 0 THEN 'new'
                WHEN cnt_b = 0 THEN 'gone' ELSE 'common' END AS status
         FROM sh""",
    "q329_user_twap" ->
      """WITH mx AS (SELECT max(epoch_ns(ts)) AS max_ts FROM events),
         ev AS (
           SELECT user_id, epoch_ns(ts) AS ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         seg AS (
           SELECT user_id, cents,
             coalesce(lead(ts) OVER (PARTITION BY user_id
               ORDER BY ts, event_id), max_ts) - ts AS dt
           FROM ev, mx),
         agg AS (
           SELECT user_id, count(*) AS n_events,
             sum(CAST(cents AS HUGEINT) * dt) AS wsum,
             sum(dt) AS dts
           FROM seg GROUP BY 1)
         SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(wsum // dts AS BIGINT) AS twap_cents
         FROM agg WHERE dts > 0
         ORDER BY twap_cents DESC, user_id
         LIMIT 20""",

    "q332_leadlag_regression" ->
      """WITH daily AS (
           SELECT epoch_ns(ts) // 86400000000000 AS day,
             count(*) AS x,
             sum(CASE WHEN event_type = 'purchase'
               THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS y
           FROM events GROUP BY 1),
         lags AS (SELECT unnest(range(-7, 8)) AS lag),
         j AS (
           SELECT l.lag, a.x, b.y
           FROM daily a
           CROSS JOIN lags l
           JOIN daily b ON b.day = a.day + l.lag),
         m AS (
           SELECT lag, count(*) AS n_days, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
           FROM j GROUP BY 1)
         SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n_days AS BIGINT) AS n_days,
           CAST((CAST(n_days AS HUGEINT) * sxy
             - CAST(sx AS HUGEINT) * sy) * 1000000
             // (CAST(n_days AS HUGEINT) * sxx
                - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_micro
         FROM m""",
    "q335_m4_downsample" ->
      """WITH b AS (
           SELECT min(epoch_ns(ts)) AS t0, max(epoch_ns(ts)) AS t1
           FROM events),
         x AS (
           SELECT ((epoch_ns(ts) - t0) * 100) // (t1 - t0 + 1)
               AS bucket,
             epoch_ns(ts) AS ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS c
           FROM events, b),
         r AS (
           SELECT *,
             row_number() OVER (PARTITION BY bucket
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY bucket
               ORDER BY ts DESC, event_id DESC) AS rn_d
           FROM x)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(min(c) AS BIGINT) AS min_c,
           CAST(max(c) AS BIGINT) AS max_c,
           CAST(max(CASE WHEN rn_a = 1 THEN c END) AS BIGINT)
             AS first_c,
           CAST(max(CASE WHEN rn_d = 1 THEN c END) AS BIGINT)
             AS last_c
         FROM r GROUP BY bucket""",

    "q344_user_profile_anomaly" ->
      """WITH ev AS (SELECT user_id, event_type FROM events),
         tot AS (SELECT count(*) AS nn FROM ev),
         ty AS (SELECT event_type, count(*) AS c_t FROM ev GROUP BY 1),
         un AS (SELECT user_id, count(*) AS n_u FROM ev GROUP BY 1),
         obs AS (SELECT user_id, event_type, count(*) AS o
                 FROM ev GROUP BY 1, 2),
         grid AS (
           SELECT un.user_id, un.n_u, ty.event_type, ty.c_t,
             coalesce(obs.o, 0) AS o
           FROM un CROSS JOIN ty
           LEFT JOIN obs ON obs.user_id = un.user_id
             AND obs.event_type = ty.event_type),
         terms AS (
           SELECT user_id, n_u,
             (CAST(o AS HUGEINT) * nn - CAST(n_u AS HUGEINT) * c_t)
             * (CAST(o AS HUGEINT) * nn - CAST(n_u AS HUGEINT) * c_t)
             * 1000000
             // (CAST(n_u AS HUGEINT) * c_t * nn) AS term
           FROM grid, tot)
         SELECT user_id, CAST(max(n_u) AS BIGINT) AS n_events,
           CAST(sum(term) AS BIGINT) AS chi2_micro
         FROM terms GROUP BY user_id
         ORDER BY chi2_micro DESC, user_id
         LIMIT 20""",
    "q345_robust_means" ->
      """WITH v AS (
           SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
         h AS (SELECT c, count(*) AS n FROM v GROUP BY 1),
         cum AS (
           SELECT c,
             sum(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
           FROM h),
         nn AS (SELECT sum(n) AS nn FROM h),
         f AS (
           SELECT
             min(CASE WHEN cum * 20 >= nn THEN c END) AS p5,
             min(CASE WHEN cum * 20 >= nn * 19 THEN c END) AS p95
           FROM cum, nn)
         SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(p5) AS BIGINT) AS p5_cents,
           CAST(max(p95) AS BIGINT) AS p95_cents,
           CAST(sum(c) * 1000000 // count(*) AS BIGINT) AS mean_micro,
           CAST(sum(greatest(p5, least(p95, c))) * 1000000 // count(*)
             AS BIGINT) AS winsor_micro,
           CAST(sum(CASE WHEN c >= p5 AND c <= p95 THEN c ELSE 0 END)
             * 1000000
             // sum(CASE WHEN c >= p5 AND c <= p95 THEN 1 ELSE 0 END)
             AS BIGINT) AS trim_micro,
           CAST(sum(CASE WHEN c < p5 OR c > p95 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_trimmed
         FROM v, f""",

    "q346_slope_influence" ->
      """WITH daily AS (
           SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
           FROM orders GROUP BY 1),
         xd AS (
           SELECT day, y,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x
           FROM daily),
         m AS (
           SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
           FROM xd),
         sc AS (
           SELECT day, y,
             CAST((CAST(n AS HUGEINT) * sxy
                 - CAST(sx AS HUGEINT) * sy) * 1000000
               // (CAST(n AS HUGEINT) * sxx
                  - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_all,
             CAST((CAST(n - 1 AS HUGEINT) * (sxy
                   - CAST(x AS HUGEINT) * y)
                 - CAST(sx - x AS HUGEINT) * (sy - y)) * 1000000
               // (CAST(n - 1 AS HUGEINT) * (sxx
                   - CAST(x AS HUGEINT) * x)
                 - CAST(sx - x AS HUGEINT) * (sx - x)) AS BIGINT)
               AS slope_loo
           FROM xd, m)
         SELECT day, CAST(y AS BIGINT) AS cents,
           slope_all AS slope_all_ppm, slope_loo AS slope_loo_ppm,
           CAST(slope_all - slope_loo AS BIGINT) AS influence_ppm
         FROM sc
         ORDER BY abs(slope_all - slope_loo) DESC, day
         LIMIT 10""",
    "q361_lang_source_independence" ->
      """WITH docs AS (SELECT lang, source FROM documents),
         tot AS (SELECT count(*) AS nn FROM docs),
         rl AS (SELECT lang, count(*) AS r FROM docs GROUP BY 1),
         cs AS (SELECT source, count(*) AS c FROM docs GROUP BY 1),
         obs AS (SELECT lang, source, count(*) AS o
                 FROM docs GROUP BY 1, 2),
         grid AS (
           SELECT rl.lang, cs.source, rl.r, cs.c,
             coalesce(obs.o, 0) AS o
           FROM rl CROSS JOIN cs
           LEFT JOIN obs ON obs.lang = rl.lang
             AND obs.source = cs.source)
         SELECT lang, source, CAST(o AS BIGINT) AS o,
           CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
           CAST((CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * c)
             * (CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * c)
             * 1000000
             // (CAST(r AS HUGEINT) * c * nn) AS BIGINT)
             AS chi2_term_micro,
           CAST((CAST(o AS HUGEINT) * nn - CAST(r AS HUGEINT) * c)
             * 1000000 // (CAST(r AS HUGEINT) * c) AS BIGINT)
             AS residual_ppm
         FROM grid, tot""",

    "q366_runs_test" ->
      """WITH daily AS (
           SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         h AS (SELECT cents, count(*) AS c FROM daily GROUP BY 1),
         n AS (SELECT sum(c) AS n FROM h),
         med AS (
           SELECT min(CASE WHEN cum * 2 >= n THEN cents END) AS median
           FROM (SELECT cents, sum(c) OVER (ORDER BY cents
                   ROWS UNBOUNDED PRECEDING) AS cum FROM h), n),
         signed AS (
           SELECT day, cents,
             CASE WHEN cents > median THEN 1 ELSE 0 END AS sgn
           FROM daily, med),
         chg AS (
           SELECT sgn, median,
             CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
                    OR lag(sgn) OVER (ORDER BY day) <> sgn
               THEN 1 ELSE 0 END AS chg
           FROM signed, med),
         agg AS (
           SELECT count(*) AS n_days, sum(sgn) AS n_above,
             count(*) - sum(sgn) AS n_below, sum(chg) AS runs,
             max(median) AS median_cents
           FROM chg)
         SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(n_above AS BIGINT) AS n_above,
           CAST(n_below AS BIGINT) AS n_below,
           CAST(runs AS BIGINT) AS runs,
           CAST(2 * n_above * n_below * 1000000 // n_days + 1000000
             AS BIGINT) AS expected_runs_micro,
           CAST(runs * 1000000
             - (2 * n_above * n_below * 1000000 // n_days + 1000000)
             AS BIGINT) AS deficit_micro,
           CAST(median_cents AS BIGINT) AS median_cents
         FROM agg""",
    "q176_trend_slope" ->
      """WITH daily AS (
           SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
           FROM events GROUP BY 1, 2),
         s AS (
           SELECT event_type,
             count(*) AS n_days,
             CAST(sum(day * y) AS BIGINT) AS sxy,
             CAST(sum(day) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(day * day) AS BIGINT) AS sxx
           FROM daily GROUP BY event_type)
         SELECT event_type, n_days,
           n_days * sxy - sx * sy AS slope_num,
           n_days * sxx - sx * sx AS slope_den
         FROM s""",
    "q181_exact_median" ->
      """WITH c AS (
           SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
             count(*) AS cnt
           FROM lineitem GROUP BY 1, 2),
         cum AS (
           SELECT l_returnflag, q,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS n
           FROM c)
         SELECT l_returnflag, min(q) AS median_lo,
           CAST(min(n) AS BIGINT) AS n_rows
         FROM cum WHERE 2 * cum >= n GROUP BY 1""",
    "q375_brand_seasonal_index" ->
      """WITH g AS (
           SELECT p_brand AS brand,
             CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS moy,
             sum(CAST(floor(l_quantity) AS BIGINT)) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2)
         SELECT brand, moy, CAST(qty AS BIGINT) AS qty,
           CAST(qty * 1000000 // sum(qty) OVER (PARTITION BY brand)
             AS BIGINT) AS share_ppm,
           CAST(qty * 12000000 // sum(qty) OVER (PARTITION BY brand)
             AS BIGINT) AS index_ppm
         FROM g""",

    "q376_dispersion_test" ->
      """WITH counts AS (
           SELECT o_custkey AS ck, count(*) AS k
           FROM orders GROUP BY 1),
         m AS (
           SELECT count(*) AS n, sum(k) AS sk,
             sum(CAST(k AS HUGEINT) * k) AS skk
           FROM counts),
         r AS (
           SELECT CAST(n AS BIGINT) AS n, CAST(sk AS BIGINT) AS sk,
             CAST(sk * 1000000 // n AS BIGINT) AS mean_micro,
             CAST((CAST(n AS HUGEINT) * skk
                 - CAST(sk AS HUGEINT) * sk) * 1000000
               // (CAST(n AS HUGEINT) * (n - 1) * sk // n) AS BIGINT)
               AS dispersion_ppm
           FROM m)
         SELECT n, sk, mean_micro, dispersion_ppm,
           CASE WHEN dispersion_ppm > 1100000 THEN 'overdispersed'
                WHEN dispersion_ppm < 900000 THEN 'underdispersed'
                ELSE 'poisson_like' END AS verdict
         FROM r""",
    "q377_nation_trend_slopes" ->
      """WITH nm AS (
           SELECT CAST(c_nationkey AS BIGINT) AS nat,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 30 AS x,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS y
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         m AS (
           SELECT nat, count(*) AS n_months, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
           FROM nm GROUP BY 1)
         SELECT nat, CAST(n_months AS BIGINT) AS n_months,
           CAST((CAST(n_months AS HUGEINT) * sxy
               - CAST(sx AS HUGEINT) * sy) * 1000000
             // (CAST(n_months AS HUGEINT) * sxx
                - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS slope_micro
         FROM m WHERE n_months >= 2""",

    "q384_copula_grid" ->
      """WITH cust AS (
           SELECT o_custkey AS ck,
             CAST(max(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
               - min(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
               AS BIGINT) AS tenure,
             sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS spend
           FROM orders GROUP BY 1),
         nc AS (SELECT count(*) AS n_cust FROM cust),
         th AS (
           SELECT jj.j, min(c.v) AS thr
           FROM (SELECT tenure AS v,
                   sum(count(*)) OVER (ORDER BY tenure
                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM cust GROUP BY tenure) c,
             nc, (SELECT unnest(range(1, 10)) AS j) jj
           WHERE c.cum * 10 >= nc.n_cust * jj.j
           GROUP BY 1),
         sh AS (
           SELECT jj.j, min(c.v) AS thr
           FROM (SELECT spend AS v,
                   sum(count(*)) OVER (ORDER BY spend
                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM cust GROUP BY spend) c,
             nc, (SELECT unnest(range(1, 10)) AS j) jj
           WHERE c.cum * 10 >= nc.n_cust * jj.j
           GROUP BY 1),
         scored AS (
           SELECT
             1 + (SELECT count(*) FROM th WHERE cust.tenure >= th.thr)
               AS t_dec,
             1 + (SELECT count(*) FROM sh WHERE cust.spend >= sh.thr)
               AS s_dec
           FROM cust),
         g AS (
           SELECT t_dec, s_dec, count(*) AS n
           FROM scored GROUP BY 1, 2)
         SELECT CAST(t_dec AS BIGINT) AS tenure_decile,
           CAST(s_dec AS BIGINT) AS spend_decile,
           CAST(n AS BIGINT) AS n,
           CAST(n * 100 * 1000000 // n_cust AS BIGINT) AS density_ppm
         FROM g, nc""")
}

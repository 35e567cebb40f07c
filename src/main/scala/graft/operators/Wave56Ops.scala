package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-6 wave 56: sequence-pattern detection and survival analysis —
  * the CEP and churn-statistics shapes missing from the behavioral
  * family (funnels q121/q145, journeys q142, transitions q221/q289).
  *
  *   - q300 cart-abandonment CEP: "a view with NO purchase by the same
  *     user within 24 hours" — the MATCH_RECOGNIZE-style negative
  *     pattern with a time bound, expressed as an anti range join.
  *   - q301 Nelson–Aalen cumulative churn hazard: the right-censored
  *     survival estimator over user lifetimes (Kaplan–Meier's product
  *     needs floats; the Nelson–Aalen SUM of d/n is exact in integer
  *     ppm — same statistical content, engine-portable).
  */
object Wave56Ops {

  type Q = (SparkSession, String) => DataFrame

  private val NsPerDay = 86400000000000L

  val queries: Map[String, Q] = Map(
    // ---- q300: negative sequence pattern with a deadline ---------------
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
    }))

  val oracle: Map[String, String] = Map(
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
         FROM h""")
}

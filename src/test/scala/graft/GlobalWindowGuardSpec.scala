package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** A window with no partition spec sorts its whole input in ONE task.
  * Running folds over a global order belong in `graft.operators
  * .OrderedScan`; every other global window in the main sources is on
  * the allowlist below, one entry per site, with the query it serves and
  * why it stays: "bounded: <why>" when its input cannot grow with the
  * corpus, or "corpus-sized: route through the kernel (follow-up)".
  * A site is a `Window` API call, or an `OVER ()` in a SQL string on
  * the Spark side of a file: before an operator module's oracle map,
  * whose DuckDB statements never run on Spark. */
class GlobalWindowGuardSpec extends AnyFunSuite {

  private val bounded = "bounded: "
  private val corpusSized = "corpus-sized: route through the kernel " +
    "(follow-up)"

  /** (file, query or helper def, reason), one entry per site. */
  private val allowed: Seq[(String, String, String)] = Seq(
    ("AnalyticsOps.scala", "q301_nelson_aalen_churn",
      bounded + "last-day histogram, one row per day"),
    ("AnalyticsOps.scala", "q301_nelson_aalen_churn",
      bounded + "last-day histogram, one row per day"),
    ("AnalyticsOps.scala", "q326_rfm_segmentation",
      bounded + "one row per RFM segment, at most 125"),
    ("AnalyticsOps.scala", "q330_abc_pareto_classes", corpusSized),
    ("AnalyticsOps.scala", "q330_abc_pareto_classes", bounded + "3 ABC classes"),
    ("AnalyticsOps.scala", "q330_abc_pareto_classes", bounded + "3 ABC classes"),
    ("AnalyticsOps.scala", "q336_conversion_latency_deciles",
      bounded + "latency histogram, one row per minute"),
    ("AnalyticsOps.scala", "q359_segment_migration",
      bounded + "quintile migration grid, at most 36 cells"),
    ("AnalyticsOps.scala", "q363_session_depth_profile",
      bounded + "10 session-depth buckets"),
    ("AnalyticsOps.scala", "q364_overdue_customers",
      bounded + "9 overdue buckets"),
    ("AnalyticsOps.scala", "q368_nation_benchmark",
      bounded + "25 nations"),
    ("AnalyticsOps.scala", "q368_nation_benchmark",
      bounded + "25 nations"),
    ("AnalyticsOps.scala", "q368_nation_benchmark",
      bounded + "25 nations"),
    ("AnalyticsOps.scala", "q368_nation_benchmark",
      bounded + "25 nations"),
    ("AnalyticsOps.scala", "q382_activity_heatmap",
      bounded + "168 hour-of-week cells"),
    ("AnalyticsOps.scala", "q382_activity_heatmap",
      bounded + "168 hour-of-week cells"),
    ("AuditOps.scala", "q322_reconciliation_histogram",
      bounded + "21 error buckets"),
    ("AuditOps.scala", "q383_status_consistency",
      bounded + "order status x line status crosstab"),
    ("EvalOps.scala", "q229_ks_statistic",
      bounded + "score histogram, one row per distinct score"),
    ("EvalOps.scala", "q231_pr_sweep", bounded + "100 score buckets"),
    ("EvalOps.scala", "q285_conformal_coverage",
      bounded + "residual histogram, one row per distinct residual"),
    ("ExperimentOps.scala", "q273_bandit_replay",
      bounded + "one row per arm (event type)"),
    ("ExperimentOps.scala", "q331_neyman_allocation",
      bounded + "one row per stratum (event type)"),
    ("ExperimentOps.scala", "q331_neyman_allocation",
      bounded + "one row per stratum (event type)"),
    ("ExperimentOps.scala", "q331_neyman_allocation",
      bounded + "one row per stratum (event type)"),
    ("ExperimentOps.scala", "q372_uplift_deciles", corpusSized),
    ("ExperimentOps.scala", "q372_uplift_deciles", bounded + "10 deciles"),
    ("ExperimentOps.scala", "q373_ucb1_advisor",
      bounded + "one row per arm (event type)"),
    ("GraphOps.scala", "q241_skipgram_pairs", corpusSized),
    ("LayoutOps.scala", "q248_range_plan", bounded + "the K-row sample"),
    ("LayoutOps.scala", "q260_join_order_advisor",
      bounded + "3 candidate join orders"),
    ("LayoutOps.scala", "q299_session_gap_advisor",
      bounded + "gap histogram, one row per distinct gap second"),
    ("LayoutOps.scala", "q379_join_fanout_profile",
      bounded + "11 fan-out buckets"),
    ("RelationalOps.scala", "q272_hierarchy_shares", bounded + "25 nations"),
    ("StatsOps.scala", "burstRule",
      bounded + "one row per hour of the corpus time span (q317)"),
    ("StatsOps.scala", "q232_percentile_rank",
      bounded + "cents histogram, one row per distinct value"),
    ("StatsOps.scala", "q267_quantile_match",
      bounded + "cents histogram, one row per distinct value"),
    ("StatsOps.scala", "q306_segment_drift_scan",
      bounded + "length histogram, one row per distinct length"),
    ("StatsOps.scala", "q319_category_drift_audit",
      bounded + "one row per event type"),
    ("StatsOps.scala", "q319_category_drift_audit",
      bounded + "one row per event type"),
    ("StatsOps.scala", "q318_seasonal_anomaly_days",
      bounded + "one row per day"),
    ("StatsOps.scala", "q345_robust_means",
      bounded + "cents histogram, one row per distinct value"),
    ("StatsOps.scala", "q346_slope_influence", bounded + "one row per day"),
    ("StatsOps.scala", "q366_runs_test",
      bounded + "daily-cents histogram, at most one row per day"),
    ("StatsOps.scala", "q366_runs_test", bounded + "one row per day"),
    ("StatsOps.scala", "q366_runs_test", bounded + "one row per day"),
    ("StatsOps.scala", "q384_copula_grid", corpusSized),
    ("TextOps.scala", "q276_vocab_coverage", corpusSized),
    ("TextOps.scala", "q276_vocab_coverage", corpusSized),
    ("TextOps.scala", "q316_zipf_exponent", corpusSized),
    ("VectorOps.scala", "q162_rrf_fusion", bounded + "top-k after limit(k)"),
    ("VectorOps.scala", "q162_rrf_fusion", bounded + "top-k after limit(k)"))

  /** `Window.orderBy` (split across lines too), and a partitionBy with
    * no column or only a literal. */
  private val globalWindow =
    """Window\s*\.orderBy|partitionBy\(\s*(lit\([^()]*\))?\s*\)""".r

  /** `OVER ()` in a SQL string, and the start of an oracle map. */
  private val sqlGlobalWindow = """OVER\s*\(\s*\)""".r
  private val oracleMap = """\b(val|def)\s+oracle\b""".r

  private val commentLine = """(?m)^\s*(//|\*|/\*).*$""".r

  private val owner = """"(q\d+\w*)"\s*->|\bdef\s+(\w+)""".r

  /** (file, owner) of every global window in the main sources but the
    * kernel. The owner is the query whose entry most recently precedes
    * the site, or, before the first query, the enclosing def. */
  private lazy val sites: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq)
    for {
      (f, text) <- files if f != "OrderedScan.scala"
      code = commentLine.replaceAllIn(text, "")
      sparkSide = oracleMap.findFirstMatchIn(code).fold(code)(o => code.substring(0, o.start))
      m <- globalWindow.findAllMatchIn(code) ++ sqlGlobalWindow.findAllMatchIn(sparkSide)
    } yield {
      val before = owner.findAllMatchIn(code.substring(0, m.start)).toSeq
      val query = before.reverse.find(_.group(1) != null).map(_.group(1))
      f -> query.orElse(before.lastOption.map(_.group(2))).getOrElse("?")
    }
  }

  test("every global window outside OrderedScan is on the allowlist") {
    val want = allowed.map(a => (a._1, a._2)).sorted
    val got = sites.sorted
    assert(got.diff(want).isEmpty,
      s"global window off the allowlist: ${got.diff(want)}")
    assert(want.diff(got).isEmpty,
      s"allowlist entries with no site left: ${want.diff(got)}")
  }

  test("each allowlist entry gives one reason of the two kinds") {
    assert(allowed.forall { case (_, _, why) =>
      why == corpusSized || why.startsWith(bounded) && why != bounded })
  }
}

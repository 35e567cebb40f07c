package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{QueryModule, WikitextOps}

/** The one registration point: every module's queries and oracle
  * statements are reached through `SparkEntry`, each name once. */
class QueryRegistrySpec extends AnyFunSuite {

  /** The statements that read the staged parquet; q74's oracle counts
    * `documents` and does not move with the staged root. */
  private val staged =
    Seq("q46_citations_at_revision", "q47_normalize_stats")

  test("the registry holds 386 queries, each with an oracle statement") {
    assert(SparkEntry.queries.size == 386)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("a name registered by two modules fails the build of the registry") {
    val e = intercept[IllegalArgumentException] {
      QueryModule.registry(Seq(Map("q1" -> 1, "q2" -> 2), Map("q2" -> 3)))
    }
    assert(e.getMessage.contains("q2"))
    assert(QueryModule.registry(Seq(Map("q1" -> 1), Map("q2" -> 2))) ==
      Map("q1" -> 1, "q2" -> 2))
  }

  test("queries is built once") {
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("oracleSql follows pointOracleAt for the staged-table statements") {
    val before = SparkEntry.oracleSql
    val root = "'(.*)/[a-z_]+\\.parquet/\\*\\.parquet'".r
      .findFirstMatchIn(before("q46_citations_at_revision")).get.group(1)
    WikitextOps.pointOracleAt("/nowhere/sf_registry_probe")
    try {
      val after = SparkEntry.oracleSql
      for (q <- staged) {
        assert(after(q) != before(q), q)
        assert(after(q).contains(
          WikitextOps.stageRoot("/nowhere/sf_registry_probe")), q)
      }
      assert(after.removedAll(staged) == before.removedAll(staged))
      assert(after("q74_current_citations") ==
        before("q74_current_citations"))
    } finally WikitextOps.pointOracleAt(root)
    assert(SparkEntry.oracleSql == before)
  }
}

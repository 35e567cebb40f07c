package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{QueryModule, WikitextOps}

/** The one registration point: every module's queries and oracle
  * statements are reached through `SparkEntry`, each name once, and
  * each multi-line statement is written once. */
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

  test("no triple-quoted literal of 3 or more lines is written twice") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq)
    // Each literal is placed by the query name it is bound to, when
    // it follows `"name" ->`, else by file and line.
    val bound = "\"(\\w+)\"\\s*->\\s*\\w?$".r
    val literals = for {
      p <- files
      text = Files.readString(p)
      m <- "(?s)\"\"\"(.*?)\"\"\"".r.findAllMatchIn(text)
      if m.group(1).count(_ == '\n') >= 2
    } yield {
      val before = text.substring(0, m.start)
      val where = bound.findFirstMatchIn(before).fold(
        s"${p.getFileName}:${before.count(_ == '\n') + 1}")(_.group(1))
      m.group(1) -> where
    }
    val twice = literals.groupBy(_._1).values.filter(_.size > 1)
      .map(_.map(_._2).sorted.mkString(" = ")).toSeq.sorted
    assert(twice.isEmpty, twice.mkString("; "))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The near-duplicate decisions have one definition, in
  * `graft.operators.TextKernel`: no other main source spells out the
  * sliding word n-gram, the adjacent word pair, the MinHash slot fold
  * or the in-bucket pair expansion. The DuckDB oracle statements are
  * the exception; they state the same decisions independently, as the
  * reference. */
class TextKernelGuardSpec extends AnyFunSuite {

  /** Every main Scala source: (file name, text). */
  private lazy val all: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p))
      .toSeq)
  }

  /** Each main Scala source but the kernel. */
  private lazy val sources = all.filter(_._1 != "TextKernel.scala")

  private val tripleQuoted = "(?s)\"\"\".*?\"\"\"".r

  /** A literal is DuckDB SQL when it calls one of DuckDB's list or
    * unnest functions, which Spark does not have. */
  private val duckDb = """\b(list_\w+|string_split|unnest)\(""".r

  /** (file, trimmed line) of every line matching `re` once the DuckDB
    * literals are blanked out. */
  private def sparkSide(re: Regex): Seq[(String, String)] =
    for {
      (f, text) <- sources
      spark = tripleQuoted.replaceAllIn(text, m =>
        if (duckDb.findFirstIn(m.matched).isDefined)
          m.matched.replaceAll("[^\n]", " ")
        else Regex.quoteReplacement(m.matched))
      l <- spark.split("\n") if re.findFirstIn(l).isDefined
    } yield f -> l.trim

  private val ngramLambda = """\bslice\([^,]+, i \+ 1,""".r

  private val slotFold =
    """substr(ing)?\(.*,\s*(1|9|17|25|\$\{?\w+\}?)\s*,\s*8\)""".r

  private val pairLambda = """slice\(ids, i \+ 2""".r

  private val adjacentPair = """element_at\([^,()]+, i \+ 2\)""".r

  test("the sliding n-gram lambda appears only where it builds more " +
    "than the n-gram") {
    // q157 pairs each bigram with its first word; q327/q350 compare
    // each trigram with the probe phrase in place.
    assert(sparkSide(ngramLambda).toSet == Set(
      "TextOps.scala" -> "concat_ws(' ', slice(tokens, i + 1, 2)) AS bg))\"\"\"))",
      "TextOps.scala" -> "i -> concat_ws(' ', slice(t, i + 1, 3)) = phrase)\"\"\"))"))
  }

  test("no MinHash slot fold outside the DuckDB oracle statements") {
    // the oracles still spell it out, so the pattern is live
    assert(sources.exists { case (_, t) => slotFold.findFirstIn(t).isDefined })
    assert(sparkSide(slotFold).isEmpty)
  }

  test("no in-bucket pair expansion outside the kernel") {
    assert(sparkSide(pairLambda).isEmpty)
  }

  test("the adjacent word pair is spelled only in the kernel") {
    // the kernel's own spelling matches, so the pattern is live
    assert(all.exists { case (f, t) =>
      f == "TextKernel.scala" && adjacentPair.findFirstIn(t).isDefined })
    assert(sparkSide(adjacentPair).isEmpty)
  }
}

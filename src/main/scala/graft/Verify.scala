package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run one query to its result directory. A throwing query must
    * surface as a RED row, not a missing one: round 4 lost 12 queries
    * from the gate's denominator because the failure only went to
    * stderr. The .ERROR.json artifact gives the driver (and
    * tools/validate.py, which counts it as a FAIL) a per-query failure
    * record, and no result directory exists so a hash-compare can't
    * pass. (VerifySpec exercises this path with a deliberately-broken
    * query.) */
  def runOne(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => DataFrame): Unit = {
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      // A stale red artifact from an earlier failed run must not shadow
      // this success (overwrite mode replaces the parquet dir but knows
      // nothing about the sibling error file).
      Files.deleteIfExists(Paths.get(s"$outDir/$name.ERROR.json"))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      // An execution-time failure (vs analysis-time) leaves a partial
      // result directory (_temporary staging, no committed parquet) —
      // remove it so the failed query's ONLY trace is the red artifact,
      // not a confusing half-written directory next to it.
      val dir = Paths.get(s"$outDir/$name.parquet")
      if (Files.exists(dir)) {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
      Files.writeString(Paths.get(s"$outDir/$name.ERROR.json"),
        s"""{"query": ${jsonStr(s"$name.parquet")}, """ +
          s""""error": ${jsonStr(msg.take(2000))}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg: comma-separated query-name prefixes — local
    // iteration on a few queries without replaying the whole suite.
    // The driver always passes exactly two args (full run).
    val only = args.drop(2).headOption.map(_.split(',').toSeq)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    selected.foreach { case (name, fn) =>
      runOne(spark, sfDir, outDir, name, fn)
      // The cache-lifetime contract (GraftSession.releaseQueryCaches):
      // builders persist, harness boundaries release.
      GraftSession.releaseQueryCaches(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), DumpOracle.json)
    spark.stop()
  }
}

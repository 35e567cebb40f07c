package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Writes the analytics pins: each query's digest on the committed
  * testdata, plus its result as parquet and its oracle SQL, so that
  * `perfbench/crosscheck.py` can compare the pinned results with DuckDB.
  *
  * Usage: Pin <testdata dir> <pins file> <result dir> */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dir, pinsPath, outDir) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(Some(cores)).master(s"local[$cores]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    // The pin is the digest of exactly the rows the cross-check compares.
    val lines = Analytics.queries.map { q =>
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$q.parquet")
      GraftSession.releaseQueryCaches(spark)
      s"$q\t${Digest.of(spark.read.parquet(s"$outDir/$q.parquet"))}"
    }
    Files.writeString(Paths.get(pinsPath), lines.mkString("", "\n", "\n"))
    val oracle = Analytics.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.value(oracle))
    spark.stop()
  }
}

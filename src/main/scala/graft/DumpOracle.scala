package graft

import java.nio.file.{Files, Paths}

/** Write `SparkEntry.oracleSql` as JSON without executing any query —
  * the committed/regenerable artifact the DuckDB side of every gate
  * (tools/validate.py, tools/bench_pair.py) reads,
  * so the oracle statements are reconstructible without a full
  * `graft.Verify` run first (round-6 judging depended on a leftover
  * /tmp/verify_out/oracle_sql.json; this closes that gap).
  *
  * Usage: runMain graft.DumpOracle [outPath=target/oracle_sql.json] [sfDir]
  * `json` is also what graft.Verify writes. The optional sfDir
  * points the staged-table oracles (q46/q47/q74) at that scale's
  * staging root — the staged parquet itself must already exist (a
  * Bench or Verify run over the same dir writes it).
  */
object DumpOracle {
  /** Every oracle under BOTH the bare query name and the result-directory
    * name ("<name>.parquet"): the driver keys its lookup by directory
    * name, local tooling by bare name. Dual keys satisfy either contract
    * (round-1 driver run missed all 79 oracles on exactly this
    * mismatch). */
  def json: String = SparkEntry.oracleSql
    .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
    .toSeq.sortBy(_._1)
    .map { case (k, v) => s"${Verify.jsonStr(k)}: ${Verify.jsonStr(v)}" }
    .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("target/oracle_sql.json")
    args.lift(1).foreach(graft.operators.WikitextOps.pointOracleAt)
    val p = Paths.get(out)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, json)
    println(s"[dump-oracle] ${SparkEntry.oracleSql.size} statements -> $out")
  }
}

package graft

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.github.luben.zstd.ZstdOutputStream
import org.apache.spark.sql.SparkSession

/** Pipeline throughput benchmark: generates a multi-bundle synthetic
  * `.mwrev.zst` corpus (deterministic, seeded), runs the full
  * extract→stage→dedup build, and prints one JSON line with
  * revisions/sec and references/sec.
  *
  * Usage: runMain graft.PipeBench [nRevisions] [nBundles]
  * (defaults 20000 revisions across 8 bundles — one task per bundle,
  * mirroring the reference's 8-job extract parallelism).
  */
object PipeBench {

  private def revisionText(rng: scala.util.Random, page: Int): String = {
    val words = Array("alpha", "beta", "gamma", "delta", "cite", "data",
      "ref", "wiki", "text", "value")
    val body = Seq.fill(40)(words(rng.nextInt(words.length))).mkString(" ")
    val refs = (0 until 1 + rng.nextInt(3)).map { k =>
      s"<ref name=r$k>{{Cite web |url=https://example.org/$page/$k " +
        s"|title=T$page-$k |access-date=2020-0${1 + k % 9}-01}}</ref>"
    }.mkString(" ")
    s"Intro $body $refs\n==References==\n* {{Cite book |title=B$page}}\n" +
      s"* https://example.net/bare/$page"
  }

  def main(args: Array[String]): Unit = {
    val nRevs = args.headOption.map(_.toInt).getOrElse(20000)
    val nBundles = args.lift(1).map(_.toInt).getOrElse(8)
    val dir = Files.createTempDirectory("pipebench").toFile
    val perBundle = nRevs / nBundles
    (0 until nBundles).foreach { b =>
      val rng = new scala.util.Random(42L + b)
      val sb = new StringBuilder
      (0 until perBundle).foreach { i =>
        val page = b * 100000 + i / 4 // ~4 revisions per page
        val rev = b * 1000000 + i
        sb.append(s"# page_id=$page ns=0 rev_id=$rev parent_rev_id= " +
          s"timestamp=2020-01-01T00:00:0${i % 10}Z\n")
        revisionText(rng, page).split("\n")
          .foreach(l => sb.append(" ").append(l).append("\n"))
      }
      val z = new ZstdOutputStream(
        new FileOutputStream(new java.io.File(dir, f"b$b%02d.mwrev.zst")))
      z.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      z.close()
    }

    val cpus = GraftSession.defaultCores.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val out = Files.createTempDirectory("pipebench-out").toFile
    val t0 = System.nanoTime()
    graft.pipeline.CitationPipeline.build(
      spark, s"${dir.getAbsolutePath}/*.mwrev.zst", out.getAbsolutePath)
    val sec = (System.nanoTime() - t0) / 1e9
    val nRefs = spark.read
      .parquet(s"${out.getAbsolutePath}/citation_instances").count()
    val nRevOut = spark.read
      .parquet(s"${out.getAbsolutePath}/revisions").count()
    println(f"""{"metric":"pipeline_build","value":$sec%.2f,""" +
      f""""unit":"sec","revisions":$nRevs,"bundles":$nBundles,""" +
      f""""revisions_per_sec":${nRevs / sec}%.0f,""" +
      f""""citation_instances":$nRefs,"revisions_out":$nRevOut}""")
    spark.stop()
  }
}

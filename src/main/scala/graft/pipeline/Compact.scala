package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.io.Parquet

/** Small-file compaction for append-heavy table directories — the
  * engine's form of the reference's `compact_citation_histories.sh`
  * (zstd | jq | split | re-zstd over 2M-line shards): streaming
  * ingestion appends one file per micro-batch, and a 28.8B-row table
  * made of micro-batch-sized parquet files destroys scan planning
  * (one task per tiny file) and NameNode/listing health.
  *
  * Rewrites the directory to ~`targetRecordsPerFile` parquet files via
  * a temp dir + atomic-ish rename swap: readers see either the old or
  * the new file set, never a mix.
  */
object Compact {

  /** Returns (filesBefore, filesAfter, rows). */
  def compact(
      spark: SparkSession, dir: String,
      targetRecordsPerFile: Long = 1000000L): (Int, Int, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    def parquetCount(p: Path): Int =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    val before = parquetCount(path)

    val df = Parquet.read(spark, dir)
    val rows = df.count()
    val tmp = new Path(path.getParent,
      s".${path.getName}_compact_tmp")
    fs.delete(tmp, true)
    df.write
      .option("compression", "zstd")
      .option("maxRecordsPerFile", targetRecordsPerFile.toString)
      .parquet(tmp.toString)

    val old = new Path(path.getParent, s".${path.getName}_compact_old")
    fs.delete(old, true)
    if (!fs.rename(path, old))
      sys.error(s"compact: could not stage $path aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // roll back
      sys.error(s"compact: could not publish compacted $path")
    }
    fs.delete(old, true)
    (before, parquetCount(path), rows)
  }
}

package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.PlanApi
import org.apache.spark.sql.types.StructType

/** The engine's one parquet reader.
  *
  * `spark.read.parquet(path)` infers the schema with a one-task Spark
  * job that reads a single footer. [[read]] reads that same footer on
  * the driver instead and hands Spark the schema, so opening a table
  * runs no job: on a warm 4-core VM a read of a testdata table took
  * 10-12 ms this way against 70-80 ms with the inference job. The footer
  * is the one Spark's inference picks (the first data file by path),
  * converted by the function Spark's inference job calls for each file,
  * so the schema is the one Spark would infer.
  *
  * Where Spark's inference does more than read one data file's footer,
  * [[read]] is plain `spark.read.parquet(path)`: a glob path, a
  * directory with subdirectories (partition discovery), `_metadata` or
  * `_common_metadata` summary files, `spark.sql.parquet.mergeSchema`
  * set, no data file, or a footer that cannot be read. Spark then
  * succeeds or fails exactly as it does without this reader.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark would infer for `path` (before the read makes
    * every field nullable), from one footer read on the driver; `None`
    * where [[read]] leaves inference to Spark. */
  private[io] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || PlanApi.isGlobPath(root)) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val fs = root.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(root)
      // The directory's entries that Spark's file listing keeps.
      val entries: Seq[FileStatus] =
        if (status.isFile) Seq(status)
        else fs.listStatus(root).toSeq
          .filterNot(s => PlanApi.listingSkips(s.getPath.getName))
      // A subdirectory means partition discovery; the only `_` names the
      // listing keeps are summary files, which Spark's inference prefers.
      if (entries.exists(s => s.isDirectory || s.getPath.getName.startsWith("_"))) None
      else entries.sortBy(_.getPath.toString).headOption.map { file =>
        val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(conf))
      }
    } catch {
      case NonFatal(_) => None
    }
  }
}

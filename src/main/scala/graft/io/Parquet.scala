package graft.io

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
  *
  * [[CountFromFooters]], an optimizer rule every engine session
  * installs, answers a whole-table count from the same footers: a
  * global `count(*)` over a bare parquet relation becomes the sum of
  * its files' row-group row counts, read on the driver, so
  * `Dataset.count()` on such a table, or a scalar
  * `(SELECT count(*) FROM t)`, runs no Spark job.
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
        val footer = new Footer(file.getPath,
          readFooter(file, hadoopConf, ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(conf))
      }
    } catch {
      case NonFatal(_) => None
    }
  }

  private def readFooter(
      file: FileStatus, hadoopConf: Configuration, filter: MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, hadoopConf), filter)

  /** Optimizer rule: `Aggregate(Nil, [count(<non-null literal>)])` over
    * a bare parquet relation, or over an empty `Project` of one, becomes
    * a one-row `LocalRelation` that keeps the aggregate's output
    * attribute. Its value is the sum of the row counts of every row
    * group of the files the relation's own file index lists, from
    * footers read on the driver: the rows a scan of those files
    * returns. `Dataset.count()` then plans to a `LocalTableScanExec`
    * and runs no job; so does a scalar `(SELECT count(*) FROM t)`,
    * since the optimizer runs this rule on subqueries too. A cached
    * frame is an `InMemoryRelation` by the time the optimizer runs, so
    * persist-then-count still fills the cache.
    *
    * The plan is left as it is, and Spark counts with a job, when:
    *  - the relation is streaming: a streaming global count is a
    *    running total kept in state, not the count of one batch;
    *  - the format's class is not exactly `ParquetFileFormat` (a
    *    subclass may drop rows, e.g. through deletion vectors);
    *  - `ignoreCorruptFiles` or `ignoreMissingFiles` is on, in the
    *    session conf or the relation's options;
    *  - there are more files than
    *    `spark.sql.sources.parallelPartitionDiscovery.threshold`, the
    *    bound past which Spark lists files with a distributed job: a
    *    count over more files stays a distributed job too;
    *  - any footer read throws, so Spark succeeds or fails as it does
    *    without the rule;
    *  - there is a filter, a `DISTINCT`, a `FILTER` clause, a grouping
    *    or any other aggregate.
    */
  object CountFromFooters extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformWithPruning(_.containsPattern(AGGREGATE)) {
        case agg @ Aggregate(Nil, Seq(count @ Alias(AggregateExpression(
            Count(Seq(Literal(v, _))), Complete, false, None, _), _)), child, _)
            if v != null =>
          val rows = child match {
            case Project(Nil, r: LogicalRelation) => rowCount(r)
            case r: LogicalRelation => rowCount(r)
            case _ => None
          }
          rows.fold[LogicalPlan](agg)(n =>
            LocalRelation(Seq(count.toAttribute), Seq(InternalRow(n))))
      }

    private def rowCount(r: LogicalRelation): Option[Long] = r.relation match {
      case fs: HadoopFsRelation if !r.isStreaming &&
          fs.fileFormat.getClass == classOf[ParquetFileFormat] =>
        val opts = new FileSourceOptions(fs.options)
        if (opts.ignoreCorruptFiles || opts.ignoreMissingFiles) None
        else try {
          val files = fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
          if (files.size > conf.parallelPartitionDiscoveryThreshold) None
          else {
            val hadoopConf = fs.sparkSession.sessionState.newHadoopConfWithOptions(fs.options)
            Some(files.map(f => readFooter(f, hadoopConf, ParquetMetadataConverter.NO_FILTER)
              .getBlocks.asScala.map(_.getRowCount).sum).sum)
          }
        } catch {
          case NonFatal(_) => None
        }
      case _ => None
    }
  }
}

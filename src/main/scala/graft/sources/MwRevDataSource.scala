package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for `.mwrev.zst` revision bundles — the "polish" form
  * of S1 (SURVEY.md §2.1/§7.3): `spark.read.format("mwrev").load(glob)`.
  *
  * One bundle file = one InputPartition (a zstd stream is not
  * splittable). Implements column pruning: when `revision_text` is not
  * in the required schema the reader never accumulates text lines —
  * metadata-only scans (counts, timelines) skip ~95% of the decode
  * work.
  */
class MwRevDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "mwrev"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MwRevDataSource.schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MwRevTable(properties.asScala.toMap)
}

object MwRevDataSource {
  val schema: StructType = StructType(Seq(
    StructField("page_id", IntegerType),
    StructField("namespace_id", IntegerType),
    StructField("revision_id", LongType),
    StructField("parent_revision_id", LongType),
    StructField("revision_timestamp", StringType),
    StructField("revision_text", StringType)))

  /** The bundle files `path` names, sorted: the files a glob matches,
    * with each matched directory replaced by its `.mwrev.zst` files.
    * Empty when nothing matches (a streaming source may start before
    * its first bundle arrives). */
  def bundleFiles(path: String, conf: Configuration): Seq[String] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf)
    val statuses = Option(fs.globStatus(p))
      .map(_.toSeq).getOrElse(Seq.empty)
    statuses.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".mwrev.zst"))
      else Seq(st)
    }.map(_.getPath.toString).sorted
  }
}

private class MwRevTable(properties: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String =
    s"mwrev(${properties.getOrElse("path", "?")})"

  override def schema(): StructType = MwRevDataSource.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // Session Hadoop conf captured driver-side at scan build — user fs
    // settings (s3a credentials, endpoints) reach both the listing and
    // the executor-side readers instead of a bare `new Configuration()`.
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    new MwRevScanBuilder(options.asScala.getOrElse("path",
      properties.getOrElse("path", sys.error("mwrev: no path given"))),
      conf)
  }
}

private class MwRevScanBuilder(
    path: String, conf: SerializableConfiguration)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = MwRevDataSource.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new MwRevScan(path, required, conf)
}

private class MwRevScan(
    path: String, required: StructType,
    private[sources] val conf: SerializableConfiguration)
    extends Scan with Batch {

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  private[sources] def listFiles(): Seq[String] =
    MwRevDataSource.bundleFiles(path, conf.value)

  override def planInputPartitions(): Array[InputPartition] =
    listFiles().map(f => MwRevPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new MwRevReaderFactory(required.fieldNames, conf)

  /** Streaming ingestion of a bundle directory — the Structured
    * Streaming replacement for the reference's DONE.txt bookkeeping
    * (SURVEY.md §2.10): the offset is a HIGH-WATER MARK by file name
    * (like Spark's FileStreamSource), so a bundle arriving out of
    * lexicographic order can never shift already-committed work — a
    * positional count would re-read tail files after such an arrival
    * (or after a deletion) and skip the newcomer.
    * `Trigger.AvailableNow` + checkpoint gives resumable batch runs. */
  override def toMicroBatchStream(checkpoint: String): MicroBatchStream =
    new MwRevMicroBatchStream(this)
}

/** Offset = the largest file name processed so far ("" = nothing). */
private case class MwRevOffset(lastFile: String) extends Offset {
  override def json(): String = lastFile
}

private class MwRevMicroBatchStream(scan: MwRevScan)
    extends MicroBatchStream {

  // Snapshot of the sorted listing, refreshed per latestOffset poll.
  @volatile private var files: Vector[String] = Vector.empty

  override def latestOffset(): Offset = {
    files = scan.listFiles().toVector
    MwRevOffset(files.lastOption.getOrElse(""))
  }

  override def initialOffset(): Offset = MwRevOffset("")

  override def deserializeOffset(json: String): Offset =
    MwRevOffset(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[MwRevOffset].lastFile
    val until = end.asInstanceOf[MwRevOffset].lastFile
    if (files.isEmpty || files.lastOption.exists(_ < until))
      files = scan.listFiles().toVector
    // (from, until] by name: exactly the files this batch committed to,
    // regardless of later arrivals or deletions elsewhere in the list.
    files.filter(f => f > from && f <= until)
      .map(f => MwRevPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MwRevReaderFactory(scan.readSchema().fieldNames, scan.conf)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private case class MwRevPartition(file: String) extends InputPartition

private class MwRevReaderFactory(
    columns: Array[String], conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[MwRevPartition].file
    new MwRevPartitionReader(file, columns, conf)
  }
}

private class MwRevPartitionReader(
    file: String, columns: Array[String], conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val wantText = columns.contains("revision_text")
  private val p = new Path(file)
  private val in = FileSystem.get(p.toUri, conf.value).open(p)
  private val revisions: Iterator[Revision] =
    if (wantText) MwRevZst.parse(in, file)
    else MwRevZst.parseMetaOnly(in, file)
  private var current: Revision = _

  override def next(): Boolean = {
    if (revisions.hasNext) { current = revisions.next(); true }
    else false
  }

  override def get(): InternalRow = {
    val values = columns.map {
      case "page_id" => current.pageId
      case "namespace_id" => current.namespaceId.map(Int.box).orNull
      case "revision_id" => current.revisionId
      case "parent_revision_id" =>
        current.parentRevisionId.map(Long.box).orNull
      case "revision_timestamp" =>
        UTF8String.fromString(current.revisionTimestamp)
      case "revision_text" => UTF8String.fromString(current.revisionText)
      case other => sys.error(s"mwrev: unknown column $other")
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = in.close()
}

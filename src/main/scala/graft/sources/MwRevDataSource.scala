package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for `.mwrev.zst` revision bundles, streaming only:
  * `spark.readStream.format("mwrev").load(glob).as[Revision]`. Batch
  * reads go through [[MwRevZst.read]].
  *
  * One bundle file = one InputPartition (a zstd stream is not
  * splittable). The schema and the rows are the [[Revision]] encoder's,
  * so the stream reads back `as[Revision]` with no renaming.
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
  private[sources] val encoder: ExpressionEncoder[Revision] =
    ExpressionEncoder[Revision]()

  val schema: StructType = encoder.schema
}

private class MwRevTable(properties: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String =
    s"mwrev(${properties.getOrElse("path", "?")})"

  override def schema(): StructType = MwRevDataSource.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // Session Hadoop conf captured driver-side at scan build — user fs
    // settings (s3a credentials, endpoints) reach both the listing and
    // the executor-side readers instead of a bare `new Configuration()`.
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val scan = new MwRevScan(options.asScala.getOrElse("path",
      properties.getOrElse("path", sys.error("mwrev: no path given"))),
      conf)
    () => scan
  }
}

private class MwRevScan(
    path: String, private[sources] val conf: SerializableConfiguration)
    extends Scan {

  override def readSchema(): StructType = MwRevDataSource.schema

  private[sources] def listFiles(): Seq[String] =
    MwRevZst.bundleFiles(path, conf.value)

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
    new MwRevReaderFactory(scan.conf)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private case class MwRevPartition(file: String) extends InputPartition

private class MwRevReaderFactory(conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new MwRevPartitionReader(
      partition.asInstanceOf[MwRevPartition].file, conf)
}

private class MwRevPartitionReader(
    file: String, conf: SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private val p = new Path(file)
  private val in = FileSystem.get(p.toUri, conf.value).open(p)
  private val revisions = MwRevZst.parse(in, file)
  private val toRow = MwRevDataSource.encoder.createSerializer()
  private var current: Revision = _

  override def next(): Boolean = {
    if (revisions.hasNext) { current = revisions.next(); true }
    else false
  }

  override def get(): InternalRow = toRow(current)

  override def close(): Unit = in.close()
}

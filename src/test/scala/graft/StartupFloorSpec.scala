package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.NioLocalFileSystem

/** The two start-up and write costs the engine's JVMs leave out: the
  * MLlib family on the class path, and a `chmod` fork per file that
  * Hadoop's local filesystem writes. Also that every main builds its
  * session through `GraftSession`, the factory that sets the filesystem
  * and the engine's other settings, that every parquet read goes
  * through `graft.io.Parquet`, which runs no schema-inference job, and
  * that bundles are decoded by `MwRevZst` alone. */
class StartupFloorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark

  override def afterAll(): Unit = SparkTestSession.cleanup()

  private val conf = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", "022")
    c
  }

  private def fs(hadoopDefault: Boolean): LocalFileSystem = {
    val f = if (hadoopDefault) new LocalFileSystem else new NioLocalFileSystem
    f.initialize(URI.create("file:///"), conf)
    f
  }

  private def tmp(): Path =
    new Path(Files.createTempDirectory("nio-local-fs").toUri)

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  /** Permission and special bits of `p`'s mode, without the file type. */
  private def unixMode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  /** A directory made with the umask applied, as committers ask for
    * one, and a file created with the default permission. */
  private def write(f: LocalFileSystem, root: Path): (Path, Path) = {
    val umask = FsPermission.getUMask(conf)
    val dir = new Path(root, "table")
    assert(f.mkdirs(dir, FsPermission.getDirDefault.applyUMask(umask)))
    val file = new Path(dir, "part-00000")
    val out = f.create(file)
    out.write("citation rows\n".getBytes("UTF-8"))
    out.close()
    (dir, file)
  }

  test("directories get mode 755 and files 644 under umask 022, as on Hadoop's path") {
    val (dir, file) = write(fs(hadoopDefault = false), tmp())
    val (hDir, hFile) = write(fs(hadoopDefault = true), tmp())
    assert(mode(dir) == "rwxr-xr-x")
    assert(mode(file) == "rw-r--r--")
    val crc = new Path(dir, ".part-00000.crc")
    assert(mode(crc) == mode(new Path(hDir, ".part-00000.crc")))
    assert((mode(dir), mode(file)) == ((mode(hDir), mode(hFile))))
  }

  test("every rwx bit reaches the file") {
    val f = fs(hadoopDefault = false)
    val (_, file) = write(f, tmp())
    for (m <- Seq("000", "640", "751", "007", "777").map(Integer.parseInt(_, 8))) {
      f.setPermission(file, new FsPermission(m.toShort))
      assert(unixMode(file) == m)
    }
  }

  test(".crc files are written, and one corrupted byte fails the read") {
    val f = fs(hadoopDefault = false)
    val (dir, file) = write(f, tmp())
    assert(Files.exists(Paths.get(new Path(dir, ".part-00000.crc").toUri)))
    val raf = new RandomAccessFile(Paths.get(file.toUri).toFile, "rw")
    try { raf.seek(3); raf.write(raf.read() ^ 0xff) } finally raf.close()
    val in = f.open(file)
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
  }

  test("a sticky-bit mode goes through Hadoop's path") {
    val f = fs(hadoopDefault = false)
    val dir = new Path(tmp(), "shared")
    assert(f.mkdirs(dir))
    // java.nio cannot set the sticky bit, so seeing it set means the
    // mode went through the fallback.
    f.setPermission(dir, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(unixMode(dir) == Integer.parseInt("1755", 8))
  }

  test("engine sessions write file: paths through the in-process filesystem") {
    val f = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(f.isInstanceOf[NioLocalFileSystem], f.getClass.getName)
  }

  test("the MLlib family is not on the class path") {
    // spark-mllib's SparkSessionExtensionsProvider would otherwise run in
    // every session and load MLlib and breeze.
    for (c <- Seq("org.apache.spark.ml.Estimator",
        "org.apache.spark.sql.ml.InternalFunctionRegistration", "breeze.linalg.DenseVector"))
      intercept[ClassNotFoundException](Class.forName(c))
  }

  /** File names of the main sources whose text contains `text`. */
  private def mainSourcesWith(text: String): Set[String] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(text))
      .map(_.getFileName.toString).toSet)
  }

  test("only GraftSession builds a SparkSession in the main sources") {
    // Every main opens its session through GraftSession.local, so the
    // engine's settings hold for every plan a main prints or runs.
    assert(mainSourcesWith("SparkSession.builder()") == Set("GraftSession.scala"))
  }

  test("only graft.io.Parquet calls spark.read.parquet in the main sources") {
    // Every other read goes through Parquet.read, which takes the
    // schema from one footer on the driver instead of running a Spark
    // job to infer it.
    assert(mainSourcesWith(".read.parquet(") == Set("Parquet.scala"))
  }

  test("MwRevZst is the one bundle reader: no other decode, no registered data source") {
    // The batch build and the streaming ingest both decode through
    // MwRevZst.read; RefsExtractorCli decodes one local file without Spark.
    assert(mainSourcesWith("MwRevZst.parse(")
      .subsetOf(Set("MwRevZst.scala", "RefsExtractorCli.scala")))
    assert(mainSourcesWith("DataSourceRegister").isEmpty)
    val registries = Using.resource(Files.walk(Paths.get("src/main/resources")))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith("DataSourceRegister")).toList)
    assert(registries.isEmpty)
  }
}

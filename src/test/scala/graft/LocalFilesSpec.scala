package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import graft.sources.{LocalFiles, LocalFilesFs, RawLocalFiles, VersionedTable}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus,
  FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's `file:` filesystem ([[graft.sources.LocalFiles]]): it
  * answers exactly as Hadoop's `RawLocalFileSystem` does, and the commit,
  * maintenance and streaming-checkpoint paths fork no process for it. */
class LocalFilesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = initialized(new RawLocalFileSystem)
  private val engine = initialized(new RawLocalFiles)

  /** A file, a directory, a symlink to each, a dangling symlink and a
    * missing path, by name. */
  private def fixture(): Map[String, NioPath] = {
    val d = Files.createTempDirectory("graft_lf")
    val file = Files.write(d.resolve("file"), "12345".getBytes)
    val dir = Files.createDirectory(d.resolve("dir"))
    Map(
      "file" -> file,
      "dir" -> dir,
      "link to file" -> Files.createSymbolicLink(d.resolve("lfile"), file),
      "link to dir" -> Files.createSymbolicLink(d.resolve("ldir"), dir),
      "dangling link" ->
        Files.createSymbolicLink(d.resolve("ldangling"), d.resolve("gone")),
      "missing" -> d.resolve("missing"))
  }

  private def fields(st: FileStatus) =
    (st.getPath, st.isDirectory, st.isSymlink, st.getLen,
      st.getModificationTime, if (st.isSymlink) Some(st.getSymlink) else None)

  private def linkStatus(fs: RawLocalFileSystem, p: Path) =
    try Right(fields(fs.getFileLinkStatus(p)))
    catch { case e: Exception => Left(e.getClass.getName) }

  test("getFileLinkStatus matches Hadoop's on qualified and bare paths") {
    for ((what, nio) <- fixture(); p <- Seq(
        new Path(nio.toString), new Path(s"file:${nio.toString}"))) {
      val want = linkStatus(stock, p)
      assert(linkStatus(engine, p) == want, s"$what at $p")
      // the cases do what they name: bare links are links, a qualified
      // path never is one (Hadoop reads the link of `new File("file:/…")`)
      if (what.contains("link") && !p.toString.startsWith("file:"))
        assert(want.exists(_._3), s"$what at $p is no symlink")
      if (what == "missing" || (what == "dangling link" &&
          p.toString.startsWith("file:")))
        assert(want.isLeft, s"$what at $p exists")
    }
  }

  private def perms(p: NioPath) = Files.getPosixFilePermissions(p)
  private def mode(p: NioPath) =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the same POSIX permissions as Hadoop's") {
    val d = Files.createTempDirectory("graft_lf_perm")
    for (m <- Seq(0x180, 0x1a4, 0x1c0, 0x1ed)) { // 0600 0644 0700 0755
      val (a, b) = (Files.createFile(d.resolve(s"stock$m")),
        Files.createFile(d.resolve(s"engine$m")))
      stock.setPermission(new Path(a.toString), new FsPermission(m.toShort))
      engine.setPermission(new Path(s"file:$b"), new FsPermission(m.toShort))
      assert(perms(b) == perms(a) && mode(b) == m, f"mode $m%o")
    }
  }

  test("a FileContext create leaves the same mode as Hadoop's LocalFs") {
    // FileContext hands setPermission an FsCreateModes, not a plain mode
    val d = Files.createTempDirectory("graft_lf_fc")
    def created(impl: Class[_], name: String): NioPath = {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
      FileContext.getFileContext(URI.create("file:///"), conf)
        .create(new Path(s"file:$d/$name"),
          java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.perms(new FsPermission(0x1a0.toShort))) // 0640
        .close()
      d.resolve(name)
    }
    val a = created(classOf[org.apache.hadoop.fs.local.LocalFs], "stock")
    val b = created(classOf[LocalFilesFs], "engine")
    assert(perms(b) == perms(a) && mode(b) == 0x1a0, f"${mode(b)}%o")
  }

  test("a sticky directory mode takes Hadoop's own path") {
    val d = Files.createTempDirectory("graft_lf_sticky")
    val (a, b) = (Files.createDirectory(d.resolve("stock")),
      Files.createDirectory(d.resolve("engine")))
    val sticky = new FsPermission(0x3ff.toShort) // 01777
    stock.setPermission(new Path(a.toString), sticky)
    engine.setPermission(new Path(b.toString), sticky)
    // java.nio cannot set the sticky bit: only Hadoop's chmod leaves 01777
    assert(mode(a) == 0x3ff && mode(b) == 0x3ff, f"${mode(b)}%o")
  }

  test("an extension session resolves file: to the engine's classes") {
    val ext = TestSpark.extensionSession()
    val conf = ext.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[LocalFiles])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[LocalFilesFs])
  }

  /** The first word of the command of every process started while `body`
    * runs, recorded by JFR. */
  private def forks(body: => Unit): Seq[String] = {
    val r = new Recording()
    val out = Files.createTempFile("graft_forks", ".jfr")
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      body
      r.stop()
      r.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(e =>
        new File(e.getString("command").split(' ').head).getName)
    } finally { r.close(); Files.deleteIfExists(out) }
  }

  private val Forbidden = Set("chmod", "readlink", "stat", "ls")

  test("versioned-table commits, checkpoint and vacuum fork no file process") {
    val dir = Files.createTempDirectory("graft_lf_vt").toString + "/t"
    val df = spark.range(240).select($"id".as("k"), ($"id" * 10).as("v"),
      concat(lit("p"), ($"id" % 12).cast("string")).as("p"))
    val started = forks {
      VersionedTable.create(spark, dir, df, "p", Some("k"))
      val parts = Set("p0", "p1", "p2")
      VersionedTable.rewritePartitionsCommit(spark, dir, parts,
        VersionedTable.read(spark, dir, 0).filter($"p".isin(parts.toSeq: _*))
          .withColumn("v", $"v" + 1), "p", Some("k"))
      VersionedTable.checkpoint(spark, dir, 1)
      VersionedTable.vacuum(spark, dir, retainLast = 1)
    }
    assert(VersionedTable.liveFiles(spark, dir, 1).size == 12)
    assert(!started.exists(Forbidden), started.groupBy(identity).view
      .mapValues(_.size).toMap)
  }

  test("a stateful AvailableNow stream forks no file process") {
    val src = Files.createTempDirectory("graft_lf_stream").toString
    spark.range(100).select(($"id" % 7).as("g"), $"id".as("v"))
      .write.parquet(s"$src/in")
    val agg = spark.readStream.schema("g LONG, v LONG").parquet(s"$src/in")
      .groupBy($"g").agg(count(lit(1)).as("n"))
    var rows = 0L
    val started = forks {
      rows = graft.streaming.Streams.runToMemory(spark, agg,
        "graft_lf_stream", "complete").count()
    }
    assert(rows == 7)
    assert(!started.exists(Forbidden), started.groupBy(identity).view
      .mapValues(_.size).toMap)
  }
}

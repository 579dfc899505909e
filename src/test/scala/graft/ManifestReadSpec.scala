package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.{RawLocalFiles, VersionedTable}
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Counts every open of a `_log/vNNNNN.parquet` manifest, by path. */
object ManifestOpens {
  private val byPath = new ConcurrentHashMap[String, AtomicInteger]()
  private val Manifest = ".*/_log/v(\\d+)\\.parquet".r

  def record(p: Path): Unit = {
    val s = p.toUri.getPath
    if (Manifest.matches(s))
      byPath.computeIfAbsent(s, _ => new AtomicInteger()).incrementAndGet()
  }

  def reset(): Unit = byPath.clear()

  /** Opens per manifest version of the table at `dir`. */
  def of(dir: String): Map[Int, Int] =
    byPath.asScala.toMap.collect {
      case (s @ Manifest(v), n) if s.startsWith(s"$dir/_log/") =>
        v.toInt -> n.get
    }
}

/** The engine's raw local filesystem, counting manifest opens. */
class CountingRawLocalFs extends RawLocalFiles {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    ManifestOpens.record(f)
    super.open(f, bufferSize)
  }
}

/** The checksummed local filesystem over the counting raw one, so `.crc`
  * sidecars behave exactly as under the engine's `file:` implementation. */
class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)

/** Every versioned-table verb replays each version it reads at most once:
  * it opens each manifest up to its read version once per version read
  * (RESTORE reads two), and a tombstone DELETE opens none. */
class ManifestReadSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** (k, v, p): v0 holds k ≤ 15, v1 appends k > 15; `k` carries stats. */
  private def newTable(): String = {
    val dir = Files.createTempDirectory("graft_mr").toString + "/t"
    val df = spark.range(30).select(($"id" + 1).as("k"), ($"id" * 10).as("v"),
      concat(lit("p"), ($"id" % 3).cast("string")).as("p"))
    VersionedTable.create(spark, dir, df.filter($"k" <= 15), "p", Some("k"))
    VersionedTable.appendCommit(spark, dir, df.filter($"k" > 15), "p",
      Some("k"))
    dir
  }

  /** Manifest opens per version of `dir` while `body` runs, with the
    * counting filesystem serving `file:` paths (uncached, so every lookup
    * gets it) on the session's Hadoop configuration. */
  private def opens(dir: String)(body: => Any): Map[Int, Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set(keys(0), classOf[CountingLocalFs].getName)
    conf.set(keys(1), "true")
    ManifestOpens.reset()
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    ManifestOpens.of(dir)
  }

  private def once(versions: Range): Map[Int, Int] =
    versions.map(_ -> 1).toMap

  private def changes(rows: Seq[(Long, Long, String, String)]) =
    rows.toDF("k", "v", "p", "op").withColumn("seq", lit(1L))

  /** Verbs that read the latest version, each run on a fresh [[newTable]]. */
  private val verbs: Seq[(String, String => Any)] = Seq(
    "appendCommit" -> (d => VersionedTable.appendCommit(spark, d,
      Seq((99L, 1L, "p0")).toDF("k", "v", "p"), "p", Some("k"))),
    "overwriteCommit" -> (d => VersionedTable.overwriteCommit(spark, d,
      Seq((99L, 1L, "p0")).toDF("k", "v", "p"), "p", Some("k"))),
    "mergeCommit" -> (d => VersionedTable.mergeCommit(spark, d,
      changes(Seq((1L, 999L, "p0", "U"))), Seq("k"), "p", statsCol = Some("k"))),
    "rewritePartitionsCommit" -> (d => VersionedTable.rewritePartitionsCommit(
      spark, d, Set("p1"), Seq((1L, 7L, "p1")).toDF("k", "v", "p"), "p",
      Some("k"))),
    "dropPartitionsCommit" -> (d =>
      VersionedTable.dropPartitionsCommit(spark, d, Set("p1"))),
    "addColumnsCommit" -> (d => VersionedTable.addColumnsCommit(spark, d,
      Seq(StructField("w", LongType)))),
    "dropColumnsCommit" -> (d =>
      VersionedTable.dropColumnsCommit(spark, d, Seq("v"), "p")),
    "addConstraintCommit" -> (d =>
      VersionedTable.addConstraintCommit(spark, d, "pos", "k > 0")),
    "optimizeCommit" -> (d =>
      VersionedTable.optimizeCommit(spark, d, "p", statsCol = Some("k"))),
    "zorderCommit" -> (d => VersionedTable.zorderCommit(spark, d, "p",
      Seq("k", "v"), files = 2, statsCol = Some("k"))),
    "renameColumnCommit" -> (d => VersionedTable.renameColumnCommit(spark, d,
      "v", "v2", "p", Some("k"))))

  verbs.foreach { case (name, verb) =>
    test(s"$name opens each manifest of its read version once") {
      val dir = newTable()
      assert(opens(dir)(verb(dir)) == once(0 to 1))
    }
  }

  test("dropConstraintCommit opens each manifest of its read version once") {
    val dir = newTable()
    VersionedTable.addConstraintCommit(spark, dir, "pos", "k > 0")
    assert(opens(dir)(VersionedTable.dropConstraintCommit(spark, dir, "pos"))
      == once(0 to 2))
  }

  test("deleteCommit reads no snapshot") {
    val dir = newTable()
    assert(opens(dir)(VersionedTable.deleteCommit(spark, dir,
      Seq((2L, "p1")).toDF("k", "p"), "p")).isEmpty)
  }

  test("restoreCommit opens each manifest once per version it reads") {
    // v2 tombstones a key, v3 drops a column: restoring v2 materializes the
    // tombstoned partition and restores the schema, both from v2's replay
    val dir = newTable()
    VersionedTable.deleteCommit(spark, dir, Seq((2L, "p1")).toDF("k", "p"), "p")
    VersionedTable.dropColumnsCommit(spark, dir, Seq("v"), "p")
    val n = opens(dir)(VersionedTable.restoreCommit(spark, dir, 2, "p",
      Some("k")))
    assert(n == Map(0 -> 2, 1 -> 2, 2 -> 2, 3 -> 1))
    assert(VersionedTable.read(spark, dir, 4).columns.toSeq == Seq("k", "v", "p"))
    assert(VersionedTable.read(spark, dir, 4).count() == 29)
  }

  /** The SQL surface over a one-version catalog table (the 30 rows at v0,
    * stats on `k`): the statement's relation pins v0 with one replay, a
    * scan replays nothing, and a DML statement adds only its commit's read
    * and the re-pin to the version it wrote (which replays v0 and v1). */
  private lazy val ext = TestSpark.extensionSession()

  private val statements: Seq[(String, String, Map[Int, Int])] = Seq(
    ("a filtered SELECT", "SELECT sum(v) FROM %s WHERE k > 20 AND p = 'p1'",
      Map(0 -> 1)),
    ("a metadata-only DELETE", "DELETE FROM %s WHERE p = 'p1'",
      Map(0 -> 3, 1 -> 1)),
    ("a row DELETE", "DELETE FROM %s WHERE k = 4",
      Map(0 -> 3, 1 -> 1)),
    ("an UPDATE", "UPDATE %s SET v = 0 WHERE k = 4",
      Map(0 -> 3, 1 -> 1)))

  statements.zipWithIndex.foreach { case ((what, stmt, want), i) =>
    test(s"SQL: $what opens each manifest at most once per read") {
      val dir = Files.createTempDirectory("graft_mr").toString + "/t"
      val df = spark.range(30).select(($"id" + 1).as("k"), ($"id" * 10).as("v"),
        concat(lit("p"), ($"id" % 3).cast("string")).as("p"))
      VersionedTable.create(spark, dir, df, "p", Some("k"))
      val name = s"vt_mr_sql$i"
      ext.sql(s"DROP TABLE IF EXISTS $name")
      ext.sql(s"CREATE TABLE $name USING graftvt " +
        s"OPTIONS (path '$dir', partitionCol 'p', statsCol 'k')")
      try assert(opens(dir)(ext.sql(stmt.format(name)).collect()) == want)
      finally ext.sql(s"DROP TABLE $name")
    }
  }

  test("cloneCommit opens each source manifest once") {
    val src = newTable()
    val dst = Files.createTempDirectory("graft_mr").toString + "/c"
    val n = opens(src)(VersionedTable.cloneCommit(spark, dst, src, 1))
    assert(n == once(0 to 1))
    assert(VersionedTable.read(spark, dst, 0).count() == 30)
  }
}

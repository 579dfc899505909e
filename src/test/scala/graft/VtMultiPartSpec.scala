package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-column partitioning for the versioned table (partitionCol =
  * comma-separated spec): nested on-disk layout, key=value/key=value
  * manifest encoding, composite-key pruning, merge/delete addressing by
  * (keys, partitions), and — the scale property — CONFLICT SCOPE at
  * sub-partition grain: two writers on different sub-partitions of the
  * same first-level value commit concurrently.
  */
class VtMultiPartSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** 2×2 layout: (d1, d2) × (a, b); k unique. */
  private def newTable(): String = {
    val dir = Files.createTempDirectory("graft_vtmp").toString + "/t"
    val rows = Seq(
      (1L, 10L, "d1", "a"), (2L, 20L, "d1", "b"),
      (3L, 30L, "d2", "a"), (4L, 40L, "d2", "b"),
      (5L, 50L, "d2", "b")).toDF("k", "v", "date", "src")
    VersionedTable.create(spark, dir, rows, "date,src")
    dir
  }

  test("layout: nested dirs, key=value/key=value manifest part strings") {
    val dir = newTable()
    val entries = VersionedTable.liveEntries(spark, dir, 0)
    assert(entries.map(_.part).toSet ==
      Set("date=d1/src=a", "date=d1/src=b", "date=d2/src=a", "date=d2/src=b"))
    // one file per sub-partition, physically nested one level per column
    entries.foreach { e =>
      assert(e.file.contains("/__vt_p0=") && e.file.contains("/__vt_p1="),
        e.file)
    }
    // the full table reads back intact, partition columns preserved
    val got = VersionedTable.read(spark, dir, 0)
      .orderBy("k").collect().map(r => (r.getAs[Long]("k"),
        r.getAs[String]("date"), r.getAs[String]("src")))
    assert(got.toSeq == Seq((1L, "d1", "a"), (2L, "d1", "b"),
      (3L, "d2", "a"), (4L, "d2", "b"), (5L, "d2", "b")))
  }

  test("composite-key pruning: partValues read opens only that sub-partition") {
    val dir = newTable()
    val pruned = VersionedTable.read(spark, dir, 0, Some(Set("date=d2/src=b")))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(4L, 5L))
  }

  test("mergeCommit addresses rows by (key, both partitions)") {
    val dir = newTable()
    val changes = Seq(
      (4L, 400L, "d2", "b", "U", 0L),  // update in place
      (9L, 90L, "d1", "a", "U", 0L),   // insert
      (2L, 0L, "d1", "b", "D", 0L))    // delete
      .toDF("k", "v", "date", "src", "op", "seq")
    VersionedTable.mergeCommit(spark, dir, changes, Seq("k"), "date,src")
    val got = VersionedTable.read(spark, dir, 1)
      .select("k", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (3L, 30L), (4L, 400L), (5L, 50L), (9L, 90L)),
      got.toString)
    // untouched sub-partition (d2, a)'s file survives the merge unrewritten
    val before = VersionedTable.liveEntries(spark, dir, 0)
      .filter(_.part == "date=d2/src=a").map(_.file).toSet
    val after = VersionedTable.liveEntries(spark, dir, 1)
      .filter(_.part == "date=d2/src=a").map(_.file).toSet
    assert(before == after)
  }

  test("deleteCommit tombstone is scoped to its sub-partition") {
    val dir = newTable()
    VersionedTable.deleteCommit(spark, dir,
      Seq((5L, "d2", "b")).toDF("k", "date", "src"), "date,src")
    val tombs = VersionedTable.liveEntries(spark, dir, 1)
      .filter(_.action == "tomb")
    assert(tombs.map(_.part).toSeq == Seq("date=d2/src=b"))
    assert(VersionedTable.read(spark, dir, 1).count() == 4L)
    // CDF of the tombstone commit reads only the affected sub-partition
    val cdf = VersionedTable.changes(spark, dir, 1, 1)
    assert(cdf.select("k").collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("conflict scope: different sub-partitions of one date commit " +
       "concurrently; same sub-partition conflicts") {
    val dir = newTable()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def merge(k: Long, v: Long, d: String, sp: String) = Future(
      VersionedTable.mergeCommit(spark, dir,
        Seq((k, v, d, sp, "U", 0L)).toDF("k", "v", "date", "src", "op", "seq"),
        Seq("k"), "date,src"))
    // (d2, a) vs (d2, b): same date, different src — both must land
    val versions = Await.result(Future.sequence(Seq(
      merge(3L, 333L, "d2", "a"), merge(4L, 444L, "d2", "b"))), 5.minutes)
      .map(_.version).sorted
    assert(versions == Seq(1, 2), versions.toString)
    // same sub-partition: exactly one side lands; the loser ABORTS with
    // ConcurrentModificationException (a COW rewrite that read a stale
    // snapshot cannot auto-rebase — the caller re-runs on the new one),
    // so no update is ever silently lost
    val r1 = merge(4L, 1000L, "d2", "b").map(Right(_))
      .recover { case e: java.util.ConcurrentModificationException => Left(e) }
    val r2 = merge(5L, 2000L, "d2", "b").map(Right(_))
      .recover { case e: java.util.ConcurrentModificationException => Left(e) }
    val v2 = Await.result(Future.sequence(Seq(r1, r2)), 5.minutes)
    val landed = v2.collect { case Right(c) => c }
    assert(landed.nonEmpty, "at least one same-partition writer must land")
    if (landed.size == 2)
      assert(landed.map(_.version).sorted == Seq(3, 4))
    val fin = VersionedTable.read(spark, dir,
      VersionedTable.latestVersion(spark, dir))
      .select("k", "v").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fin(3L) == 333L, fin.toString)
    // every landed update is visible — the loser (if any) changed nothing
    if (v2.head.isRight) assert(fin(4L) == 1000L, fin.toString)
    if (v2(1).isRight) assert(fin.get(5L).contains(2000L), fin.toString)
  }

  test("pushed partition filters prune the manifest list — a corrupted " +
       "sibling file is never opened") {
    val dir = newTable()
    // corrupt the (d1, a) data file IN PLACE (path still exists, so
    // analysis-time path resolution passes; any scan that OPENS it fails)
    val victim = VersionedTable.liveEntries(spark, dir, 0)
      .find(_.part == "date=d1/src=a").get.file
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$victim"),
      Array.fill[Byte](64)(0))
    val df = spark.read.format("graftvt")
      .option("partitionCol", "date,src").load(dir)
    intercept[Exception](df.count()) // full scan opens the corrupted file
    // equality prune on the FIRST column alone
    assert(df.filter(col("date") === "d2").count() == 3L)
    // composite prune (both columns)
    assert(df.filter(col("date") === "d2" && col("src") === "b")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 5L))
    // IN-list prune on the second column only keeps src=b of both dates —
    // d1/b survives, d1/a (the corrupted file) is pruned out
    assert(df.filter(col("src").isin("b")).count() == 3L)
    // a filter on a NON-partition column prunes nothing → still opens it
    intercept[Exception](df.filter(col("v") > 15).count())
  }

  test("partFilterValues: sound derivation from pushed filters") {
    import org.apache.spark.sql.sources._
    import graft.sources.GraftVtRelation.partFilterValues
    val p = Set("date", "src")
    assert(partFilterValues(Array(EqualTo("date", "d1")), p) ==
      Map("date" -> Set("d1")))
    assert(partFilterValues(
      Array(EqualTo("date", "d1"), In("src", Array("a", "b"))), p) ==
      Map("date" -> Set("d1"), "src" -> Set("a", "b")))
    // Or over the same column = union; over different columns = nothing
    assert(partFilterValues(
      Array(Or(EqualTo("date", "d1"), EqualTo("date", "d2"))), p) ==
      Map("date" -> Set("d1", "d2")))
    assert(partFilterValues(
      Array(Or(EqualTo("date", "d1"), EqualTo("src", "a"))), p).isEmpty)
    // conflicting conjuncts intersect to the empty set (scan zero files)
    assert(partFilterValues(
      Array(EqualTo("date", "d1"), EqualTo("date", "d2")), p) ==
      Map("date" -> Set.empty[String]))
    // unsupported renderings contribute nothing (double literal)
    assert(partFilterValues(
      Array(EqualTo("date", java.lang.Double.valueOf(1.5))), p).isEmpty)
    // null-ish shapes contribute nothing
    assert(partFilterValues(Array(IsNull("date")), p).isEmpty)
    assert(partFilterValues(Array(EqualNullSafe("date", null)), p).isEmpty)
    // In with any unrenderable element contributes nothing
    assert(partFilterValues(
      Array(In("date", Array[Any]("d1", java.lang.Double.valueOf(2.0)))), p)
      .isEmpty)
  }

  test("escaped values round-trip in the part fragment") {
    val dir = Files.createTempDirectory("graft_vtmp_esc").toString + "/t"
    val rows = Seq((1L, "d 1", "a/b")).toDF("k", "date", "src")
    VersionedTable.create(spark, dir, rows, "date,src")
    val part = VersionedTable.liveEntries(spark, dir, 0).head.part
    // values escape path-specials (slash → %2F; space is legal in Hive
    // layout names and stays raw); column names are raw
    assert(part == "date=d 1/src=a%2Fb", part)
    val got = VersionedTable.read(spark, dir, 0, Some(Set(part)))
      .select("date", "src").head()
    assert(got.getString(0) == "d 1" && got.getString(1) == "a/b")
  }

  /** Every visible parquet file under `root`, relative to it. */
  private def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val base = java.nio.file.Paths.get(root)
    val st = Files.walk(base)
    try {
      st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      }.map(base.relativize).toList
    } finally st.close()
  }

  test("commit files of a nested layout enter the manifest with part and size") {
    val dir = newTable()
    val onDisk = parquetFiles(dir).filter(_.startsWith("data")).map { rel =>
      val segs = rel.iterator().asScala.map(_.toString).toSeq
      val dirs = segs.dropRight(1).takeRight(2)
      val part = Seq("date", "src").zip(dirs).map { case (c, d) =>
        s"$c=${d.substring(d.indexOf('=') + 1)}" }.mkString("/")
      val f = java.nio.file.Paths.get(dir).resolve(rel)
      (rel.toString, part, Files.size(f),
        Files.getLastModifiedTime(f).toMillis)
    }.toSet
    val logged = VersionedTable.liveEntries(spark, dir, 0)
      .map(e => (e.file, e.part, e.fsize.get, e.fmtime.get)).toSet
    assert(onDisk.size == 4 && logged == onDisk, s"$logged vs $onDisk")
  }

  test("vacuum reaps an orphan in the nested layout") {
    val dir = newTable()
    val live = VersionedTable.liveFiles(spark, dir, 0).head._1
    val orphan = "data/c99999-deadbeef/__vt_p0=d1/__vt_p1=a/orphan.parquet"
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/$orphan").getParent)
    Files.copy(java.nio.file.Paths.get(s"$dir/$live"),
      java.nio.file.Paths.get(s"$dir/$orphan"))
    Thread.sleep(15)
    VersionedTable.appendCommit(spark, dir,
      Seq((6L, 60L, "d1", "a")).toDF("k", "v", "date", "src"), "date,src")
    assert(VersionedTable.vacuum(spark, dir, retainLast = 2) == Seq(orphan))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/$orphan")))
    assert(VersionedTable.read(spark, dir, 1).count() == 6)
  }

  test("convert adopts every file of a nested key=value tree") {
    val dir = Files.createTempDirectory("graft_vtmp_conv").toString + "/t"
    Seq((1L, "d1", "a"), (2L, "d1", "b"), (3L, "d2", "a"), (4L, "d2", "a"))
      .toDF("k", "date", "src").repartition(2)
      .write.partitionBy("date", "src").parquet(dir)
    val files = parquetFiles(dir).map(_.toString).toSet
    VersionedTable.convert(spark, dir, "date,src")
    val live = VersionedTable.liveFiles(spark, dir, 0)
    assert(live.map(_._1).toSet == files && live.size == files.size)
    assert(live.map(_._2).toSet ==
      Set("date=d1/src=a", "date=d1/src=b", "date=d2/src=a"))
    assert(VersionedTable.read(spark, dir, 0).count() == 4)
  }
}

package graft

import java.nio.file.Files
import graft.sources.{KnownFilesIndex, VersionedTable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.scalatest.funsuite.AnyFunSuite

/** The transaction-log layer on top of the partition-COW merge: snapshot
  * reads must reproduce history exactly, commits must be invisible to
  * pinned readers (snapshot isolation), vacuum must delete exactly the
  * unreferenced files, and manifest-level pruning must shrink the file
  * list before any storage I/O. */
class VersionedTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** (k, v, p) — 3 partitions, 10 keys each. */
  private def baseDf = spark.range(30)
    .select(($"id" + 1).as("k"), ($"id" * 10).as("v"),
      concat(lit("p"), ($"id" % 3).cast("string")).as("p"))

  private def newTable(): String = {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf, "p")
    dir
  }

  private def state(dir: String, version: Int): Map[Long, Long] =
    VersionedTable.read(spark, dir, version)
      .select($"k", $"v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def changes(rows: Seq[(Long, Long, String, String)]) =
    rows.toDF("k", "v", "p", "op").withColumn("seq", lit(1L))

  test("snapshot reads reproduce every historical state exactly") {
    val dir = newTable()
    // v1: update k=1 (p1... k=1 → id=0 → p0), insert k=100 into p1
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 999L, "p0", "U"), (100L, 1000L, "p1", "U"))),
      Seq("k"), "p")
    // v2: delete k=2 (p1)
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((2L, 0L, "p1", "D"))), Seq("k"), "p")

    val v0 = state(dir, 0)
    assert(v0.size == 30 && v0(1L) == 0L && !v0.contains(100L))
    val v1 = state(dir, 1)
    assert(v1.size == 31 && v1(1L) == 999L && v1(100L) == 1000L && v1.contains(2L))
    val v2 = state(dir, 2)
    assert(v2.size == 30 && !v2.contains(2L) && v2(1L) == 999L)
    assert(VersionedTable.latestVersion(spark, dir) == 2)
  }

  test("pinned reader is isolated from a concurrent commit") {
    val dir = newTable()
    val pinnedFiles = VersionedTable.liveFiles(spark, dir, 0)
    val before = state(dir, 0)
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((5L, -1L, "p1", "U"), (6L, 0L, "p2", "D"))), Seq("k"), "p")
    // same file list resolves for v0, and the bytes are unchanged
    assert(VersionedTable.liveFiles(spark, dir, 0) == pinnedFiles)
    assert(state(dir, 0) == before)
  }

  test("fully-emptied partition needs no special case: removes without adds") {
    val dir = newTable()
    val allP2 = baseDf.filter($"p" === "p2")
      .withColumn("op", lit("D")).withColumn("seq", lit(1L))
    val c = VersionedTable.mergeCommit(spark, dir, allP2, Seq("k"), "p")
    assert(c.filesRemoved >= 1 && c.filesAdded == 0)
    val v1 = VersionedTable.read(spark, dir, 1)
    assert(v1.filter($"p" === "p2").count() == 0 && v1.count() == 20)
    // the emptied partition's history is still readable at v0
    assert(VersionedTable.read(spark, dir, 0).filter($"p" === "p2").count() == 10)
  }

  test("manifest-level pruning shrinks the read's file list, not just rows") {
    val dir = newTable()
    val pruned = VersionedTable.read(spark, dir, 0, Some(Set("p1")))
    assert(pruned.select($"p").distinct().collect().map(_.getString(0)).toSeq == Seq("p1"))
    val all = VersionedTable.read(spark, dir, 0)
    assert(pruned.inputFiles.length < all.inputFiles.length)
    assert(pruned.inputFiles.forall(_.contains("__vt_part=p1")))
  }

  test("vacuum deletes exactly the unreferenced files and keeps retained history") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 111L, "p0", "U"))), Seq("k"), "p")   // v1 rewrites p0
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((2L, 222L, "p1", "U"))), Seq("k"), "p")   // v2 rewrites p1
    val v1State = state(dir, 1)
    val v2State = state(dir, 2)
    // a crashed commit's orphan: data file present, no manifest references it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/data/c99999/__vt_part=p0/orphan.parquet")
    fs.mkdirs(orphan.getParent)
    baseDf.limit(1).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/_orphantmp")
    val src = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_orphantmp"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(src, orphan)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_orphantmp"), true)
    // a LATER successful commit ages the orphan past the latest manifest —
    // only then is it distinguishable from an in-flight commit's files
    Thread.sleep(15)
    VersionedTable.mergeCommit(spark, dir, changes(Seq.empty), Seq("k"), "p")

    val deleted = VersionedTable.vacuum(spark, dir, retainLast = 3)
    // exactly: v0's original p0 file (superseded at v1, unreferenced by v1/v2)
    // and the orphan. v0's p1 file is NOT deletable — v1 still references it.
    assert(deleted.exists(_.contains("c99999")), s"orphan not vacuumed: $deleted")
    assert(deleted.exists(f => f.contains("c00000") && f.contains("p0")))
    assert(!deleted.exists(f => f.contains("c00000") && f.contains("p1")))
    assert(deleted.size == 2, s"unexpected deletions: $deleted")
    // retained snapshots still read exactly
    assert(state(dir, 1) == v1State && state(dir, 2) == v2State)
  }

  test("checkpoint replay equals from-scratch replay, and reads only the tail") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 11L, "p0", "U"))), Seq("k"), "p")     // v1
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((2L, 22L, "p1", "U"))), Seq("k"), "p")     // v2
    val scratch2 = VersionedTable.liveFiles(spark, dir, 2).toSet
    val scratch1 = VersionedTable.liveFiles(spark, dir, 1).toSet
    VersionedTable.checkpoint(spark, dir, 2)
    // checkpointed resolution is identical...
    assert(VersionedTable.liveFiles(spark, dir, 2).toSet == scratch2)
    // ...versions below the checkpoint still replay from the manifests...
    assert(VersionedTable.liveFiles(spark, dir, 1).toSet == scratch1)
    // ...and commits after the checkpoint replay checkpoint + tail only:
    // delete the PRE-checkpoint manifests to prove they are not consulted
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((3L, 33L, "p2", "U"))), Seq("k"), "p")     // v3
    val v3 = state(dir, 3)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach(v => f.rename(
      new org.apache.hadoop.fs.Path(dir + f"/_log/v$v%05d.parquet"),
      new org.apache.hadoop.fs.Path(dir + f"/_log_hidden_v$v%05d.parquet")))
    assert(state(dir, 3) == v3 && v3(1L) == 11L && v3(3L) == 33L)
    (0 to 2).foreach(v => f.rename(
      new org.apache.hadoop.fs.Path(dir + f"/_log_hidden_v$v%05d.parquet"),
      new org.apache.hadoop.fs.Path(dir + f"/_log/v$v%05d.parquet")))
  }

  test("each microbatch of a stream becomes a queryable snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = newTable()
    val in = MemoryStream[(Long, Long, String, String)]
    val q = in.toDF().toDF("k", "v", "p", "op")
      .withColumn("seq", lit(1L))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          VersionedTable.mergeCommit(batch.sparkSession, dir, batch,
            Seq("k"), "p")
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    in.addData((1L, 101L, "p0", "U")); q.processAllAvailable()
    in.addData((2L, 202L, "p1", "U"), (3L, 0L, "p2", "D")); q.processAllAvailable()
    q.stop()
    assert(VersionedTable.latestVersion(spark, dir) == 2)
    assert(state(dir, 1)(1L) == 101L && state(dir, 1).contains(3L))
    val v2 = state(dir, 2)
    assert(v2(2L) == 202L && !v2.contains(3L) && v2.size == 29)
  }

  test("append commit adds files blindly; schema widening reads back as nulls") {
    val dir = newTable()
    val c = VersionedTable.appendCommit(spark, dir,
      Seq((100L, 1L, "p0", "x")).toDF("k", "v", "p", "tag"), "p")
    assert(c.filesAdded == 1 && c.filesRemoved == 0)
    val v1 = VersionedTable.read(spark, dir, 1, mergeSchema = true)
    assert(v1.count() == 31)
    assert(v1.filter($"tag".isNotNull).select($"k").collect().map(_.getLong(0)).toSeq == Seq(100L))
    // v0 read (no widened files in its live set) has no tag column at all
    assert(!VersionedTable.read(spark, dir, 0, mergeSchema = true)
      .columns.contains("tag"))
  }

  test("manifest column metrics prune files; checkpoint preserves them") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    // two appends of disjoint k-ranges → per-(partition, commit) files with
    // disjoint [smin, smax]
    VersionedTable.create(spark, dir,
      baseDf.filter($"k" <= 15), "p", Some("k"))
    VersionedTable.appendCommit(spark, dir,
      baseDf.filter($"k" > 15), "p", Some("k"))
    val entries = VersionedTable.liveEntries(spark, dir, 1)
    assert(entries.forall(e => e.smin.nonEmpty && e.smax.nonEmpty))
    val pruned = VersionedTable.read(spark, dir, 1).filter($"k".between(20, 25))
    assert(KnownFilesIndex.filesScanned(pruned) < entries.size)
    // lossless: the skipping scan ≡ the full read filtered on the driver
    val full = VersionedTable.read(spark, dir, 1).select($"k").collect()
      .map(_.getLong(0)).filter(k => k >= 20 && k <= 25).toSet
    val viaPruned = pruned.select($"k").collect().map(_.getLong(0)).toSet
    assert(viaPruned == full && full == (20L to 25L).toSet)
    // checkpoint carries the stats through replay (entries re-stamped with
    // the checkpoint's version — compare the stable fields)
    VersionedTable.checkpoint(spark, dir, 1)
    val afterCk = VersionedTable.liveEntries(spark, dir, 1)
    def key(e: graft.sources.VersionedTable.LogEntry) =
      (e.file, e.part, e.smin, e.smax)
    assert(afterCk.map(key).toSet == entries.map(key).toSet)
  }

  test("SQL-path predicate skips files from the log (scol names the stats column)") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir,
      baseDf.filter($"k" <= 15), "p", Some("k"))
    VersionedTable.appendCommit(spark, dir,
      baseDf.filter($"k" > 15), "p", Some("k"))
    val entries = VersionedTable.liveEntries(spark, dir, 1)
    // the manifest NAMES the stats column — a reader arriving with only a
    // predicate can decide skip-eligibility from the log itself
    assert(entries.forall(_.scol.contains("k")))
    // library path: a filter prunes the file list, result stays lossless
    val pruned = VersionedTable.read(spark, dir, 1).filter($"k".between(20, 25))
    assert(KnownFilesIndex.filesScanned(pruned) < entries.size)
    assert(pruned.count() == 6)
    // a filter on a column with no recorded stats prunes nothing
    assert(KnownFilesIndex.filesScanned(VersionedTable.read(spark, dir, 1)
      .filter($"v".between(0, 1))) == entries.size)
    // SQL path end-to-end: the pushed filter's rows come back exactly
    val sql = spark.read.format("graftvt").load(dir)
      .filter($"k" >= 20 && $"k" <= 25)
    assert(sql.select($"k").collect().map(_.getLong(0)).toSet ==
      (20L to 25L).toSet)
    // and an untranslatable/unbounded predicate is merely un-pruned
    assert(spark.read.format("graftvt").load(dir)
      .filter($"v" % 7 === 0).count() ==
      VersionedTable.read(spark, dir, 1).filter($"v" % 7 === 0).count())
  }

  test("all-null stats file records no metrics and survives any bound") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    // v column is entirely null in this commit: min/max are undefined and
    // must be recorded as ABSENT, not as getLong's primitive-default 0
    val nulls = baseDf.withColumn("v", lit(null).cast("long"))
    VersionedTable.create(spark, dir, nulls, "p", Some("v"))
    val entries = VersionedTable.liveEntries(spark, dir, 0)
    assert(entries.forall(e => e.smin.isEmpty && e.smax.isEmpty && e.scol.isEmpty))
    // no stats → conservatively kept under any filter
    assert(KnownFilesIndex.filesScanned(VersionedTable.read(spark, dir, 0)
      .filter($"v".between(5, 6))) == entries.size)
  }

  test("zorderCommit: clustered rewrite records 2-column stats; 2D bounds prune") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    // 64×64 uniform grid, one partition — partition pruning can't help,
    // only the recorded per-file (x, y) ranges can
    val grid = spark.range(4096).select(
      $"id".as("k"), ($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"),
      lit("all").as("p"))
    VersionedTable.create(spark, dir, grid, "p")
    val c = VersionedTable.zorderCommit(spark, dir, "p", Seq("x", "y"),
      files = 8, bits = 6)
    assert(c.version == 1 && c.filesAdded >= 8 - 1)
    val entries = VersionedTable.liveEntries(spark, dir, 1)
    // every rewritten file records BOTH columns' ranges in mstats
    assert(entries.forall(e => e.statRanges.keySet == Set("x", "y")))
    // the first-quadrant rectangle is 1/16 of the space: a z-range layout
    // must confine it to a strict subset of the files
    val pruned = VersionedTable.read(spark, dir, 1)
      .filter($"x".between(0, 15) && $"y".between(0, 15))
    assert(KnownFilesIndex.filesScanned(pruned) < entries.size)
    // losslessness: the skipping scan returns the exact rectangle
    assert(pruned.count() == 256)
    // content unchanged by the rewrite; v0 still time-travels
    assert(VersionedTable.read(spark, dir, 1).agg(sum($"k")).collect()(0)
      .getLong(0) == 4096L * 4095 / 2)
    assert(VersionedTable.read(spark, dir, 0).count() == 4096)
    // the SQL surface prunes from the same stats: pushed 2D predicate
    val viaSql = spark.read.format("graftvt").load(dir)
      .filter($"x" <= 15 && $"y" <= 15)
    assert(viaSql.count() == 256)
    // mstats survive a checkpoint replay
    VersionedTable.checkpoint(spark, dir, 1)
    val afterCk = VersionedTable.liveEntries(spark, dir, 1)
    assert(afterCk.map(e => (e.file, e.mstats)).toSet ==
      entries.map(e => (e.file, e.mstats)).toSet)
  }

  test("mstats render/parse round-trips, including negative bounds") {
    val m = Seq(("x", -5L, 17L), ("pick:up", 0L, 2L))
    // colon in a column name still parses: split on the LAST two colons
    assert(VersionedTable.parseMstats(VersionedTable.renderMstats(m)) ==
      Map("x" -> (-5L, 17L), "pick:up" -> (0L, 2L)))
    assert(VersionedTable.parseMstats("") == Map.empty)
  }

  test("readChangeFeed option maps onto changes() exactly") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 999L, "p0", "U"), (100L, 1000L, "p1", "U"))),
      Seq("k"), "p")
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((2L, 0L, "p1", "D"))), Seq("k"), "p")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_commit_version", $"_change_type", $"k", $"v")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
    val viaSql = spark.read.format("graftvt")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 2)
      .load(dir)
    assert(rows(viaSql) == rows(VersionedTable.changes(spark, dir, 1, 2)))
    // endingVersion defaults to latest; startingVersion to 0 (full history)
    val full = spark.read.format("graftvt")
      .option("readChangeFeed", "true").load(dir)
    assert(rows(full) == rows(VersionedTable.changes(spark, dir, 0, 2)))
    // option("history") surfaces the commit metadata relation verbatim
    val viaHist = spark.read.format("graftvt").option("history", "true")
      .load(dir).select($"version", $"operation", $"n_added").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(viaHist == VersionedTable.history(spark, dir)
      .select($"version", $"operation", $"n_added").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet)
  }

  test("empty change batch still takes a version (dense log, Delta contract)") {
    val dir = newTable()
    val c = VersionedTable.mergeCommit(spark, dir,
      changes(Seq.empty), Seq("k"), "p")
    assert(c.version == 1 && c.filesAdded == 0 && c.filesRemoved == 0)
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    assert(state(dir, 1) == state(dir, 0))
  }

  test("versioned commits restart from a stream checkpoint: history converges") {
    // foreachBatch + mergeCommit across a restart: the source offsets in
    // the stream checkpoint prevent batch loss and duplication, so the
    // restarted table's WHOLE VERSION HISTORY — not just the final state —
    // equals an uninterrupted run's. (After a mid-commit crash the replayed
    // batch would re-commit as a new version with the same content;
    // last-writer-wins makes that content-idempotent. A clean stop replays
    // nothing, so even the version numbering matches.)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("graft_vt_ckpt").toString
    def start(mem: MemoryStream[(Long, Long, String, String)],
              dir: String, ckpt: String) =
      mem.toDF().toDF("k", "v", "p", "op").withColumn("seq", lit(1L))
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty)
            VersionedTable.mergeCommit(b.sparkSession, dir, b, Seq("k"), "p")
          ()
        }.start()
    val b1 = Seq((1L, 501L, "p0", "U"), (31L, 502L, "p1", "U"))
    val b2 = Seq((2L, 0L, "p1", "D"), (31L, 503L, "p1", "U"))

    val t1 = s"$root/t1"
    VersionedTable.create(spark, t1, baseDf, "p")
    val m1 = MemoryStream[(Long, Long, String, String)]
    val q1 = start(m1, t1, s"$root/ckpt")
    m1.addData(b1: _*); q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
    m1.addData(b2: _*) // lands while the query is DOWN
    val q1b = start(m1, t1, s"$root/ckpt")
    q1b.processAllAvailable(); q1b.stop(); q1b.awaitTermination()

    val t2 = s"$root/t2"
    VersionedTable.create(spark, t2, baseDf, "p")
    val m2 = MemoryStream[(Long, Long, String, String)]
    val q2 = start(m2, t2, s"$root/ckpt2")
    m2.addData(b1: _*); q2.processAllAvailable()
    m2.addData(b2: _*); q2.processAllAvailable(); q2.stop(); q2.awaitTermination()

    assert(VersionedTable.latestVersion(spark, t1) ==
      VersionedTable.latestVersion(spark, t2))
    (0 to VersionedTable.latestVersion(spark, t1)).foreach { v =>
      assert(state(t1, v) == state(t2, v), s"version $v diverged")
    }
    val fin = state(t1, VersionedTable.latestVersion(spark, t1))
    assert(fin(31L) == 503L && !fin.contains(2L) && fin(1L) == 501L)
  }

  test("optimize compacts as a commit; history survives until vacuum") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf.filter($"k" % 2 === 0), "p")
    VersionedTable.appendCommit(spark, dir, baseDf.filter($"k" % 2 === 1), "p")
    val preFiles = VersionedTable.liveFiles(spark, dir, 1).size // 2 per part
    val before = state(dir, 1)
    val c = VersionedTable.optimizeCommit(spark, dir, "p")
    assert(c.filesRemoved == preFiles && c.filesAdded == 3) // one per part
    assert(state(dir, 2) == before, "optimize must not change content")
    assert(state(dir, 1) == before, "pre-optimize snapshot still readable")
    // vacuum to the optimized version reclaims the fragments
    val deleted = VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(deleted.size == preFiles, s"fragments not reclaimed: $deleted")
    assert(state(dir, 2) == before, "optimized snapshot intact after vacuum")
  }

  test("merge and optimize across a schema widening keep the late column") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf.filter($"k" <= 15), "p")
    VersionedTable.appendCommit(spark, dir,
      baseDf.filter($"k" > 15).withColumn("tag", lit("late")), "p")
    // merge touches partitions holding BOTH pre- and post-widening files
    VersionedTable.mergeCommit(spark, dir,
      Seq((1L, 999L, "p0", null: String, "U"))
        .toDF("k", "v", "p", "tag", "op").withColumn("seq", lit(1L)),
      Seq("k"), "p")
    val v2 = VersionedTable.read(spark, dir, 2, mergeSchema = true)
    assert(v2.filter($"tag" === "late").count() == 15,
      "merge across the widening dropped the late column")
    assert(v2.filter($"k" === 1L).select($"v").head.getLong(0) == 999L)
    // optimize the whole table: compacted files must still carry the column
    VersionedTable.optimizeCommit(spark, dir, "p")
    val v3 = VersionedTable.read(spark, dir, 3) // post-optimize: one schema
    assert(v3.filter($"tag" === "late").count() == 15,
      "optimize across the widening dropped the late column")
    assert(v3.count() == 30)
  }

  test("conflicting change batches resolve by seq within a commit") {
    val dir = newTable()
    val c = Seq((3L, 1L, "p2", "U", 1L), (3L, 77L, "p2", "U", 2L))
      .toDF("k", "v", "p", "op", "seq")
    VersionedTable.mergeCommit(spark, dir, c, Seq("k"), "p")
    assert(state(dir, 1)(3L) == 77L)
  }

  // ---- optimistic concurrency ----

  test("two racing appends: exactly one wins each version, no lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = newTable()
    val a = Future(VersionedTable.appendCommit(spark, dir,
      Seq((1001L, 1L, "p0")).toDF("k", "v", "p"), "p"))
    val b = Future(VersionedTable.appendCommit(spark, dir,
      Seq((1002L, 2L, "p1")).toDF("k", "v", "p"), "p"))
    val versions = Await.result(Future.sequence(Seq(a, b)), 120.seconds)
      .map(_.version).sorted
    assert(versions == Seq(1, 2), s"racing appends got versions $versions")
    val fin = state(dir, 2)
    assert(fin.contains(1001L) && fin.contains(1002L) && fin.size == 32,
      "one append's rows were lost")
  }

  test("losing append rebases to the next version, reusing its files") {
    val dir = newTable()
    // stale writer: data files written against readVersion=0...
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1,
      Seq((2001L, 1L, "p0")).toDF("k", "v", "p"), "p", None)
    // ...but a concurrent append claims v1 first
    VersionedTable.appendCommit(spark, dir,
      Seq((2002L, 2L, "p1")).toDF("k", "v", "p"), "p")
    val c = VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, Nil,
      None, "append", None)
    assert(c.version == 2, "blind append must rebase, not abort")
    val fin = state(dir, 2)
    assert(fin.contains(2001L) && fin.contains(2002L))
  }

  test("stale merge aborts when a concurrent commit touched its partitions") {
    val dir = newTable()
    // stale merge's rewrite of p0, computed against v0
    val staleOut = VersionedTable.read(spark, dir, 0, Some(Set("p0")))
      .withColumn("v", $"v" + 1000L)
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1, staleOut, "p", None)
    val removes = VersionedTable.liveFiles(spark, dir, 0).filter(_._2 == "p0")
    // winner lands a merge on the SAME partition first
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 555L, "p0", "U"))), Seq("k"), "p")
    intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, removes,
        Some(Set("p0")), "merge", None)
    }
    // the loser's never-published files were cleaned up
    val attemptDir = adds.head.file.split('/').take(2).mkString("/")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/$attemptDir")),
      "aborted attempt's files must be deleted")
    // and the winner's update survived
    assert(state(dir, 1)(1L) == 555L)
  }

  test("stale merge on DISJOINT partitions rebases and lands") {
    val dir = newTable()
    val staleOut = VersionedTable.read(spark, dir, 0, Some(Set("p2")))
      .withColumn("v", $"v" + 1000L)
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1, staleOut, "p", None)
    val removes = VersionedTable.liveFiles(spark, dir, 0).filter(_._2 == "p2")
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 555L, "p0", "U"))), Seq("k"), "p") // winner: p0 only
    val c = VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, removes,
      Some(Set("p2")), "merge", None)
    assert(c.version == 2)
    val fin = state(dir, 2)
    assert(fin(1L) == 555L, "winner's p0 update lost")
    assert(fin(3L) == 1020L, "rebased p2 rewrite lost") // k=3 → id=2 → p2, v=20
  }

  test("vacuum never reaps an in-flight commit's unpublished files") {
    val dir = newTable()
    Thread.sleep(15) // files below must be strictly newer than v0's manifest
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1,
      Seq((3001L, 1L, "p0")).toDF("k", "v", "p"), "p", None)
    val deleted = VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(deleted.isEmpty, s"vacuum reaped in-flight files: $deleted")
    // the in-flight commit can still publish and read back
    val c = VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, Nil,
      None, "append", None)
    assert(state(dir, c.version).contains(3001L))
  }

  // ---- metadata write skew: a data commit validated its schema and
  // constraints at its read version, so a rebase past a schema or
  // constraint change must abort, not publish ----

  private def hfs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def attemptDirs(dir: String): Set[String] =
    hfs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).toSet

  private def assertAborted(dir: String, version: Int,
                            before: Set[String])(commit: => Any): Unit = {
    intercept[java.util.ConcurrentModificationException](commit)
    assert(VersionedTable.latestVersion(spark, dir) == version,
      "the stale commit published a version")
    assert(attemptDirs(dir) == before,
      "the aborted attempt's files must be deleted")
  }

  test("stale blind append aborts after a concurrent ADD CONSTRAINT") {
    val dir = newTable()
    val before = attemptDirs(dir)
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1,
      Seq((5001L, -1L, "p0")).toDF("k", "v", "p"), "p", None)
    VersionedTable.addConstraintCommit(spark, dir, "nonneg", "v >= 0") // v1
    assertAborted(dir, 1, before) {
      VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, Nil,
        None, "append", None)
    }
    assert(VersionedTable.read(spark, dir, 1).filter($"v" < 0).isEmpty)
  }

  test("stale partition rewrite aborts after a concurrent ADD CONSTRAINT") {
    val dir = newTable()
    val rewritten = VersionedTable.read(spark, dir, 0, Some(Set("p1")))
      .withColumn("v", -$"v" - 1L)
    VersionedTable.addConstraintCommit(spark, dir, "nonneg", "v >= 0") // v1
    val before = attemptDirs(dir)
    assertAborted(dir, 1, before) {
      VersionedTable.rewritePartitionsCommit(spark, dir, Set("p1"), rewritten,
        "p", readVersion = 0)
    }
    assert(VersionedTable.read(spark, dir, 1).filter($"v" < 0).isEmpty)
  }

  test("stale append aborts after a concurrent DROP COLUMNS") {
    val dir = newTable()
    val before = attemptDirs(dir)
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1,
      Seq((5002L, 7L, "p0")).toDF("k", "v", "p"), "p", None)
    VersionedTable.dropColumnsCommit(spark, dir, Seq("v"), "p") // v1
    assertAborted(dir, 1, before) {
      VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, Nil,
        None, "append", None)
    }
    assert(VersionedTable.read(spark, dir, 1, mergeSchema = true)
      .columns.toSet == Set("k", "p"), "the dropped column resurfaced")
  }

  test("stale metadata commit rebases past a noop, aborts on any data") {
    val dir = newTable()
    def check(name: String, ex: String) = VersionedTable.LogEntry(-1,
      "constraint", s"_constraint/$name", "", None, None, Some(ex))
    VersionedTable.mergeCommit(spark, dir, changes(Seq.empty), Seq("k"),
      "p")                                                    // v1: noop
    val c = VersionedTable.commitAttempt(spark, dir, 0, Nil, Nil, Nil, None,
      "add_constraint", None, evolves = Seq(check("nonneg", "v >= 0")))
    assert(c.version == 2)
    VersionedTable.appendCommit(spark, dir,
      Seq((5003L, 5000L, "p2")).toDF("k", "v", "p"), "p")     // v3
    val before = attemptDirs(dir)
    // validated against v2, where every v is below 1000
    assertAborted(dir, 3, before) {
      VersionedTable.commitAttempt(spark, dir, 2, Nil, Nil, Nil, None,
        "add_constraint", None, evolves = Seq(check("small", "v < 1000")))
    }
    assert(VersionedTable.constraintsAt(spark, dir, 3).keySet == Set("nonneg"))
  }

  test("vacuum reaps the temp manifest and checkpoint a crashed writer left") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 111L, "p0", "U"))), Seq("k"), "p")     // v1
    val committed = state(dir, 1)
    // a writer that died between writing its temp manifest and claiming
    // it, and one that died mid-checkpoint before its rename, each with
    // the .crc sidecar the local filesystem writes
    val leftovers = Seq("_logtmp_dead0001.parquet", "_ckpttmp_dead0002.parquet")
    val sidecars = leftovers.map(n => s".$n.crc")
    val manifest = java.nio.file.Paths.get(s"$dir/_log/v00001.parquet")
    (leftovers ++ sidecars).foreach(n =>
      Files.copy(manifest, java.nio.file.Paths.get(s"$dir/$n")))
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    assert(state(dir, 1) == committed)
    // newer than the latest manifest: possibly in flight, so kept
    assert(VersionedTable.vacuum(spark, dir, retainLast = 2).isEmpty)
    Thread.sleep(15)
    VersionedTable.mergeCommit(spark, dir, changes(Seq.empty), Seq("k"),
      "p")                                                    // v2
    val deleted = VersionedTable.vacuum(spark, dir, retainLast = 2)
    assert(leftovers.forall(deleted.contains), s"leftovers kept: $deleted")
    assert((leftovers ++ sidecars).forall(n =>
      !Files.exists(java.nio.file.Paths.get(s"$dir/$n"))))
    assert(state(dir, 2) == committed)
  }

  test("a commit and a checkpoint leave no temp-manifest .crc sidecar") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 111L, "p0", "U"))), Seq("k"), "p")     // v1
    VersionedTable.checkpoint(spark, dir, 1)
    val left = new java.io.File(dir).list().toSeq.filter(n =>
      n.startsWith("._logtmp_") || n.startsWith("._ckpttmp_"))
    assert(left.isEmpty, s"sidecars left at the table root: $left")
    assert(state(dir, 1)(1L) == 111L)
  }

  test("changes(): a copy-on-write version equals the two-EXCEPT-ALL diff") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    val nan = Double.NaN
    val before = Seq[(Long, java.lang.Double, String)](
      (1L, 1.0, "a"), (1L, 1.0, "a"), (1L, 1.0, "a"), (2L, null, "a"),
      (2L, null, "a"), (3L, nan, "a"), (4L, -0.0, "a"), (5L, 5.0, "a"),
      (6L, 6.0, "b")).toDF("k", "d", "p")
    VersionedTable.create(spark, dir, before, "p")                 // v0
    // v1 widens the schema by `e`, so v0's files predate the widening
    VersionedTable.appendCommit(spark, dir,
      Seq((7L, 7.0, "b", 70L)).toDF("k", "d", "p", "e"), "p")
    val after = Seq[(Long, java.lang.Double, String, java.lang.Long)](
      (1L, 1.0, "a", null), (2L, null, "a", null), (2L, null, "a", null),
      (3L, nan, "a", null), (3L, nan, "a", null), (4L, 0.0, "a", null),
      (5L, 5.0, "a", 50L), (8L, null, "a", 80L)).toDF("k", "d", "p", "e")
    val c = VersionedTable.rewritePartitionsCommit(spark, dir, Set("a"),
      after, "p")                                                  // v2
    val live = (v: Int) => VersionedTable.liveFiles(spark, dir, v).map(_._1)
    def readFiles(fs: Seq[String]) = spark.read.option("mergeSchema", "true")
      .parquet(fs.map(f => s"$dir/$f"): _*)
    val a0 = readFiles(live(2).diff(live(1)))
    val r0 = readFiles(live(1).diff(live(2)))
    assert(!r0.columns.contains("e"), "the removed side must predate `e`")
    val cols = (a0.columns ++ r0.columns).distinct.toSeq
    def fit(df: org.apache.spark.sql.DataFrame) = df.select(cols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    val (a, r) = (fit(a0), fit(r0))
    def tagged(df: org.apache.spark.sql.DataFrame, ct: String) =
      df.select(lit(c.version).as("_commit_version") +:
        lit(ct).as("_change_type") +: cols.map(col): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val got = VersionedTable.changes(spark, dir, c.version, c.version)
    val want = tagged(a.exceptAll(r), "insert")
      .union(tagged(r.exceptAll(a), "delete"))
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(rows(got) == rows(want))
    // a row held 3x before and 1x after is two deletes
    assert(got.filter($"k" === 1L).collect().map(_.getAs[String](
      "_change_type")).toSeq == Seq("delete", "delete"))
  }

  // ---- merge-on-read deletion vectors ----

  test("deleteCommit writes tombstones, not partition rewrites") {
    val dir = newTable()
    val c = VersionedTable.deleteCommit(spark, dir,
      Seq((2L, "p1"), (5L, "p1")).toDF("k", "p"), "p")
    assert(c.filesAdded == 1 && c.filesRemoved == 0,
      "a DV delete must add one tombstone file and rewrite nothing")
    val v1 = state(dir, 1)
    assert(!v1.contains(2L) && !v1.contains(5L) && v1.size == 28)
    assert(state(dir, 0).size == 30, "time travel past the delete broken")
    // merge-on-read: every v0 data file is still live at v1
    assert(VersionedTable.liveFiles(spark, dir, 1).toSet ==
      VersionedTable.liveFiles(spark, dir, 0).toSet)
    // a tombstone suppresses its key snapshot-wide until materialization
    VersionedTable.appendCommit(spark, dir,
      Seq((2L, 7L, "p1")).toDF("k", "v", "p"), "p")
    assert(!state(dir, 2).contains(2L),
      "documented semantics: re-insert of a tombstoned key needs merge/optimize first")
    // optimize materializes the DV and retires the tombstone
    VersionedTable.optimizeCommit(spark, dir, "p")
    assert(VersionedTable.liveEntries(spark, dir, 3).forall(_.action == "add"))
    assert(state(dir, 3) == state(dir, 2), "materialization changed content")
    VersionedTable.appendCommit(spark, dir,
      Seq((2L, 8L, "p1")).toDF("k", "v", "p"), "p")
    assert(state(dir, 4)(2L) == 8L, "post-materialization re-insert visible")
  }

  /** SQL executions started while `body` runs. The listener bus is
    * asynchronous, so events are counted between two marker jobs' starts,
    * which it delivers in order with everything posted around them. */
  private def sqlExecutions(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("graft-marker")).foreach(seen.put(_))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => seen.put("sql")
        case _ =>
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      marker("graft-marker-0"); body; marker("graft-marker-1")
      val events = Iterator.continually(
        seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != "graft-marker-1").toSeq
      events.dropWhile(_ != "graft-marker-0").count(_ == "sql")
    } finally sc.removeSparkListener(l)
  }

  test("mergeCommit runs the partition probe and the write, no checkpoint") {
    val dir = newTable()
    val n = sqlExecutions(VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 999L, "p0", "U"), (100L, 1000L, "p1", "U"))),
      Seq("k"), "p"))
    // the distinct partition values of the changes, then the write; the
    // footers, the log and the listing are read without a Spark job
    assert(n == 2, s"$n SQL executions")
    val v1 = state(dir, 1)
    assert(v1.size == 31 && v1(1L) == 999L && v1(100L) == 1000L)
  }

  test("mergeCommit materializes and retires its partitions' tombstones") {
    val dir = newTable()
    VersionedTable.deleteCommit(spark, dir, Seq((2L, "p1")).toDF("k", "p"), "p")
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((8L, 888L, "p1", "U"))), Seq("k"), "p")
    val entries = VersionedTable.liveEntries(spark, dir, 2)
    assert(entries.forall(_.action == "add"), "p1's tombstone must retire")
    val v2 = state(dir, 2)
    assert(!v2.contains(2L) && v2(8L) == 888L && v2.size == 29)
  }

  test("a stats-pruned read applies tombstones") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf, "p", Some("k"))
    VersionedTable.deleteCommit(spark, dir, Seq((22L, "p0")).toDF("k", "p"), "p")
    val ks = VersionedTable.read(spark, dir, 1).filter($"k".between(20, 25))
      .select($"k").collect().map(_.getLong(0)).toSet
    assert(ks == Set(20L, 21L, 23L, 24L, 25L))
  }

  test("a stats-pruned read after DROP/ADD COLUMNS returns the effective " +
      "schema") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir,
      baseDf.filter($"k" <= 15), "p", Some("k"))
    VersionedTable.appendCommit(spark, dir,
      baseDf.filter($"k" > 15), "p", Some("k"))
    VersionedTable.dropColumnsCommit(spark, dir, Seq("v"), "p")
    VersionedTable.addColumnsCommit(spark, dir, Seq(StructField("w", LongType)))
    val live = VersionedTable.liveEntries(spark, dir, 3)
    val pruned = VersionedTable.read(spark, dir, 3).filter($"k".between(20, 25))
    assert(pruned.columns.toSeq == Seq("k", "p", "w"))
    assert(KnownFilesIndex.filesScanned(pruned) < live.size)
    assert(pruned.count() == 6)
  }

  // ---- change data feed ----

  test("changes() derives row-level inserts and deletes per version") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((1L, 999L, "p0", "U"), (100L, 1000L, "p1", "U"))),
      Seq("k"), "p")                                         // v1: update + insert
    VersionedTable.mergeCommit(spark, dir,
      changes(Seq((2L, 0L, "p1", "D"))), Seq("k"), "p")      // v2: delete
    def cdf(from: Int, to: Int) =
      VersionedTable.changes(spark, dir, from, to)
        .select($"_commit_version", $"_change_type", $"k", $"v")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(cdf(1, 1) == Set((1, "insert", 1L, 999L), (1, "insert", 100L, 1000L),
      (1, "delete", 1L, 0L)),
      "an update must appear as new-image insert + old-image delete")
    assert(cdf(2, 2) == Set((2, "delete", 2L, 10L)))
    assert(cdf(0, 0).size == 30 && cdf(0, 0).forall(_._2 == "insert"))
    assert(cdf(1, 2).size == 4)
  }

  test("changes() across a deletion-vector commit and an optimize") {
    val dir = newTable()
    VersionedTable.deleteCommit(spark, dir,
      Seq((2L, "p1"), (5L, "p1")).toDF("k", "p"), "p")       // v1: DV
    VersionedTable.optimizeCommit(spark, dir, "p")           // v2: materialize
    val rows = VersionedTable.changes(spark, dir, 1, 2)
      .select($"_commit_version", $"_change_type", $"k", $"v")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    // DV commit: deletes = prior-snapshot images of the tombstoned keys;
    // optimize: content-neutral, nets to ZERO rows (tomb retirement is
    // metadata-only)
    assert(rows == Set((1, "delete", 2L, 10L), (1, "delete", 5L, 40L)))
  }

  test("empty commit yields an empty CDF slice") {
    val dir = newTable()
    VersionedTable.mergeCommit(spark, dir, changes(Seq.empty), Seq("k"), "p")
    assert(VersionedTable.changes(spark, dir, 1, 1).count() == 0)
  }

  // ---- commit metadata + timestamp time travel ----

  test("history records ts and operation; readAsOf resolves by timestamp") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf, "p", ts = Some(1000L))
    VersionedTable.appendCommit(spark, dir,
      Seq((4001L, 1L, "p0")).toDF("k", "v", "p"), "p", ts = Some(2000L))
    VersionedTable.deleteCommit(spark, dir,
      Seq((4001L, "p0")).toDF("k", "p"), "p", ts = Some(3000L))
    val h = VersionedTable.history(spark, dir)
      .select($"version", $"ts", $"operation").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    assert(h == Seq((0, 1000L, "create"), (1, 2000L, "append"),
      (2, 3000L, "delete")))
    assert(VersionedTable.versionAsOf(spark, dir, 2500L) == 1)
    assert(VersionedTable.versionAsOf(spark, dir, 2000L) == 1)
    assert(VersionedTable.versionAsOf(spark, dir, 99999L) == 2)
    assert(VersionedTable.readAsOf(spark, dir, 2500L)
      .filter($"k" === 4001L).count() == 1)
    assert(VersionedTable.readAsOf(spark, dir, 3000L)
      .filter($"k" === 4001L).count() == 0)
    intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(spark, dir, 999L)
    }
  }

  test("fileSplits spreads a hot partition over several files and tasks") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    // 1000 rows all in ONE partition value — the hot-partition pathology
    val hot = spark.range(1000)
      .select(($"id" + 1).as("k"), ($"id" * 10).as("v"), lit("p0").as("p"))
    VersionedTable.create(spark, dir, hot, "p", fileSplits = 4, statsCol = Some("k"))
    val entries = VersionedTable.liveEntries(spark, dir, 0)
    assert(entries.size > 1 && entries.size <= 4,
      s"expected 2..4 files for the hot partition, got ${entries.size}")
    assert(entries.forall(_.part == "p0"))
    // per-file stats recorded for every split; content identical
    assert(entries.forall(e => e.smin.nonEmpty && e.smax.nonEmpty))
    assert(VersionedTable.read(spark, dir, 0).count() == 1000)
    assert(VersionedTable.read(spark, dir, 0)
      .agg(org.apache.spark.sql.functions.sum($"k")).head.getLong(0) == 500500L)
  }

  test("empty old snapshot never exposes a later commit's columns") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf, "p")
    // v1 empties p1 entirely; v2 widens the schema
    val allP1 = baseDf.filter($"p" === "p1")
      .withColumn("op", lit("D")).withColumn("seq", lit(1L))
    VersionedTable.mergeCommit(spark, dir, allP1, Seq("k"), "p")
    VersionedTable.appendCommit(spark, dir,
      Seq((5001L, 1L, "p0", "w")).toDF("k", "v", "p", "late"), "p")
    // empty slice of v1 takes its schema from v1's OWN live set
    val emptySlice = VersionedTable.read(spark, dir, 1, Some(Set("p1")),
      mergeSchema = true)
    assert(emptySlice.count() == 0)
    assert(!emptySlice.columns.contains("late"),
      "v1's empty slice leaked v2's column")
    assert(emptySlice.columns.toSet == Set("k", "v", "p"))
  }

  test("vacuum grace protects the rebase window (loser's files predate the winner's manifest)") {
    val dir = newTable()
    // a LOSER writer finishes its data files first...
    val adds = VersionedTable.writeCommitFiles(spark, dir, 1,
      Seq((4001L, 1L, "p0")).toDF("k", "v", "p"), "p", None)
    Thread.sleep(15)
    // ...then a WINNER publishes v1, so the loser's unpublished files are
    // strictly OLDER than the latest manifest — the rebase window where a
    // graceless vacuum would reap them before commitAttempt rebases
    VersionedTable.appendCommit(spark, dir,
      Seq((4002L, 2L, "p0")).toDF("k", "v", "p"), "p")
    val deleted = VersionedTable.vacuum(spark, dir, retainLast = 1,
      inflightGraceMs = 60000L)
    assert(!deleted.exists(_.contains("c00001")),
      s"vacuum reaped the rebase-window files: $deleted")
    // the loser rebases onto v2 and its data reads back intact
    val c = VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, Nil,
      None, "append", None)
    assert(c.version == 2 && state(dir, 2).contains(4001L))
  }

  test("manifest row counts: history deltas and metadata-only snapshot counts") {
    val dir = newTable()
    VersionedTable.appendCommit(spark, dir,
      Seq((101L, 1L, "p0"), (102L, 2L, "p1")).toDF("k", "v", "p"), "p")
    VersionedTable.deleteCommit(spark, dir,
      Seq((1L, "p0"), (2L, "p1"), (3L, "p2")).toDF("k", "p"), "p")
    val h = VersionedTable.history(spark, dir)
      .select($"version", $"n_recs_added", $"n_recs_tombstoned")
      .collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))).toSeq
    assert(h == Seq((0, 30L, 0L), (1, 2L, 0L), (2, 0L, 3L)),
      s"history record deltas wrong: $h")
    // snapshot counts answered from the log alone must equal the scans
    (0 to 2).foreach { v =>
      val meta = VersionedTable.snapshotRowCount(spark, dir, v)
      val actual = VersionedTable.read(spark, dir, v).count()
      assert(meta.contains(actual), s"v$v: meta=$meta actual=$actual")
    }
    // counts survive checkpoint replay
    VersionedTable.checkpoint(spark, dir, 2)
    assert(VersionedTable.snapshotRowCount(spark, dir, 2).contains(29L))
  }

  test("format(\"graftvt\") options map onto read()/readAsOf exactly") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    VersionedTable.create(spark, dir, baseDf, "p", ts = Some(1000L))
    VersionedTable.appendCommit(spark, dir,
      Seq((201L, 7L, "p1", "w")).toDF("k", "v", "p", "late"), "p",
      ts = Some(2000L))
    VersionedTable.deleteCommit(spark, dir,
      Seq((5L, "p1")).toDF("k", "p"), "p", ts = Some(3000L))
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select($"k", $"v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // versionAsOf ≡ read(v)
    (0 to 2).foreach { v =>
      assert(m(spark.read.format("graftvt").option("versionAsOf", v)
        .load(dir)) == state(dir, v), s"versionAsOf $v drifted from read()")
    }
    // default = latest; timestampAsOf ≡ readAsOf
    assert(m(spark.read.format("graftvt").load(dir)) == state(dir, 2))
    assert(m(spark.read.format("graftvt").option("timestampAsOf", 2500L)
      .load(dir)) == state(dir, 1))
    // mergeSchema surfaces the widened column, older rows null
    val wide = spark.read.format("graftvt").option("versionAsOf", 1)
      .option("mergeSchema", "true").load(dir)
    assert(wide.columns.contains("late"))
    assert(wide.filter($"late".isNotNull).count() == 1)
    // partition pruning + pushed filters return the right slice
    val sliced = spark.read.format("graftvt").option("partitions", "p1")
      .option("versionAsOf", 0).load(dir).filter($"k" > 10L)
    assert(sliced.collect().forall(r => r.getAs[String]("p") == "p1"))
    // the SQL surface: CREATE TEMPORARY VIEW ... USING graftvt
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_vt_spec " +
      s"USING graftvt OPTIONS (path '$dir', versionAsOf '2')")
    assert(m(spark.table("graft_vt_spec")) == state(dir, 2))
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_vt_spec WHERE p = 'p2'")
      .head.getLong(0) == state(dir, 2).size / 3)
    spark.catalog.dropTempView("graft_vt_spec")
  }

  test("write.format(\"graftvt\") SaveModes map onto commit primitives") {
    val dir = Files.createTempDirectory("graft_vt").toString + "/t"
    def w(df: org.apache.spark.sql.DataFrame) =
      df.write.format("graftvt").option("partitionCol", "p")
    w(baseDf).mode("errorifexists").save(dir)                       // v0 create
    w(Seq((501L, 5L, "p1")).toDF("k", "v", "p")).mode("append").save(dir) // v1
    intercept[Exception] { w(baseDf).mode("errorifexists").save(dir) }
    assert(state(dir, 1).size == 31 && state(dir, 1)(501L) == 5L)
    // overwrite replaces the WHOLE table in one version, history intact
    w(Seq((900L, 9L, "p0")).toDF("k", "v", "p")).mode("overwrite").save(dir)
    assert(VersionedTable.latestVersion(spark, dir) == 2)
    assert(state(dir, 2) == Map(900L -> 9L), "overwrite must replace, not merge")
    assert(state(dir, 1).size == 31, "pre-overwrite history lost")
    // ignore: no-op on an existing table
    w(Seq((999L, 1L, "p0")).toDF("k", "v", "p")).mode("ignore").save(dir)
    assert(VersionedTable.latestVersion(spark, dir) == 2)
    // history records the overwrite op and its record delta
    val h = VersionedTable.history(spark, dir)
      .filter($"version" === 2).select($"operation", $"n_recs_added")
      .head
    assert(h.getString(0) == "overwrite" && h.getLong(1) == 1L)
  }

  test("contended appends all terminate; a stale reader rebases past them") {
    // The retry loop is bounded (MaxCommitAttempts) — sustained contention
    // or a claim that errors instead of returning false now surfaces as
    // ConcurrentModificationException rather than spinning. Exercise the
    // live path: three concurrent blind appends against the same version
    // must all terminate with dense versions, and a writer holding a
    // stale readVersion afterwards rebases once and lands on top.
    val dir = newTable()
    val threads = (1 to 3).map { i =>
      new Thread(() => VersionedTable.appendCommit(spark, dir,
        Seq((8000L + i, i.toLong, "p0")).toDF("k", "v", "p"), "p"))
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a racing appendCommit never terminated")
    assert(VersionedTable.latestVersion(spark, dir) == 3)
    val adds = VersionedTable.writeCommitFiles(spark, dir, 4,
      Seq((7001L, 1L, "p0")).toDF("k", "v", "p"), "p", None)
    val c = VersionedTable.commitAttempt(spark, dir, 0, adds, Nil, Nil,
      None, "append", None)
    assert(c.version == 4 && state(dir, 4).contains(7001L))
    assert((8001L to 8003L).forall(state(dir, 4).contains))
  }
}

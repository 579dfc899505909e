package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** SQL maintenance verbs over graftvt tables (GraftSqlParser): OPTIMIZE,
  * OPTIMIZE ZORDER BY, VACUUM RETAIN n VERSIONS, DESCRIBE HISTORY —
  * statement recognition, delegation of everything else, and the
  * statement→commit/library mapping. */
class GraftVtMaintenanceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.extensionSession()

  /** Fragmented 2-partition table: v0 create + v1/v2 appends — three
    * files per partition. */
  private def newTable(prefix: String, name: String): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    import spark.implicits._
    def slice(off: Long) = Seq(
      (off + 1, 10L + off, "p0"), (off + 2, 20L + off, "p1")).toDF("k", "v", "p")
    VersionedTable.create(spark, dir, slice(0), "p")
    VersionedTable.appendCommit(spark, dir, slice(10), "p")
    VersionedTable.appendCommit(spark, dir, slice(20), "p")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    dir
  }

  test("OPTIMIZE compacts to one file per partition, as a commit") {
    val dir = newTable("graft_mnt_o", "vt_mnt_o")
    val r = spark.sql("OPTIMIZE vt_mnt_o").head()
    assert((r.getInt(0), r.getLong(1), r.getLong(2)) == (3, 2L, 6L), r.toString)
    val live = VersionedTable.liveEntries(spark, dir, 3)
      .filter(_.action == "add")
    assert(live.size == 2 && live.forall(_.version == 3))
    // content unchanged; pre-optimize snapshot still time-travelable
    assert(spark.sql("SELECT sum(v) FROM vt_mnt_o").head().getLong(0) ==
      VersionedTable.read(spark, dir, 2).selectExpr("sum(v)").head().getLong(0))
    spark.sql("DROP TABLE vt_mnt_o")
  }

  test("OPTIMIZE ZORDER BY routes to zorderCommit (mstats recorded)") {
    val dir = newTable("graft_mnt_z", "vt_mnt_z")
    val r = spark.sql("OPTIMIZE vt_mnt_z ZORDER BY (k, v)").head()
    assert(r.getInt(0) == 3 && r.getLong(2) == 6L, r.toString)
    val hist = VersionedTable.history(spark, dir)
      .filter("version = 3").select("operation").head().getString(0)
    assert(hist == "zorder")
    val live = VersionedTable.liveEntries(spark, dir, 3)
      .filter(_.action == "add")
    assert(live.forall(e => e.statRanges.contains("k") &&
      e.statRanges.contains("v")), live.map(_.statRanges).toString)
    spark.sql("DROP TABLE vt_mnt_z")
  }

  test("VACUUM RETAIN reclaims exactly the unreferenced files") {
    val dir = newTable("graft_mnt_v", "vt_mnt_v")
    spark.sql("OPTIMIZE vt_mnt_v")
    // retain only the optimized version: the six fragments are
    // unreferenced and older than the v3 manifest
    val n = spark.sql("VACUUM vt_mnt_v RETAIN 1 VERSIONS GRACE 0 HOURS").head().getLong(0)
    assert(n == 6L, n.toString)
    assert(spark.sql("SELECT count(*) FROM vt_mnt_v").head().getLong(0) == 6L)
    spark.sql("DROP TABLE vt_mnt_v")
  }

  test("VACUUM default grace spares just-written files; GRACE 0 opts out") {
    newTable("graft_mnt_vg", "vt_mnt_vg")
    spark.sql("OPTIMIZE vt_mnt_vg")
    // no GRACE clause → the 7-day in-flight default: the six unreferenced
    // fragments were written seconds ago and MUST survive (a concurrent
    // writer's rebase window could still reference files this young)
    val spared = spark.sql("VACUUM vt_mnt_vg RETAIN 1 VERSIONS")
      .head().getLong(0)
    assert(spared == 0L, s"default grace reaped $spared files")
    // the explicit opt-out reclaims them
    val n = spark.sql("VACUUM vt_mnt_vg RETAIN 1 VERSIONS GRACE 0 HOURS")
      .head().getLong(0)
    assert(n == 6L, n.toString)
    spark.sql("DROP TABLE vt_mnt_vg")
  }

  test("maintenance verbs accept backquoted table names") {
    newTable("graft_mnt_bq", "vt_mnt_bq")
    // backquoted catalog name parses and resolves (the session catalog
    // itself only admits word characters in persistent names, so the
    // special-character case rides a temp view below)
    val r = spark.sql("OPTIMIZE `vt_mnt_bq`").head()
    assert(r.getInt(0) == 3 && r.getLong(1) == 2L, r.toString)
    // a dashed temp-view name is only addressable backquoted; DESCRIBE
    // HISTORY through the passthrough view resolves read-only
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW `vt-mnt-bq` AS " +
      "SELECT * FROM vt_mnt_bq")
    assert(spark.sql("DESCRIBE HISTORY `vt-mnt-bq`").count() == 4L)
    assert(spark.sql("SELECT count(*) FROM `vt-mnt-bq`").head().getLong(0)
      == 6L)
    spark.sql("DROP VIEW `vt-mnt-bq`")
    spark.sql("DROP TABLE vt_mnt_bq")
  }

  test("VACUUM never touches parquet the log has never referenced") {
    val dir = newTable("graft_mnt_vf", "vt_mnt_vf")
    import spark.implicits._
    // a foreign parquet sitting inside the table dir (e.g. the source
    // dump the table was built from) — in no manifest, must survive
    val foreign = s"$dir/foreign_dump"
    Seq((7L, 70L)).toDF("a", "b").write.parquet(foreign)
    spark.sql("OPTIMIZE vt_mnt_vf")
    spark.sql("VACUUM vt_mnt_vf RETAIN 1 VERSIONS GRACE 0 HOURS")
    assert(spark.read.parquet(foreign).count() == 1L)
    spark.sql("DROP TABLE vt_mnt_vf")
  }

  test("DESCRIBE HISTORY returns the commit log rows") {
    newTable("graft_mnt_h", "vt_mnt_h")
    val rows = spark.sql("DESCRIBE HISTORY vt_mnt_h")
      .select("version", "operation", "n_added").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows == Seq((0, "create", 2L), (1, "append", 2L),
      (2, "append", 2L)), rows.toString)
    // composes as a DataFrame: aggregate over the statement's result
    // (only whole statements are intercepted — the history RELATION for
    // inline SQL composition stays option("history"), as before)
    assert(spark.sql("DESCRIBE HISTORY vt_mnt_h")
      .selectExpr("sum(n_added)").head().getLong(0) == 6L)
    spark.sql("DROP TABLE vt_mnt_h")
  }

  test("RESTORE TO VERSION is zero-copy and itself time-travelable") {
    val dir = newTable("graft_mnt_r", "vt_mnt_r")
    val v2Files = VersionedTable.liveEntries(spark, dir, 2)
      .map(_.file).toSet
    // overwrite away the history, then roll back
    spark.sql("INSERT OVERWRITE vt_mnt_r VALUES (99, 990, 'p9')")
    val r = spark.sql("RESTORE TABLE vt_mnt_r TO VERSION AS OF 2").head()
    assert(r.getInt(0) == 4, r.toString)
    // content = v2's; the restore re-references v2's files byte-for-byte
    assert(spark.sql("SELECT sum(v) AS s, count(*) AS n FROM vt_mnt_r")
      .head().toSeq == Seq(150L, 6L))
    val v4Adds = VersionedTable.liveEntries(spark, dir, 4)
      .filter(e => e.version == 4 && e.action == "add").map(_.file).toSet
    assert(v4Adds.subsetOf(v2Files), s"restore copied files: $v4Adds")
    // the pre-restore state is still a version: restore is undoable
    assert(VersionedTable.read(spark, dir, 3).count() == 1L)
    val ops = VersionedTable.history(spark, dir).orderBy("version")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append", "overwrite", "restore"))
    spark.sql("DROP TABLE vt_mnt_r")
  }

  test("RESTORE materializes tombstoned partitions (CDF shape holds)") {
    val dir = newTable("graft_mnt_rt", "vt_mnt_rt")
    import spark.implicits._
    // v3: deletion-vector delete of k=1 in p0; v4: drop p0 entirely
    VersionedTable.deleteCommit(spark, dir,
      Seq((1L, "p0")).toDF("k", "p"), "p")
    spark.sql("DELETE FROM vt_mnt_rt WHERE p = 'p0'")
    // restore to the tombstoned state: p0 comes back WITHOUT k=1, and the
    // restore commit carries no tombstones (adds+removes only)
    spark.sql("RESTORE TABLE vt_mnt_rt TO VERSION AS OF 3")
    val got = spark.sql("SELECT k FROM vt_mnt_rt ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 11L, 12L, 21L, 22L), got.toString)
    val v5 = VersionedTable.liveEntries(spark, dir, 5).filter(_.version == 5)
    assert(v5.forall(_.action == "add"), v5.map(_.action).toString)
    // CDF of the restore = the rollback diff: p0's surviving rows (11 and
    // 21 — k=1 was tombstoned at the restore point and stays deleted)
    // reappear; p1 was never touched and contributes nothing
    val cdf = VersionedTable.changes(spark, dir, 5, 5)
      .select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(cdf == Set(("insert", 11L), ("insert", 21L)), cdf.toString)
    spark.sql("DROP TABLE vt_mnt_rt")
  }

  test("RESTORE past a vacuumed version fails with a clear error") {
    val dir = newTable("graft_mnt_rv", "vt_mnt_rv")
    spark.sql("OPTIMIZE vt_mnt_rv")
    spark.sql("VACUUM vt_mnt_rv RETAIN 1 VERSIONS GRACE 0 HOURS")
    val e = intercept[IllegalArgumentException] {
      spark.sql("RESTORE vt_mnt_rv TO VERSION AS OF 0")
    }
    assert(e.getMessage.contains("vacuum retention"), e.getMessage)
    spark.sql("DROP TABLE vt_mnt_rv")
  }

  test("VACUUM beside a CONVERTED table spares never-referenced parquet") {
    // the r11 snapshot commit added vacuum's known-files guard untested:
    // a converted table's data files live at the TABLE ROOT in their
    // original key=value layout, so vacuum's walk covers the whole dir —
    // a raw parquet that was never in any manifest (e.g. the source dump
    // the table was converted NEXT TO) must survive even there
    val dir = Files.createTempDirectory("graft_mnt_cvv").toString + "/t"
    import spark.implicits._
    Seq((1L, 10L, "p0"), (2L, 20L, "p1")).toDF("k", "v", "p")
      .repartition(col("p")).write.partitionBy("p").parquet(dir)
    spark.sql(s"CONVERT TO graftvt '$dir' PARTITIONED BY (p)")
    // a foreign dump INSIDE the converted table's directory tree
    val foreign = s"$dir/source_dump"
    Seq((9L, 90L)).toDF("a", "b").write.parquet(foreign)
    spark.sql("DROP TABLE IF EXISTS vt_mnt_cvv")
    spark.sql(s"CREATE TABLE vt_mnt_cvv USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    // supersede the imported files so they become vacuum candidates
    spark.sql("OPTIMIZE vt_mnt_cvv")
    val n = spark.sql("VACUUM vt_mnt_cvv RETAIN 1 VERSIONS GRACE 0 HOURS")
      .head().getLong(0)
    // exactly the two superseded imports reclaimed; the dump untouched
    assert(n == 2L, n.toString)
    assert(spark.read.parquet(foreign).count() == 1L)
    assert(spark.sql("SELECT count(*) FROM vt_mnt_cvv").head().getLong(0)
      == 2L)
    spark.sql("DROP TABLE vt_mnt_cvv")
  }

  test("ALTER TABLE ADD COLUMNS works on a CONVERTED table") {
    // the evolve entry must merge with the convert-imported files'
    // directory-inferred schemas (partition column typed from the log)
    val dir = Files.createTempDirectory("graft_mnt_cva").toString + "/t"
    import spark.implicits._
    Seq((1L, 10L, "p0"), (2L, 20L, "p1")).toDF("k", "v", "p")
      .repartition(col("p")).write.partitionBy("p").parquet(dir)
    spark.sql(s"CONVERT TO graftvt '$dir' PARTITIONED BY (p)")
    spark.sql("DROP TABLE IF EXISTS vt_mnt_cva")
    spark.sql(s"CREATE TABLE vt_mnt_cva USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    spark.sql("ALTER TABLE vt_mnt_cva ADD COLUMNS (note STRING)")
    spark.sql("INSERT INTO vt_mnt_cva VALUES (3, 30, 'p0', 'x')")
    val got = spark.sql(
      "SELECT k, note FROM vt_mnt_cva ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq
    assert(got == Seq((1L, null), (2L, null), (3L, "x")), got.toString)
    // partition pruning still resolves over the mixed imported/engine set
    assert(spark.sql(
      "SELECT count(*) FROM vt_mnt_cva WHERE p = 'p0'").head().getLong(0)
      == 2L)
    spark.sql("DROP TABLE vt_mnt_cva")
  }

  test("CONVERT TO graftvt adopts a Hive layout in place, zero-copy") {
    val dir = Files.createTempDirectory("graft_mnt_cv").toString + "/t"
    import spark.implicits._
    // a PLAIN Spark partitioned write: partition values live only in the
    // directory names, not in the file content
    Seq((1L, 10L, "p0"), (2L, 20L, "p0"), (3L, 30L, "p1"), (4L, 40L, "p1"))
      .toDF("k", "v", "p")
      .repartition(col("p"))
      .write.partitionBy("p").parquet(dir)
    val before = spark.read.parquet(dir).inputFiles.toSet
    val r = spark.sql(s"CONVERT TO graftvt '$dir' PARTITIONED BY (p)").head()
    assert(r.getInt(0) == 0 && r.getLong(1) == 2L, r.toString)
    // zero-copy: the manifest references the pre-existing files
    val v0 = VersionedTable.liveEntries(spark, dir, 0).map(_.file)
    assert(v0.forall(f => !VersionedTable.engineOwned(f)), v0.toString)
    assert(spark.read.parquet(dir).inputFiles.toSet == before)
    // full read-back with the partition column reconstructed AND typed
    spark.sql("DROP TABLE IF EXISTS vt_mnt_cv")
    spark.sql(s"CREATE TABLE vt_mnt_cv USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    val got = spark.sql("SELECT k, v, p FROM vt_mnt_cv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 10L, "p0"), (2L, 20L, "p0"),
      (3L, 30L, "p1"), (4L, 40L, "p1")), got.toString)
    // the converted table is fully functional: DML mixes engine-written
    // and imported files in one snapshot, and CDF covers both shapes
    spark.sql("INSERT INTO vt_mnt_cv VALUES (5, 50, 'p0')")
    spark.sql("UPDATE vt_mnt_cv SET v = 99 WHERE k = 3")
    val after = spark.sql("SELECT k, v FROM vt_mnt_cv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((1L, 10L), (2L, 20L), (3L, 99L), (4L, 40L),
      (5L, 50L)), after.toString)
    val ops = VersionedTable.history(spark, dir).orderBy("version")
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("convert", "append", "update"))
    // per-file row counts were recorded at convert (metadata-only count)
    assert(VersionedTable.snapshotRowCount(spark, dir, 0).contains(4L))
    // CDF of the UPDATE reads the imported p1 file (old image) correctly
    val cdf = VersionedTable.changes(spark, dir, 2, 2)
      .select("_change_type", "k", "p").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(cdf == Set(("insert", 3L, "p1"), ("delete", 3L, "p1")), cdf.toString)
    spark.sql("DROP TABLE vt_mnt_cv")
  }

  test("converted tables prune partitions and OPTIMIZE finishes adoption") {
    val dir = Files.createTempDirectory("graft_mnt_cvp").toString + "/t"
    import spark.implicits._
    Seq((1L, 10L, "p0"), (2L, 20L, "p0"), (3L, 30L, "p1"), (4L, 40L, "p2"))
      .toDF("k", "v", "p")
      .repartition(col("p"))
      .write.partitionBy("p").parquet(dir)
    spark.sql(s"CONVERT TO graftvt '$dir' PARTITIONED BY (p)")
    // manifest-level partition pruning works on imported entries, proven
    // the VtMultiPartSpec way: corrupt a sibling partition's file — a
    // pruned scan never opens it, an unpruned one would fail
    val p2File = VersionedTable.liveEntries(spark, dir, 0)
      .find(_.part == "p2").get.file
    val p2Path = java.nio.file.Paths.get(s"$dir/$p2File")
    val orig = java.nio.file.Files.readAllBytes(p2Path)
    java.nio.file.Files.write(p2Path, "not parquet".getBytes)
    val pruned = spark.read.format("graftvt").option("partitionCol", "p")
      .load(dir).filter(col("p") === "p0")
    assert(pruned.count() == 2L)
    java.nio.file.Files.write(p2Path, orig)
    // OPTIMIZE materializes the imported files into engine-written ones —
    // the "finish adoption" step; content unchanged, externals retired
    spark.sql("DROP TABLE IF EXISTS vt_mnt_cvp")
    spark.sql(s"CREATE TABLE vt_mnt_cvp USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    val r = spark.sql("OPTIMIZE vt_mnt_cvp").head()
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L, r.toString)
    val live = VersionedTable.liveEntries(spark, dir, 1)
    assert(live.forall(e => VersionedTable.engineOwned(e.file)), live.map(_.file).toString)
    assert(spark.sql("SELECT sum(v), count(*) FROM vt_mnt_cvp").head().toSeq
      == Seq(100L, 4L))
    // and vacuum can now reclaim the original external files
    val n = spark.sql("VACUUM vt_mnt_cvp RETAIN 1 VERSIONS GRACE 0 HOURS").head().getLong(0)
    assert(n == 3L, n.toString)
    assert(spark.sql("SELECT count(*) FROM vt_mnt_cvp").head().getLong(0) == 4L)
    spark.sql("DROP TABLE vt_mnt_cvp")
  }

  test("CONVERT rejects a layout that does not match the declared columns") {
    val dir = Files.createTempDirectory("graft_mnt_cvb").toString + "/t"
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "q").write.partitionBy("q").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT TO graftvt '$dir' PARTITIONED BY (p)")
    }
    assert(e.getMessage.contains("does not match partition column"),
      e.getMessage)
  }

  test("ZORDER BY with the wrong column count fails with a clear error") {
    newTable("graft_mnt_zc", "vt_mnt_zc")
    val e = intercept[UnsupportedOperationException] {
      spark.sql("OPTIMIZE vt_mnt_zc ZORDER BY (k, v, p)")
    }
    assert(e.getMessage.contains("exactly two"), e.getMessage)
    spark.sql("DROP TABLE vt_mnt_zc")
  }

  test("maintenance verbs on a non-graftvt table fail clearly") {
    spark.sql("DROP TABLE IF EXISTS plain_mnt")
    spark.range(3).createOrReplaceTempView("plain_mnt")
    val e = intercept[UnsupportedOperationException] {
      spark.sql("OPTIMIZE plain_mnt")
    }
    assert(e.getMessage.contains("not a graftvt table"))
  }

  test("everything else delegates to Spark's parser untouched") {
    // a statement containing the keywords in non-statement positions
    assert(spark.sql("SELECT 'OPTIMIZE t' AS s, 'VACUUM v' AS v").count() == 1)
    // and normal SQL still parses/fails exactly as Spark's parser says
    intercept[Exception] { spark.sql("SELEKT 1") }
  }
}

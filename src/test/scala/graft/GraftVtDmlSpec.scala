package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / DELETE FROM over graftvt catalog tables (GraftVtDmlRule):
  * statement→commit mapping, partition-scoped COW, the metadata-only
  * partition-drop fast path, NULL and subquery semantics, time travel and
  * CDF across the DML versions. */
class GraftVtDmlSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.extensionSession()

  /** (k, v, p) over partitions p0/p1/p2, registered as catalog `name`. */
  private def newTable(prefix: String, name: String): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "p0"), (2L, 20L, "p0"),
      (3L, 30L, "p1"), (4L, 40L, "p1"),
      (5L, 50L, "p2"), (6L, 60L, "p2")).toDF("k", "v", "p")
    VersionedTable.create(spark, dir, rows, "p")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    dir
  }

  private def ops(dir: String): Seq[String] =
    VersionedTable.history(spark, dir).orderBy("version")
      .select("operation").collect().toSeq.map(_.getString(0))

  test("UPDATE rewrites only the affected partitions, one commit") {
    val dir = newTable("graft_dml_u", "vt_dml_u1")
    spark.sql("UPDATE vt_dml_u1 SET v = v + 100 WHERE k % 2 = 1 AND p <= 'p1'")
    assert(ops(dir) == Seq("create", "update"))
    val got = spark.sql("SELECT k, v FROM vt_dml_u1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 110L), (2L, 20L), (3L, 130L), (4L, 40L),
      (5L, 50L), (6L, 60L)))
    // p2 held no matching row (k=5 matches k%2=1 but p2 > 'p1'): its file
    // must not be rewritten — v1 adds exactly the two probed partitions
    val v1 = VersionedTable.liveEntries(spark, dir, 1)
      .filter(_.version == 1).map(_.part).distinct.sorted
    assert(v1 == Seq("p0", "p1"), v1.toString)
    // time travel across the UPDATE
    assert(VersionedTable.read(spark, dir, 0)
      .selectExpr("sum(v)").head().getLong(0) == 210L)
    spark.sql("DROP TABLE vt_dml_u1")
  }

  test("UPDATE with no matching rows commits an empty version (dense)") {
    val dir = newTable("graft_dml_u0", "vt_dml_u2")
    spark.sql("UPDATE vt_dml_u2 SET v = 0 WHERE k > 999")
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    assert(ops(dir) == Seq("create", "update"))
    assert(spark.sql("SELECT sum(v) FROM vt_dml_u2").head().getLong(0) == 210L)
    spark.sql("DROP TABLE vt_dml_u2")
  }

  test("UPDATE rejects partition-column assignment; identity is allowed") {
    newTable("graft_dml_up", "vt_dml_u3")
    val e = intercept[UnsupportedOperationException] {
      spark.sql("UPDATE vt_dml_u3 SET p = 'p9' WHERE k = 1")
    }
    assert(e.getMessage.contains("partition column"))
    // identity assignment of the partition column must pass
    spark.sql("UPDATE vt_dml_u3 SET p = p, v = v + 1 WHERE k = 1")
    assert(spark.sql("SELECT v FROM vt_dml_u3 WHERE k = 1").head().getLong(0)
      == 11L)
    spark.sql("DROP TABLE vt_dml_u3")
  }

  test("UPDATE rejects subqueries in condition and values") {
    newTable("graft_dml_us", "vt_dml_u4")
    val e = intercept[UnsupportedOperationException] {
      spark.sql("UPDATE vt_dml_u4 SET v = 0 " +
        "WHERE k IN (SELECT k FROM vt_dml_u4 WHERE v > 30)")
    }
    assert(e.getMessage.contains("subquer"))
    spark.sql("DROP TABLE vt_dml_u4")
  }

  test("DELETE on a partition predicate is metadata-only (zero files written)") {
    val dir = newTable("graft_dml_dp", "vt_dml_d1")
    spark.sql("DELETE FROM vt_dml_d1 WHERE p = 'p1'")
    assert(ops(dir) == Seq("create", "delete"))
    val h = VersionedTable.history(spark, dir).orderBy("version")
      .select("n_added", "n_tombstones", "n_removed").collect()
    assert(h(1).getLong(0) == 0L && h(1).getLong(1) == 0L &&
      h(1).getLong(2) == 1L, h.mkString(","))
    val got = spark.sql("SELECT k FROM vt_dml_d1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 5L, 6L))
    // time travel: the dropped partition is still in v0
    assert(VersionedTable.read(spark, dir, 0).count() == 6L)
    // CDF reports the dropped rows as deletes
    val cdf = VersionedTable.changes(spark, dir, 1, 1)
    assert(cdf.collect().map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("k"))).toSet ==
      Set(("delete", 3L), ("delete", 4L)))
    spark.sql("DROP TABLE vt_dml_d1")
  }

  test("DELETE FROM t (no WHERE) drops every partition, metadata-only") {
    val dir = newTable("graft_dml_da", "vt_dml_d2")
    spark.sql("DELETE FROM vt_dml_d2")
    assert(spark.sql("SELECT count(*) FROM vt_dml_d2").head().getLong(0) == 0L)
    val h = VersionedTable.history(spark, dir).orderBy("version")
      .select("n_added", "n_removed").collect()
    assert(h(1).getLong(0) == 0L && h(1).getLong(1) == 3L)
    assert(VersionedTable.read(spark, dir, 0).count() == 6L)
    spark.sql("DROP TABLE vt_dml_d2")
  }

  test("UPDATE and DELETE of an empty-string partition value") {
    val dir = Files.createTempDirectory("graft_dml_de").toString + "/t"
    import spark.implicits._
    VersionedTable.create(spark, dir,
      Seq((1L, 10L, ""), (2L, 20L, ""), (3L, 30L, "a")).toDF("k", "v", "p"),
      "p")
    spark.sql("DROP TABLE IF EXISTS vt_dml_de")
    spark.sql("CREATE TABLE vt_dml_de USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    // the manifest keys '' by Spark's default partition name: the rewrite
    // must replace the files under that key, not add beside them
    spark.sql("UPDATE vt_dml_de SET v = v + 1 WHERE p = ''")
    assert(spark.sql("SELECT k, v FROM vt_dml_de ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (2L, 21L), (3L, 30L)))
    // the partition rule cannot decide that key: the rows decide instead
    spark.sql("DELETE FROM vt_dml_de WHERE p = ''")
    assert(spark.sql("SELECT k FROM vt_dml_de").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    spark.sql("DROP TABLE vt_dml_de")
  }

  test("DELETE through to_date and nvl on partition columns stays metadata-only") {
    val dir = Files.createTempDirectory("graft_dml_dd").toString + "/t"
    import spark.implicits._
    VersionedTable.create(spark, dir, Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), "p1"),
      (2L, java.sql.Date.valueOf("2024-01-02"), "p1"),
      (3L, java.sql.Date.valueOf("2024-01-03"), "p2")).toDF("k", "d", "p"),
      "d,p")
    spark.sql("DROP TABLE IF EXISTS vt_dml_dd")
    spark.sql("CREATE TABLE vt_dml_dd USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'd,p')")
    spark.sql("DELETE FROM vt_dml_dd WHERE d >= to_date('2024-01-02') " +
      "AND p = nvl(null, 'p1')")
    spark.sql("DELETE FROM vt_dml_dd WHERE p = nvl('p2', 'x')")
    assert(spark.sql("SELECT k FROM vt_dml_dd").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(ops(dir) == Seq("create", "delete", "delete"))
    val added = VersionedTable.history(spark, dir).orderBy("version")
      .select("n_added").collect().map(_.getLong(0)).toSeq
    assert(added.tail == Seq(0L, 0L), added.toString)
    spark.sql("DROP TABLE vt_dml_dd")
  }

  test("DELETE on a row predicate is COW over the affected partitions") {
    val dir = newTable("graft_dml_dr", "vt_dml_d3")
    spark.sql("DELETE FROM vt_dml_d3 WHERE k % 3 = 1") // k=1 (p0), k=4 (p1)
    assert(ops(dir) == Seq("create", "delete"))
    val got = spark.sql("SELECT k FROM vt_dml_d3 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 3L, 5L, 6L))
    // only p0/p1 rewritten; p2 untouched
    val v1 = VersionedTable.liveEntries(spark, dir, 1)
      .filter(_.version == 1).map(_.part).distinct.sorted
    assert(v1 == Seq("p0", "p1"), v1.toString)
    spark.sql("DROP TABLE vt_dml_d3")
  }

  test("DELETE handles NULL-valued rows (COW, not the null-blind anti-join)") {
    val dir = Files.createTempDirectory("graft_dml_dn").toString + "/t"
    import spark.implicits._
    val rows = Seq[(java.lang.Long, java.lang.Long, String)](
      (1L, 10L, "p0"), (2L, null, "p0"), (3L, 30L, "p1"))
      .toDF("k", "v", "p")
    VersionedTable.create(spark, dir, rows, "p")
    spark.sql("DROP TABLE IF EXISTS vt_dml_d4")
    spark.sql(s"CREATE TABLE vt_dml_d4 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    spark.sql("DELETE FROM vt_dml_d4 WHERE v IS NULL")
    val got = spark.sql("SELECT k FROM vt_dml_d4 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 3L))
    spark.sql("DROP TABLE vt_dml_d4")
  }

  test("DELETE with a subquery predicate takes the COW path") {
    val dir = newTable("graft_dml_ds", "vt_dml_d5")
    spark.sql("DELETE FROM vt_dml_d5 " +
      "WHERE k IN (SELECT k FROM vt_dml_d5 WHERE v >= 50)")
    val got = spark.sql("SELECT k FROM vt_dml_d5 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 3L, 4L))
    assert(ops(dir) == Seq("create", "delete"))
    spark.sql("DROP TABLE vt_dml_d5")
  }

  test("UPDATE then DELETE: CDF across both DML versions") {
    val dir = newTable("graft_dml_cdf", "vt_dml_d6")
    spark.sql("UPDATE vt_dml_d6 SET v = 99 WHERE k = 3")
    spark.sql("DELETE FROM vt_dml_d6 WHERE k = 1")
    val cdf = VersionedTable.changes(spark, dir, 1, 2)
      .select("_commit_version", "_change_type", "k", "v")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    // v1: update = old image delete + new image insert; v2: delete of k=1
    assert(cdf == Set((1, "delete", 3L), (1, "insert", 3L), (2, "delete", 1L)),
      cdf.toString)
    spark.sql("DROP TABLE vt_dml_d6")
  }

  test("writes through pinned or filtered views are rejected") {
    val dir = newTable("graft_dml_ro", "vt_dml_ro")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW vt_dml_ro_v0 " +
      s"USING graftvt OPTIONS (path '$dir', versionAsOf '0', " +
      "partitionCol 'p')")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW vt_dml_ro_p0 " +
      s"USING graftvt OPTIONS (path '$dir', partitions 'p0', " +
      "partitionCol 'p')")
    def rejected(sql: String): Unit = {
      val e = intercept[UnsupportedOperationException](spark.sql(sql))
      assert(e.getMessage.contains("read-only view"), s"$sql => $e")
    }
    rejected("UPDATE vt_dml_ro_v0 SET v = 0 WHERE k = 1")
    rejected("DELETE FROM vt_dml_ro_p0 WHERE k = 1")
    rejected("INSERT INTO vt_dml_ro_v0 VALUES (9, 90, 'p0')")
    // INSERT OVERWRITE a partition-filtered view would remove EVERY
    // partition's files — the headline case the guard exists for
    rejected("INSERT OVERWRITE vt_dml_ro_p0 VALUES (9, 90, 'p0')")
    rejected("MERGE INTO vt_dml_ro_v0 t USING (SELECT 1 AS k, 2 AS v, " +
      "'p0' AS p) s ON t.k = s.k AND t.p = s.p " +
      "WHEN MATCHED THEN UPDATE SET *")
    rejected("OPTIMIZE vt_dml_ro_v0")
    rejected("VACUUM vt_dml_ro_p0")
    // DESCRIBE HISTORY is read-only: allowed on any view of the table
    assert(spark.sql("DESCRIBE HISTORY vt_dml_ro_v0").count() == 1L)
    // and the table itself is still fully writable
    spark.sql("UPDATE vt_dml_ro SET v = 0 WHERE k = 1")
    assert(spark.sql("SELECT v FROM vt_dml_ro WHERE k = 1")
      .head().getLong(0) == 0L)
    spark.sql("DROP TABLE vt_dml_ro")
  }

  test("DML through a filtered AS-SELECT view is not intercepted") {
    val dir = newTable("graft_dml_vw", "vt_dml_vw")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW vt_dml_vw_hot AS " +
      "SELECT * FROM vt_dml_vw WHERE v >= 30")
    // the strict targetOf must NOT match the derived view: a COW rewrite
    // computed from the filtered rows would silently delete v<30 rows
    // from the rewritten partitions. Spark's own analysis error fires.
    val e = intercept[Exception] {
      spark.sql("DELETE FROM vt_dml_vw_hot WHERE k = 3")
    }
    assert(!e.isInstanceOf[UnsupportedOperationException] ||
      !e.getMessage.contains("graftvt"), e.toString)
    // table unchanged
    assert(spark.sql("SELECT count(*) FROM vt_dml_vw").head().getLong(0)
      == 6L)
    spark.sql("DROP TABLE vt_dml_vw")
  }

  test("DML through a passthrough AS-SELECT view works (hides nothing)") {
    val dir = newTable("graft_dml_pv", "vt_dml_pv")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW vt_dml_pv_all AS " +
      "SELECT * FROM vt_dml_pv")
    spark.sql("UPDATE vt_dml_pv_all SET v = v + 5 WHERE k = 2")
    assert(spark.sql("SELECT v FROM vt_dml_pv WHERE k = 2")
      .head().getLong(0) == 25L)
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    spark.sql("DROP TABLE vt_dml_pv")
  }

  test("MERGE through a passthrough AS-SELECT view works (same matcher)") {
    val dir = newTable("graft_dml_pvm", "vt_dml_pvm")
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW vt_dml_pvm_all AS " +
      "SELECT * FROM vt_dml_pvm")
    import spark.implicits._
    Seq((2L, 200L, "p0"), (7L, 70L, "p2"))
      .toDF("k", "v", "p").createOrReplaceTempView("src_dml_pvm")
    spark.sql(
      """MERGE INTO vt_dml_pvm_all t USING src_dml_pvm s
        |ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |""".stripMargin)
    val got = spark.sql("SELECT k, v FROM vt_dml_pvm ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 200L), (3L, 30L), (4L, 40L),
      (5L, 50L), (6L, 60L), (7L, 70L)), got.toString)
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    spark.sql("DROP TABLE vt_dml_pvm")
  }

  test("MERGE after an external commit keeps the intervening rows") {
    val dir = newTable("graft_dml_mst", "vt_dml_mst")
    // pin the cached relation, then commit BEHIND ITS BACK
    assert(spark.sql("SELECT count(*) FROM vt_dml_mst").head().getLong(0)
      == 6L)
    import spark.implicits._
    VersionedTable.appendCommit(spark, dir,
      Seq((7L, 70L, "p0")).toDF("k", "v", "p"), "p")
    Seq((1L, 111L, "p0")).toDF("k", "v", "p")
      .createOrReplaceTempView("src_dml_mst")
    // the MERGE rewrites p0: if its readVersion were the stale pinned
    // snapshot it would rebuild p0 without k=7 and silently drop it
    spark.sql(
      """MERGE INTO vt_dml_mst t USING src_dml_mst s
        |ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED THEN UPDATE SET *
        |""".stripMargin)
    val got = spark.sql("SELECT k, v FROM vt_dml_mst ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 111L), (2L, 20L), (3L, 30L), (4L, 40L),
      (5L, 50L), (6L, 60L), (7L, 70L)), got.toString)
    spark.sql("DROP TABLE vt_dml_mst")
  }

  test("UPDATE after an external commit keeps the intervening rows") {
    val dir = newTable("graft_dml_st", "vt_dml_st")
    // pin the cached relation, then commit BEHIND ITS BACK
    assert(spark.sql("SELECT count(*) FROM vt_dml_st").head().getLong(0)
      == 6L)
    import spark.implicits._
    VersionedTable.appendCommit(spark, dir,
      Seq((7L, 70L, "p0")).toDF("k", "v", "p"), "p")
    // the UPDATE rewrites p0: without the refresh-at-operation-start it
    // would rebuild p0 from the stale pinned snapshot and drop k=7
    spark.sql("UPDATE vt_dml_st SET v = v + 1 WHERE k = 1")
    val got = spark.sql("SELECT k, v FROM vt_dml_st ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 11L), (2L, 20L), (3L, 30L), (4L, 40L),
      (5L, 50L), (6L, 60L), (7L, 70L)), got.toString)
    spark.sql("DROP TABLE vt_dml_st")
  }

  test("UPDATE rejects incompatible SET types at analysis (ANSI store rule)") {
    newTable("graft_dml_sa", "vt_dml_sa")
    // non-ANSI cast would silently NULL every matched row's v; the rule
    // must fail the statement instead (string is not ANSI-store-assignable
    // to bigint)
    val e = intercept[UnsupportedOperationException] {
      spark.sql("UPDATE vt_dml_sa SET v = 'not a number' WHERE k = 1")
    }
    assert(e.getMessage.contains("cannot assign"), e.getMessage)
    // numeric widening/narrowing between numeric types stays allowed
    spark.sql("UPDATE vt_dml_sa SET v = 7 WHERE k = 1")
    assert(spark.sql("SELECT v FROM vt_dml_sa WHERE k = 1")
      .head().getLong(0) == 7L)
    // an EXPLICIT user cast is the documented opt-in
    spark.sql("UPDATE vt_dml_sa SET v = CAST('8' AS BIGINT) WHERE k = 1")
    assert(spark.sql("SELECT v FROM vt_dml_sa WHERE k = 1")
      .head().getLong(0) == 8L)
    spark.sql("DROP TABLE vt_dml_sa")
  }

  test("nondeterministic DML conditions are rejected") {
    newTable("graft_dml_nd", "vt_dml_nd")
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql("UPDATE vt_dml_nd SET v = 0 WHERE rand() < 0.5")
    }
    assert(e1.getMessage.contains("nondeterministic"))
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql("DELETE FROM vt_dml_nd WHERE rand() < 0.5")
    }
    assert(e2.getMessage.contains("nondeterministic"))
    spark.sql("DROP TABLE vt_dml_nd")
  }

  test("DML on a multi-column partition spec") {
    val dir = Files.createTempDirectory("graft_dml_mp").toString + "/t"
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "a", "0"), (2L, 20L, "a", "1"),
      (3L, 30L, "b", "0"), (4L, 40L, "b", "1")).toDF("k", "v", "p", "q")
    VersionedTable.create(spark, dir, rows, "p,q")
    spark.sql("DROP TABLE IF EXISTS vt_dml_mp")
    spark.sql(s"CREATE TABLE vt_dml_mp USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p,q')")
    // metadata-only: predicate over both partition columns
    spark.sql("DELETE FROM vt_dml_mp WHERE p = 'a' AND q = '1'")
    val h = VersionedTable.history(spark, dir).orderBy("version")
      .select("n_added", "n_removed").collect()
    assert(h(1).getLong(0) == 0L && h(1).getLong(1) == 1L)
    // COW update scoped to one sub-partition
    spark.sql("UPDATE vt_dml_mp SET v = v * 2 WHERE k = 3")
    val v2 = VersionedTable.liveEntries(spark, dir, 2)
      .filter(_.version == 2).map(_.part).distinct
    assert(v2 == Seq("p=b/q=0"), v2.toString)
    val got = spark.sql("SELECT k, v FROM vt_dml_mp ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (3L, 60L), (4L, 40L)))
    spark.sql("DROP TABLE vt_dml_mp")
  }
}

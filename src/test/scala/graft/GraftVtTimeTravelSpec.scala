package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Native time-travel SQL (`FROM t VERSION AS OF n` / `TIMESTAMP AS OF
  * ts`) over graftvt catalog tables: resolution to the pinned relation,
  * epoch-ms and string timestamps, nested occurrences (subquery, CTE,
  * cross-version self-join), and the non-graftvt fallback to stock Spark
  * behavior. */
class GraftVtTimeTravelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.extensionSession()

  /** v0: k=1,2 — v1: +k=11,12 — v2: +k=21,22 (two partitions). */
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

  test("VERSION AS OF pins each snapshot; bare reads stay latest") {
    val dir = newTable("graft_tt_v", "vt_tt_v")
    for (v <- 0 to 2) {
      val got = spark.sql(s"SELECT k FROM vt_tt_v VERSION AS OF $v")
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = VersionedTable.read(spark, dir, v)
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want && got.length == 2 * (v + 1), s"v$v: $got")
    }
    // FOR VERSION AS OF spelling parses to the same node
    assert(spark.sql("SELECT count(*) FROM vt_tt_v FOR VERSION AS OF 0")
      .head().getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM vt_tt_v").head().getLong(0) == 6L)
    spark.sql("DROP TABLE vt_tt_v")
  }

  test("TIMESTAMP AS OF: epoch-ms integer and string literal both pin") {
    // commits stamped with explicit metadata timestamps (one hour apart,
    // well in the past) — the resolution the library's readAsOf grades
    val dir = Files.createTempDirectory("graft_tt_ts").toString + "/t"
    import spark.implicits._
    def slice(off: Long) = Seq(
      (off + 1, 10L + off, "p0"), (off + 2, 20L + off, "p1")).toDF("k", "v", "p")
    val h = 3600L * 1000
    val t0 = 1700000000000L
    VersionedTable.create(spark, dir, slice(0), "p", ts = Some(t0))
    VersionedTable.appendCommit(spark, dir, slice(10), "p",
      ts = Some(t0 + h))
    VersionedTable.appendCommit(spark, dir, slice(20), "p",
      ts = Some(t0 + 2 * h))
    spark.sql("DROP TABLE IF EXISTS vt_tt_ts")
    spark.sql(s"CREATE TABLE vt_tt_ts USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    // exactly at v1's commit ts → v1; between v1 and v2 → still v1;
    // far-future string timestamp → latest
    assert(spark.sql(
      s"SELECT count(*) FROM vt_tt_ts TIMESTAMP AS OF ${t0 + h}")
      .head().getLong(0) == 4L)
    assert(spark.sql(
      s"SELECT count(*) FROM vt_tt_ts TIMESTAMP AS OF ${t0 + h + 1}")
      .head().getLong(0) == 4L)
    assert(spark.sql(
      "SELECT count(*) FROM vt_tt_ts TIMESTAMP AS OF '2100-01-01 00:00:00'")
      .head().getLong(0) == 6L)
    spark.sql("DROP TABLE vt_tt_ts")
  }

  test("cross-version self-join and subquery occurrences resolve") {
    val dir = newTable("graft_tt_j", "vt_tt_j")
    // rows added AFTER v0: anti-join latest against the pinned snapshot
    val fresh = spark.sql(
      """SELECT cur.k FROM vt_tt_j cur
        |LEFT ANTI JOIN (SELECT k FROM vt_tt_j VERSION AS OF 0) old
        |ON cur.k = old.k
        |ORDER BY cur.k""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(fresh == Seq(11L, 12L, 21L, 22L), fresh.toString)
    // CTE leg
    val n = spark.sql(
      """WITH snap AS (SELECT * FROM vt_tt_j VERSION AS OF 1)
        |SELECT count(*) FROM snap""".stripMargin).head().getLong(0)
    assert(n == 4L)
    // the pinned scan still prunes partitions through the manifest
    assert(spark.sql(
      "SELECT count(*) FROM vt_tt_j VERSION AS OF 1 WHERE p = 'p0'")
      .head().getLong(0) == 2L)
    assert(VersionedTable.latestVersion(spark, dir) == 2)
    spark.sql("DROP TABLE vt_tt_j")
  }

  test("non-graftvt targets fall back to Spark's native error") {
    import spark.implicits._
    Seq((1, "a")).toDF("id", "s").createOrReplaceTempView("tt_plain")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM tt_plain VERSION AS OF 0").collect()
    }
    // stock Spark wording, not a graft message: the placeholder reverted
    assert(!e.getMessage.contains("graftvt"), e.getMessage)
  }

  test("bad pins get clear errors") {
    newTable("graft_tt_e", "vt_tt_e")
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM vt_tt_e VERSION AS OF 'abc'").collect()
    }
    assert(e1.getMessage.contains("non-negative integer"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM vt_tt_e TIMESTAMP AS OF 'not a time'")
        .collect()
    }
    assert(e2.getMessage.contains("does not parse"), e2.getMessage)
    spark.sql("DROP TABLE vt_tt_e")
  }
}

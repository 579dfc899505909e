package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SHALLOW CLONE: zero-copy fork of a snapshot — reference-only v0,
  * version pinning, carried tombstones/schema/constraints, independent
  * divergence, the convert-imported refusal, and vacuum safety on the
  * clone. */
class GraftVtCloneSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.extensionSession()

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  test("clone is zero-copy, pins a version, and diverges independently") {
    val src = freshDir("graft_cl_src")
    val dst = freshDir("graft_cl_dst")
    import spark.implicits._
    VersionedTable.create(spark, src,
      Seq((1L, 10L, "p0"), (2L, 20L, "p1")).toDF("k", "v", "p"), "p")
    VersionedTable.appendCommit(spark, src,
      Seq((3L, 30L, "p0")).toDF("k", "v", "p"), "p")
    spark.sql("DROP TABLE IF EXISTS cl_src")
    spark.sql("DROP TABLE IF EXISTS cl_dst")
    spark.sql(s"CREATE TABLE cl_src USING graftvt " +
      s"OPTIONS (path '$src', partitionCol 'p')")
    // pin v0 (2 rows), not latest (3 rows)
    val r = spark.sql("CREATE TABLE cl_dst SHALLOW CLONE cl_src " +
      s"VERSION AS OF 0 LOCATION '$dst'").head()
    assert(r.getInt(0) == 0 && r.getLong(1) == 2L && r.getInt(2) == 0,
      r.toString)
    assert(spark.sql("SELECT count(*) FROM cl_dst").head().getLong(0) == 2L)
    // ZERO-COPY: every clone manifest entry references the source's dir
    val refs = VersionedTable.liveEntries(spark, dst, 0).map(_.file)
    assert(refs.nonEmpty &&
      refs.forall(_.stripPrefix("file:").startsWith(src)), refs.toString)
    // divergence: writes to the clone land under the CLONE's dir and
    // never touch the source (and vice versa)
    spark.sql("INSERT INTO cl_dst VALUES (9, 90, 'p1')")
    spark.sql("INSERT INTO cl_src VALUES (8, 80, 'p1')")
    assert(spark.sql("SELECT count(*) FROM cl_dst").head().getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) FROM cl_src").head().getLong(0) == 4L)
    assert(!spark.sql("SELECT k FROM cl_dst").collect().map(_.getLong(0))
      .contains(8L))
    // OPTIMIZE cuts the cord: afterwards no entry references the source
    spark.sql("OPTIMIZE cl_dst")
    val after = VersionedTable.liveEntries(spark, dst,
      VersionedTable.latestVersion(spark, dst)).map(_.file)
    assert(after.forall(f => !f.stripPrefix("file:").startsWith(src)),
      after.toString)
    // and vacuum on the (materialized) clone deletes nothing of the src
    VersionedTable.vacuum(spark, dst, retainLast = 1)
    assert(spark.sql("SELECT count(*) FROM cl_src").head().getLong(0) == 4L)
    spark.sql("DROP TABLE cl_dst"); spark.sql("DROP TABLE cl_src")
  }

  test("clone carries tombstones, schema narrowing, and constraints") {
    val src = freshDir("graft_cl_s2")
    val dst = freshDir("graft_cl_d2")
    import spark.implicits._
    VersionedTable.create(spark, src,
      Seq((1L, 10L, 5L, "p0"), (2L, 20L, 6L, "p1"))
        .toDF("k", "v", "x", "p"), "p")
    // merge-on-read delete of k=1, a DROP of x, and a constraint
    VersionedTable.deleteCommit(spark, src,
      Seq((1L, "p0")).toDF("k", "p"), "p")
    spark.sql("DROP TABLE IF EXISTS cl_src2")
    spark.sql("DROP TABLE IF EXISTS cl_dst2")
    spark.sql(s"CREATE TABLE cl_src2 USING graftvt " +
      s"OPTIONS (path '$src', partitionCol 'p')")
    spark.sql("ALTER TABLE cl_src2 DROP COLUMN x")
    spark.sql("ALTER TABLE cl_src2 ADD CONSTRAINT v_pos CHECK (v > 0)")
    spark.sql("CREATE TABLE cl_dst2 SHALLOW CLONE cl_src2 " +
      s"LOCATION '$dst'")
    // tombstone applied, dropped column invisible
    val got = spark.sql("SELECT * FROM cl_dst2").collect()
    assert(got.length == 1 && got.head.getLong(0) == 2L)
    assert(spark.table("cl_dst2").columns.sameElements(Array("k", "v", "p")))
    // the constraint came along: violating insert into the CLONE aborts
    val e = intercept[Exception] {
      spark.sql("INSERT INTO cl_dst2 VALUES (4, -4, 'p0')") }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    // the clone's constraint is independent: drop it there, source keeps
    spark.sql("ALTER TABLE cl_dst2 DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO cl_dst2 VALUES (4, -4, 'p0')")
    val es = intercept[Exception] {
      spark.sql("INSERT INTO cl_src2 VALUES (5, -5, 'p0')") }
    assert(es.getMessage.contains("v_pos"), es.getMessage)
    spark.sql("DROP TABLE cl_dst2"); spark.sql("DROP TABLE cl_src2")
  }

  test("a source with convert-imported live files is refused") {
    val src = freshDir("graft_cl_cv")
    val dst = freshDir("graft_cl_cvd")
    import spark.implicits._
    Seq((1L, "p0"), (2L, "p1")).toDF("k", "p")
      .write.partitionBy("p").parquet(src)
    spark.sql(s"CONVERT TO graftvt '$src' PARTITIONED BY (p)")
    val e = intercept[Exception] {
      VersionedTable.cloneCommit(spark, dst, src, 0) }
    assert(e.getMessage.contains("OPTIMIZE the source"), e.getMessage)
    // after OPTIMIZE adopts the imported files, the clone works
    VersionedTable.optimizeCommit(spark, src, "p")
    VersionedTable.cloneCommit(spark, dst, src, 1)
    assert(VersionedTable.read(spark, dst, 0).count() == 2L)
  }
}

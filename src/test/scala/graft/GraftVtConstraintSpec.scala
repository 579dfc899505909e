package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** CHECK constraints over graftvt tables: validating ADD, write-path
  * enforcement on every mutating surface (INSERT, append, merge, UPDATE),
  * NULL-passes semantics, DROP, schema-change interlock, checkpoint
  * survival, and the versioned constraint set under time travel. */
class GraftVtConstraintSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.extensionSession()

  private def newTable(prefix: String, name: String): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    import spark.implicits._
    val rows = Seq((1L, 10L, "p0"), (2L, 20L, "p1")).toDF("k", "v", "p")
    VersionedTable.create(spark, dir, rows, "p")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    dir
  }

  test("ADD CONSTRAINT validates existing rows; writes are then gated") {
    val dir = newTable("graft_con_a", "vt_con_a")
    // admission: existing rows violate -> refused
    val e0 = intercept[Exception] {
      spark.sql("ALTER TABLE vt_con_a ADD CONSTRAINT v_big CHECK (v > 15)") }
    assert(e0.getMessage.contains("existing rows violate"), e0.getMessage)
    // a satisfiable constraint lands as a metadata commit
    val r = spark.sql(
      "ALTER TABLE vt_con_a ADD CONSTRAINT v_pos CHECK (v > 0)").head()
    assert(r.getInt(0) == 1 && r.getString(2) == "v_pos", r.toString)
    assert(VersionedTable.liveEntries(spark, dir, 1).forall(_.version == 0))
    // INSERT of a satisfying row passes; a violating row aborts pre-commit
    spark.sql("INSERT INTO vt_con_a VALUES (3, 30, 'p0')")
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO vt_con_a VALUES (4, -5, 'p0')") }
    assert(e1.getMessage.contains("v_pos"), e1.getMessage)
    // the failed write left no trace: content AND version are unchanged
    assert(VersionedTable.latestVersion(spark, dir) == 2)
    assert(spark.sql("SELECT count(*) FROM vt_con_a").head().getLong(0) == 3L)
    // library append is the same gate
    import spark.implicits._
    val e2 = intercept[Exception] {
      VersionedTable.appendCommit(spark, dir,
        Seq((5L, 0L, "p1")).toDF("k", "v", "p"), "p") }
    assert(e2.getMessage.contains("v_pos"), e2.getMessage)
    spark.sql("DROP TABLE vt_con_a")
  }

  test("UPDATE and MERGE enforce; NULL passes; DROP CONSTRAINT opens") {
    val dir = newTable("graft_con_u", "vt_con_u")
    spark.sql("ALTER TABLE vt_con_u ADD CONSTRAINT v_pos CHECK (v > 0)")
    val eu = intercept[Exception] {
      spark.sql("UPDATE vt_con_u SET v = -1 WHERE k = 1") }
    assert(eu.getMessage.contains("v_pos"), eu.getMessage)
    spark.sql("UPDATE vt_con_u SET v = 11 WHERE k = 1")
    assert(spark.sql("SELECT v FROM vt_con_u WHERE k = 1").head()
      .getLong(0) == 11L)
    // MERGE with a violating source row aborts
    import spark.implicits._
    val em = intercept[Exception] {
      VersionedTable.mergeCommit(spark, dir,
        Seq((9L, -9L, "p0", "U", 1L)).toDF("k", "v", "p", "op", "seq"),
        Seq("k"), "p") }
    assert(em.getMessage.contains("v_pos"), em.getMessage)
    // SQL CHECK: NULL is not a violation (widen with a nullable column
    // via a constraint over it)
    spark.sql("ALTER TABLE vt_con_u ADD COLUMNS (w BIGINT)")
    spark.sql("ALTER TABLE vt_con_u ADD CONSTRAINT w_pos CHECK (w > 0)")
    spark.sql("INSERT INTO vt_con_u VALUES (6, 60, 'p0', NULL)")
    assert(spark.sql("SELECT count(*) FROM vt_con_u").head().getLong(0) == 3L)
    // DROP CONSTRAINT frees the write path
    spark.sql("ALTER TABLE vt_con_u DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO vt_con_u VALUES (7, -7, 'p1', 1)")
    assert(spark.sql("SELECT count(*) FROM vt_con_u").head().getLong(0) == 4L)
    // w_pos still guards
    val ew = intercept[Exception] {
      spark.sql("INSERT INTO vt_con_u VALUES (8, 1, 'p1', -1)") }
    assert(ew.getMessage.contains("w_pos"), ew.getMessage)
    spark.sql("DROP TABLE vt_con_u")
  }

  test("constraints interlock with DROP/RENAME COLUMN and survive ckpt") {
    val dir = newTable("graft_con_s", "vt_con_s")
    spark.sql("ALTER TABLE vt_con_s ADD CONSTRAINT v_pos CHECK (v > 0)")
    val ed = intercept[Exception] {
      spark.sql("ALTER TABLE vt_con_s DROP COLUMN v") }
    assert(ed.getMessage.contains("v_pos"), ed.getMessage)
    val er = intercept[Exception] {
      spark.sql("ALTER TABLE vt_con_s RENAME COLUMN v TO w") }
    assert(er.getMessage.contains("v_pos"), er.getMessage)
    // the constraint set is versioned state: it survives a checkpoint and
    // time travel below the ADD is unconstrained
    VersionedTable.checkpoint(spark, dir, 1)
    assert(VersionedTable.constraintsAt(spark, dir, 1) ==
      Map("v_pos" -> "v > 0"))
    assert(VersionedTable.constraintsAt(spark, dir, 0).isEmpty)
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO vt_con_s VALUES (4, -5, 'p0')") }
    assert(e1.getMessage.contains("v_pos"), e1.getMessage)
    // duplicate name refused; dropping an unknown name names the actives
    val dup = intercept[Exception] {
      spark.sql("ALTER TABLE vt_con_s ADD CONSTRAINT v_pos CHECK (v < 99)") }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    val unk = intercept[Exception] {
      spark.sql("ALTER TABLE vt_con_s DROP CONSTRAINT nope") }
    assert(unk.getMessage.contains("v_pos"), unk.getMessage)
    // after DROP CONSTRAINT, the column frees for DROP COLUMN
    spark.sql("ALTER TABLE vt_con_s DROP CONSTRAINT v_pos")
    spark.sql("ALTER TABLE vt_con_s DROP COLUMN v")
    assert(spark.table("vt_con_s").columns.sameElements(Array("k", "p")))
    spark.sql("DROP TABLE vt_con_s")
  }
}

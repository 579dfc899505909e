package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Catalog integration for `graftvt`: persistent `CREATE TABLE ... USING
  * graftvt` in the session catalog, `INSERT INTO` / `INSERT OVERWRITE`
  * routing to append/overwrite commits, CTAS routing to create, and SQL
  * `MERGE INTO` routing to mergeCommit via the GraftVtMergeRule analyzer
  * extension — the pure-SQL DDL/DML surface over the versioned table.
  */
class GraftVtCatalogSpec extends AnyFunSuite {

  /** Session WITH GraftExtensions (the deployment configuration) over the
    * shared SparkContext — same recipe as SqlFunctionsSpec. */
  private lazy val spark: SparkSession = TestSpark.extensionSession()

  private def newTable(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, "p0"), (2L, 20L, "p0"), (3L, 30L, "p1"), (4L, 40L, "p1"))
      .toDF("k", "v", "p")
    VersionedTable.create(spark, dir, rows, "p")
    dir
  }

  test("CREATE TABLE USING graftvt + SELECT through the catalog") {
    val dir = newTable("graft_cat")
    spark.sql("DROP TABLE IF EXISTS vt_cat1")
    spark.sql(s"CREATE TABLE vt_cat1 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    val got = spark.sql("SELECT sum(v) AS sv, count(*) AS n FROM vt_cat1")
      .head()
    assert(got.getLong(0) == 100L && got.getLong(1) == 4L)
    spark.sql("DROP TABLE vt_cat1")
  }

  test("INSERT INTO routes to appendCommit; SELECT sees the new version") {
    val dir = newTable("graft_cat_ins")
    spark.sql("DROP TABLE IF EXISTS vt_cat2")
    spark.sql(s"CREATE TABLE vt_cat2 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    spark.sql("INSERT INTO vt_cat2 VALUES (5, 50, 'p1'), (6, 60, 'p0')")
    assert(VersionedTable.latestVersion(spark, dir) == 1)
    val h = VersionedTable.history(spark, dir).orderBy("version")
      .select("operation").collect().map(_.getString(0))
    assert(h.toSeq == Seq("create", "append"), h.toSeq.toString)
    // same-session read-back must see the post-insert snapshot
    val got = spark.sql("SELECT sum(v) AS sv, count(*) AS n FROM vt_cat2").head()
    assert(got.getLong(0) == 210L && got.getLong(1) == 6L)
    // time travel across the INSERT still works
    assert(VersionedTable.read(spark, dir, 0).count() == 4L)
    spark.sql("DROP TABLE vt_cat2")
  }

  test("INSERT OVERWRITE routes to overwriteCommit, history retained") {
    val dir = newTable("graft_cat_ow")
    spark.sql("DROP TABLE IF EXISTS vt_cat3")
    spark.sql(s"CREATE TABLE vt_cat3 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    spark.sql("INSERT OVERWRITE vt_cat3 VALUES (9, 90, 'p9')")
    val got = spark.sql("SELECT sum(v) AS sv, count(*) AS n FROM vt_cat3").head()
    assert(got.getLong(0) == 90L && got.getLong(1) == 1L)
    assert(VersionedTable.read(spark, dir, 0).count() == 4L) // time travel
    spark.sql("DROP TABLE vt_cat3")
  }

  test("CTAS: CREATE TABLE ... USING graftvt AS SELECT creates version 0") {
    val dir = Files.createTempDirectory("graft_cat_ctas").toString + "/t"
    spark.sql("DROP TABLE IF EXISTS vt_cat4")
    spark.sql(s"CREATE TABLE vt_cat4 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p') AS " +
      "SELECT id AS k, id * 10 AS v, concat('p', id % 2) AS p FROM range(4)")
    assert(VersionedTable.latestVersion(spark, dir) == 0)
    assert(spark.sql("SELECT count(*) FROM vt_cat4").head().getLong(0) == 4L)
    spark.sql("DROP TABLE vt_cat4")
  }

  test("MERGE INTO: canonical upsert routes to mergeCommit") {
    val dir = newTable("graft_cat_mrg")
    spark.sql("DROP TABLE IF EXISTS vt_m1")
    spark.sql(s"CREATE TABLE vt_m1 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    import spark.implicits._
    Seq((2L, 200L, "p0"), (7L, 70L, "p1")).toDF("k", "v", "p")
      .createOrReplaceTempView("src_m1")
    spark.sql(
      """MERGE INTO vt_m1 t USING src_m1 s ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ops = VersionedTable.history(spark, dir).orderBy("version")
      .select("operation").collect().map(_.getString(0))
    assert(ops.toSeq == Seq("create", "merge"), ops.toSeq.toString)
    val got = spark.sql("SELECT k, v FROM vt_m1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 200L), (3L, 30L), (4L, 40L), (7L, 70L)),
      got.toString)
    // time travel across the merge
    assert(VersionedTable.read(spark, dir, 0).count() == 4L)
    spark.sql("DROP TABLE vt_m1")
  }

  test("MERGE INTO: conditional delete + update + insert, action order") {
    val dir = newTable("graft_cat_mrg2")
    spark.sql("DROP TABLE IF EXISTS vt_m2")
    spark.sql(s"CREATE TABLE vt_m2 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    import spark.implicits._
    // k=1@p0: matched, flag d -> DELETE. k=2@p0: matched -> UPDATE.
    // k=8: unmatched, flag u -> INSERT. k=9: unmatched, flag d -> no
    // action fires, row dropped.
    Seq((1L, 0L, "p0", "d"), (2L, 222L, "p0", "u"),
        (8L, 80L, "p0", "u"), (9L, 90L, "p1", "d"))
      .toDF("k", "v", "p", "flag")
      .createOrReplaceTempView("src_m2")
    spark.sql(
      """MERGE INTO vt_m2 t USING src_m2 s ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED AND s.flag = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v, p = s.p
        |WHEN NOT MATCHED AND s.flag = 'u' THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)
        |""".stripMargin)
    val got = spark.sql("SELECT k, v FROM vt_m2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 222L), (3L, 30L), (4L, 40L), (8L, 80L)), got.toString)
    spark.sql("DROP TABLE vt_m2")
  }

  test("MERGE INTO: delete-only fast path (no flag join)") {
    val dir = newTable("graft_cat_mrg3")
    spark.sql("DROP TABLE IF EXISTS vt_m3")
    spark.sql(s"CREATE TABLE vt_m3 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    import spark.implicits._
    // k=3 exists (deleted); k=99 absent (no-op delete)
    Seq((3L, "p1"), (99L, "p1")).toDF("k", "p")
      .createOrReplaceTempView("src_m3")
    spark.sql(
      """MERGE INTO vt_m3 t USING src_m3 s ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT k FROM vt_m3 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L, 4L), got.toString)
    spark.sql("DROP TABLE vt_m3")
  }

  test("MERGE INTO: duplicate source keys rejected (SQL cardinality rule)") {
    val dir = newTable("graft_cat_mrg4")
    spark.sql("DROP TABLE IF EXISTS vt_m4")
    spark.sql(s"CREATE TABLE vt_m4 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    import spark.implicits._
    Seq((2L, 1L, "p0"), (2L, 2L, "p0")).toDF("k", "v", "p")
      .createOrReplaceTempView("src_m4")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO vt_m4 t USING src_m4 s ON t.k = s.k AND t.p = s.p
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    spark.sql("DROP TABLE vt_m4")
  }

  test("multi-column partitioned catalog table: INSERT INTO + MERGE INTO " +
       "through pure SQL") {
    val dir = Files.createTempDirectory("graft_cat_mp").toString + "/t"
    import spark.implicits._
    VersionedTable.create(spark,
      dir, Seq((1L, 10L, "d1", "a"), (2L, 20L, "d1", "b"))
        .toDF("k", "v", "date", "src"), "date,src")
    spark.sql("DROP TABLE IF EXISTS vt_mp1")
    spark.sql(s"CREATE TABLE vt_mp1 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'date,src')")
    spark.sql("INSERT INTO vt_mp1 VALUES (3, 30, 'd2', 'a')")
    assert(VersionedTable.liveEntries(spark, dir, 1).map(_.part).toSet ==
      Set("date=d1/src=a", "date=d1/src=b", "date=d2/src=a"))
    // MERGE: ON must include BOTH partition columns
    Seq((2L, 222L, "d1", "b"), (4L, 40L, "d2", "b")).toDF("k", "v", "date", "src")
      .createOrReplaceTempView("src_mp1")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO vt_mp1 t USING src_mp1 s ON t.k = s.k AND t.date = s.date
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("'src'"), e.getMessage)
    spark.sql(
      """MERGE INTO vt_mp1 t USING src_mp1 s
        |ON t.k = s.k AND t.date = s.date AND t.src = s.src
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM vt_mp1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 222L), (3L, 30L), (4L, 40L)), got.toString)
    spark.sql("DROP TABLE vt_mp1")
  }

  test("MERGE INTO: unsupported shapes fail with clear messages") {
    val dir = newTable("graft_cat_mrg5")
    spark.sql("DROP TABLE IF EXISTS vt_m5")
    spark.sql(s"CREATE TABLE vt_m5 USING graftvt " +
      s"OPTIONS (path '$dir', partitionCol 'p')")
    import spark.implicits._
    Seq((2L, 5L, "p0")).toDF("k", "v", "p").createOrReplaceTempView("src_m5")
    // partial update
    val e1 = intercept[Exception](spark.sql(
      """MERGE INTO vt_m5 t USING src_m5 s ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    assert(e1.getMessage.contains("every target column"), e1.getMessage)
    // non-equi ON
    val e2 = intercept[Exception](spark.sql(
      """MERGE INTO vt_m5 t USING src_m5 s ON t.k > s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e2.getMessage.contains("conjunction of column equalities"),
      e2.getMessage)
    // NOT MATCHED BY SOURCE
    val e3 = intercept[Exception](spark.sql(
      """MERGE INTO vt_m5 t USING src_m5 s ON t.k = s.k AND t.p = s.p
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    assert(e3.getMessage.contains("NOT MATCHED BY SOURCE"), e3.getMessage)
    // ON without the partition column
    val e4 = intercept[Exception](spark.sql(
      """MERGE INTO vt_m5 t USING src_m5 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e4.getMessage.contains("partition column"), e4.getMessage)
    spark.sql("DROP TABLE vt_m5")
  }
}

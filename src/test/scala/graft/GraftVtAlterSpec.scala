package graft

import java.nio.file.Files
import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ALTER TABLE ADD COLUMNS over graftvt catalog tables: metadata-only
  * schema-evolution commit, null backfill for pre-evolution files, catalog
  * schema sync, time travel across the evolve, checkpoint survival, and
  * the non-graftvt fallthrough. */
class GraftVtAlterSpec extends AnyFunSuite {

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

  test("ADD COLUMNS is metadata-only; old rows read null; inserts fill") {
    val dir = newTable("graft_alt_a", "vt_alt_a")
    val r = spark.sql(
      "ALTER TABLE vt_alt_a ADD COLUMNS (note STRING, score BIGINT)").head()
    assert(r.getInt(0) == 1 && r.getString(1) == "note,score", r.toString)
    // metadata-only: the evolve commit added zero data files
    assert(VersionedTable.liveEntries(spark, dir, 1)
      .forall(_.version == 0), "evolve must reference no data file")
    // pre-evolution rows read null in the new columns, via catalog SQL
    val got = spark.sql(
      "SELECT k, v, note, score FROM vt_alt_a ORDER BY k").collect()
    assert(got.length == 2 && got.forall(g => g.isNullAt(2) && g.isNullAt(3)))
    // an INSERT carrying the new columns lands and reads back typed
    spark.sql("INSERT INTO vt_alt_a VALUES (3, 30, 'p0', 'x', 7)")
    val k3 = spark.sql(
      "SELECT note, score FROM vt_alt_a WHERE k = 3").head()
    assert(k3.getString(0) == "x" && k3.getLong(1) == 7L)
    // mixed-vintage aggregate over old + new files
    assert(spark.sql("SELECT count(score) FROM vt_alt_a").head().getLong(0)
      == 1L)
    spark.sql("DROP TABLE vt_alt_a")
  }

  test("time travel below the evolve keeps the narrow schema") {
    val dir = newTable("graft_alt_tt", "vt_alt_tt")
    spark.sql("ALTER TABLE vt_alt_tt ADD COLUMNS (note STRING)")
    assert(!VersionedTable.read(spark, dir, 0).columns.contains("note"))
    assert(VersionedTable.read(spark, dir, 1).columns.contains("note"))
    assert(spark.sql("SELECT * FROM vt_alt_tt VERSION AS OF 0")
      .columns.sameElements(Array("k", "v", "p")))
    // DESCRIBE HISTORY names the operation
    val ops = spark.sql("DESCRIBE HISTORY vt_alt_tt")
      .select("operation").collect().map(_.getString(0)).sorted.toSeq
    assert(ops == Seq("add_columns", "create"), ops.toString)
    spark.sql("DROP TABLE vt_alt_tt")
  }

  test("the evolve survives checkpoint replay") {
    val dir = newTable("graft_alt_ck", "vt_alt_ck")
    spark.sql("ALTER TABLE vt_alt_ck ADD COLUMNS (note STRING)")
    import spark.implicits._
    VersionedTable.appendCommit(spark, dir,
      Seq((3L, 30L, "p0", "y")).toDF("k", "v", "p", "note"), "p")
    VersionedTable.checkpoint(spark, dir, 2)
    // a replay FROM the checkpoint must still see the widened schema
    val df = VersionedTable.read(spark, dir, 2)
    assert(df.columns.contains("note"))
    assert(df.filter($"k" === 3L).select("note").head().getString(0) == "y")
    assert(df.filter($"k" === 1L).select("note").head() == null ||
      df.filter($"k" === 1L).select("note").head().isNullAt(0))
    spark.sql("DROP TABLE vt_alt_ck")
  }

  test("duplicate or existing columns are rejected; non-graftvt untouched") {
    newTable("graft_alt_e", "vt_alt_e")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_e ADD COLUMNS (v BIGINT)")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // a parquet catalog table keeps Spark's own ALTER path
    val pdir = Files.createTempDirectory("graft_alt_pq").toString + "/t"
    import spark.implicits._
    Seq((1, "a")).toDF("id", "s").write.parquet(pdir)
    spark.sql("DROP TABLE IF EXISTS alt_plain_pq")
    spark.sql(s"CREATE TABLE alt_plain_pq USING parquet LOCATION '$pdir'")
    spark.sql("ALTER TABLE alt_plain_pq ADD COLUMNS (extra INT)")
    assert(spark.table("alt_plain_pq").columns.contains("extra"))
    spark.sql("DROP TABLE alt_plain_pq")
    spark.sql("DROP TABLE vt_alt_e")
  }

  test("DROP COLUMN is metadata-only and never resurfaces the bytes") {
    val dir = newTable("graft_alt_d", "vt_alt_d")
    val r = spark.sql("ALTER TABLE vt_alt_d DROP COLUMN v").head()
    assert(r.getInt(0) == 1 && r.getString(1) == "v", r.toString)
    // metadata-only: no data file touched
    assert(VersionedTable.liveEntries(spark, dir, 1).forall(_.version == 0))
    // the physical column stays in the v0 files but no read surfaces it
    assert(spark.table("vt_alt_d").columns.sameElements(Array("k", "p")))
    assert(VersionedTable.read(spark, dir, 1, mergeSchema = true)
      .columns.sameElements(Array("k", "p")))
    // time travel below the drop still sees it, with its values
    val v0 = spark.sql(
      "SELECT v FROM vt_alt_d VERSION AS OF 0 ORDER BY v").collect()
    assert(v0.map(_.getLong(0)).toSeq == Seq(10L, 20L))
    // append-driven widening keeps working ACROSS the drop
    import spark.implicits._
    VersionedTable.appendCommit(spark, dir,
      Seq((3L, "p0", "w3")).toDF("k", "p", "w"), "p")
    val cols = VersionedTable.read(spark, dir, 2, mergeSchema = true).columns
    assert(cols.sameElements(Array("k", "p", "w")), cols.toSeq.toString)
    spark.sql("DROP TABLE vt_alt_d")
  }

  test("re-ADD of a dropped name is refused until OPTIMIZE purges it") {
    val dir = newTable("graft_alt_r", "vt_alt_r")
    spark.sql("ALTER TABLE vt_alt_r DROP COLUMN v")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_r ADD COLUMNS (v BIGINT)")
    }
    assert(e.getMessage.contains("still carries"), e.getMessage)
    spark.sql("OPTIMIZE vt_alt_r")
    spark.sql("ALTER TABLE vt_alt_r ADD COLUMNS (v BIGINT)")
    // the re-added column reads null everywhere — old values are GONE
    val got = spark.sql("SELECT v FROM vt_alt_r").collect()
    assert(got.length == 2 && got.forall(_.isNullAt(0)))
    assert(VersionedTable.read(spark, dir, 3).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("DROP TABLE vt_alt_r")
  }

  test("DROP COLUMN guards: partition col, delete identity, non-graftvt") {
    val dir = newTable("graft_alt_g", "vt_alt_g")
    val ep = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_g DROP COLUMN p") }
    assert(ep.getMessage.contains("partition column"), ep.getMessage)
    // a live tombstone's columns are the delete identity: dropping one
    // is refused, dropping an uninvolved column is fine
    import spark.implicits._
    VersionedTable.deleteCommit(spark, dir,
      Seq((1L, "p0")).toDF("k", "p"), "p")
    val ek = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_g DROP COLUMN k") }
    assert(ek.getMessage.contains("delete-identity"), ek.getMessage)
    spark.sql("ALTER TABLE vt_alt_g DROP COLUMN v")
    assert(spark.sql("SELECT k FROM vt_alt_g ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // after OPTIMIZE materializes the deletion, the identity frees up
    spark.sql("OPTIMIZE vt_alt_g")
    spark.sql("ALTER TABLE vt_alt_g DROP COLUMN k")
    assert(spark.table("vt_alt_g").columns.sameElements(Array("p")))
    // non-graftvt tables keep Spark's own (unsupported) DROP path
    val pdir = Files.createTempDirectory("graft_alt_gpq").toString + "/t"
    Seq((1, "a")).toDF("id", "s").write.parquet(pdir)
    spark.sql("DROP TABLE IF EXISTS alt_plain_dpq")
    spark.sql(s"CREATE TABLE alt_plain_dpq USING parquet LOCATION '$pdir'")
    val es = intercept[Exception] {
      spark.sql("ALTER TABLE alt_plain_dpq DROP COLUMN s") }
    assert(!es.getMessage.contains("graftvt"), es.getMessage)
    spark.sql("DROP TABLE alt_plain_dpq")
    spark.sql("DROP TABLE vt_alt_g")
  }

  test("a widening append cannot resurface a dropped column") {
    val dir = newTable("graft_alt_w", "vt_alt_w")
    spark.sql("ALTER TABLE vt_alt_w DROP COLUMN v")
    import spark.implicits._
    // re-carrying the dropped name through the APPEND path must hit the
    // same wall as re-ADD: live v0 files still physically carry v
    val e = intercept[Exception] {
      VersionedTable.appendCommit(spark, dir,
        Seq((3L, 99L, "p0")).toDF("k", "v", "p"), "p")
    }
    assert(e.getMessage.contains("resurface"), e.getMessage)
    // ...and through the MERGE path
    val em = intercept[Exception] {
      VersionedTable.mergeCommit(spark, dir,
        Seq((3L, 99L, "p0", "U", 1L)).toDF("k", "v", "p", "op", "seq"),
        Seq("k"), "p")
    }
    assert(em.getMessage.contains("resurface"), em.getMessage)
    // a genuinely new name still widens fine (library path — a library
    // append does not sync the CATALOG's stored schema, so the rest of
    // this test stays on the library surface)
    VersionedTable.appendCommit(spark, dir,
      Seq((3L, "p0", 1L)).toDF("k", "p", "w"), "p")
    // after OPTIMIZE purges the bytes, the append path frees up too
    VersionedTable.optimizeCommit(spark, dir, "p")
    VersionedTable.appendCommit(spark, dir,
      Seq((4L, 7L, "p0")).toDF("k", "v", "p"), "p")
    val got = VersionedTable.read(spark, dir,
        VersionedTable.latestVersion(spark, dir))
      .filter($"v".isNotNull).select("k", "v").collect()
    assert(got.map(g => (g.getLong(0), g.getLong(1))).toSeq == Seq((4L, 7L)))
    spark.sql("DROP TABLE vt_alt_w")
  }

  test("RENAME COLUMN rewrites once, keeps values, frees the old name") {
    val dir = newTable("graft_alt_rn", "vt_alt_rn")
    val r = spark.sql(
      "ALTER TABLE vt_alt_rn RENAME COLUMN v TO amount").head()
    assert(r.getInt(0) == 1 && r.getString(1) == "v->amount", r.toString)
    assert(r.getInt(2) > 0, "a rename is a rewrite — files must move")
    // values follow the name; the catalog copy is synced
    val got = spark.sql(
      "SELECT k, amount FROM vt_alt_rn ORDER BY k").collect()
    assert(got.map(g => (g.getLong(0), g.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    assert(!spark.table("vt_alt_rn").columns.contains("v"))
    // time travel below the rename sees the old name, with values
    val v0 = spark.sql(
      "SELECT v FROM vt_alt_rn VERSION AS OF 0 ORDER BY v").collect()
    assert(v0.map(_.getLong(0)).toSeq == Seq(10L, 20L))
    // the rewrite freed the old name: re-ADD works immediately (no live
    // file carries it) and reads null
    spark.sql("ALTER TABLE vt_alt_rn ADD COLUMNS (v BIGINT)")
    assert(spark.sql("SELECT v FROM vt_alt_rn").collect()
      .forall(_.isNullAt(0)))
    spark.sql("DROP TABLE vt_alt_rn")
  }

  test("RENAME COLUMN guards and tombstone retirement") {
    val dir = newTable("graft_alt_rg", "vt_alt_rg")
    val ep = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_rg RENAME COLUMN p TO q") }
    assert(ep.getMessage.contains("partition column"), ep.getMessage)
    val ee = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_rg RENAME COLUMN v TO k") }
    assert(ee.getMessage.contains("already exists"), ee.getMessage)
    val en = intercept[Exception] {
      spark.sql("ALTER TABLE vt_alt_rg RENAME COLUMN nope TO x") }
    assert(en.getMessage.contains("does not exist"), en.getMessage)
    // a live tombstone retires with the rewrite (the rename reads the
    // snapshot deletion-vectors-applied, like OPTIMIZE)
    import spark.implicits._
    VersionedTable.deleteCommit(spark, dir,
      Seq((1L, "p0")).toDF("k", "p"), "p")
    spark.sql("ALTER TABLE vt_alt_rg RENAME COLUMN v TO amount")
    val live = VersionedTable.liveEntries(spark, dir,
      VersionedTable.latestVersion(spark, dir))
    assert(live.forall(_.action == "add"), "tombstones must retire")
    assert(spark.sql("SELECT k, amount FROM vt_alt_rg").collect()
      .map(g => (g.getLong(0), g.getLong(1))).toSeq == Seq((2L, 20L)))
    spark.sql("DROP TABLE vt_alt_rg")
  }

  test("a checkpoint preserves evolve ORDER — drop survives compaction") {
    // regression: checkpoint() used to rewrite every materialized entry
    // to the checkpoint's version, so the "latest evolve wins" rule tied
    // and a DROP followed by a checkpoint resurrected the dropped columns
    val dir = Files.createTempDirectory("graft_alt_ckv").toString + "/t"
    import spark.implicits._
    VersionedTable.create(spark, dir,
      Seq((1L, 10L, "p0")).toDF("k", "v", "p"), "p")
    VersionedTable.addColumnsCommit(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType)))
    VersionedTable.dropColumnsCommit(spark, dir, Seq("a", "v"), "p")
    VersionedTable.checkpoint(spark, dir, 2)
    assert(VersionedTable.read(spark, dir, 2).columns
      .sameElements(Array("k", "p")))
    // original versions survive the materialization (the data file is
    // still a v0 entry, the evolves keep their commit order)
    assert(VersionedTable.liveEntries(spark, dir, 2).forall(_.version == 0))
    // and a SECOND checkpoint (replaying from the first) stays stable
    VersionedTable.addColumnsCommit(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.LongType)))
    VersionedTable.checkpoint(spark, dir, 3)
    assert(VersionedTable.read(spark, dir, 3).columns
      .sameElements(Array("k", "p", "z")))
  }

  test("RESTORE across a DROP restores the wide schema and the values") {
    val dir = newTable("graft_alt_rs", "vt_alt_rs")
    spark.sql("ALTER TABLE vt_alt_rs DROP COLUMN v")
    assert(spark.table("vt_alt_rs").columns.sameElements(Array("k", "p")))
    spark.sql("RESTORE TABLE vt_alt_rs TO VERSION AS OF 0")
    // the restore commit re-publishes v0's effective schema: the column
    // is back WITH its values (the bytes never left the files)
    val got = spark.sql(
      "SELECT k, v FROM vt_alt_rs ORDER BY k").collect()
    assert(got.map(g => (g.getLong(0), g.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // and the drop is still visible mid-history
    assert(!spark.sql("SELECT * FROM vt_alt_rs VERSION AS OF 1")
      .columns.contains("v"))
    VersionedTable.checkpoint(spark, dir, 2)
    assert(VersionedTable.read(spark, dir, 2).columns
      .sameElements(Array("k", "v", "p")))
    spark.sql("DROP TABLE vt_alt_rs")
  }
}

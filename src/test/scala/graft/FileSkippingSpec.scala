package graft

import java.nio.file.Files

import graft.sources.{KnownFilesIndex, LogCodec, VersionedTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In,
  IsNull, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Soundness of the one file-skipping rule ([[KnownFilesIndex]]): a file
  * may be skipped only when the pushed filters prove it holds no matching
  * row. Every case compares the skipping read against the same predicate
  * evaluated over the collected snapshot, outside any file index, so a
  * dropped matching row fails it; most also pin how many files the scan
  * selects. */
class FileSkippingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_skip").toString + "/t"

  /** A table of one file per commit in the single partition "all", with
    * per-file stats on `statsCol`; `parts` are the commits' frames. */
  private def table(statsCol: Option[String], parts: DataFrame*): String = {
    val dir = tmp()
    VersionedTable.create(spark, dir, parts.head, "p", statsCol)
    parts.tail.foreach(VersionedTable.appendCommit(spark, dir, _, "p", statsCol))
    dir
  }

  /** Files the filtered latest read scans; asserts its rows equal the
    * predicate over the collected snapshot. */
  private def scanned(dir: String, cond: Column): Long = {
    val snap = VersionedTable.read(spark, dir,
      VersionedTable.latestVersion(spark, dir))
    val got = snap.filter(cond)
    val expect = spark.createDataFrame(snap.collect().toSeq.asJava, snap.schema)
      .filter(cond)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(expect), s"rows lost or gained under $cond")
    KnownFilesIndex.filesScanned(got)
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** k in [lo, hi] plus, when `nulls`, two rows with a NULL k. */
  private def keys(lo: Long, hi: Long, nulls: Boolean = false): DataFrame = {
    val ks = (lo to hi).map(k => (Option(k), k * 10))
    val all = if (nulls) ks ++ Seq((None, -1L), (None, -2L)) else ks
    all.toDF("k", "v").withColumn("p", lit("all"))
  }

  test("stats rule: NULL rows, IN, OR across columns, NOT, conflicts") {
    val dir = table(Some("k"), keys(1, 10, nulls = true), keys(11, 20),
      keys(21, 30))
    assert(scanned(dir, $"k" === 15) == 1)
    assert(scanned(dir, $"k".between(12, 25)) == 2)
    // NULL rows are invisible to min/max: null-accepting shapes keep all
    assert(scanned(dir, $"k".isNull) == 3)
    assert(scanned(dir, $"k".isNull || $"k" === 25) == 3)
    assert(scanned(dir, $"k" <=> lit(null).cast("long")) == 3)
    // IN decides per member; a non-numeric member casts the column
    // (outside ANSI mode, which rejects 'x' as a BIGINT)
    assert(scanned(dir, $"k".isin(3, 25)) == 2)
    withConf("spark.sql.ansi.enabled", "false") {
      assert(scanned(dir, $"k".isin(3, "x")) == 3)
    }
    // OR across two columns: the column without stats keeps every file
    assert(scanned(dir, $"k" === 3 || $"v" === 250) == 3)
    assert(scanned(dir, $"k" === 3 || $"k" === 25) == 2)
    assert(scanned(dir, !($"k" > 10)) == 1)
    assert(scanned(dir, !($"k" % 2 === 0)) == 3)
    // conflicting conjuncts: no file can hold a match
    assert(scanned(dir, $"k" > 20 && $"k" < 5) == 0)
    // a cast-wrapped column is not a bare stats column: kept
    assert(scanned(dir, $"k".cast("string") === "25") == 3)
    assert(scanned(dir, $"k" + 1 === 26) == 3)
  }

  test("stats rule: NaN, -0.0 and infinite literals; NaN rows") {
    // NaN rows record 0 under a non-ANSI cast to long, yet NaN is the
    // greatest double: `>` and `>=` over a float column must keep them
    val parts = Seq(
      Seq(Some(-0.0), Some(0.5), Some(Double.NaN)),
      Seq(Some(10.0), Some(11.5)),
      Seq(None, Some(-20.5), Some(Double.NegativeInfinity))).map(ds =>
      ds.toDF("d").withColumn("p", lit("all")))
    val dir = withConf("spark.sql.ansi.enabled", "false")(
      table(Some("d"), parts: _*))
    assert(VersionedTable.liveEntries(spark, dir, 2)
      .forall(_.scol.contains("d")))
    assert(scanned(dir, $"d" > 100.0) == 3)
    assert(scanned(dir, $"d" >= 12.0) == 3)
    assert(scanned(dir, $"d" === lit(Double.NaN)) == 3)
    assert(scanned(dir, $"d" < lit(Double.NaN)) == 3)
    assert(scanned(dir, $"d" < lit(Double.PositiveInfinity)) == 3)
    // -0.0 and 0.0 are one value, both truncating to 0
    assert(scanned(dir, $"d" === 0.0) == 1)
    assert(scanned(dir, $"d" <= -0.0) == 2)
    assert(scanned(dir, $"d" < 1.0) == 2)
    assert(scanned(dir, $"d" < -20.0) == 1)
  }

  test("stats rule: a decimal literal beyond ±2^63 keeps every file") {
    val parts = Seq(Seq(1L, 5L), Seq(10L, 12L)).map(ms =>
      ms.toDF("m").select($"m".cast(DecimalType(38, 0)).as("m"))
        .withColumn("p", lit("all")))
    val dir = table(Some("m"), parts: _*)
    assert(VersionedTable.liveEntries(spark, dir, 1).forall(_.smin.nonEmpty))
    val huge = lit(new java.math.BigDecimal("100000000000000000000"))
    assert(scanned(dir, $"m" < huge) == 2)
    assert(scanned(dir, $"m" > huge.unary_-) == 2)
    assert(scanned(dir, $"m" >= lit(new java.math.BigDecimal("11"))) == 1)
  }

  test("stats rule: absent stats and an all-null column keep every file") {
    val none = table(None, keys(1, 10), keys(11, 20))
    assert(scanned(none, $"k" === 15) == 2)
    val allNull = table(Some("k"), keys(1, 10).withColumn("k",
      lit(null).cast("long")), keys(11, 20))
    assert(scanned(allNull, $"k" === 25) == 1)
    assert(scanned(allNull, $"k".isNull || $"k" === 15) == 2)
  }

  test("stats rule: a stats column dropped and re-added under its name") {
    val dir = table(Some("v"), keys(1, 10), keys(11, 20))
    VersionedTable.dropColumnsCommit(spark, dir, Seq("v"), "p")
    VersionedTable.optimizeCommit(spark, dir, "p")
    VersionedTable.addColumnsCommit(spark, dir,
      Seq(StructField("v", LongType)))
    VersionedTable.appendCommit(spark, dir,
      Seq((31L, 5L), (32L, 150L)).toDF("k", "v").withColumn("p", lit("all")),
      "p", Some("v"))
    // the old v values (10..200) are gone with their stats: the rewritten
    // file records none and is kept; the new file decides by its own
    assert(scanned(dir, $"v" === 150) == 2)
    assert(scanned(dir, $"v" > 200) == 1)
    assert(scanned(dir, $"v".isNull) == 2)
  }

  test("partition rule: date- and int-typed keys, ranges, multi-file") {
    val dates = Seq("2024-01-01", "2024-01-02", "2024-02-10")
    val rows = for ((d, i) <- dates.zipWithIndex; b <- 1 to 3)
      yield (i * 10L + b, java.sql.Date.valueOf(d), b)
    val byDate = tmp()
    VersionedTable.create(spark, byDate, rows.toDF("k", "d", "b"), "d")
    assert(scanned(byDate, $"d" === lit(java.sql.Date.valueOf("2024-01-02"))) == 1)
    assert(scanned(byDate, $"d" >= lit(java.sql.Date.valueOf("2024-01-02"))) == 2)
    assert(scanned(byDate, $"d" > "2024-01-15") == 1)
    assert(scanned(byDate, month($"d") === 1) == 2)
    assert(scanned(byDate, $"d".isNull) == 0)
    val byInt = tmp()
    VersionedTable.create(spark, byInt, rows.toDF("k", "d", "b"), "b")
    assert(scanned(byInt, $"b".isin(1, 3)) == 2)
    assert(scanned(byInt, $"b" >= 2) == 2)
    assert(scanned(byInt, $"b" === 2 && $"b" === 3) == 0)
    assert(scanned(byInt, $"b".cast("string") === "3") == 1)
    // a string partition range over two commits' files
    val byStr = table(Some("k"), keys(1, 3).withColumn("p", lit("p0")),
      keys(4, 6).withColumn("p", lit("p1")), keys(7, 9).withColumn("p", lit("p1")))
    assert(scanned(byStr, $"p" >= "p1") == 2)
    assert(scanned(byStr, $"p" >= "p1" && $"k" > 7) == 1)
  }

  test("partition rule: an empty-string value keeps its file") {
    // Spark writes '' under its default partition directory name, which
    // the manifest records as the part key: the key does not carry ''
    val dir = table(None, keys(1, 3).withColumn("p", lit("")),
      keys(4, 6).withColumn("p", lit("a")))
    assert(VersionedTable.liveEntries(spark, dir, 1).map(_.part).toSet ==
      Set("__HIVE_DEFAULT_PARTITION__", "a"))
    // that key is kept under every predicate; "a" is decided as usual
    assert(scanned(dir, $"p" === "") == 1)
    assert(scanned(dir, $"p" =!= "a") == 1)
    assert(scanned(dir, $"p" === "a") == 2)
    assert(spark.read.format("graftvt").load(dir).filter($"p" === "")
      .count() == 3)
  }

  test("partition rule: entries without a recorded spec take the " +
       "relation's declared partitionCol") {
    val dir = table(None, keys(1, 3).withColumn("p", lit("p0")),
      keys(4, 6).withColumn("p", lit("p1")))
    // strip pcol from both manifests: commits that predate recording it
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    (0 to 1).foreach { v =>
      val lf = new Path(f"$dir/_log/v$v%05d.parquet")
      val stripped = LogCodec.read(conf, Seq(lf)).map(r =>
        r.copy(entry = r.entry.copy(pcol = None)))
      fs.delete(lf, false)
      LogCodec.write(conf, lf, stripped)
    }
    // corrupt the p0 file in place: any scan that opens it fails
    val victim = VersionedTable.liveEntries(spark, dir, 1)
      .find(_.part == "p0").get.file
    Files.write(java.nio.file.Paths.get(s"$dir/$victim"),
      Array.fill[Byte](64)(0))
    val undeclared = spark.read.format("graftvt").load(dir)
    intercept[Exception](undeclared.filter($"p" === "p1").count())
    val declared = spark.read.format("graftvt").option("partitionCol", "p")
      .load(dir)
    assert(declared.filter($"p" === "p1").count() == 3L)
  }

  test("the file index's stats rule decides from pushed Catalyst filters") {
    // the rule on one file with k in [10, 20]
    val k = AttributeReference("k", LongType)()
    val other = AttributeReference("other", LongType)()
    val ranges = Map("k" -> ((10L, 20L)))
    def may(e: Expression) = KnownFilesIndex.mayMatch(e, ranges)
    def l(v: Long) = Literal(v)
    assert(may(EqualTo(k, l(15))) && !may(EqualTo(k, l(7))))
    // conjuncts: each side must hold; > and >= both floor at trunc(v)
    assert(!may(And(GreaterThan(k, l(5)), LessThanOrEqual(k, l(9)))))
    assert(may(And(GreaterThan(k, l(5)), LessThanOrEqual(k, l(10)))))
    assert(!may(GreaterThan(l(5), k)) && may(GreaterThan(l(11), k)))
    // IN decides per member
    assert(may(In(k, Seq(l(3), l(11)))) && !may(In(k, Seq(l(3), l(21)))))
    assert(may(In(k, Seq(l(3), Literal(null, LongType)))))
    // OR: either side may hold
    assert(!may(Or(EqualTo(k, l(2)), EqualTo(k, l(30)))))
    assert(may(Or(EqualTo(k, l(2)), EqualTo(other, l(20)))))
    // null-accepting and non-stats predicates keep the file
    assert(may(EqualNullSafe(k, l(5))) && may(IsNull(k)) &&
      may(EqualTo(other, l(1))))
    // truncation monotonicity: a double literal uses its long truncation
    val kd = AttributeReference("k", DoubleType)()
    assert(may(LessThanOrEqual(kd, Literal(10.7))))
    assert(!may(LessThanOrEqual(kd, Literal(9.99))))
    assert(!may(EqualTo(kd, Literal(21.5))) && may(EqualTo(kd, Literal(20.5))))
    assert(may(GreaterThanOrEqual(kd, Literal(99.0)))) // NaN rows
    assert(!may(GreaterThanOrEqual(k, l(99))))
  }
}

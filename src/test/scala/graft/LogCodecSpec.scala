package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LogCodec, VersionedTable}
import graft.sources.VersionedTable.LogEntry

/** Round-12 optimization internals: the driver-side log codec, the
  * footer-based per-file stats, and the manifest-backed file index that
  * replaced `spark.read.parquet(files).collect()` / listing jobs on the
  * versioned-table metadata paths. Each test pins an equivalence the
  * optimization must preserve. */
class LogCodecSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private def conf = spark.sparkContext.hadoopConfiguration

  test("codec round-trip: all fields, None-heavy rows, noop row") {
    val dir = Files.createTempDirectory("graft_codec").toString
    val rows = Seq(
      LogCodec.LogRow(LogEntry(3, "add", "data/c1/f1.parquet", "p=1",
        Some(-5L), Some(99L), Some("{\"type\":\"struct\",\"fields\":[]}"),
        Some(42L), Some("k"), Some("k:1:9;v:2:8"), Some(1234L), Some(777L),
        Some("p")),
        Some(111L), Some("append txn=a/7")),
      LogCodec.LogRow(LogEntry(3, "remove", "data/c0/f0.parquet", "p=0",
        None, None, None, None, None, None), Some(111L), Some("append")),
      LogCodec.LogRow(LogEntry(4, "noop", null, null,
        None, None, None, None, None, None), None, None))
    val f = new Path(s"$dir/v00003.parquet")
    LogCodec.write(conf, f, rows)
    val back = LogCodec.read(conf, Seq(f))
    assert(back == rows)
    // and Spark reads the codec-written file with the expected columns
    val viaSpark = spark.read.parquet(f.toString)
    assert(viaSpark.columns.toSeq == Seq("version", "action", "file", "part",
      "smin", "smax", "fschema", "nrec", "scol", "mstats", "ts", "op",
      "fsize", "fmtime", "pcol"))
    assert(viaSpark.count() == 3)
  }

  test("codec reads Spark-written manifests lacking the newer columns") {
    val dir = Files.createTempDirectory("graft_codec_old").toString
    // the pre-codec 10-column checkpoint shape, written by Spark
    Seq((1, "add", "data/c0/f.parquet", "p=0", Some(1L), Some(2L)))
      .toDF("version", "action", "file", "part", "smin", "smax")
      .coalesce(1).write.parquet(s"$dir/tmp")
    val part = new java.io.File(s"$dir/tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val rows = LogCodec.read(conf, Seq(new Path(part.getAbsolutePath)))
    assert(rows.size == 1)
    val e = rows.head.entry
    assert(e == LogEntry(1, "add", "data/c0/f.parquet", "p=0",
      Some(1L), Some(2L), None, None, None, None, None, None))
    assert(rows.head.ts.isEmpty && rows.head.op.isEmpty)
  }

  test("footer stats equal the computed min/max/count for long columns") {
    val dir = Files.createTempDirectory("graft_footer").toString + "/d"
    val df = spark.range(0, 10000)
      .select($"id".as("k"), ($"id" % 97 - 48).as("v"),
        when($"id" % 3 === 0, $"id").as("nullable_v"))
    df.coalesce(1).write.parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val st = LogCodec.footerStats(conf, new Path(f.getAbsolutePath),
      Seq("k", "v", "nullable_v"))
    assert(st.ineligible.isEmpty)
    assert(st.rows == 10000L)
    assert(st.ranges("k") == ((0L, 9999L)))
    assert(st.ranges("v") == ((-48L, 48L)))
    assert(st.ranges("nullable_v") == ((0L, 9999L)))
    // a string column is ineligible (falls back to the Spark pass)
    val st2 = LogCodec.footerStats(conf, new Path(f.getAbsolutePath),
      Seq("k")) // sanity: re-open works
    assert(st2.rows == 10000L)
  }

  test("footer stats: an all-null column records no range, not [0,0]") {
    val dir = Files.createTempDirectory("graft_footer_null").toString + "/d"
    spark.range(0, 100)
      .select($"id".as("k"), lit(null).cast("long").as("dead"))
      .coalesce(1).write.parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val st = LogCodec.footerStats(conf, new Path(f.getAbsolutePath),
      Seq("dead"))
    assert(st.ineligible.isEmpty)
    assert(!st.ranges.contains("dead"))
  }

  test("manifest-backed file index: same rows as the plain reader, and " +
       "split planning handles files larger than maxPartitionBytes") {
    val dir = Files.createTempDirectory("graft_kfi").toString
    val tbl = s"$dir/t"
    val base = Tables.orders(spark, TestSpark.sfDir).select(
      $"o_orderkey", round(Tables.dec($"o_totalprice") * 100)
        .cast("long").as("price_c"),
      (($"o_orderkey" % 4).cast("string")).as("p"))
    VersionedTable.create(spark, tbl, base, "p")
    val viaIndex = VersionedTable.read(spark, tbl, 0)
    val plain = base
    // the scan must carry the KnownFilesIndex location (no listing path)
    val scanStr = viaIndex.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(scanStr.contains("KnownFilesIndex"), scanStr.take(400))
    assert(viaIndex.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(viaIndex).count() == 0)
    // force multi-split reads of the same files: results must not change
    // (the index's FileStatus lengths drive split planning)
    val prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (16 * 1024).toString)
    try {
      val splitRead = VersionedTable.read(spark, tbl, 0)
      assert(splitRead.count() == plain.count())
      assert(splitRead.agg(sum($"price_c")).head.getLong(0) ==
        plain.agg(sum($"price_c")).head.getLong(0))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
    // predicate pushdown reaches the parquet scan through the index
    val filtered = VersionedTable.read(spark, tbl, 0)
      .filter($"o_orderkey" === 7L)
    val fScan = filtered.queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(fScan.contains("PushedFilters") && fScan.contains("o_orderkey"),
      fScan.take(400))
    assert(filtered.count() == plain.filter($"o_orderkey" === 7L).count())
  }

  test("CDF of an OPTIMIZE over schema-evolved commits nets to zero " +
       "(multi-schema removed set resolves through the log)") {
    val dir = Files.createTempDirectory("graft_cdf_evolve").toString
    val tbl = s"$dir/t"
    VersionedTable.create(spark, tbl,
      Seq((1L, 10L, "p0"), (2L, 20L, "p1")).toDF("k", "v", "p"), "p")
    // v1 widens the schema: removed files at the optimize will carry TWO
    // recorded schemas — the union-schema read of that set must keep `w`
    VersionedTable.appendCommit(spark, tbl,
      Seq((3L, 30L, 7L, "p0")).toDF("k", "v", "w", "p"), "p")
    val opt = VersionedTable.optimizeCommit(spark, tbl, "p")
    val diff = VersionedTable.changes(spark, tbl, opt.version, opt.version)
    assert(diff.count() == 0, diff.collect().mkString("; "))
    // the compacted snapshot still reads the widened column (union schema
    // order is (k, v, p, w): v0's columns first, the widening appended)
    val after = VersionedTable.read(spark, tbl, opt.version,
        mergeSchema = true)
      .select("k", "w")
      .orderBy("k").collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(after == Seq((1L, null), (2L, null), (3L, 7L)), after.toString)
  }

  test("multi-file log read preserves file order (parallel read)") {
    val dir = Files.createTempDirectory("graft_codec_par").toString
    def entry(v: Int, i: Int) = LogCodec.LogRow(LogEntry(v, "add",
      s"data/c$v/f$i.parquet", s"p=$i", None, None), Some(v.toLong), Some("append"))
    val paths = (0 until 5).map { v =>
      val p = new Path(f"$dir/v$v%05d.parquet")
      LogCodec.write(conf, p, (0 until 3).map(i => entry(v, i)))
      p
    }
    val back = LogCodec.read(conf, paths)
    assert(back == (0 until 5).flatMap(v => (0 until 3).map(i => entry(v, i))))
  }

  test("footer stats: ABSENT statistics are ineligible, never all-null") {
    // a writer with column statistics disabled (foreign writers / stats
    // collection off) must push the column to the Spark fallback — treating
    // it as "no range" would let manifest-based skipping drop a file whose
    // rows match
    val dir = Files.createTempDirectory("graft_footer_absent").toString
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 k; }")
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val p = new Path(s"$dir/nostats.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(p, conf))
      .withType(schema).withConf(conf)
      .withStatisticsEnabled(false)
      .build()
    try (1L to 50L).foreach(v => w.write(factory.newGroup().append("k", v)))
    finally w.close()
    val st = LogCodec.footerStats(conf, p, Seq("k"))
    assert(st.rows == 50L)
    assert(st.ineligible == Set("k"), st.toString)
    assert(!st.ranges.contains("k"))
  }

  test("checkpoint backfills fsize/fmtime: a legacy table reaches the " +
       "manifest-backed index after its first checkpoint") {
    val dir = Files.createTempDirectory("graft_ckpt_backfill").toString
    val tbl = s"$dir/t"
    VersionedTable.create(spark, tbl,
      Seq((1L, 10L, "p0"), (2L, 20L, "p1")).toDF("k", "v", "p"), "p")
    VersionedTable.appendCommit(spark, tbl,
      Seq((3L, 30L, "p0")).toDF("k", "v", "p"), "p")
    // strip fsize/fmtime from both manifests — the pre-recording era shape
    val f = new Path(tbl).getFileSystem(conf)
    (0 to 1).foreach { v =>
      val lf = new Path(f"$tbl/_log/v$v%05d.parquet")
      val stripped = LogCodec.read(conf, Seq(lf)).map(r =>
        r.copy(entry = r.entry.copy(fsize = None, fmtime = None)))
      f.delete(lf, false)
      LogCodec.write(conf, lf, stripped)
    }
    def scanStr(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
    val expected = Seq((1L, 10L), (2L, 20L), (3L, 30L))
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"v").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // legacy entries: the read falls back to the listing reader
    val pre = VersionedTable.read(spark, tbl, 1)
    assert(!scanStr(pre).contains("KnownFilesIndex"), scanStr(pre).take(400))
    assert(content(pre) == expected)
    // the checkpoint stats the legacy files once and records real sizes
    VersionedTable.checkpoint(spark, tbl, 1)
    VersionedTable.liveEntries(spark, tbl, 1).filter(_.action == "add")
      .foreach { e =>
        val real = new java.io.File(s"$tbl/${e.file}")
        assert(e.fsize.contains(real.length()),
          s"${e.file}: backfilled ${e.fsize} vs disk ${real.length()}")
        assert(e.fmtime.exists(_ > 0L))
      }
    // ... so the post-checkpoint read scans through the manifest index
    val post = VersionedTable.read(spark, tbl, 1)
    assert(scanStr(post).contains("KnownFilesIndex"), scanStr(post).take(400))
    assert(content(post) == expected)
  }

  test("commit manifests record real file sizes") {
    val dir = Files.createTempDirectory("graft_fsize").toString
    val tbl = s"$dir/t"
    val base = Tables.orders(spark, TestSpark.sfDir).limit(1000).select(
      $"o_orderkey", (($"o_orderkey" % 2).cast("string")).as("p"))
    VersionedTable.create(spark, tbl, base, "p")
    val entries = VersionedTable.liveEntries(spark, tbl, 0)
      .filter(_.action == "add")
    assert(entries.nonEmpty)
    entries.foreach { e =>
      val real = new java.io.File(s"$tbl/${e.file}")
      assert(e.fsize.contains(real.length()),
        s"${e.file}: manifest ${e.fsize} vs disk ${real.length()}")
      assert(e.fmtime.exists(_ > 0L))
    }
  }
}

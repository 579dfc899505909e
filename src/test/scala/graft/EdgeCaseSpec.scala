package graft

import graft.functions.AnnSearch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge behavior of the custom expression layer — documented, not
  * accidental. */
class EdgeCaseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("DotFold: empty arrays, nulls, mismatched lengths") {
    val df = Seq(
      (1L, Seq(1.0, 2.0), Seq(3.0, 4.0)),   // plain: 11
      (2L, Seq.empty[Double], Seq.empty[Double]), // empty: 0
      (3L, Seq(1.0, 2.0, 9.0), Seq(3.0, 4.0))    // mismatch: min-length fold = 11
    ).toDF("id", "a", "b")
    val got = df.select($"id", AnnSearch.dot($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 11.0, 2L -> 0.0, 3L -> 11.0))
    // null input -> null output (BinaryExpression null semantics)
    val n = df.select(AnnSearch.dot(lit(null).cast("array<double>"), $"b").as("d"))
      .collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("DotFold interpreted eval matches codegen") {
    // force interpreted path via eval on the expression directly
    val e = graft.plans.DotFold(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0, 4.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null) == 11.0)
  }

  test("tsUs truncates exactly at µs boundaries") {
    val df = Seq(1704067200000000999L, 1704067200000000000L, 999L)
      .toDF("ts")
      .select(Tables.tsUs.as("us"))
    assert(df.as[Long].collect().toSeq ==
      Seq(1704067200000000L, 1704067200000000L, 0L))
  }

  test("rank-position percentiles: 1-row, 2-row, and all-equal groups") {
    // the ceil(p·n) (disc) and (n−1)·p interpolation (cont) formulas must
    // degrade sanely at the edges the testdata never exercises
    val df = Seq(
      ("one", 7L), ("two", 1L), ("two", 9L),
      ("same", 5L), ("same", 5L), ("same", 5L)
    ).toDF("g", "v")
    import org.apache.spark.sql.expressions.Window
    val byG = Window.partitionBy($"g")
    val r = df
      .withColumn("rn", row_number().over(byG.orderBy($"v")))
      .withColumn("n", count(lit(1)).over(byG))
      .groupBy($"g")
      .agg(
        max(when($"rn" === expr("(n * 50 + 99) div 100"), $"v")).as("p50_disc"),
        max(when($"rn" === expr("(n - 1) * 50 div 100 + 1"), $"v")).as("v_lo"),
        max(when($"rn" === expr("least((n - 1) * 50 div 100 + 2, n)"), $"v")).as("v_hi"),
        max(expr("(n - 1) * 50 % 100")).as("frac"))
      .withColumn("p50_cont_e6",
        expr("v_lo * 1000000 + (v_hi - v_lo) * 1000000 * frac div 100"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(5))).toMap
    assert(r("one") == (7L, 7000000L), "singleton: both medians = the value")
    assert(r("two") == (1L, 5000000L), "2 rows: disc picks lower, cont midpoint")
    assert(r("same") == (5L, 5000000L), "ties: value invariant to rank order")
  }

  test("Gini: all-equal values give 0; maximal concentration approaches 1") {
    def gini(xs: Seq[Long]): Long = {
      val df = xs.toDF("x")
        .withColumn("i", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"x")))
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"i" * $"x").as("six"))
        .selectExpr("(2 * six - (n + 1) * sx) * 1000000 div (n * sx)")
      df.as[Long].head()
    }
    assert(gini(Seq(100L, 100L, 100L, 100L)) == 0L)
    val g = gini(Seq(0L, 0L, 0L, 1000000L))
    assert(g >= 700000L && g <= 750000L, s"expected ~0.75 (= (n-1)/n), got $g")
  }

  test("int8 quantize: zero vector takes the guard, extremes hit ±127") {
    // The all-zero guard (max|x| = 0 would divide by zero) never fires on
    // the synthetic embeddings — prove it on a constructed row.
    val df = Seq(
      (1L, Seq(0f, 0f, 0f)),
      (2L, Seq(1f, -1f, 0.5f))
    ).toDF("vec_id", "embedding")
    val got = df.select($"vec_id",
      expr("array_max(transform(embedding, x -> abs(cast(x as double))))").as("ma"),
      $"embedding")
      .select($"vec_id", expr(
        """CASE WHEN ma = 0
          |  THEN transform(embedding, x -> cast(0 as bigint))
          |  ELSE transform(embedding,
          |    x -> cast(floor(cast(x as double) * 127.0 / ma + 0.5) as bigint))
          |END""".stripMargin).as("q8"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(0L, 0L, 0L), "zero vector must quantize to zeros, not NaN")
    assert(got(2L) == Seq(127L, -127L, 64L), s"extremes must hit ±127: ${got(2L)}")
  }

  test("histogram median/MAD: constant group gives MAD 0; two-value group picks lower") {
    // Same cumulative-crossing convention as agg_mad_exact, on tiny groups.
    def medMad(xs: Seq[Long]): (Long, Long) = {
      val p = org.apache.spark.sql.expressions.Window.partitionBy($"g")
      val hist = xs.map(("a", _)).toDF("g", "x").groupBy($"g", $"x").agg(count(lit(1)).as("c"))
      val med = hist
        .withColumn("cum", sum($"c").over(p.orderBy($"x".asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("tot", sum($"c").over(p))
        .filter(expr("cum >= (tot + 1) div 2"))
        .agg(min($"x")).as[Long].head()
      val mad = hist
        .select(abs($"x" - lit(med)).as("dx"), $"c", $"g")
        .groupBy($"g", $"dx").agg(sum($"c").as("c"))
        .withColumn("cum", sum($"c").over(p.orderBy($"dx".asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("tot", sum($"c").over(p))
        .filter(expr("cum >= (tot + 1) div 2"))
        .agg(min($"dx")).as[Long].head()
      (med, mad)
    }
    assert(medMad(Seq(7L, 7L, 7L)) == (7L, 0L), "constant group: MAD must be 0")
    assert(medMad(Seq(1L, 9L)) == (1L, 0L),
      "even 2-row group: lower median, deviations {8,8} -> lower-median dev is 8? no: " +
        "|1-1|=0,|9-1|=8 -> sorted {0,8}, rank (2+1) div 2 = 1 -> 0")
  }

  test("MortonInterleave: codegen == interpreted == HOF fold, known values") {
    // known: x=0b11, y=0b01 -> z = 1<<0 | 1<<2 | 1<<1 = 0b0111 = 7
    val e = graft.plans.MortonInterleave(
      org.apache.spark.sql.catalyst.expressions.Literal(3L),
      org.apache.spark.sql.catalyst.expressions.Literal(1L), 10)
    assert(e.eval(null) == 7L, "interpreted eval")
    val df = Seq((3L, 1L), (1023L, 0L), (0L, 1023L), (5L, 9L)).toDF("x", "y")
    val viaExpr = df.select(
      graft.plans.MortonInterleave.morton($"x", $"y", 10).as("z"))
      .as[Long].collect().toSeq
    val viaHof = df.selectExpr(
      """aggregate(sequence(0, 9), cast(0 as bigint), (acc, k) ->
        |  acc + shiftleft(shiftright(x, k) & 1, 2 * k)
        |      + shiftleft(shiftright(y, k) & 1, 2 * k + 1)) AS z"""
        .stripMargin).as[Long].collect().toSeq
    assert(viaExpr == viaHof, s"codegen path must match the HOF fold: $viaExpr vs $viaHof")
    assert(viaExpr.head == 7L)
  }

  test("NOT IN decomposition matches native ternary logic on every arm") {
    // The three arms of `a NOT IN B`, each checked against Spark's own
    // null-aware anti join as the semantics oracle: B empty (all rows
    // survive, even NULL keys), B holding a NULL (nothing survives), and
    // the ordinary arm (non-NULL keys absent from B survive).
    val a = Seq[(Long, Option[Long])](
      (1L, Some(10L)), (2L, Some(20L)), (3L, None), (4L, Some(40L)))
      .toDF("id", "ak")
    def native(b: org.apache.spark.sql.DataFrame): Set[Long] = {
      a.createOrReplaceTempView("naaj_a")
      b.createOrReplaceTempView("naaj_b")
      spark.sql("SELECT id FROM naaj_a WHERE ak NOT IN (SELECT x FROM naaj_b)")
        .as[Long].collect().toSet
    }
    def ours(b: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.operators.Subqueries.notInDecomposed(a, $"ak", b)
        .select($"id").as[Long].collect().toSet
    val bEmpty  = Seq.empty[Option[Long]].toDF("x")
    val bNull   = Seq[Option[Long]](Some(10L), None).toDF("x")
    val bPlain  = Seq[Option[Long]](Some(10L), Some(99L)).toDF("x")
    for (b <- Seq(bEmpty, bNull, bPlain))
      assert(ours(b) == native(b), s"decomposition diverged from native")
    assert(ours(bEmpty) == Set(1L, 2L, 3L, 4L))
    assert(ours(bNull).isEmpty)
    assert(ours(bPlain) == Set(2L, 4L))
  }

  test("streak islands: a single active day is a streak of 1") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"u").orderBy($"day".asc)
    val got = Seq((1L, 10L), (1L, 11L), (1L, 13L), (2L, 5L))
      .toDF("u", "day").distinct()
      .withColumn("grp", $"day" - row_number().over(w))
      .groupBy($"u", $"grp").agg(count(lit(1)).as("len"))
      .groupBy($"u").agg(max($"len").as("longest"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  // ---- IVF degenerate inputs: an empty query set answers no rows (the
  // same (vec_id, cos) schema), and zero coarse cells reach no list ----

  private def annArgs = {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val n = e.count()
    val nC = AnnSearch.autoCentroids(n)
    (e, e.filter(lit(false)).select($"embedding".as("qv")), n, nC,
      AnnSearch.autoCoarse(nC))
  }

  test("IVF serving: an empty query set returns no rows, not an error") {
    val (e, noQuery, n, nC, nG) = annArgs
    val got = AnnSearch.ivfTopK(e, noQuery, 5, nCentroids = nC, nProbe = 2,
      nCoarse = nG, trainN = AnnSearch.autoTrainN(n, nC), gProbe = 2)
    assert(got.columns.toSeq == Seq("vec_id", "cos"))
    assert(got.collect().isEmpty)
  }

  test("IVF-PQ: an empty query set returns no rows, not an error") {
    val (e, noQuery, n, nC, nG) = annArgs
    val got = AnnSearch.ivfPqTopK(e, noQuery, 5, nCentroids = nC, nProbe = 2,
      nCoarse = nG, trainN = AnnSearch.autoTrainN(n, nC), gProbe = 2)
    assert(got.columns.toSeq == Seq("vec_id", "cos"))
    assert(got.collect().isEmpty)
  }

  test("zero coarse centroids map no fine centroid to a cell") {
    val rows = IndexedSeq(
      AnnSearch.CentRow(1L, Array(1.0, 0.0), 1.0),
      AnnSearch.CentRow(2L, Array(0.0, 1.0), 1.0))
    val (coarse, f2g) = AnnSearch.coarseFineLocal(rows, nCoarse = 0)
    assert(coarse.isEmpty && f2g.isEmpty, s"fine→coarse map: $f2g")
  }

  test("schema cache keeps one entry per path across an in-place rebuild") {
    val d = java.nio.file.Files.createTempDirectory("graft_sc").toString
    Seq((1L, "a")).toDF("x", "y").write.parquet(s"$d/t.parquet")
    val entries = Tables.schemaCache.size()
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("x", "y"))
    Thread.sleep(15) // the rebuilt file gets a later mtime
    Seq((1L, 2.0, "a")).toDF("x", "z", "y").write.mode("overwrite")
      .parquet(s"$d/t.parquet")
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("x", "z", "y"))
    assert(Tables.schemaCache.size() == entries + 1,
      "a superseded generation of the file stayed cached")
  }

  test("stream helpers refuse an append-mode aggregation over a watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    mem.addData((0L, 1L), (30L, 2L), (120L, 3L))
    val agg = mem.toDF()
      .select(timestamp_seconds($"_1").as("t"), $"_2".as("v"))
      .withWatermark("t", "1 minute")
      .groupBy(window($"t", "1 minute")).agg(sum($"v").as("v"))
    val e = intercept[IllegalArgumentException](
      graft.streaming.Streams.runToMemory(spark, agg,
        "graft_edge_wm_append", "append"))
    assert(e.getMessage.contains("watermark"), e.getMessage)
  }
}

package graft

import graft.plans.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

/** Custom expressions exposed through the SQL surface. */
class SqlFunctionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("vec_dot is callable from SQL and matches the manual fold") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS DOUBLE), 2.0, 3.0), array(CAST(4.0 AS DOUBLE), 5.0, 6.0)) AS d")
      .head().getDouble(0)
    assert(got == 32.0)
    // against the embeddings table (float arrays)
    Tables.embeddings(spark, TestSpark.sfDir).createOrReplaceTempView("graft_emb_sql")
    val norms = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS n2
        |FROM graft_emb_sql ORDER BY vec_id LIMIT 5""".stripMargin).collect()
    assert(norms.length == 5 && norms.forall(_.getDouble(1) > 0))
  }

  test("minhash_sketch is callable from SQL and equals the elementwise min") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT minhash_sketch(x, 4) AS sig FROM (VALUES (CAST(10 AS BIGINT)), (25), (7)) t(x)""")
      .head().getAs[scala.collection.Seq[Long]](0)
    // h_j(x) = ((2j+1)x + 7j+3) % p ; min over x in {10,25,7}
    val expect = (0 until 4).map { j =>
      Seq(10L, 25L, 7L).map(x => ((2L * j + 1) * x + 7L * j + 3) % 2147483647L).min
    }
    assert(row.toSeq == expect)
  }

  test("minhash_sketch width accepts foldable BIGINT and rejects non-constants") {
    GraftFunctions.register(spark)
    // BIGINT literal under a foldable cast must work (not ClassCastException)
    val row = spark.sql(
      """SELECT minhash_sketch(x, CAST(4 AS BIGINT)) AS sig
        |FROM (VALUES (CAST(10 AS BIGINT))) t(x)""".stripMargin)
      .head().getAs[scala.collection.Seq[Long]](0)
    assert(row.length == 4)
    // a per-row (non-foldable) width must raise a clean AnalysisException
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT minhash_sketch(x, CAST(x AS INT)) AS sig
          |FROM (VALUES (CAST(10 AS BIGINT))) t(x)""".stripMargin).collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }

  test("quantile_sketch SQL surface validates k and the quantile array") {
    GraftFunctions.register(spark)
    // happy path: exact on tiny input (n <= k, no compaction)
    val qs = spark.sql(
      """SELECT quantile_sketch(x, 64, array(0.5D, 1.0D)) AS qs
        |FROM (VALUES (CAST(10 AS BIGINT)), (20), (30)) t(x)""".stripMargin)
      .head().getAs[scala.collection.Seq[Long]](0)
    assert(qs == Seq(20L, 30L))
    // non-constant k
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT quantile_sketch(x, CAST(x AS INT), array(0.5D))
          |FROM (VALUES (CAST(10 AS BIGINT))) t(x)""".stripMargin).collect()
    }
    assert(e1.getMessage.contains("integer literal"))
    // wrong quantile element type (strings, not doubles)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT quantile_sketch(x, 64, array('a'))
          |FROM (VALUES (CAST(10 AS BIGINT))) t(x)""".stripMargin).collect()
    }
    assert(e2.getMessage.contains("ARRAY<DOUBLE>"))
  }

  test("GraftExtensions injects the functions at session construction") {
    // fresh session over the same SparkContext, extensions applied at build
    val ext = TestSpark.extensionSession()
    assert(ext ne spark, "must be a newly constructed session")
    val got = ext.sql(
      "SELECT vec_dot(array(CAST(1.0 AS DOUBLE), 2.0), array(CAST(3.0 AS DOUBLE), 4.0)) AS d")
      .head().getDouble(0)
    assert(got == 11.0)
    val sig = ext.sql(
      "SELECT minhash_sketch(x, 2) AS sig FROM (VALUES (CAST(5 AS BIGINT))) t(x)")
      .head().getAs[scala.collection.Seq[Long]](0)
    assert(sig.length == 2)
  }

  test("ApproxQuantileRewrite: opt-in sketch rewrite of percentile_disc") {
    val ext = TestSpark.extensionSession()
    val sql = "SELECT o_orderstatus, " +
      "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_custkey) AS p50 " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    Tables.orders(ext, TestSpark.sfDir).createOrReplaceTempView("orders")

    ext.conf.set("spark.graft.approxQuantile", "false")
    val exact = ext.sql(sql)
    assert(!exact.queryExecution.optimizedPlan.toString.contains("quantile_sketch"))
    val exactRows = exact.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    ext.conf.set("spark.graft.approxQuantile", "true")
    // k above the group sizes at this sfDir ⇒ no compaction ⇒ the sketch
    // IS exact: same smallest-value-with-cume_dist>=p tie semantics, so
    // values must match percentile_disc bit-for-bit
    ext.conf.set("spark.graft.approxQuantile.k", "8192")
    val approx = ext.sql(sql)
    val plan = approx.queryExecution.optimizedPlan.toString
    assert(plan.contains("quantile_sketch") && !plan.contains("percentile_disc"),
      plan.take(500))
    approx.collect().foreach { r =>
      assert(r.getDouble(1) == exactRows(r.getString(0)),
        s"${r.getString(0)}: sketch ${r.getDouble(1)} != exact ${exactRows(r.getString(0))}")
    }
    // out-of-scope shapes keep the exact path: DOUBLE percentile_cont,
    // reverse ordering, and a non-BIGINT child
    val cont = ext.sql("SELECT percentile(o_custkey, 0.5) FROM orders")
    assert(!cont.queryExecution.optimizedPlan.toString.contains("quantile_sketch"))
    val rev = ext.sql("SELECT percentile_disc(0.5) WITHIN GROUP " +
      "(ORDER BY o_custkey DESC) FROM orders")
    assert(!rev.queryExecution.optimizedPlan.toString.contains("quantile_sketch"))
    val str = ext.sql("SELECT percentile_disc(0.5) WITHIN GROUP " +
      "(ORDER BY o_orderstatus) FROM orders")
    assert(!str.queryExecution.optimizedPlan.toString.contains("quantile_sketch"))
    // and at the default k (compaction active on these group sizes), the
    // estimate stays within the theorem's rank bound of the exact answer
    ext.conf.set("spark.graft.approxQuantile.k", "512")
    val n = Tables.orders(ext, TestSpark.sfDir).count()
    ext.sql(sql).collect().foreach { r =>
      val v = r.getDouble(1)
      val (lo, hi) = (exactRows.values.min, exactRows.values.max)
      assert(v >= lo * 0.5 && v <= hi * 1.5,
        s"k=512 estimate $v wildly off exact range [$lo, $hi] (n=$n)")
    }
    ext.conf.set("spark.graft.approxQuantile", "false")
  }

  test("ApproxDistinctRewrite: opt-in HLL rewrite of count(DISTINCT x)") {
    val ext = TestSpark.extensionSession()
    val sql = "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    Tables.orders(ext, TestSpark.sfDir).createOrReplaceTempView("orders")

    // flag off (default): exact plan, no HLL anywhere
    val exact = ext.sql(sql)
    assert(!exact.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
    val exactRows = exact.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // flag on: the optimizer rewrites to HLL; values within the rsd bound
    ext.conf.set("spark.graft.approxCountDistinct", "true")
    val approx = ext.sql(sql)
    assert(approx.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"),
      approx.queryExecution.optimizedPlan.toString.take(500))
    approx.collect().foreach { r =>
      val (status, est) = (r.getString(0), r.getLong(1))
      val truth = exactRows(status).toDouble
      assert(math.abs(est - truth) / truth < 0.15,
        s"$status: est $est vs exact $truth")
    }

    // multi-arg distinct count must NOT be rewritten (tuple semantics)
    val multi = ext.sql("SELECT count(DISTINCT o_custkey, o_orderstatus) " +
      "AS n FROM orders")
    assert(!multi.queryExecution.optimizedPlan.toString
      .contains("approx_count_distinct"))
    assert(multi.head().getLong(0) > 0)
    ext.conf.set("spark.graft.approxCountDistinct", "false")
  }

  test("morton is callable from SQL and rejects a non-constant bits arg") {
    GraftFunctions.register(spark)
    val got = spark.sql("SELECT morton(CAST(3 AS BIGINT), CAST(1 AS BIGINT), 10) AS z")
      .head().getLong(0)
    assert(got == 7L, s"morton(3,1) must interleave to 7, got $got")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT morton(CAST(x AS BIGINT), CAST(x AS BIGINT), CAST(x AS INT)) AS z " +
        "FROM (VALUES (3)) t(x)").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
  }

  test("simhash60 is callable from SQL and matches the md5 bit convention") {
    GraftFunctions.register(spark)
    // single token: the signature IS the token's 60-bit md5-prefix hash
    // (each set bit votes +1, each clear bit −1 with one voter)
    val viaFn = spark.sql("SELECT simhash60(array('hash')) AS s").head().getLong(0)
    val viaMd5 = spark.sql(
      "SELECT CAST(conv(substring(md5(CAST('hash' AS BINARY)), 1, 15), 16, 10) AS BIGINT) AS h")
      .head().getLong(0)
    assert(viaFn == viaMd5)
  }

  test("winnow_fp is callable from SQL; short docs yield an empty set") {
    GraftFunctions.register(spark)
    // an 11-char doc has exactly one full window (4 positions) → exactly
    // one fingerprint, the min-keyed k-gram's 40-bit md5-prefix hash
    val one = spark.sql("SELECT winnow_fp('abcdefghijk') AS f").head()
      .getSeq[Long](0)
    assert(one.length == 1, s"one full window must yield one fingerprint: $one")
    val hashes = spark.sql(
      """SELECT collect_list(CAST(conv(substring(md5(CAST(g AS BINARY)), 1, 10), 16, 10) AS BIGINT))
        |FROM (SELECT explode(transform(sequence(1, 4),
        |  i -> substring('abcdefghijk', i, 8))) AS g)""".stripMargin)
      .head().getSeq[Long](0)
    assert(one.head == hashes.min, "the selected fingerprint is the window min")
    val short = spark.sql("SELECT winnow_fp('abcdefghij') AS f").head()
      .getSeq[Long](0)
    assert(short.isEmpty, "10 chars → no full window → empty fingerprint set")
    assert(spark.sql("SELECT winnow_fp(CAST(NULL AS STRING)) AS f").head().isNullAt(0))
  }

  test("sketch aggregates reject wrong child types at analysis time") {
    GraftFunctions.register(spark)
    // quantile_sketch executes update() on a Long child — a STRING child
    // must fail analysis, not ClassCastException mid-execution
    val qErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT quantile_sketch(s, 512, array(0.5D)) " +
        "FROM (VALUES ('a'), ('b')) t(s)").collect()
    }
    assert(qErr.getMessage.toLowerCase.contains("bigint"), qErr.getMessage)
    // cms_sketch's child is the md5 HEX STRING — a BIGINT child must fail
    // analysis too
    val cErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cms_sketch(x, 4, 64) " +
        "FROM (VALUES (CAST(1 AS BIGINT))) t(x)").collect()
    }
    assert(cErr.getMessage.toLowerCase.contains("string"), cErr.getMessage)
    // ...and a string that is NOT a >=8d-hex digest fails loudly at runtime
    // with guidance, instead of StringIndexOutOfBounds mid-query
    val rErr = intercept[Exception] {
      spark.sql("SELECT cms_sketch(s, 4, 64) FROM (VALUES ('abc')) t(s)")
        .collect()
    }
    assert(rErr.getMessage.contains("md5"), rErr.getMessage)
  }
}

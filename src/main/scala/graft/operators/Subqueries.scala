package graft.operators

import graft.{Q, QueryModule, Tables}

/** Relational completeness: SQL subquery forms. Catalyst decorrelates these
  * (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery) into the
  * same join shapes as §2-C — registered through `spark.sql` to exercise
  * the parser→analyzer→decorrelation path end-to-end. */
object Subqueries extends QueryModule {

  private def withViews(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
  }

  /** Shuffle-capable `key NOT IN (SELECT x FROM b)` — the decomposition
    * graded by sub_not_in_scalable (see that row's comment for the ternary
    * logic). `b` must be a single-column frame named `x` of `key`'s type;
    * returns the qualifying rows of `a`. The B-empty / B-has-NULL arms are
    * two runtime aggregates broadcast as one row; the residual is a plain
    * equi LEFT ANTI free to sort-merge at any |b|. */
  private[graft] def notInDecomposed(
      a: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val stats = b.agg(count(lit(1)).as("__n"), count(col("x")).as("__nn"))
    a.crossJoin(broadcast(stats))
      .where(col("__n") === col("__nn") &&
        (col("__n") === 0L || key.isNotNull))
      .join(b.where(col("x").isNotNull), key === col("x"), "left_anti")
      .drop("__n", "__nn")
  }

  val queries: Map[String, Q] = Map(
    // Correlated scalar subquery → left outer join + agg after decorrelation.
    "sub_scalar_correlated" -> ((s, d) => {
      withViews(s, d)
      s.sql(
        """SELECT c_custkey,
          |  (SELECT COUNT(*) FROM graft_orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
          |  CAST((SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
          |   FROM graft_orders o WHERE o.o_custkey = c.c_custkey) * 1000000 AS BIGINT) AS max_price_e6
          |FROM graft_customer c
          |ORDER BY c_custkey""".stripMargin)
    }),

    // Uncorrelated IN subquery → left semi join.
    "sub_in_uncorrelated" -> ((s, d) => {
      withViews(s, d)
      s.sql(
        """SELECT c_custkey, c_mktsegment
          |FROM graft_customer
          |WHERE c_custkey IN (
          |  SELECT o_custkey FROM graft_orders WHERE o_orderpriority = '1-URGENT')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // NOT IN with a guaranteed-non-null subquery → null-aware anti join.
    "sub_not_in" -> ((s, d) => {
      withViews(s, d)
      s.sql(
        """SELECT c_custkey
          |FROM graft_customer
          |WHERE c_custkey NOT IN (
          |  SELECT o_custkey FROM graft_orders WHERE o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // NOT IN at scale. Spark's native null-aware anti join (the row above)
    // must BROADCAST the subquery side: the single-column form plans as a
    // forced NAAJ BroadcastHashJoin even with broadcasting disabled (the
    // planner has no shuffled shape for it), and every other form falls to
    // BroadcastNestedLoopJoin — either way the whole subquery side is
    // resident on every executor, which stops scaling when it outgrows
    // executor memory. This row grades the shuffle-capable decomposition
    // of the same ternary-logic semantics:
    //   a NOT IN B ≡ B empty            → keep every row (even NULL keys)
    //              | B contains a NULL  → keep nothing
    //              | otherwise          → a IS NOT NULL AND a ∉ B
    // The first two arms cost one broadcast row of runtime aggregates
    // (count(*), count(key) — NULL presence is their difference); the third
    // is a plain equi LEFT ANTI that sort-merge-joins on the shuffled key,
    // so the plan at 100 TB is the plan at sf0.01. Both branches are graded
    // in one result: a null-free subquery ("clean", real survivors) and a
    // NULL-poisoned one whose mandated-empty output is pinned through a
    // count row. PlanShapeSpec proves the scale claim: with broadcast
    // disabled this plan sort-merges while the native form goes BNLJ.
    "sub_not_in_scalable" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      // A-side key is deliberately nullable (every 97th customer) so the
      // a-IS-NULL arm of the ternary logic is exercised, not vacuous.
      val a = Tables.customer(s, d).select(
        $"c_custkey",
        when($"c_custkey" % 97 === 0, lit(null)).otherwise($"c_custkey")
          .as("ak"))
      val bClean = Tables.orders(s, d)
        .filter($"o_orderstatus" === "F" && $"o_custkey" % 89 =!= 0)
        .select($"o_custkey".as("x"))
      val bPoison = bClean.unionAll(
        s.range(1).select(lit(null).cast("bigint").as("x")))
      notInDecomposed(a, $"ak", bClean)
        .select(lit("clean").as("variant"), $"c_custkey")
        .unionAll(
          notInDecomposed(a, $"ak", bPoison)
            .agg(count(lit(1)).as("cnt"))
            .select(lit("poisoned_count").as("variant"),
              $"cnt".as("c_custkey")))
        .orderBy($"variant", $"c_custkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "sub_scalar_correlated" ->
      """SELECT c_custkey,
        |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  CAST((SELECT CAST(MAX(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
        |   FROM orders o WHERE o.o_custkey = c.c_custkey) * 1000000 AS BIGINT) AS max_price_e6
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "sub_in_uncorrelated" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "sub_not_in" ->
      """SELECT c_custkey
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    // The oracle keeps the declarative NOT IN; the engine's decomposition
    // must reproduce its ternary-logic results exactly (incl. the poisoned
    // branch's mandated-empty output, visible as the pinned 0 count row).
    "sub_not_in_scalable" ->
      """WITH a AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 97 = 0 THEN NULL
        |              ELSE c_custkey END AS ak
        |  FROM customer),
        |b_clean AS (
        |  SELECT o_custkey AS x FROM orders
        |  WHERE o_orderstatus = 'F' AND o_custkey % 89 <> 0),
        |b_poison AS (
        |  SELECT x FROM b_clean UNION ALL SELECT CAST(NULL AS BIGINT))
        |SELECT 'clean' AS variant, c_custkey
        |FROM a WHERE ak NOT IN (SELECT x FROM b_clean)
        |UNION ALL
        |SELECT 'poisoned_count' AS variant,
        |       (SELECT COUNT(*) FROM a
        |        WHERE ak NOT IN (SELECT x FROM b_poison)) AS c_custkey
        |ORDER BY variant, c_custkey""".stripMargin
  )
}

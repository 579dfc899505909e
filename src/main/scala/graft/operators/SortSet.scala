package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.functions._

/** §2-F: sorts, global top-k, set operations.
  * F2 plans as TakeOrderedAndProject (per-partition top-k + driver merge —
  * no global sort, the only sane shape at 100 TB). Set ops are hash-based
  * distinct shuffles; union-all is a zero-shuffle concatenation. */
object SortSet extends QueryModule {

  val queries: Map[String, Q] = Map(
    // F1: multi-key sort, mixed direction + explicit nulls ordering.
    "sort_multi_key" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment",
          Tables.e6(Tables.dec($"c_acctbal")).as("acctbal_e6"))
        .orderBy($"c_mktsegment".desc, $"acctbal_e6".asc_nulls_first, $"c_custkey".asc)
    }),

    // F2: global top-20 by totalprice (TakeOrderedAndProject).
    "limit_topk_global" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey", Tables.e6(Tables.dec($"o_totalprice")).as("totalprice_e6"))
        .orderBy($"totalprice_e6".desc, $"o_orderkey".asc)
        .limit(20)
    }),

    // F3: union all of two (overlapping) filtered slices — duplicates kept.
    "set_union_all" -> ((s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val a = c.filter($"c_acctbal" > 5000.0).select($"c_custkey", $"c_mktsegment")
      val b = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey", $"c_mktsegment")
      a.unionAll(b).orderBy("c_custkey", "c_mktsegment")
    }),

    // F4: union distinct of the same slices.
    "set_union_distinct" -> ((s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val a = c.filter($"c_acctbal" > 5000.0).select($"c_custkey", $"c_mktsegment")
      val b = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey", $"c_mktsegment")
      a.union(b).distinct().orderBy("c_custkey", "c_mktsegment")
    }),

    // F5: intersect of key sets (distinct semantics both engines).
    "set_intersect" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).filter($"c_acctbal" > 0.0).select($"c_custkey")
        .intersect(Tables.orders(s, d).select($"o_custkey".as("c_custkey")))
        .orderBy("c_custkey")
    }),

    // F6: except of key sets.
    "set_except" -> ((s, d) => {
      import s.implicits._
      Tables.customer(s, d).select($"c_custkey")
        .except(Tables.orders(s, d).select($"o_custkey".as("c_custkey")))
        .orderBy("c_custkey")
    }),

    // F7: multiset (bag) semantics — INTERSECT ALL keeps per-key
    // multiplicity min, EXCEPT ALL subtracts multiplicities.
    "set_intersect_all" -> ((s, d) => {
      import s.implicits._
      val a = Tables.lineitem(s, d).filter($"l_linenumber" <= 2).select($"l_orderkey")
      val b = Tables.lineitem(s, d).filter($"l_linenumber" >= 2).select($"l_orderkey")
      a.intersectAll(b).groupBy($"l_orderkey")
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy("l_orderkey")
    }),

    "set_except_all" -> ((s, d) => {
      import s.implicits._
      val a = Tables.lineitem(s, d).select($"l_orderkey")
      val b = Tables.lineitem(s, d).filter($"l_linenumber" >= 3).select($"l_orderkey")
      a.exceptAll(b).groupBy($"l_orderkey")
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy("l_orderkey")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "sort_multi_key" ->
      """SELECT c_custkey, c_mktsegment, CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS acctbal_e6
        |FROM customer
        |ORDER BY c_mktsegment DESC, acctbal_e6 ASC NULLS FIRST, c_custkey ASC""".stripMargin,
    "limit_topk_global" ->
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS totalprice_e6
        |FROM orders ORDER BY totalprice_e6 DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "set_union_all" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY c_custkey, c_mktsegment""".stripMargin,
    "set_union_distinct" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
        |  UNION
        |  SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY c_custkey, c_mktsegment""".stripMargin,
    "set_intersect" ->
      """SELECT * FROM (
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 0.0
        |  INTERSECT
        |  SELECT o_custkey AS c_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "set_except" ->
      """SELECT * FROM (
        |  SELECT c_custkey FROM customer
        |  EXCEPT
        |  SELECT o_custkey AS c_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "set_intersect_all" ->
      """SELECT l_orderkey, COUNT(*) AS multiplicity FROM (
        |  SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2
        |  INTERSECT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_linenumber >= 2)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "set_except_all" ->
      """SELECT l_orderkey, COUNT(*) AS multiplicity FROM (
        |  SELECT l_orderkey FROM lineitem
        |  EXCEPT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_linenumber >= 3)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  )
}

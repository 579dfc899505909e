package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' session factory: a session it builds carries the
  * engine's extensions (SQL functions, the band-join rewrite) and the UTC
  * session time zone without any per-session registration. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession: extension functions, UTC, band join planned as equi-join") {
    val orig = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession()
      assert(s ne orig, "must be a newly constructed session")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.sql("SELECT vec_dot(array(CAST(1.0 AS DOUBLE), 2.0), " +
        "array(CAST(3.0 AS DOUBLE), 4.0))").head().getDouble(0) == 11.0)
      assert(s.sql("SELECT morton(CAST(3 AS BIGINT), CAST(1 AS BIGINT), 10)")
        .head().getLong(0) == 7L)
      // keyless band join: the injected RangeJoinRewrite, not an install
      // call, must turn it into an equi-join
      val p = s.sql("SELECT a.id, b.id FROM range(50) a JOIN range(50) b " +
        "ON abs(a.id * 3 - b.id * 3) <= 7 AND a.id < b.id")
        .queryExecution.executedPlan.toString
      assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
        p.take(800))
      assert(p.contains("Generate"), p.take(800))
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, ElementAt, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, PercentileDisc}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Second approximate-query-processing rule (companion to
  * [[ApproxDistinctRewrite]]): when `spark.graft.approxQuantile=true`,
  * every `percentile_disc(p) WITHIN GROUP (ORDER BY x)` over a BIGINT
  * column is rewritten to the mergeable KLL sketch
  * ([[QuantileSketchAgg]], k from `spark.graft.approxQuantile.k`,
  * default 512 ⇒ rank error ≤ H·n/(2k), sub-percent in practice —
  * 0.121% observed at 64M rows; QuantileSketchSpec pins the bound).
  *
  * Why: exact PercentileDisc buffers EVERY (value, count) pair per group
  * through the shuffle and sorts it at evaluation — the per-group state
  * is unbounded, which is precisely what fails first at 100 TB. The
  * sketch state is ~k·log(n/k) longs per group regardless of
  * cardinality, and the answer type is unchanged (the sketch returns an
  * actual retained data value of the child's type), so downstream
  * operators are unaffected: percentile_disc's output type is DOUBLE
  * (Spark widens even integral children), so the retained BIGINT value
  * is cast back — exact for |v| < 2^53, i.e. the *_e6 convention's whole
  * range.
  *
  * Scope guards (same philosophy as the HLL rule): only a non-reverse
  * disc percentile over a LongType child with a foldable scalar
  * percentage in (0, 1], no FILTER clause, not DISTINCT. Everything else
  * — array percentages, cont interpolation (a weighted average the
  * sketch doesn't model), reverse ordering — keeps the exact path.
  */
case class ApproxQuantileRewrite() extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.approxQuantile", "false") == "true"

  private def k: Int = {
    val raw = conf.getConfString("spark.graft.approxQuantile.k", "512")
    val parsed = scala.util.Try(raw.toInt).getOrElse(512)
    if (parsed >= 8) parsed else 512
  }

  private def scalarPercentage(e: Expression): Option[Double] =
    if (!e.foldable) None
    else e.eval() match {
      case d: Double if d > 0.0 && d <= 1.0 => Some(d)
      case dec: org.apache.spark.sql.types.Decimal =>
        val d = dec.toDouble
        if (d > 0.0 && d <= 1.0) Some(d) else None
      case f: Float if f > 0.0f && f <= 1.0f => Some(f.toDouble)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformWithPruning(_.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE)) {
      case a: Aggregate =>
        a.transformExpressions {
          case ae @ AggregateExpression(
              pd: PercentileDisc, _, false, None, _)
              if !pd.reverse && pd.child.dataType == LongType &&
                pd.child.deterministic =>
            scalarPercentage(pd.percentageExpression) match {
              case Some(q) =>
                // the sketch returns ARRAY<BIGINT>; index out the single
                // requested rank and widen to percentile_disc's DOUBLE
                Cast(
                  ElementAt(
                    ae.copy(aggregateFunction =
                      QuantileSketchAgg(pd.child, k, Seq(q))),
                    Literal(1)),
                  pd.dataType)
              case None => ae
            }
        }
    }
}

object ApproxQuantileRewrite {
  import org.apache.spark.sql.SparkSession

  /** Idempotently retrofit the rule onto an already-built session. */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[ApproxQuantileRewrite]))
      spark.experimental.extraOptimizations = cur :+ ApproxQuantileRewrite()
  }
}

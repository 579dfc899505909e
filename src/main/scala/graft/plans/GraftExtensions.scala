package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-construction wiring for the engine's custom Catalyst functions:
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  *
  * or programmatically `SparkSession.builder().withExtensions(new
  * GraftExtensions())`. Every session built this way has `vec_dot` and
  * `minhash_sketch` available in SQL from the first query — no per-session
  * `GraftFunctions.register` call needed. Both paths share the same
  * expression builders, so behavior is identical.
  *
  * Both also register the engine's local filesystem for `file:` paths
  * ([[graft.sources.LocalFiles]]). `withExtensions` applies this class
  * before the SparkContext starts; `spark.sql.extensions` applies it after,
  * when registering reloads the configurations already built, and a `file:`
  * `FileSystem` cached before then stays Hadoop's own.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // first, so it precedes the SparkContext under `withExtensions`
    graft.sources.LocalFiles.register()
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotFold].getName, "vec_dot"),
      GraftFunctions.vecDotBuilder))
    ext.injectFunction((
      FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_sketch"),
      GraftFunctions.minhashBuilder))
    ext.injectFunction((
      FunctionIdentifier("morton"),
      new ExpressionInfo(classOf[MortonInterleave].getName, "morton"),
      GraftFunctions.mortonBuilder))
    ext.injectFunction((
      FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "simhash60"),
      GraftFunctions.simhashBuilder))
    ext.injectFunction((
      FunctionIdentifier("quantile_sketch"),
      new ExpressionInfo(classOf[QuantileSketchAgg].getName, "quantile_sketch"),
      GraftFunctions.quantileSketchBuilder))
    ext.injectFunction((
      FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      GraftFunctions.winnowBuilder))
    ext.injectFunction((
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "cms_sketch"),
      GraftFunctions.cmsBuilder))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      GraftFunctions.bloomAggBuilder))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      GraftFunctions.bloomMightContainBuilder))
    // Opt-in approximate-query-processing mode (see ApproxDistinctRewrite /
    // ApproxQuantileRewrite): inert unless spark.graft.approxCountDistinct /
    // spark.graft.approxQuantile is true, so injecting costs nothing.
    ext.injectOptimizerRule(_ => ApproxDistinctRewrite())
    ext.injectOptimizerRule(_ => ApproxQuantileRewrite())
    // Keyless band joins → cell-replicated equi-join (semantics-preserving,
    // default-on, spark.graft.rangeJoin=false to disable). See
    // RangeJoinRewrite for the coverage proof.
    ext.injectOptimizerRule(_ => RangeJoinRewrite())
    // Whole-operator extension: plans TopKPerGroupNode into the two-phase
    // partial/final physical operator (see TopKPerGroup). The facade also
    // registers this per-session via experimental.extraStrategies, so
    // either construction path works.
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    // SQL MERGE INTO over graftvt catalog tables → VersionedTable
    // .mergeCommit (post-hoc: the plan arrives fully resolved, star
    // actions expanded). Matches only MergeIntoTable over a GraftVtRelation
    // target, so injecting costs nothing elsewhere.
    ext.injectPostHocResolutionRule(s => new graft.sources.GraftVtMergeRule(s))
    // SQL UPDATE / DELETE FROM over graftvt catalog tables → partition-
    // scoped rewrite / metadata-only partition-drop commits. Same
    // match-only-graftvt-targets economics as the MERGE rule.
    ext.injectPostHocResolutionRule(s => new graft.sources.GraftVtDmlRule(s))
    // ALTER TABLE ADD COLUMNS over graftvt catalog tables → metadata-only
    // schema-evolution commit (VersionedTable.addColumnsCommit); Spark's
    // own command would reject the provider at run time.
    ext.injectPostHocResolutionRule(s => new graft.sources.GraftVtAlterRule(s))
    // SQL maintenance verbs Spark's grammar lacks (OPTIMIZE [ZORDER BY],
    // VACUUM, DESCRIBE HISTORY) — a delegating parser, Delta's
    // DeltaSqlParser architecture: three anchored statement shapes are
    // recognized, everything else goes to Spark's parser verbatim.
    ext.injectParser((s, delegate) =>
      new graft.sources.GraftSqlParser(s, delegate))
    // Native time-travel SQL (`FROM t VERSION AS OF n` / `TIMESTAMP AS OF
    // ts`): the parser above substitutes Spark's RelationTimeTravel with a
    // graft placeholder; this rule resolves it to the pinned versionAsOf /
    // timestampAsOf relation (non-graftvt targets revert to stock Spark).
    ext.injectResolutionRule(s => new graft.sources.GraftVtTimeTravelRule(s))
  }
}

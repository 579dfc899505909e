package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, SupportsSubquery, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.graftshim.PlanShim

/** SQL `UPDATE` and `DELETE FROM` for `graftvt` tables — the statements
  * route to versioned commits, completing the pure-SQL DML surface next to
  * INSERT ([[GraftVtRelation.insert]]) and MERGE ([[GraftVtMergeRule]]).
  * Same architecture as MERGE: an analyzer extension rewriting the resolved
  * plan into the engine's own command, because Spark's built-in row-level
  * rewrites require a DSv2 `SupportsRowLevelOperations` table (Delta's
  * DeltaAnalysis does the identical interception for its V1 relation).
  *
  * Execution strategy, chosen per statement:
  *   - `DELETE` whose predicate references ONLY partition columns (and is
  *     deterministic, subquery-free, and every partition column's type has
  *     a provably cast-roundtripping string rendering) is METADATA-ONLY:
  *     the predicate is evaluated on the manifest's partition-value domain
  *     and the selected partitions' entries leave the log — zero data I/O
  *     at any table size ([[VersionedTable.dropPartitionsCommit]]).
  *   - every other `DELETE`, and every `UPDATE`, is partition-granularity
  *     copy-on-write: a probe scan (through the relation, so manifest
  *     stats-skipping and partition pruning both apply to it) finds the
  *     partitions holding matching rows, and exactly those are rewritten
  *     in one commit ([[VersionedTable.rewritePartitionsCommit]]).
  * Time travel works across both; CDF derives row-level diffs from the
  * commit's file sets. For sparse deletes where partition rewrite is too
  * much write amplification, the merge-on-read path stays available as
  * [[VersionedTable.deleteCommit]] (deletion-vector tombstones).
  *
  * Restrictions, each a clear analysis-time error: UPDATE may not assign a
  * partition column (rows are addressed by (key, partition); a cross-
  * partition move is DELETE + INSERT or a library mergeCommit) — identity
  * assignments, which Spark's alignment inserts for unassigned columns,
  * are fine; UPDATE conditions and assignment values may not contain
  * subqueries (they are re-applied inside the rewrite projection, where
  * Spark supports no subquery placement). DELETE conditions MAY contain
  * subqueries — the COW path only ever evaluates them in filters.
  */
final class GraftVtDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable if d.resolved =>
      GraftVtDml.targetOf(d.table) match {
        case Some((lr, rel)) =>
          GraftVtDml.requireMutable(rel, "DELETE")
          // the COW path evaluates the condition in TWO jobs (partition
          // probe, then rewrite) — a nondeterministic predicate would
          // delete a set no single evaluation produces (Delta rejects too)
          if (!d.condition.deterministic)
            throw new UnsupportedOperationException(
              "graftvt DELETE: nondeterministic conditions are not " +
              s"supported: ${d.condition.sql}")
          GraftVtDeleteCommand(lr, d.table, d.condition)
        case None => plan
      }
    case u: UpdateTable if u.resolved =>
      GraftVtDml.targetOf(u.table) match {
        case Some((lr, rel)) =>
          GraftVtDml.requireMutable(rel, "UPDATE")
          translateUpdate(u, lr, rel)
        case None => plan
      }
    case _ => plan
  }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graftvt UPDATE: $msg")

  private def translateUpdate(u: UpdateTable, lr: LogicalRelation,
                              rel: GraftVtRelation): LogicalPlan = {
    val resolver = spark.sessionState.conf.resolver
    val pCols = VersionedTable.partColsOf(rel.tableParameters.getOrElse(
      "partitionCol", fail("table must declare a 'partitionCol' option")))
    u.condition.foreach { c =>
      if (SubqueryExpression.hasSubquery(c))
        fail("subqueries in the UPDATE condition are not supported — " +
          "rewrite as MERGE INTO or a library mergeCommit")
      // evaluated once in the partition probe and again in the rewrite's
      // CASE — a nondeterministic predicate would update a set no single
      // evaluation produces
      if (!c.deterministic)
        fail(s"nondeterministic conditions are not supported: ${c.sql}")
    }
    u.assignments.foreach { a =>
      val name = a.key match {
        case k: Attribute => k.name
        case other => fail(s"unsupported assignment key: ${other.sql} " +
          "(only plain column assignments are supported)")
      }
      if (SubqueryExpression.hasSubquery(a.value))
        fail(s"subqueries in assignment values are not supported ($name)")
      // identity assignment (SET p = p) is what Spark's assignment
      // alignment inserts for columns the statement left alone — allowed
      val identity = (a.key, a.value) match {
        case (k: AttributeReference, v: AttributeReference) =>
          k.exprId == v.exprId
        case _ => a.key.semanticEquals(a.value)
      }
      if (!identity && pCols.exists(resolver(_, name)))
        fail(s"assigning partition column '$name' is not supported — rows " +
          "are addressed by (key, partition); move rows across partitions " +
          "with DELETE + INSERT or a library mergeCommit")
      // ANSI store-assignment check (Spark/Delta reject the same way at
      // analysis): in a non-ANSI session the rewrite's cast would silently
      // write NULL into every matched row for an incompatible SET (e.g. a
      // non-numeric string into a bigint column); in an ANSI session it
      // would die at RUNTIME mid-rewrite. Either way the statement should
      // fail AT ANALYSIS. Spark's assignment alignment may have wrapped
      // the value in its own cast to the column type already — look
      // through casts the USER did not write to judge the real source
      // type (an explicit `SET v = CAST(s AS BIGINT)` keeps its
      // USER_SPECIFIED_CAST tag and is the documented opt-in).
      def userSource(e: Expression): Expression = e match {
        case c: Cast if c.getTagValue(Cast.USER_SPECIFIED_CAST).isEmpty =>
          userSource(c.child)
        case other => other
      }
      val srcType = userSource(a.value).dataType
      if (!identity && !Cast.canANSIStoreAssign(srcType, a.key.dataType))
        fail(s"cannot assign ${srcType.simpleString} to column " +
          s"'$name' of type ${a.key.dataType.simpleString}; cast the value " +
          "explicitly if the conversion is intended")
    }
    GraftVtUpdateCommand(lr, u.table, u.assignments, u.condition)
  }
}

private[sources] object GraftVtDml {

  /** The graftvt relation under a DML target — STRICT: only alias/view
    * wrappers whose body is exactly the relation qualify (Delta's rule).
    * A `collectFirst` over the whole plan would also match a filtered
    * `CREATE VIEW v AS SELECT ... WHERE ...` target, and a COW rewrite
    * computed from the view-visible rows would then silently DELETE every
    * row the view's filter hid from the rewritten partitions. A derived
    * view falls through to Spark's own "not supported" analysis error. */
  def targetOf(plan: LogicalPlan): Option[(LogicalRelation, GraftVtRelation)] =
    plan match {
      case SubqueryAlias(_, child) => targetOf(child)
      case v: View                 => targetOf(v.child)
      // a PASSTHROUGH projection (what `CREATE VIEW v AS SELECT * FROM t`
      // analyzes to: Project over the relation, same attributes in the
      // same order) hides nothing and qualifies; any real projection,
      // rename, or filter does not. Spark's view resolution may wrap each
      // column in a no-op schema-compensation alias `Alias(Cast(attr, dt),
      // name)` with dt identical to the attribute's own type — that still
      // hides nothing, so it qualifies too; a cast to a DIFFERENT type is a
      // real projection and does not.
      case p: Project
          if p.projectList.length == p.child.output.length &&
            p.projectList.zip(p.child.output).forall {
              case (a: AttributeReference, b) =>
                a.exprId == b.exprId && a.name == b.name
              case (al: Alias, b) =>
                al.name == b.name && (al.child match {
                  case c: Cast =>
                    c.dataType == b.dataType && (c.child match {
                      case a: AttributeReference => a.exprId == b.exprId
                      case _                     => false
                    })
                  case a: AttributeReference => a.exprId == b.exprId
                  case _                     => false
                })
              case _ => false
            } => targetOf(p.child)
      case lr: LogicalRelation if lr.relation.isInstanceOf[GraftVtRelation] =>
        Some((lr, lr.relation.asInstanceOf[GraftVtRelation]))
      case _ => None
    }

  /** Mutation guard, shared by every write surface (INSERT, MERGE, UPDATE,
    * DELETE, OPTIMIZE, VACUUM): a relation created with a pinning or
    * filtering read option is a VIEW of the table, not the table — a write
    * through it would read the restricted slice but commit against the
    * live latest version. Concretely: INSERT OVERWRITE through a
    * `partitions`-filtered view would remove EVERY partition's files, a
    * COW UPDATE/DELETE/MERGE through a `versionAsOf` view would rewrite
    * stale content over newer commits, and any write would silently un-pin
    * the view (the relation re-pins to latest after its own commit). */
  def requireMutable(rel: GraftVtRelation, what: String): Unit =
    Seq("versionAsOf", "timestampAsOf", "partitions").foreach { o =>
      if (rel.tableParameters.contains(o))
        throw new UnsupportedOperationException(
          s"graftvt $what: the target was created with '$o' — a pinned or " +
          "partition-filtered relation is a read-only view of the table; " +
          s"run $what against the table itself")
    }

  /** Probe: the partitions holding rows matching `condCol`, as (manifest
    * part keys, a membership predicate over the partition columns). The
    * probe scans THROUGH the relation (`tdf`), so the pushed condition gets
    * manifest-level stats skipping and partition pruning; the collect is
    * bounded by the partition-value domain (the same cardinality every
    * commit's conflict scope already carries). The membership predicate is
    * built from raw per-column equalities / IN, so the rewrite scan's
    * pushed filters prune from the manifest again. */
  def affectedOf(tdf: DataFrame, condCol: Column, pCols: Seq[String])
      : (Set[String], Column) = {
    val n = pCols.length
    val probe = tdf.filter(condCol)
      .select(pCols.map(col) ++
        pCols.map(c => col(c).cast("string").as(s"__graft_s_$c")): _*)
      .distinct().collect()
    probe.foreach { r =>
      require((0 until n).forall(!r.isNullAt(_)),
        s"graftvt DML: partition columns ${pCols.mkString("(", ", ", ")")} " +
        "must be non-null")
    }
    val keys = probe.map { r =>
      VersionedTable.partKeyOf(pCols, (0 until n).map(i => r.getString(n + i)))
    }.toSet
    val member: Column =
      if (probe.isEmpty) lit(false)
      else if (n == 1) col(pCols.head).isin(probe.toSeq.map(_.get(0)): _*)
      else probe.toSeq.map { r =>
        pCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
    (keys, member)
  }
}

/** The runnable half of SQL UPDATE: probe the affected partitions, rewrite
  * them with a per-column `CASE WHEN condition THEN value ELSE old END`
  * projection (rows the condition does not match — including NULL, SQL's
  * rule — keep every column), commit through
  * [[VersionedTable.rewritePartitionsCommit]]. The statement's resolved
  * condition/value expressions are re-applied onto the SAME analyzed target
  * plan they resolved against, so attribute bindings are exact (the MERGE
  * command's mechanism). */
final case class GraftVtUpdateCommand(
    @transient targetRelation: LogicalRelation,
    @transient targetPlan: LogicalPlan,
    @transient assignments: Seq[Assignment],
    @transient condition: Option[Expression]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val rel = targetRelation.relation.asInstanceOf[GraftVtRelation]
    val resolver = spark.sessionState.conf.resolver
    val partitionCol = rel.tableParameters("partitionCol") // rule-validated
    val pCols = VersionedTable.partColsOf(partitionCol)
    val statsCol = rel.tableParameters.get("statsCol")
    // re-resolve to latest FIRST (Delta re-resolves the snapshot at
    // operation start): the cached relation may be pinned versions behind
    // after an external commit, and a rewrite computed from a stale
    // snapshot would drop the intervening commits' rows. The pinned
    // version is then passed to the commit as its read version, so the
    // residual read-to-publish window is covered by conflict detection.
    rel.refreshSnapshot()
    val readVersion = rel.pinnedVersion
    val tdf = PlanShim.ofRows(spark, targetPlan)
    val condCol = condition.map(PlanShim.column).getOrElse(lit(true))
    val (keys, member) = GraftVtDml.affectedOf(tdf, condCol, pCols)
    val rewritten = tdf.filter(member).select(
      targetRelation.schema.fields.toSeq.map { f =>
        assignments.find(_.key match {
          case k: Attribute => resolver(k.name, f.name)
          case _            => false
        }) match {
          case Some(a) =>
            when(condCol, PlanShim.column(a.value).cast(f.dataType))
              .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    VersionedTable.rewritePartitionsCommit(spark, rel.path, keys, rewritten,
      partitionCol, statsCol, "update", readVersion = readVersion)
    rel.refreshSnapshot()
    Nil
  }
}

/** The runnable half of SQL DELETE. Strategy decided here, where the
  * manifest is at hand: metadata-only partition drop when the predicate is
  * provably partition-complete (references only partition columns whose
  * types render/cast losslessly), else copy-on-write rewrite of the
  * partitions holding matching rows, keeping rows whose predicate is not
  * TRUE (`NOT coalesce(cond, false)` — a NULL predicate keeps the row,
  * exactly SQL's DELETE). The COW branch handles NULL-valued rows and
  * subquery predicates the tombstone path cannot (its anti-join is not
  * null-safe), which is why it is the SQL default. */
final case class GraftVtDeleteCommand(
    @transient targetRelation: LogicalRelation,
    @transient targetPlan: LogicalPlan,
    @transient condition: Expression) extends LeafRunnableCommand
    with SupportsSubquery {

  override def run(spark: SparkSession): Seq[Row] = {
    val rel = targetRelation.relation.asInstanceOf[GraftVtRelation]
    val resolver = spark.sessionState.conf.resolver
    val partitionCol = rel.tableParameters.getOrElse("partitionCol",
      throw new IllegalArgumentException(
        "graftvt DELETE: table must declare a 'partitionCol' option"))
    val pCols = VersionedTable.partColsOf(partitionCol)
    val statsCol = rel.tableParameters.get("statsCol")
    val pFields = pCols.map(pc =>
      targetRelation.schema.fields.find(f => resolver(f.name, pc)).getOrElse(
        throw new IllegalArgumentException(
          s"graftvt DELETE: partition column '$pc' not in table schema")))
    // stale-pin discipline: same as UPDATE — re-resolve, then commit
    // against the version we read
    rel.refreshSnapshot()
    val readVersion = rel.pinnedVersion
    val metadataOnly =
      condition.deterministic &&
      !SubqueryExpression.hasSubquery(condition) &&
      condition.references.forall(a => pCols.exists(resolver(_, a.name))) &&
      pFields.forall(f => KnownFilesIndex.partRenderSafeTypes(f.dataType))
    // evaluate the predicate on the pinned version's part keys with the
    // file index's partition rule — driver-local, zero data I/O at any
    // table size; a key is dropped only where the predicate is TRUE. A key
    // the rule cannot decide (one holding Spark's default partition name,
    // or an evaluation that throws) sends the statement down the
    // row-level branch, which judges the rows themselves.
    val metadataDrop: Option[Set[String]] =
      if (!metadataOnly) None
      else KnownFilesIndex.partitionRule(Seq(condition), pCols,
          targetRelation.schema).flatMap { rule =>
        val decided = rel.livePartKeys.map(k =>
          k -> scala.util.Try(rule(k)).toOption.flatten)
        if (decided.forall(_._2.isDefined))
          Some(decided.collect { case (k, Some(true)) => k }.toSet)
        else None
      }
    metadataDrop match {
      case Some(drop) =>
        VersionedTable.dropPartitionsCommit(spark, rel.path, drop,
          readVersion = readVersion)
      case None =>
        val tdf = PlanShim.ofRows(spark, targetPlan)
        val condCol = PlanShim.column(condition)
        val (keys, member) = GraftVtDml.affectedOf(tdf, condCol, pCols)
        val rewritten = tdf.filter(member && !coalesce(condCol, lit(false)))
        VersionedTable.rewritePartitionsCommit(spark, rel.path, keys,
          rewritten, partitionCol, statsCol, "delete",
          readVersion = readVersion)
    }
    rel.refreshSnapshot()
    Nil
  }
}

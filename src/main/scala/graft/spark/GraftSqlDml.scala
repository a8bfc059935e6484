package graft.spark

import graft.table.{GraftTable, RowAction}
import org.apache.spark.sql.{Column, GraftSqlBridge, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

/** Session extension completing the SQL DML surface for Graft tables:
  * `UPDATE` and `MERGE INTO` (the README.md:180 "updates e deletes" v2
  * promise, SQL-side). Spark's own analyzer rewrites these commands only
  * for `SupportsRowLevelOperations` tables; for everything else they
  * survive analysis and die at planning. This post-hoc resolution rule
  * intercepts the ANALYZED plans first and routes them to the tested CoW
  * `GraftTable.update` / `mergeInto` — the same structure Iceberg's
  * extensions used before the native rewrite existed.
  *
  * Both plan from the manifest first: UPDATE passes the conjuncts of
  * its condition that have a DataSource `Filter` form to `planFilters`
  * (dropping the rest only keeps more files), as SQL DELETE does; MERGE
  * bounds the target files by the source's [min, max] on an equi-join
  * key of ON (`GraftTable.mergeCandidates`). Only candidates are probed.
  *
  * Wire with `spark.sql.extensions=graft.spark.GraftExtensions`
  * (Verify/Bench/test sessions all do). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => GraftRowLevelSql)
    // literal ALTER TABLE ... ADD/DROP PARTITION FIELD (README.md:304)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // persisted SQL views over Graft catalogs: reads expand in the main
    // resolution batch (stock Spark wires no analyzer path to the
    // ViewCatalog API — see GraftViewSql)
    ext.injectResolutionRule(s => GraftViewResolution(s))
    // native as-of join (graft.plans.AsOfJoin → AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // manifest-stats auto-broadcast of small Graft join sides (the
    // V1Scan bridge hides scan stats from post-pushdown join planning;
    // see graft.plans.GraftBroadcastStats for the full why)
    ext.injectOptimizerRule(_ => graft.plans.GraftBroadcastStats)
    // a small presentation sort runs in one partition, without the range
    // exchange's sampling job (see graft.plans.SmallSortOnePartition)
    ext.injectOptimizerRule(_ => graft.plans.SmallSortOnePartition)
  }
}

object GraftRowLevelSql extends Rule[LogicalPlan] {

  /** The Graft DSv2 table (+ its relation output attrs) under optional
    * SubqueryAlias wrappers — None for any non-Graft target, in which
    * case the plan is left for Spark's own handling. */
  private def graftOf(plan: LogicalPlan): Option[(GraftDsv2Table, Seq[Attribute])] =
    plan match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftDsv2Table => Some((g, r.output))
        case _                 => None
      }
      case SubqueryAlias(_, child) => graftOf(child)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      graftOf(target).fold(plan) { case (g, _) =>
        GraftUpdateSqlCommand(g.table, assignments, cond) }
    case mm: MergeIntoTable if mm.resolved && !mm.withSchemaEvolution =>
      graftOf(mm.targetTable).fold(plan) { case (g, tAttrs) =>
        GraftMergeSqlCommand(g.table, tAttrs, mm.sourceTable, mm.mergeCondition,
          mm.matchedActions, mm.notMatchedActions, mm.notMatchedBySourceActions) }
    case _ => plan
  }
}

/** `UPDATE t SET ... WHERE ...` → GraftTable.update (CoW: only files
  * containing matching rows are rewritten) or GraftTable.updateMoR when
  * `write.update.mode=merge-on-read` (positional deletes + appended
  * updated copies, no rewrite of untouched rows). Expressions reference
  * target columns only, so attrs re-resolve by bare name inside the scan. */
case class GraftUpdateSqlCommand(
    table: GraftTable,
    assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafRunnableCommand with PredicateHelper {

  override def run(spark: SparkSession): Seq[Row] = {
    def unq(e: Expression): Column = GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
    val effective = assignments.flatMap { asg =>
      (asg.key, asg.value) match {
        // identity assignments (alignment lists untouched columns as
        // col = col) would force a no-op rewrite arm — drop them
        case (k: AttributeReference, v: AttributeReference) if k.exprId == v.exprId => None
        case (k: AttributeReference, v) => Some(k.name -> unq(v))
        case (other, _) => throw new UnsupportedOperationException(
          s"UPDATE of nested field ${other.sql} is not supported")
      }
    }
    val pred = condition.map(unq).getOrElse(lit(true))
    if (table.meta.allProperties.get("write.update.mode").contains("merge-on-read"))
      table.updateMoR(spark, pred, effective.toMap)
    else table.update(spark, pred, effective.toMap,
      condition.toSeq.flatMap(splitConjunctivePredicates).flatMap(GraftSqlBridge.translateFilter))
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON ... WHEN ...` → GraftTable.mergeInto. The
  * source plan is re-entered via ofRows so its attribute exprIds stay
  * valid; target/source attrs in every clause expression are requalified
  * to the __graft_t/__graft_s aliases mergeInto joins under (bare names
  * would be ambiguous — both sides usually share a schema). */
case class GraftMergeSqlCommand(
    table: GraftTable,
    targetAttrs: Seq[Attribute],
    source: LogicalPlan,
    cond: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val targetIds = AttributeSet(targetAttrs)
    val sourceIds = AttributeSet(source.output)
    def requalify(e: Expression): Column = GraftSqlBridge.column(e.transform {
      case a: AttributeReference if targetIds.contains(a) =>
        UnresolvedAttribute(Seq("__graft_t", a.name))
      case a: AttributeReference if sourceIds.contains(a) =>
        UnresolvedAttribute(Seq("__graft_s", a.name))
    })
    def keyName(asg: Assignment): String = asg.key match {
      case a: AttributeReference => a.name
      case other => throw new UnsupportedOperationException(
        s"MERGE assignment to nested field ${other.sql} is not supported")
    }
    def assigns(as: Seq[Assignment]): Seq[(String, Column)] = as.flatMap { asg =>
      (asg.key, asg.value) match {
        case (k: AttributeReference, vv: AttributeReference) if k.exprId == vv.exprId => None
        case _ => Some(keyName(asg) -> requalify(asg.value))
      }
    }
    def conv(a: MergeAction): RowAction = a match {
      case ua: UpdateAction => RowAction(ua.condition.map(requalify), delete = false, assigns(ua.assignments))
      case da: DeleteAction => RowAction(da.condition.map(requalify), delete = true, Nil)
      case ia: InsertAction => RowAction(ia.condition.map(requalify), delete = false, assigns(ia.assignments))
      case other => throw new UnsupportedOperationException(s"MERGE action not supported: $other")
    }
    table.mergeInto(spark, GraftSqlBridge.ofRows(spark, source), requalify(cond),
      matchedActions.map(conv), notMatchedActions.map(conv),
      notMatchedBySourceActions.map(conv))
    Seq.empty
  }
}

package graft.sql

import scala.annotation.tailrec

import graft.lake.{ManifestTable, Merge, MergeDeleteClause, MergeInsertClause, MergeMatchedClause, MergeUpdateClause}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExprId, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.GraftSqlBridge

/** Plain-SQL `UPDATE` and `MERGE INTO` over catalog-resolved manifest
  * tables — the two DML statements the DSv2 catalog surface
  * ([[GraftCatalog]]) could not serve (Spark only plans them for
  * connectors implementing the row-level-operation framework, whose
  * group-replace write path would force a whole-file rewrite engine;
  * the deletion-vector primitives already do better). The rule lowers
  * the RESOLVED `UpdateTable` / `MergeIntoTable` plans onto the
  * governed merge-on-read paths — the same extension-rule lowering the
  * public lakehouse engines use for their DML:
  *
  *   - `UPDATE cat.ns.t SET c = expr, ... [WHERE p]` →
  *     [[ManifestTable.updateWhere]] (DV-mark + append copies)
  *   - `MERGE INTO cat.ns.t USING src ON cond WHEN ...` →
  *     [[ManifestTable.mergeInto]] (one DV commit, O(matched+inserted))
  *
  * Lowering rebinds the analyzer's resolved attribute references to
  * plain names against the table's own read frame: target attributes
  * keep their column names; source attributes are renamed positionally
  * to `__graft_src_N` (so a self-merge or a source sharing column
  * names with the target stays unambiguous). Subqueries inside DML
  * conditions are refused loudly (rewrite as a MERGE source); non-graft
  * targets fall through untouched to stock Spark, which raises its
  * standard unsupported-table error.
  *
  * Runs inside the analyzer's Resolution fixpoint (before Spark's
  * row-level rewrite batch), guarded on `plan.resolved` so every
  * reference, star expansion, and DEFAULT has already been resolved by
  * the stock rules.
  */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftDmlRules._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case u @ UpdateTable(target, assignments, condition) if u.resolved =>
        graftTarget(target) match {
          case Some((tbl, rel)) => lowerUpdate(tbl, rel, assignments, condition)
          case None => u
        }
      // !needSchemaEvolution: WITH SCHEMA EVOLUTION statements wait for
      // Spark's ResolveMergeIntoSchemaEvolution (same fixpoint batch) to
      // push the source's new columns through the catalog's alterTable
      // (the L26 add-column policy) and refresh the relation — lowering
      // before that would silently drop the evolution
      case m: MergeIntoTable
          if m.resolved && noStarActions(m) && !m.needSchemaEvolution =>
        graftTarget(m.targetTable) match {
          case Some((tbl, rel)) => lowerMerge(session, tbl, rel, m)
          case None => m
        }
    }
}

object GraftDmlRules {

  /** The graft table behind a DML target, seen through any aliases. */
  private[sql] def graftTarget(
      plan: LogicalPlan): Option[(GraftSqlTable, DataSourceV2Relation)] = {
    @tailrec def strip(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    strip(plan) match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        Some((r.table.asInstanceOf[GraftSqlTable], r))
      case _ => None
    }
  }

  /** Star actions never survive resolution (ResolveReferences expands
    * them), but a guard beats a MatchError if that ever changes.
    */
  private[sql] def noStarActions(m: MergeIntoTable): Boolean =
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .forall {
        case _: UpdateStarAction | _: InsertStarAction => false
        case _ => true
      }

  /** Rebind a resolved expression's attribute references to plain
    * names resolvable against the manifest table's own read frame.
    */
  private[sql] def rebind(e: Expression, names: Map[ExprId, String],
      ctx: String): Column = {
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      throw new UnsupportedOperationException(
        s"$ctx: subqueries are not supported in graft DML conditions — " +
          "rewrite the statement as MERGE INTO ... USING <source>")
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference => names.get(a.exprId) match {
        case Some(n) => UnresolvedAttribute.quoted(n)
        case None => throw new IllegalArgumentException(
          s"$ctx: reference ${a.name} does not belong to the " +
            "statement's target (or, for matched clauses, source)")
      }
    })
  }

  /** Assignment list → (target column name → value Column), values
    * cast to the column's type (ANSI store assignment; the analyzer
    * aligns + casts only for row-level-capable connectors, so the
    * lowering must not trust incoming types).
    */
  private[sql] def setMap(assigns: Seq[Assignment], keyNames: Map[ExprId, String],
      valueNames: Map[ExprId, String], ctx: String): Map[String, Column] = {
    val pairs = assigns.map { a =>
      val key = a.key match {
        case ar: AttributeReference => ar
        case other => throw new UnsupportedOperationException(
          s"$ctx: only whole-column assignments are supported, " +
            s"got '${other.sql}' (assign the full struct instead)")
      }
      val name = keyNames.getOrElse(key.exprId,
        throw new IllegalArgumentException(
          s"$ctx: assigned column ${key.name} is not a target column"))
      name -> rebind(a.value, valueNames, ctx).cast(key.dataType)
    }
    val dup = pairs.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"$ctx: column(s) assigned more than once: ${dup.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  private[sql] def requireWritable(tbl: GraftSqlTable, op: String): Unit =
    if (tbl.pinned) throw new UnsupportedOperationException(
      s"$op on a time-travel-pinned table snapshot is not allowed")

  private[sql] def lowerUpdate(tbl: GraftSqlTable, rel: DataSourceV2Relation,
      assignments: Seq[Assignment],
      condition: Option[Expression]): LogicalPlan = {
    requireWritable(tbl, "UPDATE")
    val names = rel.output.map(a => a.exprId -> a.name).toMap
    val ctx = s"UPDATE ${tbl.name()}"
    GraftUpdateCommand(tbl.root,
      setMap(assignments, names, names, ctx),
      condition.map(rebind(_, names, ctx)))
  }

  private[sql] def lowerMerge(session: SparkSession, tbl: GraftSqlTable,
      rel: DataSourceV2Relation, m: MergeIntoTable): LogicalPlan = {
    requireWritable(tbl, "MERGE INTO")
    val ctx = s"MERGE INTO ${tbl.name()}"
    val clash = rel.output.map(_.name).filter(_.startsWith(Merge.SourcePrefix))
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"$ctx: target columns ${clash.mkString(", ")} collide with the " +
        "lowering's reserved source-rename prefix")
    val targetNames = rel.output.map(a => a.exprId -> a.name).toMap
    val srcOut = m.sourceTable.output
    val srcNames = srcOut.zipWithIndex
      .map { case (a, i) => a.exprId -> s"${Merge.SourcePrefix}$i" }.toMap
    val bothNames = targetNames ++ srcNames
    val source = GraftSqlBridge.ofRows(session, m.sourceTable)
      .toDF(srcOut.indices.map(i => s"${Merge.SourcePrefix}$i"): _*)
    val on = rebind(m.mergeCondition, bothNames, s"$ctx ON")
    val matched = m.matchedActions.map {
      case UpdateAction(cond, assigns, _) => MergeUpdateClause(
        cond.map(rebind(_, bothNames, s"$ctx WHEN MATCHED")),
        setMap(assigns, targetNames, bothNames, s"$ctx WHEN MATCHED UPDATE"))
      case DeleteAction(cond) => MergeDeleteClause(
        cond.map(rebind(_, bothNames, s"$ctx WHEN MATCHED DELETE")))
      case other => throw new UnsupportedOperationException(
        s"$ctx: unsupported WHEN MATCHED action $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(cond, assigns) => MergeInsertClause(
        cond.map(rebind(_, srcNames, s"$ctx WHEN NOT MATCHED")),
        setMap(assigns, targetNames, srcNames, s"$ctx WHEN NOT MATCHED INSERT"))
      case other => throw new UnsupportedOperationException(
        s"$ctx: unsupported WHEN NOT MATCHED action $other")
    }
    val bySource = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, assigns, _) => MergeUpdateClause(
        cond.map(rebind(_, targetNames, s"$ctx WHEN NOT MATCHED BY SOURCE")),
        setMap(assigns, targetNames, targetNames,
          s"$ctx WHEN NOT MATCHED BY SOURCE UPDATE"))
      case DeleteAction(cond) => MergeDeleteClause(
        cond.map(rebind(_, targetNames,
          s"$ctx WHEN NOT MATCHED BY SOURCE DELETE")))
      case other => throw new UnsupportedOperationException(
        s"$ctx: unsupported WHEN NOT MATCHED BY SOURCE action $other")
    }
    GraftMergeCommand(tbl.root, source, on, matched, notMatched, bySource)
  }
}

/** Lowered `UPDATE` — executes eagerly, returns the committed version
  * (same convention as the `CALL graft.*` procedures).
  */
case class GraftUpdateCommand(root: String, set: Map[String, Column],
    condition: Option[Column]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMergeCommand.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val v = ManifestTable.forRoot(spark, root).updateWhere(
      condition.getOrElse(org.apache.spark.sql.functions.lit(true)), set)
    Seq(Row(v))
  }
}

/** Lowered `MERGE INTO` — executes eagerly, returns the committed
  * version.
  */
case class GraftMergeCommand(root: String, source: org.apache.spark.sql.DataFrame,
    on: Column, matched: Seq[MergeMatchedClause],
    notMatched: Seq[MergeInsertClause],
    notMatchedBySource: Seq[MergeMatchedClause]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftMergeCommand.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val v = ManifestTable.forRoot(spark, root)
      .mergeInto(source, on, matched, notMatched, notMatchedBySource)
    Seq(Row(v))
  }
}

object GraftMergeCommand {
  private[sql] def versionOutput: Seq[Attribute] = Seq(AttributeReference(
    "version", org.apache.spark.sql.types.IntegerType, nullable = false)())
}

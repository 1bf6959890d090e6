package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IntegerLiteral, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalLimit, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.sources.{GraftFilters, GraftRelation}

/** Catalyst optimizer rule that propagates a `LocalLimit` into the graft
  * relation so the scan itself stops after `n` rows per partition.
  *
  * Re-derivation of the reference's headline rule `PropagateJDBCLimit`
  * (reference: src/main/scala/org/apache/spark/sql/PropagateJDBCLimit.scala:14-27):
  *  - match `LocalLimit(IntegerLiteral(n), LogicalRelation(GraftRelation))`;
  *  - swap in a limit-carrying copy of the relation. The copy carries
  *    the schema the relation resolved on the driver from one footer
  *    when it was loaded (a constructor value, not a source option), so
  *    the rewrite reads no footer and launches no Spark job;
  *  - preserve the original output attributes / expr-ids by copying the
  *    `LogicalRelation` rather than rebuilding it (the reference preserves
  *    `rel.attributeMap` values, PropagateJDBCLimit.scala:21) — getting
  *    this wrong breaks alias resolution downstream;
  *  - keep the `LocalLimit` on top so limit semantics hold even if the
  *    source returns more rows (PropagateJDBCLimit.scala:26).
  */
object PropagateLimitToGraft extends Rule[LogicalPlan] with PredicateHelper {

  /** Rewrite `child` so the graft relation at its leaf carries `n`,
    * seeing through:
    *  - attribute-only Projects (Catalyst's ColumnPruning pushes them
    *    beneath limits before user rules run; pure projections neither
    *    add, drop, nor reorder rows);
    *  - Filters whose every conjunct translates to a source filter the
    *    relation fully handles. The scan applies WHERE before LIMIT
    *    (buildScan filters, then takes `limit` per partition), matching
    *    the reference's combined `WHERE ... LIMIT n` SQL
    *    (JDBCRDDWithLimit.scala:120-133). A filter with ANY untranslatable
    *    conjunct blocks the push — capping rows before a Spark-side
    *    residual filter would be wrong.
    */
  private def pushLimit(child: LogicalPlan, n: Int): Option[LogicalPlan] =
    child match {
      case lr @ LogicalRelation(rel: GraftRelation, _, _, _, _)
          if rel.limit < 0 =>
        Some(lr.copy(relation = rel.copy(limit = n)))
      case p @ Project(projList, inner)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        pushLimit(inner, n).map(c => p.withNewChildren(Seq(c)))
      case f @ Filter(cond, inner)
          if splitConjunctivePredicates(cond).forall(pred =>
            ColumnBridge.translateFilter(pred)
              .exists(sf => GraftFilters.compile(sf).isDefined)) =>
        pushLimit(inner, n).map(c => f.withNewChildren(Seq(c)))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case ll @ LocalLimit(IntegerLiteral(n), child) if n >= 0 =>
      pushLimit(child, n)
        .map(c => ll.withNewChildren(Seq(c)))
        .getOrElse(ll)
  }

  /** Idempotently install into a live session via
    * `spark.experimental.extraOptimizations` — the mechanism the reference
    * documents (reference README.md:15,36). New sessions should prefer
    * [[graft.GraftExtensions]] (`SparkSessionExtensions.injectOptimizerRule`).
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(this)) spark.experimental.extraOptimizations = cur :+ this
  }
}

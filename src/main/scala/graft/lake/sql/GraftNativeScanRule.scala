package graft.lake.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Vectorized fast path for SQL reads of graft tables: once a plan is
  * fully resolved, every `DataSourceV2Relation` over a [[GraftSqlTable]]
  * is substituted with the table's NATIVE scan plan (the same vectorized
  * parquet + MoR anti-join tree the programmatic API builds), remapped to
  * the relation's attribute ids. The V1Scan bridge then never executes
  * for reads, which removes its `RDD[Row]` materialization boundary — the
  * whole query stays inside whole-stage codegen, and Catalyst pushes the
  * query's own filters/projections into the parquet scans.
  *
  * A `Filter` directly above the relation additionally feeds its resolved
  * predicate to `FilePruner`, so manifest-level file skipping happens at
  * analysis time — this is the scan-planner role the reference runs
  * before scheduling tasks (scan_ops.c:62-120). The Filter node itself is
  * kept, so pruning remains an IO-only optimization.
  *
  * Installed by [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`). Sessions without the
  * extension fall back to the V1Scan read path — same results, one row
  * boundary slower. `spark.graft.nativeScan.enabled=false` disables the
  * substitution (used by specs to pin the fallback path).
  *
  * Write commands are left intact — only their `query` side is
  * substituted, never the write TARGET relation.
  */
class GraftNativeScanRule extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.nativeScan.enabled", "true") == "true"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || !plan.resolved) plan
    else plan match {
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        w.withNewQuery(apply(w.query))
      // any other command (DELETE FROM, DDL, CTAS, …) keeps its relations:
      // row-level commands NEED the DSv2 table node, and a command's read
      // side still works through the V1 path
      case c: org.apache.spark.sql.catalyst.plans.logical.Command => c
      case _ => plan.transformDown {
        case MetadataAggregates(replaced) => replaced
        case Filter(cond, sa @ SubqueryAlias(_,
            rel @ DataSourceV2Relation(t: GraftSqlTable, _, _, _, _, _))) =>
          Filter(cond, sa.copy(child = substitute(rel, t, Some(cond))))
        case Filter(cond, rel @ DataSourceV2Relation(t: GraftSqlTable, _, _, _, _, _)) =>
          Filter(cond, substitute(rel, t, Some(cond)))
        case rel @ DataSourceV2Relation(t: GraftSqlTable, _, _, _, _, _) =>
          substitute(rel, t, None)
      }
    }

  /** Metadata-only aggregates over a graft relation collapse into a
    * `LocalRelation` at analysis time (see [[MetadataAggregate]]). */
  private val MetadataAggregates = new MetadataAggregate({
    case t: GraftSqlTable => Some(AggPushdown.graft(t.table, t.asOf))
    case _ => None
  })

  /** Native scan plan with the relation's output attribute ids. Any
    * failure leaves the relation in place — the V1Scan path still
    * produces correct results. */
  private def substitute(
      rel: DataSourceV2Relation,
      t: GraftSqlTable,
      pruneWith: Option[Expression]): LogicalPlan =
    try {
      // respect a time-travel pin (VERSION/TIMESTAMP AS OF → t.asOf)
      val native = t.table.scanPrunedOnly(pruneWith, t.asOf).queryExecution.analyzed
      // remap by NAME: hive discovery may order partition columns after
      // the data columns, so positional zip would misalign them
      val byName = native.output.map(a => a.name -> a).toMap
      val remapped: Seq[NamedExpression] = rel.output.map { to =>
        val from = byName(to.name)
        // type equality is the substitution's soundness condition:
        // silently rebinding the exprId to a different runtime type
        // would corrupt downstream operators resolved against the
        // relation's type — throw inside the try so the V1 path stays
        // (same guard as InteropNativeScanRule.substitute)
        require(from.dataType == to.dataType,
          s"native scan type mismatch on ${to.name}: ${from.dataType} != ${to.dataType}")
        Alias(from, to.name)(exprId = to.exprId)
      }
      Project(remapped, native)
    } catch { case _: Throwable => rel }
}

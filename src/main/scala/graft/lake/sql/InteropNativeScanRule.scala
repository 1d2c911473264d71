package graft.lake.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Whole-stage-codegen fast path for the interop connectors: every
  * `DataSourceV2Relation` over an [[InteropReadTable]] (`graft-iceberg` /
  * `graft-delta` / `graft-hudi`) is substituted with the format reader's
  * NATIVE scan plan — the same vectorized parquet (+ MoR log-merge /
  * DV-mask) tree the Scala API builds — remapped to the relation's
  * attribute ids. The V1Scan bridge then never executes for reads,
  * removing its `RDD[Row]` materialization boundary: at 100 TB that
  * boundary is a per-row InternalRow→Row→InternalRow conversion on every
  * scanned row, the exact cost [[GraftNativeScanRule]] already removes
  * for graft's own format.
  *
  * Injected as an OPTIMIZER rule (not resolution like its graft-format
  * sibling) deliberately: it runs inside the operator-optimization
  * fixpoint, AFTER `PushDownPredicates` has collapsed the query's
  * predicates onto the relation — so a `spark.read.format("graft-*")
  * .load(p).filter(f)` DataFrame chain (where the relation is analyzed
  * long before the filter exists) still hands `f` to the format's
  * FilePruner for manifest/log/timeline-level file skipping. The Filter
  * node is kept above the substituted plan (pruning stays an IO-only
  * optimization; the readers additionally re-apply the pruning filter
  * row-level), and the continuing fixpoint pushes it through the native
  * plan's unions/joins into the parquet scans.
  *
  * Because the substitution happens before `V2ScanRelationPushDown`, the
  * connector's metadata-only aggregate path would be bypassed — so a
  * COUNT/MIN/MAX (optionally GROUP BY identity partition columns) whose
  * WHERE conjuncts are all exactly file-decidable collapses here into a
  * `LocalRelation` of the driver-computed rows, zero data files opened,
  * through the [[MetadataAggregate]] extractor graft's own rule uses.
  *
  * Commands are left intact: row-level SQL (DELETE/UPDATE/MERGE) and the
  * write TARGET of an INSERT need the DSv2 table node; only a write's
  * query side is substituted. `spark.graft.nativeScan.enabled=false`
  * disables the rule (specs pin the V1 fallback with it); any resolution
  * failure leaves the relation in place — the V1 path is always correct.
  */
class InteropNativeScanRule extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.nativeScan.enabled", "true") == "true"

  private val MetadataAggregates = new MetadataAggregate({
    case t: InteropReadTable => t.read.aggSupport
    case _ => None
  })

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan match {
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        w.withNewQuery(apply(w.query))
      // DELETE FROM / UPDATE / MERGE / DDL keep their relations: row-level
      // commands resolve against the DSv2 table node itself
      case c: org.apache.spark.sql.catalyst.plans.logical.Command => c
      case _ => plan.transformDown {
        case MetadataAggregates(replaced) => replaced
        case Filter(cond, sa @ SubqueryAlias(_,
            rel @ DataSourceV2Relation(t: InteropReadTable, _, _, _, _, _))) =>
          Filter(cond, sa.copy(child =
            substitute(rel, t, splitConjunctivePredicates(cond))))
        case Filter(cond, rel @ DataSourceV2Relation(t: InteropReadTable, _, _, _, _, _)) =>
          Filter(cond, substitute(rel, t, splitConjunctivePredicates(cond)))
        case rel @ DataSourceV2Relation(t: InteropReadTable, _, _, _, _, _) =>
          substitute(rel, t, Nil)
      }
    }

  /** The relation's native scan plan with its attribute ids. `conds`
    * (already split into conjuncts) become the FilePruner hint via the
    * same V1-filter translation Spark's own pushdown uses — partial
    * translation stays sound because pruning is IO-only and the caller
    * keeps the Filter node. Any failure leaves the relation in place. */
  private def substitute(
      rel: DataSourceV2Relation,
      t: InteropReadTable,
      conds: Seq[Expression]): LogicalPlan =
    try {
      // expiring vended credentials refresh at substitution time (r16):
      // the optimizer runs immediately before execution, so this is the
      // last driver-side point before the scan's storage IO. No-op
      // unless a short-TTL vend is registered.
      graft.lake.iceberg.rest.IcebergRestCatalog.refreshExpiredVends(
        org.apache.spark.sql.SparkSession.active)
      val prune = conds
        .flatMap(org.apache.spark.sql.graftshim.ColumnExpr.toV1Filter(_))
        .flatMap(GraftFilters.toColumn)
        .reduceOption(_ && _)
      // the readers build their frames with broadcast() hints (partition
      // value injection); EliminateResolvedHint already ran by optimizer
      // time, so the spliced subtree must fold its own hints into join
      // hints or the planner rejects the leftover ResolvedHint nodes
      val native = org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint(
        t.read.scan(prune).queryExecution.analyzed)
      val byName = native.output.map(a => a.name -> a).toMap
      val remapped: Seq[NamedExpression] = rel.output.map { to =>
        val from = byName(to.name)
        require(from.dataType == to.dataType,
          s"native scan type mismatch on ${to.name}: ${from.dataType} != ${to.dataType}")
        Alias(from, to.name)(exprId = to.exprId)
      }
      Project(remapped, native)
    } catch { case _: Throwable => rel }
}

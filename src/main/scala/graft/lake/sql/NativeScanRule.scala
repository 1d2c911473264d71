package graft.lake.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint
import org.apache.spark.sql.catalyst.plans.logical.{Command, Filter, LogicalPlan, Project, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftshim.ColumnExpr
import org.apache.spark.sql.internal.SQLConf

/** The two Catalyst rules of the lake SQL surface, one of each for all
  * four formats. Installed by [[graft.GraftExtensions]]; sessions without
  * the extension read through the [[GraftV1Scan]] bridge and answer
  * aggregates through [[LakeScanBuilder]] — same results, one row
  * boundary slower. `spark.graft.nativeScan.enabled=false` switches both
  * rules off (specs pin that fallback with it). */
private[sql] object NativeScan {
  def enabled(conf: SQLConf): Boolean =
    conf.getConfString("spark.graft.nativeScan.enabled", "true") == "true"
}

/** Metadata-only aggregates at resolution: a COUNT/MIN/MAX over a
  * [[LakeTable]] (optionally GROUP BY identity partition columns) whose
  * WHERE conjuncts are all exactly file-decidable collapses into a
  * `LocalRelation` of the driver-computed rows, zero data files opened
  * (see [[MetadataAggregate]]). It runs at resolution because there the
  * extractor sees the predicates as written: the optimizer rewrites some
  * of them (`p < 'O' OR p >= 'O'` into `NOT isnull(p < 'O') OR false`)
  * into shapes no v1 filter can express. Analyzed subtrees are skipped,
  * so a DataFrame chain folds each aggregate once. */
class MetadataAggregateRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!NativeScan.enabled(conf) || !plan.resolved) plan
    else plan.resolveOperatorsDown { case MetadataAggregate(collapsed) => collapsed }
}

/** Whole-stage-codegen reads: every `DataSourceV2Relation` over a
  * [[LakeTable]] is substituted with the format reader's NATIVE scan plan
  * — the vectorized parquet (+ MoR anti-join / DV mask / log merge) tree
  * the programmatic API builds — remapped to the relation's attribute ids.
  * The V1 bridge then never executes for reads, removing its per-row
  * InternalRow→Row→InternalRow boundary.
  *
  * An OPTIMIZER rule, inside the operator-optimization fixpoint: by then
  * `PushDownPredicates` has moved the query's predicates onto the
  * relation, so a DataFrame-chain `.filter` added after the relation was
  * analyzed still reaches the format's FilePruner (manifest / log /
  * timeline file skipping), and Spark's own PartitionPruning batch, which
  * runs later, plans DPP over the substituted hive-partitioned relations.
  * The Filter node is kept above the substituted plan (pruning stays an
  * IO-only optimization) and the continuing fixpoint pushes it into the
  * parquet scans.
  *
  * Commands are left intact: row-level SQL (DELETE/UPDATE/MERGE) and the
  * write TARGET of an INSERT need the DSv2 table node; only a write's
  * query side is substituted. Any failure leaves the relation in place —
  * the V1 path is always correct. */
class NativeScanRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!NativeScan.enabled(conf)) plan
    else plan match {
      case w: V2WriteCommand => w.withNewQuery(apply(w.query))
      case c: Command => c
      case _ => plan.transformDown {
        case Filter(cond, rel @ DataSourceV2Relation(t: LakeTable, _, _, _, _, _)) =>
          Filter(cond, substitute(rel, t, splitConjunctivePredicates(cond)))
        case rel @ DataSourceV2Relation(t: LakeTable, _, _, _, _, _) =>
          substitute(rel, t, Nil)
      }
    }

  /** The relation's native scan plan with its attribute ids. `conds`
    * become the FilePruner hint via the v1-filter translation Spark's own
    * pushdown uses — partial translation stays sound because pruning is
    * IO-only and the caller keeps the Filter node. */
  private def substitute(rel: DataSourceV2Relation, t: LakeTable,
      conds: Seq[Expression]): LogicalPlan =
    try {
      // expiring vended credentials refresh here (r16): the optimizer runs
      // immediately before execution, the last driver-side point before
      // the scan's storage IO. No-op unless a short-TTL vend is registered.
      graft.lake.iceberg.rest.IcebergRestCatalog.refreshExpiredVends(SparkSession.active)
      val filters = conds.flatMap(ColumnExpr.toV1Filter(_))
      // the readers build their frames with broadcast() hints (partition
      // value injection); EliminateResolvedHint already ran by optimizer
      // time, so the spliced subtree must fold its own hints into join
      // hints or the planner rejects the leftover ResolvedHint nodes
      val native = t.nativePlan((rel.output.map(_.exprId), filters)) {
        val prune = filters.flatMap(GraftFilters.toColumn).reduceOption(_ && _)
        EliminateResolvedHint(t.read.scan(prune).queryExecution.analyzed)
      }
      // remap by NAME: hive discovery may order partition columns after
      // the data columns, so a positional zip would misalign them
      val byName = native.output.map(a => a.name -> a).toMap
      Project(rel.output.map { to =>
        val from = byName(to.name)
        // type equality is the substitution's soundness condition:
        // rebinding the exprId to a different runtime type would corrupt
        // operators resolved against the relation's type
        require(from.dataType == to.dataType,
          s"native scan type mismatch on ${to.name}: ${from.dataType} != ${to.dataType}")
        Alias(from, to.name)(exprId = to.exprId)
      }, native)
    } catch { case _: Throwable => rel }
}

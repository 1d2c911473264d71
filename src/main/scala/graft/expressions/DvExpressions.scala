package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.delta.RoaringBitmapArray

/** Deletion-vector row mask as a native codegen expression (no per-row
  * Scala UDF; [[IcebergBucket]] is the precedent):
  * `dv_keep(file_path, row_index)` is true iff the row's file has no DV
  * or its bitmap does not hold the row index. Built only by
  * `graft.lake.RowDeletes.keep`, for Iceberg and Delta.
  *
  * `lookup` maps a RAW file path to its bitmap (null = no DV for that
  * file); the caller captures its broadcast DV map + executor
  * bitmap cache in the closure. The expression stays inside whole-stage
  * codegen (no ScalaUDF external-conversion boundary) and MEMOIZES the
  * last file's bitmap:
  * parquet rows arrive file-contiguous, so the per-row cost collapses to
  * one UTF8String equality + one Roaring `contains`, with `lookup` (path
  * decode + map probe + cache hit) paid once per file per task. */
case class DvKeep(left: Expression, right: Expression,
    lookup: String => RoaringBitmapArray) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dv_keep needs (string path, long row_index), got $other")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_keep"

  // last-file memo: task-local (expressions deserialize per task), reset
  // per instance — safe because rows of one parquet file are contiguous
  @transient private var lastPath: UTF8String = _
  @transient private var lastBitmap: RoaringBitmapArray = _

  def keep(path: UTF8String, rowIndex: Long): Boolean = {
    if (lastPath == null || !lastPath.equals(path)) {
      lastPath = path.clone()
      lastBitmap = lookup(path.toString)
    }
    lastBitmap == null || !lastBitmap.contains(rowIndex)
  }

  override protected def nullSafeEval(p: Any, i: Any): Any =
    keep(p.asInstanceOf[UTF8String], i.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvKeep", this, classOf[DvKeep].getName)
    defineCodeGen(ctx, ev, (p, i) => s"$ref.keep($p, $i)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DvKeep {
  /** Column-API wrapper over the expression. */
  def column(path: org.apache.spark.sql.Column,
      rowIndex: org.apache.spark.sql.Column,
      lookup: String => RoaringBitmapArray): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      DvKeep(org.apache.spark.sql.graftshim.ColumnExpr.expression(path),
        org.apache.spark.sql.graftshim.ColumnExpr.expression(rowIndex), lookup))
}

/** Per-file CONSTANT column served from table metadata —
  * `file_constant(file_path)` maps each row's file path to a
  * manifest-derived value (Iceberg's identity-partition constants rule:
  * the manifest partition tuple is authoritative, and migrated
  * hive-layout files don't contain the column at all). A projection,
  * not a join: the broadcast-join injection this replaces paid a fixed
  * BroadcastExchange latency per scan group, which doubled small
  * incremental reads. Same memoization as [[DvKeep]] (parquet rows
  * arrive file-contiguous): per row the cost is one UTF8String
  * equality; `lookup` (path decode + broadcast-map probe) runs once per
  * file per task and must return the INTERNAL Catalyst value of
  * `dataType` (or null for a null partition). */
case class FileConstant(child: Expression, dataType: DataType,
    lookup: String => Any)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def nullable: Boolean = true
  override def prettyName: String = "file_constant"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"file_constant needs a string path, got $other")
  }

  @transient private var lastPath: UTF8String = _
  @transient private var lastValue: Any = _

  def valueFor(p: UTF8String): Any = {
    if (lastPath == null || !lastPath.equals(p)) {
      lastPath = p.clone()
      lastValue = lookup(p.toString)
    }
    lastValue
  }

  override protected def nullSafeEval(p: Any): Any =
    valueFor(p.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val ref = ctx.addReferenceObj("fileConst", this, classOf[FileConstant].getName)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, p => {
      val v = ctx.freshName("fcVal")
      s"""
         |Object $v = $ref.valueFor($p);
         |${ev.isNull} = ($v == null);
         |if (!${ev.isNull}) ${ev.value} = ($boxed) $v;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FileConstant {
  def column(path: org.apache.spark.sql.Column, dataType: DataType,
      lookup: String => Any): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.ColumnExpr.column(
      FileConstant(
        org.apache.spark.sql.graftshim.ColumnExpr.expression(path),
        dataType, lookup))
}

package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Minimal bridge into `private[sql]` API: wrap/unwrap a Catalyst
  * `Expression` as a public `Column`, and call a native kernel. This is
  * the one sanctioned seam a library needs to expose native per-row code
  * through the Column API (everything else in graft uses only public
  * Spark surface). */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A call of the public method `method` of the Scala object `kernel`
    * on `args`, as Spark's `StaticInvoke`: generated code calls the
    * object's static forwarder inside whole-stage codegen, and
    * interpreted evaluation finds the same method by reflection on the
    * arguments' Catalyst value classes (`UTF8String`, `ArrayData`,
    * `Array[Byte]`, primitives). Each argument is implicitly cast to its
    * `inputTypes` entry (an uncastable type fails analysis); a NULL
    * argument yields NULL without a call, so the plan may infer an
    * `isnotnull` filter on it. `returnNullable` says whether the kernel
    * itself can return null. Plans print the call as
    * `static_invoke(<object>.<method>(args))`. The arguments are
    * converted to Catalyst expressions here, so a SQL function builder
    * can return the call's [[expression]] as is. */
  def kernel(kernel: AnyRef, method: String, dataType: DataType,
      inputTypes: Seq[AbstractDataType], returnNullable: Boolean = false)(
      args: Column*): Column =
    column(StaticInvoke(kernel.getClass, dataType, method,
      args.map(c => ColumnNodeToExpressionConverter(c.node)), inputTypes,
      propagateNull = true, returnNullable = returnNullable))

  /** Wrap an analyzed logical plan as a DataFrame — used by the registry
    * ORDER-BY-totality audit to evaluate a query's Sort input (keys +
    * full rows) without re-deriving the plan by hand. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

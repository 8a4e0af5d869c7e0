package org.apache.spark.sql.xbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, ObjectType}

/** Spark 4 split the public `Column` API from Catalyst; the supported bridge
  * (`org.apache.spark.sql.classic.ExpressionUtils`) is `private[sql]`, so this
  * one-file shim inside the sql package namespace re-exports the two
  * conversions custom expressions need. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The one shape of every per-row kernel: a column that calls the public
    * method `method` of the top-level Scala object `kernel` once per row,
    * through Catalyst's `StaticInvoke`. Generated code calls the object's
    * static forwarder directly, so the projection stays inside whole-stage
    * codegen; interpreted plans call the same method reflectively.
    *
    * A `Column` argument is a child expression, handed over in its internal
    * form (`UTF8String`, `ArrayData`, `InternalRow`, primitives). Any other
    * argument is a plan constant: a primitive becomes a typed literal, and an
    * object (a bitset, a count table, centroids) an `ObjectType` literal the
    * kernel receives as-is — it ships with the plan, like a broadcast.
    *
    * A null in any column argument yields null without calling the kernel,
    * unless `propagateNull` is false; `returnNullable` declares that the
    * kernel itself may return null (a boxed value for a primitive type).
    */
  def invoke(kernel: AnyRef, method: String, dataType: DataType,
      propagateNull: Boolean = true, returnNullable: Boolean = false)(args: Any*): Column =
    column(StaticInvoke(kernel.getClass, dataType, method, args.map {
      case c: Column => expression(c)
      case v @ (_: Int | _: Long | _: Double | _: Boolean) => Literal(v)
      case o: AnyRef => Literal(o, ObjectType(o.getClass))
    }, propagateNull = propagateNull, returnNullable = returnNullable))

  /** [[invoke]] as the SQL function `name` (a [[KernelFunction]]): the
    * column arguments, typed `inputTypes`, lead the kernel's parameters and
    * the constants follow.
    */
  def function(name: String, inputTypes: Seq[AbstractDataType], kernel: AnyRef, method: String,
      dataType: DataType, propagateNull: Boolean = true)(args: Any*): Column = {
    val (columns, constants) = args.partition(_.isInstanceOf[Column])
    val call = expression(invoke(kernel, method, dataType, propagateNull)(constants: _*)).asInstanceOf[StaticInvoke]
    column(KernelFunction(name, columns.map { case c: Column => expression(c) }, inputTypes, call))
  }
}

/** A kernel call under its own SQL function name — Spark's pattern for a
  * built-in function implemented by a static method (`luhn_check`,
  * `url_decode`). Analysis sees `name(children)`: the children are the
  * column arguments, checked against `inputTypes` without implicit casts.
  * The optimizer's first batch swaps in `replacement` — `call` with the
  * children prepended to its constant arguments — so optimized and physical
  * plans hold the bare `StaticInvoke`, which whole-stage codegen fuses.
  */
case class KernelFunction(name: String, children: Seq[Expression],
    inputTypes: Seq[AbstractDataType], call: StaticInvoke)
    extends RuntimeReplaceable with ExpectsInputTypes {
  override lazy val replacement: Expression = call.copy(arguments = children ++ call.arguments)
  override def prettyName: String = name
  override def toString: String = s"$name(${children.mkString(", ")})"
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KernelFunction =
    copy(children = newChildren)
}

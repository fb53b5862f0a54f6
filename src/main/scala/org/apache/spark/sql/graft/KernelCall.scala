package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/**
 * A call of one static kernel method, the generic node behind the
 * kernel table of `graft.plans`. It lives in this package because Spark's
 * input-type machinery (`AbstractDataType`, `TypeCollection`) is
 * `private[sql]`, the same reason as [[ColumnBridge]].
 *
 * The node lives through analysis, where Spark casts each column to its
 * declared type; an `array<double>` column also takes `array<float>` as
 * given. The optimizer then replaces it by Spark's own `StaticInvoke` of
 * `method` on `target`, with the columns, then one `isFloat` flag per
 * `array<double>` column read from its analyzed type, then the plan-time
 * constants as literals (an object constant as an `ObjectType` literal,
 * so it must compare by value for plans to canonicalize equal).
 */
object KernelCall {
  def apply(target: Class[_], method: String, dataType: DataType,
      argTypes: Seq[DataType], children: Seq[Expression], consts: Seq[Any],
      propagateNull: Boolean, returnNullable: Boolean): Expression = {
    require(children.length == argTypes.length,
      s"$method expects ${argTypes.length} column(s), got ${children.length}")
    Node(target, method, dataType, argTypes, children, consts, propagateNull,
      returnNullable)
  }

  private val Vector = ArrayType(DoubleType)

  private case class Node(target: Class[_], method: String,
      override val dataType: DataType, argTypes: Seq[DataType],
      children: Seq[Expression], consts: Seq[Any], propagateNull: Boolean,
      returnNullable: Boolean)
      extends Expression with RuntimeReplaceable with ImplicitCastInputTypes {
    override def inputTypes: Seq[AbstractDataType] = argTypes.map {
      case Vector => TypeCollection(Vector, ArrayType(FloatType))
      case t => t
    }
    override def nullable: Boolean =
      returnNullable || (propagateNull && children.exists(_.nullable))
    override def prettyName: String = method
    override protected def stringArgs: Iterator[Any] = (children ++ consts).iterator

    override lazy val replacement: Expression = {
      val floats = children.zip(argTypes).collect {
        case (c, Vector) => Literal(c.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
      }
      val constants = consts.map {
        case v @ (_: Int | _: Boolean) => Literal(v)
        case o: AnyRef => Literal(o, ObjectType(o.getClass))
      }
      StaticInvoke(target, dataType, method, children ++ floats ++ constants,
        propagateNull = propagateNull, returnNullable = returnNullable)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Node = copy(children = newChildren)
  }
}

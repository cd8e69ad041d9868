package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Live-row test of a row-id column against a snapshot's tombstoned ids:
  * true iff the id is NOT in the sorted `ids` array. The ids travel as a
  * broadcast variable, shipped once per tombstone version, so the plan,
  * the task binary and the explain string carry only the broadcast handle
  * and the id count — constant-size whatever the tombstone count. The
  * generated code fetches the array once per partition and binary-searches
  * it per row (the [[BloomMightContainLong]] reference-object pattern). */
case class NotTombstoned(child: Expression, ids: Broadcast[Array[Long]], count: Int)
    extends UnaryExpression {
  override def prettyName: String = "not_tombstoned"
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(ids.value, v.asInstanceOf[Long]) < 0

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tombIds", ids, classOf[Broadcast[_]].getName)
    val arr = ctx.addMutableState("long[]", "tombIdArr",
      v => s"$v = (long[]) $ref.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = java.util.Arrays.binarySearch($arr, $c) < 0;")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

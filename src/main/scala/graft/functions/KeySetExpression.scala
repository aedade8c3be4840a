package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** `key_in(keys, url_hash)`: membership of a long key in a BROADCAST sorted
  * key array — the crawl round's drained keys, which the driver already
  * holds after the drain-keys collect.
  *
  * A semi-/anti-join against a `parallelize`d key relation would carry no
  * size statistics, so under AQE it plans an exchange of the whole frontier
  * before converting to a broadcast. This predicate is narrow: a codegen'd
  * binary search fused into the scan of the carried frontier, like
  * [[CuckooSeen]].
  */
case class KeyIn(child: Expression, keys: Broadcast[Array[Long]])
  extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(hash: Any): Any =
    java.util.Arrays.binarySearch(keys.value, hash.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("keysBc", keys,
      "org.apache.spark.broadcast.Broadcast")
    // resolve the broadcast once per generated-class instance, not per row
    val arr = ctx.addMutableState("long[]", "sortedKeys",
      v => s"$v = (long[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, h =>
      s"${ev.value} = java.util.Arrays.binarySearch($arr, $h) >= 0;")
  }

  override protected def withNewChildInternal(c: Expression): KeyIn = copy(child = c)
}

object KeySetFunctions {
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  /** `keys` must be sorted ascending (`java.util.Arrays.sort`). */
  def key_in(keys: Broadcast[Array[Long]], hash: Column): Column =
    column(KeyIn(expression(hash), keys))
}

package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

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

/** A round's drained urls, sorted, each with its depth. */
final class UrlDepths private (urls: Array[UTF8String], depths: Array[Int])
    extends Serializable {
  /** The depth `url` drained at, or -1 when it did not drain. */
  def depthOf(url: UTF8String): Int = {
    val i = java.util.Arrays.binarySearch(urls.asInstanceOf[Array[AnyRef]], url)
    if (i >= 0) depths(i) else -1
  }
}

object UrlDepths {
  def apply(drained: Seq[(String, Int)]): UrlDepths = {
    val sorted = drained.map { case (u, d) => (UTF8String.fromString(u), d) }
      .sortWith((a, b) => a._1.compareTo(b._1) < 0)
    new UrlDepths(sorted.map(_._1).toArray, sorted.map(_._2).toArray)
  }
}

/** `url_depth(drained, url)`: the depth `url` drained at this round, null
  * when it did not drain — the by-keys fetch as a filter on the pages scan
  * (an exact match on url), where a join would plan a broadcast exchange
  * over the frontier's drained rows. A codegen'd binary search, like
  * [[KeyIn]].
  */
case class UrlDepth(child: Expression, drained: Broadcast[UrlDepths])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val u = child.eval(input)
    if (u == null) null
    else {
      val d = drained.value.depthOf(u.asInstanceOf[UTF8String])
      if (d < 0) null else d
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("drainedBc", drained,
      "org.apache.spark.broadcast.Broadcast")
    val cls = classOf[UrlDepths].getName
    val depths = ctx.addMutableState(cls, "urlDepths", v => s"$v = ($cls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, u =>
      s"""${ev.value} = $depths.depthOf($u);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): UrlDepth = copy(child = c)
}

object KeySetFunctions {
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  /** `keys` must be sorted ascending (`java.util.Arrays.sort`). */
  def key_in(keys: Broadcast[Array[Long]], hash: Column): Column =
    column(KeyIn(expression(hash), keys))
  def url_depth(drained: Broadcast[UrlDepths], url: Column): Column =
    column(UrlDepth(expression(url), drained))
}

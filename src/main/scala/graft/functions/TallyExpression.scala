package graft.functions

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.frontier.PartitionTallies

/** `tally(group, weight)`: always true. As a Filter condition it counts, for
  * each partition of the filtered relation, the rows and Σ weight of each
  * `group` into a [[PartitionTallies]], keyed by (partition, group): a
  * counter that rides the job computing the relation, codegen'd into its
  * whole-stage pipeline like [[CuckooSeen]].
  *
  * The partition is the filter's own partition index (Nondeterministic's
  * `initialize`), not the task's, so a cached partition recomputed inside
  * another stage's task (a coalesce, a union) lands on the same key. It is
  * Nondeterministic so that Catalyst never moves it across another operator
  * or duplicates it: it counts exactly the rows of the relation it filters.
  */
case class Tally(left: Expression, right: Expression, tallies: PartitionTallies)
  extends BinaryExpression with Nondeterministic {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private[this] var state: TallyState = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    state = new TallyState(tallies, partitionIndex)

  override protected def evalInternal(input: InternalRow): Any = {
    val g = left.eval(input)
    val w = right.eval(input)
    state.add(if (g == null) 0 else g.asInstanceOf[Int],
      if (w == null) 0L else w.asInstanceOf[Long])
    true
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tallies", tallies, classOf[PartitionTallies].getName)
    val cls = classOf[TallyState].getName
    val st = ctx.addMutableState(cls, "tally")
    ctx.addPartitionInitializationStatement(s"$st = new $cls($ref, partitionIndex);")
    val g = left.genCode(ctx)
    val w = right.genCode(ctx)
    ev.copy(code = code"""
      |${g.code}
      |${w.code}
      |$st.add(${g.isNull} ? 0 : ${g.value}, ${w.isNull} ? 0L : ${w.value});
      |boolean ${ev.value} = true;""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Tally =
    copy(left = l, right = r)
}

/** One partition's tally: (rows, Σ weight) per group, handed to the
  * accumulator once, when the task ends (a task that fails reports no
  * accumulator update). Off a task (a filter Catalyst evaluates on the
  * driver over a local relation) every row re-puts the running totals;
  * the last put wins.
  */
final class TallyState(tallies: PartitionTallies, partition: Int) {
  private val byGroup = mutable.LongMap.empty[Array[Long]]
  private val task = TaskContext.get()
  if (task != null) task.addTaskCompletionListener[Unit](_ => flush())

  def add(group: Int, weight: Long): Unit = {
    val nw = byGroup.getOrElseUpdate(group, new Array[Long](2))
    nw(0) += 1
    nw(1) += weight
    if (task == null) flush()
  }

  private def flush(): Unit =
    byGroup.foreach { case (g, nw) => tallies.add(((partition, g.toInt), (nw(0), nw(1)))) }
}

object TallyFunctions {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  /** `tallies` must be registered with the SparkContext. */
  def tally(tallies: PartitionTallies, group: Column = lit(0),
      weight: Column = lit(0L)): Column =
    column(Tally(expression(group.cast("int")), expression(weight.cast("long")), tallies))
}

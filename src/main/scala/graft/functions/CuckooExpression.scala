package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}

import graft.frontier.CuckooFilter

/** `cuckoo_seen(bucket, url_hash)` over a BROADCAST array of per-bucket
  * cuckoo filters — the small-state fast path of the seen-set probe (C3).
  *
  * When the filter blobs fit in executor memory (run() compares the exact
  * `filter_blob_bytes` counter to `CrawlConfig.broadcastLimitBytes`),
  * probing per row via a codegen'd
  * lookup keeps the whole candidate chain inside one WholeStageCodegen span:
  * no bucket exchange, no typed cogroup, no object serde — the alternative
  * cogroup path pays a full sort of the candidate volume PER CONSUMER (the
  * definite-new and backstop branches), which profiling showed as the
  * dominant GC source of the per-round seen-delta job. Above the budget
  * (10^10-url frontiers, GBs of blobs) the engine keeps the co-partitioned
  * cogroup where each task holds only its own bucket's blob.
  *
  * A missing bucket (null slot) means "no filter = nothing folded yet" and
  * probes false, mirroring the cogroup's absent-FilterState branch.
  */
case class CuckooSeen(left: Expression, right: Expression,
    filters: Broadcast[Array[CuckooFilter]])
  extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def nullSafeEval(bucket: Any, hash: Any): Any = {
    val arr = filters.value
    val b = bucket.asInstanceOf[Int]
    b >= 0 && b < arr.length && arr(b) != null &&
      arr(b).contains(hash.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("cuckooBc", filters,
      "org.apache.spark.broadcast.Broadcast")
    // resolve the broadcast ONCE per generated-class instance (per task),
    // not per row: Broadcast.value() is a lazy-val hop we keep off the hot
    // loop
    val arrName = ctx.addMutableState("graft.frontier.CuckooFilter[]",
      "cuckooFilters",
      v => s"$v = (graft.frontier.CuckooFilter[]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, (b, h) =>
      s"""${ev.value} = $b >= 0 && $b < $arrName.length &&
         |  $arrName[$b] != null && $arrName[$b].contains($h);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): CuckooSeen = copy(left = l, right = r)
}

object CuckooFunctions {
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  def cuckoo_seen(filters: Broadcast[Array[CuckooFilter]], bucket: Column,
      hash: Column): Column =
    column(CuckooSeen(expression(bucket), expression(hash), filters))
}

package graft.catalyst

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** O(1) indexed reads into a driver-built primitive array shipped to
  * executors as a torrent `Broadcast` — the carrier for a dense Leiden
  * pass's community membership into the leaf compose plan
  * (`Aggregate.composeArray`, when the leaf is still a DataFrame).
  *
  * Why not a broadcast hash JOIN: resolving `comm(dst)` per edge row via a
  * BroadcastHashJoin probes a BytesToBytesMap — hashing plus one-or-more
  * dependent cache-line reads per probe, and the driver pays a per-use
  * relation build. Over a DENSE id space the same resolution is `arr[id]`:
  * a single 8-byte indexed load, no hash, no relation build, and the
  * broadcast ships ONCE per plan and is reused by every stage that
  * references it. This is the arithmetic-intensity lever: the per-edge
  * DRAM traffic drops from ~a hash-probe's worth to one load, which is
  * what lets added cores scale the superstep instead of saturating
  * bandwidth (BENCH.md roofline discussion).
  *
  * The holder keeps the `Broadcast` handle (tiny, serialized into the
  * task) and lazily dereferences the array once per executor JVM. Ids are
  * caller-guaranteed in range (the tier gates on a measured max id); a
  * stray id fails the task loudly with an index error rather than
  * producing a wrong community.
  */
final class BcLongs(val bc: Broadcast[Array[Long]]) extends Serializable {
  @transient private lazy val a: Array[Long] = bc.value
  def get(i: Long): Long = a(i.toInt)
}

/** `arr(id)` over a broadcast `Array[Long]` (codegen'd). */
case class BcLookupLongExpr(child: Expression, holder: BcLongs)
  extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bc_lookup expects bigint, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bc_lookup_long"
  override protected def nullSafeEval(id: Any): Any = holder.get(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bcLongs", holder, classOf[BcLongs].getName)
    defineCodeGen(ctx, ev, c => s"$ref.get($c)")
  }
  override protected def withNewChildInternal(c: Expression): BcLookupLongExpr =
    copy(child = c)
}

package org.apache.spark.sql.graft

import graft.catalyst.{ArrayCosineExpr, HashChainExpr, MinHashSigExpr, ShinglesExpr, SimHash64Expr}
import org.apache.spark.sql.Column
import org.apache.spark.sql.classic.ExpressionUtils

/** Column-API surface for graft's native Catalyst expressions. Lives under
  * org.apache.spark.sql to reach the private[sql] Column <-> Expression
  * bridge (same device as PlanUtils).
  */
object NativeColumns {

  /** Register the graft_* SQL functions on a LIVE session (the
    * SparkSessionExtensions path in graft.catalyst.GraftSparkExtensions
    * only applies at session construction; getOrCreate ignores it once a
    * session exists).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.catalyst.GraftSparkExtensions()(ext)
    val classicSpark = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ext.registerFunctions(classicSpark.sessionState.functionRegistry)
  }

  def simhash64(text: Column): Column =
    ExpressionUtils.column(SimHash64Expr(ExpressionUtils.expression(text)))
  def minhashSig(shingles: Column, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSigExpr(ExpressionUtils.expression(shingles), numHashes))
  def shinglesArr(text: Column, k: Int): Column =
    ExpressionUtils.column(ShinglesExpr(ExpressionUtils.expression(text), k))
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayCosineExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def hashChain(seed: Column, iters: Int): Column =
    ExpressionUtils.column(HashChainExpr(ExpressionUtils.expression(seed), iters))
  /** Ordered (src, dst) pair structs i<j from a long array; sym adds reverses. */
  def orderedPairs(arr: Column, sym: Boolean): Column =
    ExpressionUtils.column(graft.catalyst.OrderedPairsExpr(ExpressionUtils.expression(arr), sym))
  /** Aggregate: OR long ids into a numBits-wide bitmap (BinaryType). */
  def bitsetOr(id: Column, numBits: Int): Column =
    ExpressionUtils.column(graft.catalyst.BitSetOrAgg(
      ExpressionUtils.expression(id), numBits).toAggregateExpression())
  /** Predicate: bit `id` set in `bitmap` (binary; out-of-range = false). */
  def bitsetContains(bitmap: Column, id: Column): Column =
    ExpressionUtils.column(graft.catalyst.BitSetContainsExpr(
      ExpressionUtils.expression(bitmap), ExpressionUtils.expression(id)))
  /** O(1) read `arr(id)` from a broadcast long array (dense-id state). */
  def bcLookupLong(holder: graft.catalyst.BcLongs, id: Column): Column =
    ExpressionUtils.column(graft.catalyst.BcLookupLongExpr(
      ExpressionUtils.expression(id), holder))
}

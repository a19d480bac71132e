package graft.graph

import scala.annotation.switch

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Rows of int, long and double columns as one primitive array per column:
  * column `c` is `ints(c)`, `longs(c)` or `doubles(c)` by its type, and
  * every array holds exactly `size` rows.
  */
final class Packed private (val size: Int, private val cols: Array[AnyRef]) extends Serializable {
  def ints(c: Int): Array[Int] = cols(c).asInstanceOf[Array[Int]]
  def longs(c: Int): Array[Long] = cols(c).asInstanceOf[Array[Long]]
  def doubles(c: Int): Array[Double] = cols(c).asInstanceOf[Array[Double]]
}

/** The one reader from a DataFrame into primitive arrays — the feed of the
  * CSR pack, the dense kernels and the driver-local tail solvers. It drains
  * the UnsafeRow iterator of `queryExecution.toRdd`, so no Row, tuple or
  * boxed value is allocated per row. Row order is kept: a block holds its
  * partition's rows in iterator order, and [[collect]] concatenates blocks
  * in partition-index order, the order a Row collect returns —
  * PageRank.localSolve accumulates floats in exactly that order.
  *
  * Columns are read as selected: cast them to int, long or double in the
  * caller's `select`.
  */
object Packed {
  /** Rows the caller already holds, one array per column. */
  private[graft] def of(size: Int, cols: AnyRef*): Packed = new Packed(size, cols.toArray)

  private final val IntCol = 0
  private final val LongCol = 1
  private final val DoubleCol = 2

  private def code(t: DataType): Int = t match {
    case IntegerType => IntCol
    case LongType => LongCol
    case DoubleType => DoubleCol
    case other => throw new IllegalArgumentException(
      s"Packed reads int, long or double columns, not $other")
  }

  private def alloc(code: Int, n: Int): AnyRef = (code: @switch) match {
    case IntCol => new Array[Int](n)
    case LongCol => new Array[Long](n)
    case _ => new Array[Double](n)
  }

  /** A new array of length `n` holding the first `keep` rows of `a`. */
  private def resize(code: Int, a: AnyRef, keep: Int, n: Int): AnyRef = {
    val b = alloc(code, n)
    System.arraycopy(a, 0, b, 0, keep)
    b
  }

  /** Drain one partition: a growable array per column, doubled when full,
    * then cut to the row count.
    */
  private def read(it: Iterator[InternalRow], codes: Array[Int]): Packed = {
    val nc = codes.length
    var cap = 1 << 12
    var cols = Array.tabulate[AnyRef](nc)(c => alloc(codes(c), cap))
    var k = 0
    while (it.hasNext) {
      val r = it.next()
      if (k == cap) {
        val grown = cap * 2
        cols = Array.tabulate[AnyRef](nc)(c => resize(codes(c), cols(c), cap, grown))
        cap = grown
      }
      var c = 0
      while (c < nc) {
        (codes(c): @switch) match {
          case IntCol => cols(c).asInstanceOf[Array[Int]](k) = r.getInt(c)
          case LongCol => cols(c).asInstanceOf[Array[Long]](k) = r.getLong(c)
          case _ => cols(c).asInstanceOf[Array[Double]](k) = r.getDouble(c)
        }
        c += 1
      }
      k += 1
    }
    new Packed(k,
      if (k == cap) cols else Array.tabulate[AnyRef](nc)(c => resize(codes(c), cols(c), k, k)))
  }

  private def codesOf(df: DataFrame): Array[Int] = df.schema.fields.map(f => code(f.dataType))

  /** One block per partition of `df`, empty partitions included. */
  def blocks(df: DataFrame): RDD[Packed] = {
    val codes = codesOf(df)
    df.queryExecution.toRdd.mapPartitions(it => Iterator.single(read(it, codes)))
  }

  /** Every row of `df` on the driver, in partition-index order. Callers
    * bound the row count first: this feeds driver-sized tiers only.
    */
  def collect(df: DataFrame): Packed = {
    val codes = codesOf(df)
    val parts = blocks(df).collect()
    val total = parts.iterator.map(_.size.toLong).sum
    require(total <= Int.MaxValue - 8, s"$total rows do not fit one array")
    val n = total.toInt
    val cols = Array.tabulate[AnyRef](codes.length)(c => alloc(codes(c), n))
    var off = 0
    parts.foreach { p =>
      var c = 0
      while (c < codes.length) {
        System.arraycopy(p.cols(c), 0, cols(c), off, p.size)
        c += 1
      }
      off += p.size
    }
    new Packed(n, cols)
  }
}

package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the hot text/vector scalar paths.
  *
  * The Column-expression formulations of simhash/minhash/cosine are built
  * from higher-order functions (transform/aggregate/zip_with), which are
  * CodegenFallback: every row pays interpreted lambda dispatch plus one
  * boxed array allocation per step. These expressions compute the same
  * values (bit-for-bit — pinned by parity tests against the Column
  * versions) in one tight JVM loop per row, and their doGenCode emits a
  * static call so they participate in whole-stage codegen like any
  * built-in.
  *
  * Scala `object` methods compile with static forwarders, so generated
  * Java can call `graft.catalyst.Kernels.xxx(...)` directly.
  */
object Kernels {

  /** 64-bit simhash over single-space-separated tokens. Token split
    * replicates Spark's split(text, " ") with limit -1 (empty tokens kept,
    * including leading/trailing); token hash = xxhash64(token) with
    * Spark's seed 42; bit j of the result = sign of the summed bit-j votes.
    * Splitting on the raw 0x20 byte is UTF-8-safe (continuation bytes are
    * 0x80-0xBF).
    */
  def simHash64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** MinHash signature over a string array: sig(i) = min over elements of
    * xxhash64(element, i) — Spark's two-argument xxhash64 folds the hash
    * index through the string's hash as the seed. The Column formulation
    * draws i from sequence(0, k-1), which is IntegerType, so the fold step
    * is hashInt (NOT hashLong — parity-checked). Empty arrays yield
    * all-Long.MaxValue (same as the Column fold's zero value).
    */
  def minHashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var idx = 0
    while (idx < n) {
      val s = arr.getUTF8String(idx)
      // null element: Spark's xxhash64 SKIPS null children (hash state
      // unchanged), so xxhash64(null, i) folds only i over the seed —
      // h0 stays at the seed. Matches the HOF oracle (NativeSpec pins it).
      val h0 = if (s == null) 42L
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, h0)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      idx += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Distinct word k-shingles of single-space-separated text, replicating
    * TextOps' Column formulation bit-for-bit (NativeSpec pins it): tokens =
    * split(text, " ") with limit -1 (empty tokens kept, incl. leading/
    * trailing — byte 0x20 split is UTF-8-safe), a shingle is k consecutive
    * tokens joined by " ", distinct keeps FIRST-occurrence order
    * (array_distinct semantics), fewer than k tokens yields the empty
    * array. Because the split separator and the join separator are the
    * same single space, shingle i is exactly the text's bytes from the
    * start of token i to the end of token i+k-1 — each shingle is a
    * zero-copy substring, and the whole row costs one byte scan.
    *
    * The HOF formulation this replaces was CodegenFallback AND re-evaluated
    * the split subtree at every element_at reference inside the transform
    * lambda (~3k interpreted splits per ~50-token doc); measured 3.8 s for
    * 5000 sf0.1 docs vs ~0.1 s here.
    */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var cnt = 1
    var i = 0
    while (i < n) { if (bytes(i) == 0x20) cnt += 1; i += 1 }
    if (cnt < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // starts(j) = byte offset of token j; sentinel starts(cnt) = n + 1 makes
    // "end of token j" uniformly starts(j + 1) - 1
    val starts = new Array[Int](cnt + 1)
    var t = 1
    i = 0
    while (i < n) { if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(cnt) = n + 1
    val out = new java.util.ArrayList[AnyRef](cnt - k + 1)
    val seen = new java.util.HashSet[UTF8String](2 * (cnt - k + 1))
    var s = 0
    while (s <= cnt - k) {
      val from = starts(s)
      val sh = UTF8String.fromBytes(bytes, from, starts(s + k) - 1 - from)
      if (seen.add(sh)) out.add(sh)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Ordered pairs (arr(i), arr(j)) for i < j from a long array, as an
    * array of (src, dst) structs — the co-occurrence pair expansion of the
    * copurchase graph build, one tight loop per row. With sym=true each
    * pair also emits its reverse immediately after (the symmetrized graph
    * in the SAME aggregation). Replaces a nested transform/flatten/slice
    * HOF chain that was CodegenFallback and allocated a GenericArrayData
    * per outer element per row; emission order is identical to the HOF
    * (NativeSpec pins bit-parity), though consumers aggregate so order
    * never matters. The pair count grows as n²: from 46,342 elements it
    * passes Int, so it is counted in Long and must fit one array.
    */
  def orderedPairs(arr: ArrayData, sym: Boolean): ArrayData = {
    val n = arr.numElements()
    val nPairs = n.toLong * (n - 1) / 2 * (if (sym) 2 else 1)
    require(nPairs <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"graft_ordered_pairs: $n elements give $nPairs pairs, more than one array holds")
    val out = new Array[Any](nPairs.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        val y = arr.getLong(j)
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](x, y))
        k += 1
        if (sym) {
          out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](y, x))
          k += 1
        }
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Iterated xxhash64 chain: h_0 = input, h_{t+1} = xxh64(h_t, seed 42).
    * Purely sequential ALU work over one register — ~zero memory traffic
    * per unit compute, so it is the CORE-bound end of the scaling-witness
    * spectrum (simhash = mixed, leiden superstep = bandwidth/shuffle-bound):
    * on hardware whose thread count scales but whose DRAM bandwidth does
    * not, this witness isolates scheduler+core scaling from the memory
    * ceiling (ROOFLINE.json).
    */
  def hashChain(seed: Long, iters: Int): Long = {
    var h = seed
    var t = 0
    while (t < iters) { h = XXH64.hashLong(h, 42L); t += 1 }
    h
  }

  /** Cosine similarity in double precision, accumulating left-to-right in
    * the same order as the zip_with/aggregate formulation (bit-identical
    * results on equal-length inputs). Null propagation matches the HOF
    * oracle: a null element in EITHER array nulls the whole result (the
    * HOF's acc + null = null), and a length mismatch does too (zip_with
    * pads the shorter side with nulls). Boxed return so codegen can set
    * isNull.
    */
  def cosine(a: ArrayData, b: ArrayData, floatElems: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (floatElems) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (floatElems) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(aa) * math.sqrt(bb)))
  }
}

case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"graft_simhash64 expects string, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.simHash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.Kernels.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

case class MinHashSigExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_minhash_sig expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.minHashSig(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.Kernels.minHashSig($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"graft_shingles expects string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.shingles(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.Kernels.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

case class OrderedPairsExpr(child: Expression, sym: Boolean) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"graft_ordered_pairs expects array<bigint>, got $other")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_ordered_pairs"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.orderedPairs(input.asInstanceOf[ArrayData], sym)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.Kernels.orderedPairs($c, $sym)")
  override protected def withNewChildInternal(newChild: Expression): OrderedPairsExpr =
    copy(child = newChild)
}

case class HashChainExpr(child: Expression, iters: Int) extends UnaryExpression {
  require(iters >= 1)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"graft_hash_chain expects bigint, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash_chain"
  override protected def nullSafeEval(input: Any): Any =
    Kernels.hashChain(input.asInstanceOf[Long], iters)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.catalyst.Kernels.hashChain($c, $iters)")
  override protected def withNewChildInternal(newChild: Expression): HashChainExpr =
    copy(child = newChild)
}

case class ArrayCosineExpr(left: Expression, right: Expression) extends BinaryExpression {
  private def elemType(e: Expression) = e.dataType match {
    case ArrayType(t, _) => t
    case other => other
  }
  private lazy val floatElems = elemType(left) == FloatType
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }) && elemType(left) == elemType(right)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float> or two array<double>, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  // null even on non-null inputs: null array elements / length mismatch
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], floatElems)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("graftCos")
      s"""
         |java.lang.Double $tmp = graft.catalyst.Kernels.cosine($a, $b, $floatElems);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayCosineExpr =
    copy(left = l, right = r)
}

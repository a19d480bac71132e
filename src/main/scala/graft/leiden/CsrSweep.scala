package graft.leiden

import graft.graph.Packed
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The innermost sweep tier: sorted CSR-like per-partition edge blocks
  * driven by a fused per-partition kernel — the physical layout the
  * north-star design names explicitly ("edges are repartitioned into
  * sorted CSR-like per-partition blocks").
  *
  * The dense tier of [[Leiden.detect]]: on a local master it runs every
  * pass whose ids fit the dense gate (within the broadcast cap), and on any
  * master every pass of the local tail on one driver-held block;
  * [[LocalMove]], the Catalyst DataFrame tier, runs the rest. It exists
  * for one measured reason: a Catalyst half-sweep is full passes over the
  * cached edge table
  * (gather-aggregate-argmax, then the frontier bit-OR), each paying the
  * columnar-cache decode per row, and at 8 cores those passes already
  * saturate one box's DRAM (BENCH.md roofline: 4x threads buy only ~1.5x
  * bandwidth), capping the N->4N scaling criterion no matter how fast the
  * plan is. This tier attacks the BYTES, not the plan: per half-sweep it
  * reads each edge exactly once from a packed primitive array block
  * (12 B/edge, no columnar decode, no hash-aggregation operator state),
  * resolves membership via one 4-byte indexed load, and keeps every
  * per-src scratch structure L1-resident. The frontier update costs zero
  * extra passes — see the algebra below.
  *
  * The tier is driver-resident, as the reference runs each sweep as one
  * parallel loop over flat arrays in one process (`leidenMoveOmpW`, the
  * reference's `inc/leiden.hxx:409-435`): the driver holds the blocks,
  * either a local master's blocks pinned once per pass ([[pin]]) or
  * the local tail's one block ([[onDriver]]), and every half-sweep scans
  * them in-process, in parallel over blocks, with no Spark job. Off a
  * local master, where executor JVMs would hold the blocks, dense passes
  * take the Catalyst tier instead, as the other dense kernels (PageRank,
  * Triangles, Components, Bfs) do.
  *
  * Decision-for-decision parity with [[LocalMove.sweep]] / [[LocalMove.run]]
  * (same ΔQ expression evaluation order, the same singleton swap guard,
  * smallest-community-id tie-break, mdq > 0 acceptance, synchronous apply)
  * is pinned by LeidenSpec; on integer-weight graphs the memberships are
  * bit-identical across all tiers.
  *
  * == Non-dyadic weights ==
  *
  * The kernel sorts each adjacency by dst and range-partitions blocks by
  * sampling, so the per-src fp accumulation ORDER differs from the
  * DataFrame tier's. On integers and binary fractions (every web graph,
  * every coarsened pass of one) addition is exact and the tiers are
  * bit-identical. On weights like 0.1 the accumulated candidate weights
  * can differ in the last ulp, which in principle can flip an exactly-tied
  * argmax. Both outcomes are valid moves of the same objective, and
  * LeidenSpec bounds the quality gap between the tiers on such weights;
  * cross-tier bit-reproducibility is promised on dyadic weights only.
  *
  * == Frontier without a second pass ==
  *
  * The column/bitmap tiers materialize "neighbors of moved vertices" after
  * each MOVING half-sweep with an extra edge scan
  * (the reference's `inc/leiden.hxx:427-429`, [[LocalMove.sweep]]'s
  * bitsetOr job), evolving a V-bit frontier as
  *
  *   moving sweep at parity p, moved set M:  bits' = nb(M) | (bits & ~mask(p))
  *   non-moving sweep (empty frontier OR scanned-but-0-moves): bits' = bits
  *
  * That recurrence folds exactly into driver-held state with no nb(·)
  * materialization at all. Keep, per parity q:
  *
  *   acc(q)       = union of the moved sets of every MOVING sweep since
  *                  parity q's last MOVING sweep (inclusive of that one)
  *   seedAlive(q) = "parity q has had no MOVING sweep yet"
  *
  * updated as: on a moving sweep at p with moved set M — `acc(p) := M`,
  * `acc(1-p) |= M`, `seedAlive(p) := false`; on a non-moving sweep —
  * nothing. Then for every parity q and vertex v of that parity,
  *
  *   bits(v)  =  (seedAlive(q) && seed(v))  ||  v ∈ nb(acc(q))
  *
  * (induction over sweeps: a moving sweep at p rewrites parity-p bits to
  * exactly nb(M) and ORs nb(M) into the other parity's bits, which is
  * precisely the acc reset/accumulate; non-moving sweeps change nothing on
  * either side). The moved sets are known on the driver for free (they are
  * the applied moves), and `v ∈ nb(acc)` is tested INLINE while the kernel
  * streams v's own edge block — on a symmetric edge table, v has an edge
  * into acc iff some (v,u) with u ∈ acc exists (self-loops included, which
  * is why [[CsrBlock]] keeps them) — so there is no frontier
  * materialization job at all, and the test is exact, not a superset.
  */
object CsrSweep {

  // ---- lock-free array primitives for the parallel driver apply ----------
  // sun.misc.Unsafe (the same primitive Spark's own Platform rides): the
  // apply loop's ctot/csize scatter-adds hit communities shared across
  // blocks, so the parallel pass needs atomic RMW on primitive arrays.
  // Double adds are only taken on the integral gate, where ± integer-valued
  // doubles are EXACT and order-independent — the parallel result is
  // bit-identical to the serial per-move loop it replaces.
  private val U: sun.misc.Unsafe = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }
  private val DOff = U.arrayBaseOffset(classOf[Array[Double]]).toLong
  private val DScale = U.arrayIndexScale(classOf[Array[Double]]).toLong
  private val IOff = U.arrayBaseOffset(classOf[Array[Int]]).toLong
  private val IScale = U.arrayIndexScale(classOf[Array[Int]]).toLong

  @inline private def atomicAdd(a: Array[Double], i: Int, v: Double): Unit = {
    val off = DOff + i * DScale
    var ok = false
    while (!ok) {
      val cur = U.getLongVolatile(a, off)
      ok = U.compareAndSwapLong(a, off, cur,
        java.lang.Double.doubleToRawLongBits(
          java.lang.Double.longBitsToDouble(cur) + v))
    }
  }

  @inline private def atomicAddInt(a: Array[Int], i: Int, v: Int): Unit = {
    U.getAndAddInt(a, IOff + i * IScale, v); ()
  }

  private val LOff = U.arrayBaseOffset(classOf[Array[Long]]).toLong
  private val LScale = U.arrayIndexScale(classOf[Array[Long]]).toLong

  @inline private def setBitL(b: Array[Long], i: Int, v: Boolean): Unit =
    if (v) b(i >> 6) |= 1L << (i & 63)
    else b(i >> 6) &= ~(1L << (i & 63))

  /** Lock-free bit write for the parallel singleton-bit pass: bits of
    * different communities in one word commute (CAS or/and); two moves
    * touching the SAME community write the same final value (csize is
    * final by then), so races are idempotent.
    */
  @inline private def atomicSetBit(b: Array[Long], i: Int, v: Boolean): Unit = {
    val off = LOff + (i >> 6) * LScale
    val mask = 1L << (i & 63)
    var ok = false
    while (!ok) {
      val cur = U.getLongVolatile(b, off)
      val nxt = if (v) cur | mask else cur & ~mask
      ok = nxt == cur || U.compareAndSwapLong(b, off, cur, nxt)
    }
  }

  /** Move-count floor for the parallel apply: below it the fork-join
    * dispatch costs more than the serial loop saves (converged sweeps move
    * a handful of vertices). Var so the parity specs can force the parallel
    * path on toy fixtures.
    */
  private[graft] var ParallelApplyMin: Int = 8192

  /** Cumulative per-component wall nanos of every [[halfSweep]] — the
    * sweep's serial driver sections are the Amdahl term of the N->4N
    * scaling witness, so they stay permanently instrumented (5 nanoTime
    * reads per half-sweep; reset + read from BenchDiag's csr mode).
    */
  object Timers {
    val job = new java.util.concurrent.atomic.AtomicLong   // the in-process scan
    val apply = new java.util.concurrent.atomic.AtomicLong // move apply + dq + frontier fold
    val sweeps = new java.util.concurrent.atomic.AtomicLong
    // per-block scan time, summed ACROSS blocks, so divide by parallelism
    // for wall attribution
    val kernelTask = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = { job.set(0); apply.set(0); sweeps.set(0); kernelTask.set(0) }
    def json: String =
      s"""{"half_sweeps":${sweeps.get},""" +
      s""""job_secs":${"%.3f".format(job.get / 1e9)},"apply_secs":${"%.3f".format(apply.get / 1e9)},""" +
      s""""kernel_task_sum_secs":${"%.3f".format(kernelTask.get / 1e9)}}"""
  }

  /** One partition's edges, packed: `srcs` ascending distinct, CSR
    * offsets into `dst`/`w`. Self-loops retained (the frontier test needs
    * them); the candidate accumulation skips them, matching the scan
    * tiers' `src =!= dst`.
    *
    * Bandwidth diet (the kernel is DRAM-bound, so bytes ARE wall-clock):
    *   - `w == null` means every weight in the block is exactly 1.0 —
    *     pass 0 of any unweighted web graph — and the kernel streams
    *     4 B/edge instead of 12 B/edge.
    *   - each src's adjacency is SORTED by dst, so the per-edge random
    *     `comm(dst)` load walks the membership table in ascending order
    *     per vertex (line reuse within and across srcs) instead of
    *     scattering over the full 4·V-byte table.
    * Sorting reorders the candidate accumulation within a src; on the
    * exact-weight classes the tiers guarantee parity for (integers and
    * binary fractions — every fixture and every coarsened pass of one)
    * double addition is associative here, so decisions are unchanged.
    */
  final case class CsrBlock(srcs: Array[Int], off: Array[Int],
                            dst: Array[Int], w: Array[Double],
                            packed: Array[Long] = null,
                            widths: Array[Byte] = null,
                            bitOff: Array[Long] = null)

  /** Pack a unit-weight block's dst-sorted adjacencies as per-src
    * fixed-width bit-packed GAPS (gap_0 = dst_0 + 1, gap_i = dst_i −
    * dst_{i−1}; all ≥ 1 on the deduped canonical table; width =
    * bits(max gap) per src). On the 2M-vertex deg-32 scaling fixture the
    * mean gap is ~V/deg ≈ 62k ⇒ ~18 bits/edge vs the 32-bit Int stream —
    * a ~45% cut in the kernel's dominant DRAM term (the roofline measured
    * this box's bandwidth scaling 1.51× on a 4× thread step, so edge BYTES
    * are the scaling ceiling, not instructions; the ~5 ALU ops/edge decode
    * hides under the memory wait it removes). Web graphs cluster their
    * links, so real gaps (and widths) shrink further. Returns
    * (packed, widths, bitOff); [[decodeGaps]] reads it back.
    */
  private def packGaps(srcs: Array[Int], off: Array[Int], dstA: Array[Int])
      : (Array[Long], Array[Byte], Array[Long]) = {
    val nSrc = srcs.length
    val widths = new Array[Byte](nSrc)
    val bitOff = new Array[Long](nSrc + 1)
    var totalBits = 0L
    var k = 0
    while (k < nSrc) {
      val eA = off(k); val eB = off(k + 1)
      var prev = -1; var maxGap = 1
      var e = eA
      while (e < eB) {
        val g = dstA(e) - prev
        if (g > maxGap) maxGap = g
        prev = dstA(e); e += 1
      }
      val wd = 32 - Integer.numberOfLeadingZeros(maxGap)
      widths(k) = wd.toByte
      bitOff(k) = totalBits
      totalBits += wd.toLong * (eB - eA)
      k += 1
    }
    bitOff(nSrc) = totalBits
    // +1 pad word so the straddle read `packed(wIdx + 1)` never bounds-checks
    val packed = new Array[Long](((totalBits + 63) >>> 6).toInt + 1)
    k = 0
    while (k < nSrc) {
      var bp = bitOff(k); val wd = widths(k).toInt
      var prev = -1
      var e = off(k)
      while (e < off(k + 1)) {
        val g = (dstA(e) - prev).toLong
        val wIdx = (bp >>> 6).toInt; val sh = (bp & 63).toInt
        packed(wIdx) |= g << sh
        if (sh + wd > 64) packed(wIdx + 1) |= g >>> (64 - sh)
        prev = dstA(e); e += 1; bp += wd
      }
      k += 1
    }
    (packed, widths, bitOff)
  }

  /** Decode src `k`'s gap-packed adjacency ([[packGaps]]) of `blk` — `len`
    * dsts, ascending — into `buf(0 until len)`. The one decode: the scan
    * ([[scanBlock]]) and the coarsen (`Aggregate.coarsenBlocks`) read
    * packed blocks through it.
    */
  @inline private[leiden] def decodeGaps(blk: CsrBlock, k: Int, len: Int, buf: Array[Int]): Unit = {
    val packed = blk.packed
    val wd = blk.widths(k).toInt
    val mask = (1L << wd) - 1
    var bp = blk.bitOff(k)
    var cur = -1
    var i = 0
    while (i < len) {
      val wIdx = (bp >>> 6).toInt
      val sh = (bp & 63).toInt
      var bits = packed(wIdx) >>> sh
      if (sh + wd > 64) bits |= packed(wIdx + 1) << (64 - sh)
      cur += (bits & mask).toInt
      buf(i) = cur
      i += 1
      bp += wd
    }
  }

  /** Gap-packed unit blocks (see [[packGaps]]); var so parity specs can
    * flip it per run.
    */
  private[graft] var PackGaps: Boolean = true

  /** Pack the edge cache into per-partition CSR blocks, one per
    * partition, which [[init]] or [[singleton]] pins on the driver. The per-block argmax is
    * per-src-complete, so all edges of a src MUST land in one partition.
    *
    * Blocks are RANGE-partitioned by src with ~equal EDGES per block
    * (RangePartitioner balances row counts via sampling; equal keys stay
    * cohesive): web graphs are hub-heavy, and hash(src) blocks put a
    * mega-hub's whole adjacency plus its 1/P share of everything else in
    * one task — the straggler that set every half-sweep's job wall (the
    * north rule's "salting for high-degree hub vertices" concern, solved
    * here by balancing rather than salting because the fused argmax needs
    * per-src completeness). ONE block per core (a single task wave) is the
    * measured default: on the 128M-edge deg-32 fixture it beats 2/core at
    * 32 cores by 15% (394M vs 342M e/s/iter best-of-3) because the second
    * wave pays task launch + a cold restart of the adjacency stream, and
    * equal-EDGE range blocks already bound the tail that overdecomposition
    * would otherwise smooth (the 8-core legs differ <9% between 1x and 2x).
    * Sampling boundaries vary run to run, but moves don't depend on block
    * composition: per-src accumulation is dst-sorted within one block, and
    * moves apply disjointly by src.
    *
    * @param srcComplete caller guarantees the input's EXISTING partitioning
    *        already holds every edge of a src in one partition (e.g. a
    *        `repartition(P, col("src"))` cache) — the pack then reads the
    *        cached partitions directly, skipping the range shuffle AND its
    *        sampling pre-job (two jobs and an O(E) exchange per build).
    *        Moves are unchanged (above), and so is the half-sweep's dq:
    *        the driver folds the movers' dq terms in ascending src over
    *        all blocks ([[foldDq]]), whichever way the blocks were formed,
    *        so termination matches the range path bit for bit on any
    *        weights. A hash block spans ~n ids, so it is bucketed by a
    *        sort rather than a span-sized counting array ([[toBlock]]).
    *        Default false: the range-balanced path remains for hub-heavy
    *        graphs where equal-edge blocks bound the straggler tail.
    */
  def build(edges: DataFrame, n: Int, parts: Int = 0,
            srcComplete: Boolean = false): RDD[CsrBlock] = {
    val pack = PackGaps // driver-side read, captured by the closure
    val p = if (parts > 0) parts else edges.sparkSession.sparkContext.defaultParallelism
    val input = if (srcComplete) edges else edges.repartitionByRange(p, col("src"))
    Packed.blocks(input.select(col("src").cast("int"), col("dst").cast("int"),
        col("w").cast("double")))
      .flatMap(b => if (b.size == 0) Iterator.empty else Iterator.single(toBlock(b, pack)))
  }

  /** One partition's (src, dst, w) rows as a [[CsrBlock]].
    *
    * Rows are bucketed by src, keeping their partition order within a src,
    * in one of two ways with the same result: a counting sort over the
    * block's src span, or a sort of packed (src, row) longs. The counting
    * sort allocates a span-sized int array; under range blocks the span
    * is ~n/P, but a hash block (build's srcComplete) spans ~n, so every
    * concurrent task would allocate O(n) for O(E/P) rows. A block whose
    * span exceeds twice its row count takes the sort instead.
    *
    * @param bySort test hook: force one bucketing; None picks by span
    */
  private[leiden] def toBlock(b: Packed, pack: Boolean,
                              bySort: Option[Boolean] = None): CsrBlock = {
    val m = b.size
    val ss = b.ints(0); val dd = b.ints(1); val ww = b.doubles(2)
    var lo = Int.MaxValue; var hi = Int.MinValue
    var i = 0
    while (i < m) { val s = ss(i); if (s < lo) lo = s; if (s > hi) hi = s; i += 1 }
    val span = hi - lo + 1
    val dstA = new Array[Int](m); val wA = new Array[Double](m)
    val (srcs, off) =
      if (bySort.getOrElse(span.toLong > 2L * m)) {
        // (src - lo, row) keys: one sort groups rows by src, rows in order
        val key = new Array[Long](m)
        i = 0
        while (i < m) { key(i) = ((ss(i) - lo).toLong << 32) | i.toLong; i += 1 }
        java.util.Arrays.sort(key)
        var nSrc = 0
        i = 0
        while (i < m) {
          if (i == 0 || (key(i) >>> 32) != (key(i - 1) >>> 32)) nSrc += 1
          i += 1
        }
        val srcs = new Array[Int](nSrc)
        val off = new Array[Int](nSrc + 1)
        var k = -1
        i = 0
        while (i < m) {
          val s = (key(i) >>> 32).toInt
          if (k < 0 || srcs(k) != s + lo) { k += 1; srcs(k) = s + lo; off(k) = i }
          val row = (key(i) & 0xFFFFFFFFL).toInt
          dstA(i) = dd(row); wA(i) = ww(row)
          i += 1
        }
        off(nSrc) = m
        (srcs, off)
      } else {
        // counting sort over a src-span-sized degree array
        val deg = new Array[Int](span)
        i = 0
        while (i < m) { deg(ss(i) - lo) += 1; i += 1 }
        var nSrc = 0
        i = 0
        while (i < span) { if (deg(i) > 0) nSrc += 1; i += 1 }
        val srcs = new Array[Int](nSrc)
        val off = new Array[Int](nSrc + 1)
        val start = deg // reused as the running write cursor per src
        var k = 0; var acc = 0
        i = 0
        while (i < span) {
          val d = deg(i)
          if (d > 0) { srcs(k) = i + lo; off(k) = acc; start(i) = acc; acc += d; k += 1 }
          i += 1
        }
        off(nSrc) = acc
        i = 0
        while (i < m) {
          val s = ss(i) - lo; val pos = start(s)
          dstA(pos) = dd(i); wA(pos) = ww(i); start(s) = pos + 1
          i += 1
        }
        (srcs, off)
      }
    val nSrc = srcs.length
    var unit = true
    i = 0
    while (i < m && unit) { if (wA(i) != 1.0) unit = false; i += 1 }
    var k = 0
    // sort each adjacency by dst (scaladoc: membership-lookup locality).
    // Unit blocks sort dst alone; weighted blocks sort (dst, slot) keys
    // packed in longs and permute w through a slice-sized scratch.
    if (unit) {
      k = 0
      while (k < nSrc) { java.util.Arrays.sort(dstA, off(k), off(k + 1)); k += 1 }
      if (pack) {
        val (pk, wd, bo) = packGaps(srcs, off, dstA)
        CsrBlock(srcs, off, null, null, pk, wd, bo)
      } else CsrBlock(srcs, off, dstA, null)
    } else {
      var maxDeg = 0
      k = 0
      while (k < nSrc) { val d = off(k + 1) - off(k); if (d > maxDeg) maxDeg = d; k += 1 }
      val key = new Array[Long](maxDeg)
      val wTmp = new Array[Double](maxDeg)
      k = 0
      while (k < nSrc) {
        val e0 = off(k); val e1 = off(k + 1); val len = e1 - e0
        if (len > 1) {
          var j = 0
          while (j < len) {
            key(j) = (dstA(e0 + j).toLong << 32) | j.toLong
            wTmp(j) = wA(e0 + j)
            j += 1
          }
          java.util.Arrays.sort(key, 0, len)
          j = 0
          while (j < len) {
            val kk = key(j)
            dstA(e0 + j) = (kk >>> 32).toInt
            wA(e0 + j) = wTmp((kk & 0xFFFFFFFFL).toInt)
            j += 1
          }
        }
        k += 1
      }
      CsrBlock(srcs, off, dstA, wA)
    }
  }

  /** Deep-copy of a state's mutable members (bench repetition restarts). */
  final case class Snap(comm: Array[Long], acc0: Array[Byte], acc1: Array[Byte],
                        seedAlive: Array[Boolean], commI: Array[Int],
                        ctot: Array[Double], csize: Array[Int], sgl: Array[Long])

  /** Same-JVM handoff between a local master's driver and the tasks of
    * one job: one slot per partition, under a key unique to the job. [[pin]]'s
    * tasks write their partition's blocks into the slots they find under
    * the key; `Aggregate.slicesFrame`'s tasks read the coarse slice the
    * driver left in theirs. The driver removes the key when the job ends,
    * whether it succeeded or threw, so a task that runs after a failed job
    * finds no slots and the map keeps nothing.
    */
  private val handoff = new java.util.concurrent.ConcurrentHashMap[
    Long, java.util.concurrent.atomic.AtomicReferenceArray[AnyRef]]()
  private val handoffKeys = new java.util.concurrent.atomic.AtomicLong

  /** Open handoff keys; 0 whenever no handoff job runs (test hook). */
  private[leiden] def handoffSize: Int = handoff.size

  /** Runs `job` with `slots` open in [[handoff]] under a fresh key, which
    * `job` passes to its tasks; the key is removed when `job` returns or
    * throws.
    */
  private[leiden] def handingOff[T](
      slots: java.util.concurrent.atomic.AtomicReferenceArray[AnyRef])(job: Long => T): T = {
    val key = handoffKeys.incrementAndGet()
    handoff.put(key, slots)
    try job(key) finally handoff.remove(key)
  }

  /** A task's view of the slots under `key`: null once the job ended. */
  private[leiden] def handoffSlots(key: Long): java.util.concurrent.atomic.AtomicReferenceArray[AnyRef] =
    handoff.get(key)

  /** A local master's blocks of `csr`, as the driver holds them: one job
    * over the RDD hands each partition's block objects to the driver
    * through [[handoff]]. Tasks share the driver's JVM, so nothing is
    * serialized and no block travels as a task result. Blocks come back in
    * partition order with empty partitions skipped, the order `collect()`
    * gives.
    */
  private[leiden] def pin(csr: RDD[CsrBlock]): Array[CsrBlock] = {
    val slots = new java.util.concurrent.atomic.AtomicReferenceArray[AnyRef](csr.getNumPartitions)
    handingOff(slots) { key =>
      csr.sparkContext.runJob(csr, (ctx: TaskContext, it: Iterator[CsrBlock]) => {
        val bs: AnyRef = it.toArray
        val s = handoffSlots(key)
        if (s != null) s.set(ctx.partitionId, bs)
      })
      Array.tabulate(slots.length())(i => slots.get(i).asInstanceOf[Array[CsrBlock]]).flatten
    }
  }

  /** Driver-held sweep state for this tier: membership + the folded
    * frontier (scaladoc algebra) over the blocks the driver holds.
    *
    * Community totals live HERE, maintained incrementally by the apply
    * loop (O(moves) per half-sweep), whenever `vtot` is integral — then
    * every ±vt(s) update is an exact double operation (web graphs and
    * every coarsened pass of an integer-weight input qualify), so the
    * incremental totals are bit-identical to the ascending-vertex scratch
    * rebuild they replace, and the scan reads them instead of re-deriving
    * O(V) totals every half-sweep. Non-integral weights rebuild them from
    * scratch, in ascending vertex order, before every half-sweep's scan
    * ([[halfSweep]]).
    *
    * The blocks are a local master's blocks, pinned once by
    * [[init]] or [[singleton]] ([[pin]]), or the local tail's one block
    * ([[onDriver]]). Each half-sweep scans them in-process, in parallel
    * over blocks, against the live arrays, with no Spark job ([[scanHeld]]).
    * [[close]] drops the blocks.
    */
  final class CsrState(blocks0: Array[CsrBlock], val n: Int,
                       val vtot: Array[Double], val comm: Array[Long],
                       val seed: Array[Byte]) {
    private[this] var held = blocks0
    /** The blocks this state scans; null once closed. */
    def blocks: Array[CsrBlock] = held
    val nBytes: Int = (n + 7) / 8
    val acc: Array[Array[Byte]] =
      Array(new Array[Byte](nBytes), new Array[Byte](nBytes))
    // per-half-sweep scratch (allocated once; the serial sections of the
    // apply must not sort or allocate). Long words so the moved-bitmap
    // writes can ride the PARALLEL scatter pass via atomicSetBit (set-only,
    // so CAS-OR races commute) instead of the serial dq walk.
    private[CsrSweep] val mvScratchL = new Array[Long]((n + 63) / 64)
    val seedAlive: Array[Boolean] = Array(true, true)
    /** All weight mass integral => incremental totals are exact. */
    val integral: Boolean = {
      var i = 0; var ok = true
      while (ok && i < n) { ok = vtot(i) == math.rint(vtot(i)); i += 1 }
      ok
    }
    // Int copy of `comm` (dense ids < n <= 4M): the membership the scan
    // reads, updated by the same O(moves) apply — no O(V) rebuild/copy
    private[CsrSweep] val commI: Array[Int] = {
      val a = new Array[Int](n); var i = 0
      while (i < n) { a(i) = comm(i).toInt; i += 1 }
      a
    }
    private[CsrSweep] val ctot = new Array[Double](n)
    private[CsrSweep] val csize = new Array[Int](n)
    private[CsrSweep] val sgl = new Array[Long]((n + 63) / 64)
    rebuildTotals()
    // the refinement bound of the phase [[run]] is running, or null
    private[CsrSweep] var bound: Array[Int] = null
    /** Sets the refinement bound of the half-sweeps that follow (None: no
      * bound) until [[unbind]].
      */
    private[leiden] def bind(boundArr: Option[Array[Long]]): Unit =
      bound = boundArr.map(b => Array.tabulate(n)(b(_).toInt)).orNull
    private[leiden] def unbind(): Unit = bound = null
    /** Scratch rebuild, ascending-vertex order (init / restore / reset). */
    private[CsrSweep] def rebuildTotals(): Unit = {
      java.util.Arrays.fill(ctot, 0.0)
      java.util.Arrays.fill(csize, 0)
      java.util.Arrays.fill(sgl, 0L)
      var i = 0
      while (i < n) { val c = commI(i); ctot(c) += vtot(i); csize(c) += 1; i += 1 }
      i = 0
      while (i < n) {
        if (csize(i) == 1) sgl(i >> 6) |= 1L << (i & 63)
        i += 1
      }
    }
    /** Drops the block references; idempotent. */
    def close(): Unit = held = null
    def snapshot(): Snap =
      Snap(comm.clone(), acc(0).clone(), acc(1).clone(), seedAlive.clone(),
        commI.clone(), ctot.clone(), csize.clone(), sgl.clone())
    def restore(s: Snap): Unit = {
      Array.copy(s.comm, 0, comm, 0, n)
      Array.copy(s.acc0, 0, acc(0), 0, nBytes)
      Array.copy(s.acc1, 0, acc(1), 0, nBytes)
      seedAlive(0) = s.seedAlive(0); seedAlive(1) = s.seedAlive(1)
      Array.copy(s.commI, 0, commI, 0, n)
      Array.copy(s.ctot, 0, ctot, 0, n)
      Array.copy(s.csize, 0, csize, 0, n)
      Array.copy(s.sgl, 0, sgl, 0, sgl.length)
    }
    /** Re-init to singletons for the refinement phase; returns the previous membership (the
      * refinement bound), like the DataFrame tier's singleton re-init
      * before its refine phase ([[Leiden.detect]]).
      */
    def resetToSingletons(): Array[Long] = {
      val prev = comm.clone()
      var i = 0
      while (i < n) { comm(i) = i.toLong; commI(i) = i; i += 1 }
      java.util.Arrays.fill(seed, -1.toByte)
      java.util.Arrays.fill(acc(0), 0.toByte)
      java.util.Arrays.fill(acc(1), 0.toByte)
      seedAlive(0) = true; seedAlive(1) = true
      rebuildTotals()
      prev
    }
  }

  /** A state over the blocks of `csr`, after the one job that pins them
    * on the driver ([[pin]]). Local masters only: elsewhere the blocks
    * live in executor JVMs.
    */
  def init(csr: RDD[CsrBlock], n: Int, vtot: Array[Double],
           comm0: Array[Long], aff0: Array[Byte]): CsrState =
    new CsrState(pinLocal(csr), n, vtot, comm0, aff0)

  private def pinLocal(csr: RDD[CsrBlock]): Array[CsrBlock] = {
    require(csr.sparkContext.isLocal, "CsrSweep scans driver-held blocks and needs a local " +
      s"master, not ${csr.sparkContext.master}; Leiden.detect runs LocalMove there")
    pin(csr)
  }

  /** [[init]] over blocks the driver holds. */
  def onDriver(blocks: Array[CsrBlock], n: Int, vtot: Array[Double],
               comm0: Array[Long], aff0: Array[Byte]): CsrState =
    new CsrState(blocks, n, vtot, comm0, aff0)

  /** Identity membership + all-affected seed (singleton init); a local
    * master only, as [[init]].
    */
  def singleton(csr: RDD[CsrBlock], n: Int, vtot: Array[Double]): CsrState =
    new CsrState(pinLocal(csr), n, vtot, Array.tabulate(n)(_.toLong),
      Array.fill[Byte]((n + 7) / 8)(-1))

  @inline private def bit(b: Array[Byte], i: Int): Boolean =
    (b(i >> 3) & (1 << (i & 7))) != 0

  @inline private def bitL(b: Array[Long], i: Int): Boolean =
    (b(i >> 6) & (1L << (i & 63))) != 0

  private def hasParityBits(b: Array[Byte], parity: Int): Boolean = {
    val mask = FrontierBits.parityMask(parity)
    var i = 0
    while (i < b.length) { if ((b(i) & mask) != 0) return true; i += 1 }
    false
  }

  private def allZero(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) { if (b(i) != 0) return false; i += 1 }
    true
  }

  /** One synchronous half-sweep; mutates `st`, returns (moves, dqSum).
    * Non-moving sweeps leave the frontier state untouched, exactly like
    * [[LocalMove.sweep]] (an empty frontier or zero moves keeps the bits).
    *
    * The driver runs [[scanBlock]] on every block in-process
    * ([[scanHeld]]); the results arrive in block order, and the driver then
    * applies the moves and folds dq and the frontier.
    */
  def halfSweep(st: CsrState, m: Double, resolution: Double, parity: Int,
                refineSingletons: Boolean = false,
                sketchSlots: Int = 0): (Long, Double) = {
    val useSeed = st.seedAlive(parity)
    // frontier provably empty at this parity -> skip the scan
    if (allZero(st.acc(parity)) && !(useSeed && hasParityBits(st.seed, parity)))
      return (0L, 0.0)
    Timers.sweeps.incrementAndGet()
    val seedL = if (useSeed) st.seed else null
    val accL = st.acc(parity)
    // the apply maintains totals only when they stay exact (CsrState)
    if (!st.integral) st.rebuildTotals()
    val out = scanHeld(st, st.blocks, seedL, accL, m, resolution, parity,
      refineSingletons, sketchSlots)
    applyMoves(st, out, parity)
  }

  /** The scan of driver-held blocks: [[scanBlock]] on each block against
    * the live state arrays, in parallel over blocks in the common pool the
    * apply uses. Timers: the scan's wall adds to `job` and each block's
    * scan to `kernelTask`.
    */
  private def scanHeld(st: CsrState, held: Array[CsrBlock], seedL: Array[Byte],
                       accL: Array[Byte], m: Double, resolution: Double, parity: Int,
                       refineSingletons: Boolean,
                       sketchSlots: Int): Array[(Array[Long], Array[Double])] = {
    val t0 = System.nanoTime()
    val out = new Array[(Array[Long], Array[Double])](held.length)
    java.util.stream.IntStream.range(0, held.length).parallel().forEach { b =>
      val tk0 = System.nanoTime()
      out(b) = scanBlock(held(b), st.commI, st.ctot, st.sgl, st.vtot, st.bound,
        seedL, accL, m, resolution, parity, refineSingletons, sketchSlots)
      Timers.kernelTask.addAndGet(System.nanoTime() - tk0)
    }
    Timers.job.addAndGet(System.nanoTime() - t0)
    out
  }

  /** One block's scan-and-decide: for each src of parity `par` on the
    * frontier (a live `seedL` mark, or an edge into `accL`), accumulate its
    * neighbor communities and pick the best move by the same ΔQ expression,
    * singleton swap guard and (score, smaller community id) tie rule as the
    * Catalyst tiers. `bnd` (the refinement bound, or null) restricts both
    * the candidates and, with `refine`, the movers to singletons. Returns
    * the block's movers in ascending src as packed (src, to) longs, with
    * their dq terms.
    *
    * `slots > 0` switches the per-src candidate accumulation to the
    * low-memory two-pass scan (the reference's lowmem tier on this kernel's
    * layout): a k-slot Misra-Gries pass over the adjacency
    * (`/root/reference/inc/leidenLowmem.hxx:69-95`; k=1 degenerates to the
    * weighted Boyer-Moore replacement vote, `:151-164`), then an EXACT
    * re-score of the survivors plus the vertex's own community
    * (`:207-231`) — the same survivors-∪-{ccur} rescore the Catalyst sketch
    * tier applies, so moves are decided on exact weights and only the
    * CANDIDATE POOL is sketch-bounded. The per-src scratch is 12·k bytes,
    * L1-resident at the reference's k=64. Because all edges of a src live
    * in one block sorted by dst, the sketch consumes a deterministic
    * stream — run-to-run reproducible, unlike merge-order-dependent
    * distributed aggregation.
    *
    * Pure: it reads the state arrays and writes only its own scratch.
    */
  private[leiden] def scanBlock(blk: CsrBlock, comm: Array[Int], ct: Array[Double],
                                sglL: Array[Long], vt: Array[Double], bnd: Array[Int],
                                seedL: Array[Byte], accL: Array[Byte], m: Double,
                                res: Double, par: Int, refine: Boolean,
                                slots: Int): (Array[Long], Array[Double]) = {
    val twoM2 = 2 * m * m
    // per-src scratch: open-address cdst -> wuc map, cleared via a
    // touched list; stays L1-sized for all but hub vertices
    var cap = 1 << 10
    var keys = Array.fill[Int](cap)(-1)
    var vals = new Array[Double](cap)
    var touched = new Array[Int](cap)
    var nt = 0
    def grow(): Unit = {
      val ok = keys; val ov = vals; val oc = cap
      cap *= 4
      keys = Array.fill[Int](cap)(-1); vals = new Array[Double](cap)
      touched = new Array[Int](cap)
      val shift = 32 - Integer.numberOfTrailingZeros(cap)
      val mask = cap - 1
      nt = 0
      var q = 0
      while (q < oc) {
        val kk = ok(q)
        if (kk >= 0) {
          var h = ((kk * 0x9E3779B1) >>> shift) & mask
          while (keys(h) >= 0) h = (h + 1) & mask
          keys(h) = kk; vals(h) = ov(q); touched(nt) = h; nt += 1
        }
        q += 1
      }
    }
    def slot(k: Int): Int = {
      val mask = cap - 1
      var h = ((k * 0x9E3779B1) >>> (32 - Integer.numberOfTrailingZeros(cap))) & mask
      while (keys(h) >= 0 && keys(h) != k) h = (h + 1) & mask
      h
    }
    var mvCap = 256
    var mvPacked = new Array[Long](mvCap)
    var mvDq = new Array[Double](mvCap)
    var nMv = 0
    // low-memory tier scratch: the k-slot Misra-Gries sketch
    val skeys = if (slots > 0) new Array[Int](slots) else null
    val sws = if (slots > 0) new Array[Double](slots) else null
    val srcs = blk.srcs; val off = blk.off; val dst = blk.dst
    val w = blk.w // null => all 1.0 (unit-weight block, 4 B/edge)
    val packed = blk.packed
    // gap-decode scratch (packed blocks): one src's adjacency, grown to
    // the block's max degree on demand
    var dbuf = if (packed != null) new Array[Int](1 << 10) else null
    // batched community gather scratch: cbuf(i) = comm(adj(a0+i)),
    // filled in ONE tight pure-gather pass before the scan loops. The
    // scan's comm(dst) read is the kernel's dominant random DRAM/L3
    // stream (gap-packing shrank the sequential stream to ~18
    // bits/edge); buried inside the branch+hash-probe loop body its
    // cache misses serialize behind the probe's dependent loads, while
    // a dedicated gather loop exposes the full adjacency's worth of
    // independent loads to the out-of-order window. Same element
    // order, same values — the scans read cbuf instead of re-deriving
    // comm(d), so every accumulation happens in the identical order
    // and the sweep's decisions are bit-identical (parity specs).
    var cbuf = new Array[Int](1 << 10)
    var k = 0
    while (k < srcs.length) {
      val s = srcs(k)
      if ((s & 1) == par) {
        val ccur = comm(s)
        val refineOk = !refine || bitL(sglL, ccur)
        if (refineOk) {
          val e0 = off(k); val e1 = off(k + 1)
          // inline frontier test: live seed mark on s itself, else an
          // edge into acc (self-loops count — symmetric table). Packed
          // blocks decode the adjacency first: the scan below reads the
          // decoded stream, and a miss must decode all of it anyway.
          var front = seedL != null && bit(seedL, s)
          var adj = dst
          var a0 = e0; var a1 = e1
          if (packed == null) {
            if (!front) {
              var e = e0
              while (!front && e < e1) { if (bit(accL, dst(e))) front = true; e += 1 }
            }
          } else {
            val len = e1 - e0
            if (dbuf.length < len)
              dbuf = new Array[Int](math.max(len, dbuf.length * 2))
            decodeGaps(blk, k, len, dbuf)
            var i2 = 0
            while (!front && i2 < len) { if (bit(accL, dbuf(i2))) front = true; i2 += 1 }
            adj = dbuf; a0 = 0; a1 = len
          }
          if (front) {
            // accumulate candidates (dst != s; refine: same bound)
            if (nt > 0) { var t = 0; while (t < nt) { keys(touched(t)) = -1; t += 1 }; nt = 0 }
            // batched community gather (cbuf scaladoc above)
            val alen = a1 - a0
            if (cbuf.length < alen) {
              cbuf = new Array[Int](math.max(alen, cbuf.length * 2))
            }
            var g = 0
            while (g < alen) { cbuf(g) = comm(adj(a0 + g)); g += 1 }
            var e = a0
            if (slots > 0) {
              // lowmem scan (scanBlock scaladoc): MG/BM sketch pass,
              // replaying MGSketch.Agg.reduce decision-for-decision on
              // the dst-sorted stream, then exact rescore of survivors
              val bs = if (bnd == null) 0 else bnd(s)
              java.util.Arrays.fill(skeys, -1)
              java.util.Arrays.fill(sws, 0.0)
              while (e < a1) {
                val d = adj(e)
                if (d != s && (bnd == null || bnd(d) == bs)) {
                  val c = cbuf(e - a0)
                  val we = if (w == null) 1.0 else w(e)
                  if (slots == 1) {
                    // weighted Boyer-Moore replacement vote; exact tie
                    // keeps the smaller community id (MGSketch k=1)
                    if (skeys(0) == c && sws(0) > 0) sws(0) += we
                    else if (sws(0) > we) sws(0) -= we
                    else if (sws(0) < we) { skeys(0) = c; sws(0) = we }
                    else {
                      skeys(0) = math.min(if (sws(0) > 0) skeys(0) else c, c)
                      sws(0) = we
                    }
                  } else {
                    var i2 = 0
                    var has = false
                    while (i2 < slots && !has) {
                      if (skeys(i2) == c && sws(i2) > 0) { sws(i2) += we; has = true }
                      i2 += 1
                    }
                    if (!has) {
                      var f = -1
                      i2 = 0
                      while (i2 < slots) { if (sws(i2) == 0.0) f = i2; i2 += 1 }
                      if (f >= 0) { skeys(f) = c; sws(f) = we }
                      else {
                        i2 = 0
                        while (i2 < slots) { sws(i2) = math.max(sws(i2) - we, 0.0); i2 += 1 }
                      }
                    }
                  }
                }
                e += 1
              }
              // seed the exact map with survivors + ccur at weight 0
              var i2 = 0
              while (i2 <= slots) {
                val c = if (i2 == slots) ccur
                        else if (sws(i2) > 0) skeys(i2) else -1
                if (c >= 0) {
                  if ((nt + 1) * 2 > cap) grow()
                  val h = slot(c)
                  if (keys(h) < 0) { keys(h) = c; vals(h) = 0.0; touched(nt) = h; nt += 1 }
                }
                i2 += 1
              }
              // exact rescore restricted to the seeded keys (probe
              // without insert): survivors get their true weights, so
              // the move decision below is exact over the sketch pool
              e = a0
              while (e < a1) {
                val d = adj(e)
                if (d != s && (bnd == null || bnd(d) == bs)) {
                  val c = cbuf(e - a0)
                  val h = slot(c)
                  if (keys(h) == c) vals(h) += (if (w == null) 1.0 else w(e))
                }
                e += 1
              }
            } else if (bnd == null) {
              while (e < a1) {
                val d = adj(e)
                if (d != s) {
                  if ((nt + 1) * 2 > cap) grow()
                  val we = if (w == null) 1.0 else w(e)
                  val c = cbuf(e - a0)
                  val h = slot(c)
                  if (keys(h) < 0) { keys(h) = c; vals(h) = we; touched(nt) = h; nt += 1 }
                  else vals(h) += we
                }
                e += 1
              }
            } else {
              val bs = bnd(s)
              while (e < a1) {
                val d = adj(e)
                if (d != s && bnd(d) == bs) {
                  if ((nt + 1) * 2 > cap) grow()
                  val we = if (w == null) 1.0 else w(e)
                  val c = cbuf(e - a0)
                  val h = slot(c)
                  if (keys(h) < 0) { keys(h) = c; vals(h) = we; touched(nt) = h; nt += 1 }
                  else vals(h) += we
                }
                e += 1
              }
            }
            if (nt > 0) {
              // argmax over eligible candidates: same score expression
              // and (score, smaller community id) tie rule as the
              // Catalyst tiers; order-independent strict compare
              val vtotU = vt(s)
              val sglCur = bitL(sglL, ccur)
              var wud = 0.0
              var bestC = -1
              var bestScore = 0.0
              var t = 0
              while (t < nt) {
                val h = touched(t)
                val c = keys(h)
                val wuc = vals(h)
                if (c == ccur) wud = wuc
                else if (!(sglCur && bitL(sglL, c) && c > ccur)) {
                  val score = wuc / m - res * vtotU * ct(c) / twoM2
                  if (bestC < 0 || score > bestScore ||
                      (score == bestScore && c < bestC)) {
                    bestScore = score; bestC = c
                  }
                }
                t += 1
              }
              if (bestC >= 0) {
                val mdq = bestScore - wud / m -
                  res * vtotU * (vtotU - ct(ccur)) / twoM2
                if (mdq > 0) {
                  if (nMv == mvCap) {
                    mvCap *= 2
                    mvPacked = java.util.Arrays.copyOf(mvPacked, mvCap)
                    mvDq = java.util.Arrays.copyOf(mvDq, mvCap)
                  }
                  mvPacked(nMv) = (s.toLong << 32) | bestC.toLong
                  mvDq(nMv) = mdq
                  nMv += 1
                }
              }
            }
          }
        }
      }
      k += 1
    }
    (java.util.Arrays.copyOf(mvPacked, nMv), java.util.Arrays.copyOf(mvDq, nMv))
  }

  /** The driver's half of a half-sweep: apply the blocks' movers to `st`,
    * fold their dq in ascending src ([[foldDq]]) and fold the frontier.
    * Returns (moves, dqSum).
    */
  private def applyMoves(st: CsrState, out: Array[(Array[Long], Array[Double])],
                         parity: Int): (Long, Double) = {
    val tT2 = System.nanoTime()
    var total = 0
    out.foreach(p => total += p._1.length)
    // non-moving sweep: frontier state untouched (legacy parity)
    if (total == 0) return (0L, 0.0)
    val mvL = st.mvScratchL
    java.util.Arrays.fill(mvL, 0L)
    val inc = st.integral // incremental totals (exact: integral weights)
    // Apply, three sections. (1) SERIAL walk: dq left-fold only, in
    // ascending src over all blocks (foldDq), under range and hash
    // blocks alike. The moved-bitmap writes (order-free, set-only) ride
    // the parallel scatter pass below.
    val dq = foldDq(out)
    if (total >= ParallelApplyMin && out.length > 1) {
      // (2) PARALLEL pass over blocks — the O(moves) scatter was the
      // dominant serial Amdahl term of the N->4N witness once the kernel
      // itself scaled (~10 random O(V)-array accesses per move). Each
      // src moves at most once per half-sweep, so comm/commI writes are
      // disjoint; ctot/csize are scatter-adds to shared communities →
      // lock-free atomic RMW (exact: adds are ± integral doubles on the
      // `inc` gate, order-independent). mp is rewritten in place to
      // (from, to) as the pass-3 payload — the serial walk has already
      // consumed the original packing.
      java.util.stream.IntStream.range(0, out.length).parallel().forEach { b =>
        val mp = out(b)._1
        var j = 0
        while (j < mp.length) {
          val pk = mp(j)
          val s = (pk >>> 32).toInt
          val to = (pk & 0xFFFFFFFFL).toInt
          atomicSetBit(mvL, s, v = true)
          if (inc) {
            val from = st.commI(s)
            val vts = st.vtot(s)
            atomicAdd(st.ctot, from, -vts)
            atomicAdd(st.ctot, to, vts)
            atomicAddInt(st.csize, from, -1)
            atomicAddInt(st.csize, to, 1)
            mp(j) = (from.toLong << 32) | to.toLong
          }
          st.comm(s) = to.toLong
          st.commI(s) = to
          j += 1
        }
      }
      // (3) PARALLEL singleton-bit pass from the now-final sizes: the
      // serial per-update rule's final bit equals (csize == 1), so
      // recomputing from final sizes is bit-identical and order-free. The pass's
      // real cost is two RANDOM csize loads per move (DRAM latency);
      // running it over blocks overlaps those latencies, and the bit
      // writes are lock-free and idempotent (atomicSetBit scaladoc).
      if (inc) {
        java.util.stream.IntStream.range(0, out.length).parallel().forEach { b =>
          val mp = out(b)._1
          var j = 0
          while (j < mp.length) {
            val pk = mp(j)
            val from = (pk >>> 32).toInt
            val to = (pk & 0xFFFFFFFFL).toInt
            atomicSetBit(st.sgl, from, st.csize(from) == 1)
            atomicSetBit(st.sgl, to, st.csize(to) == 1)
            j += 1
          }
        }
      }
    } else {
      // serial apply (small move counts): per-update singleton rule
      out.foreach { case (mp, _) =>
        var j = 0
        while (j < mp.length) {
          val pk = mp(j)
          val s = (pk >>> 32).toInt
          val to = (pk & 0xFFFFFFFFL).toInt
          setBitL(mvL, s, v = true)
          if (inc) {
            val from = st.commI(s)
            val vts = st.vtot(s)
            st.ctot(from) -= vts
            st.ctot(to) += vts
            val fs = st.csize(from) - 1
            st.csize(from) = fs
            // singleton bit: set iff the community's size is exactly 1
            // after EACH update — `to` can go 0 -> 1 when earlier movers
            // of this same apply batch drained it first
            setBitL(st.sgl, from, fs == 1)
            val ts = st.csize(to) + 1
            st.csize(to) = ts
            setBitL(st.sgl, to, ts == 1)
          }
          st.comm(s) = to.toLong
          st.commI(s) = to
          j += 1
        }
      }
    }
    // frontier fold: acc(p) := M, acc(1-p) |= M, seed of p consumed.
    // mvL is long words; byte i of the fold is bits 8*(i&7)..8*(i&7)+7 of
    // word i>>3 (bit s of the byte layout == bit s&63 of word s>>6).
    val accP = st.acc(parity)
    val other = st.acc(1 - parity)
    var i = 0
    while (i < st.nBytes) {
      val b = (mvL(i >> 3) >>> ((i & 7) << 3)).toByte
      accP(i) = b
      other(i) = ((other(i) | b) & 0xFF).toByte
      i += 1
    }
    st.seedAlive(parity) = false
    Timers.apply.addAndGet(System.nanoTime() - tT2)
    (total.toLong, dq)
  }

  /** Left-fold of a half-sweep's mover dq terms in ascending src over all
    * blocks: `out(b)` is block b's (packed (src, to) movers, their dq),
    * each block's movers in ascending src, and a src moves in one block
    * only. Range blocks arrive in ascending src ranges and fold one after
    * another; hash blocks (build's srcComplete) interleave, and fold
    * through a k-way merge of the blocks' movers — the same order, so dq
    * does not depend on how the blocks were formed.
    */
  private[leiden] def foldDq(out: Array[(Array[Long], Array[Double])]): Double = {
    var ordered = true
    var last = -1L
    var b = 0
    while (b < out.length && ordered) {
      val mp = out(b)._1
      if (mp.length > 0) {
        if ((mp(0) >>> 32) <= last) ordered = false
        last = mp(mp.length - 1) >>> 32
      }
      b += 1
    }
    var dq = 0.0
    if (ordered) {
      b = 0
      while (b < out.length) {
        val md = out(b)._2
        var j = 0
        while (j < md.length) { dq += md(j); j += 1 }
        b += 1
      }
    } else {
      val pos = new Array[Int](out.length)
      val heads = new java.util.PriorityQueue[Integer](out.length,
        (x: Integer, y: Integer) =>
          java.lang.Long.compare(out(x)._1(pos(x)) >>> 32, out(y)._1(pos(y)) >>> 32))
      b = 0
      while (b < out.length) { if (out(b)._1.length > 0) heads.add(b); b += 1 }
      while (!heads.isEmpty) {
        val h: Int = heads.poll()
        dq += out(h)._2(pos(h))
        pos(h) += 1
        if (pos(h) < out(h)._1.length) heads.add(h)
      }
    }
    dq
  }

  /** [[LocalMove.run]]'s exact termination rule over this tier. */
  def run(st: CsrState, m: Double, resolution: Double, tolerance: Double,
          maxIterations: Int, boundArr: Option[Array[Long]] = None,
          refineSingletons: Boolean = false, minMoves: Long = 0L,
          sketchSlots: Int = 0): (Int, Long) = {
    st.bind(boundArr)
    try {
      var it = 0
      var totalMoves = 0L
      var continue = true
      while (continue && it < maxIterations) {
        val (am, adq) = halfSweep(st, m, resolution, 0, refineSingletons, sketchSlots)
        val (bm, bdq) = halfSweep(st, m, resolution, 1, refineSingletons, sketchSlots)
        it += 1
        totalMoves += am + bm
        if (am + bm < math.max(1L, minMoves) || adq + bdq <= tolerance)
          continue = false
      }
      (it, totalMoves)
    } finally st.unbind()
  }
}

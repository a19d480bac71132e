package graft.leiden

import graft.graph.Packed
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The innermost sweep tier: sorted CSR-like per-partition edge blocks
  * driven by a fused per-partition kernel — the physical layout the
  * north-star design names explicitly ("edges are repartitioned into
  * sorted CSR-like per-partition blocks").
  *
  * The dense tier of [[Leiden.detect]]: it runs every pass whose ids fit
  * the dense gate (within the broadcast cap); [[LocalMove]], the Catalyst
  * DataFrame tier, runs the rest. It exists for one measured reason: a
  * Catalyst half-sweep is full passes over the cached edge table
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
    val bcast = new java.util.concurrent.atomic.AtomicLong // commI build + broadcast
    val job = new java.util.concurrent.atomic.AtomicLong   // kernel job incl. collect
    val apply = new java.util.concurrent.atomic.AtomicLong // move apply + dq + frontier fold
    val destroy = new java.util.concurrent.atomic.AtomicLong
    val sweeps = new java.util.concurrent.atomic.AtomicLong
    // executor-side (meaningful in local mode only: same JVM): summed
    // ACROSS tasks, so divide by parallelism for wall attribution
    val kernelTask = new java.util.concurrent.atomic.AtomicLong
    val deriveTask = new java.util.concurrent.atomic.AtomicLong
    // the same two sums gathered through Spark accumulators, so they
    // survive the executor-JVM boundary (local-cluster/spark-submit —
    // where the 4x8 job-vs-kernel gap actually needs attributing).
    // SCOPE (round-5 ADVICE): last-writer-wins across live CsrStates —
    // exec_* covers only the MOST RECENTLY CONSTRUCTED state, while
    // kernel_task_sum covers every state; with two states alive (e.g.
    // g_leiden exact + lowmem, or per-level states) the two channels
    // measure different scopes. Diag runs use a single state.
    // Accumulator adds inside the kernel map are AT-LEAST-ONCE: retried or
    // speculative tasks double-count, so anatomy conclusions from exec_*
    // gate on retries==0 runs (the bench line publishes every attempt).
    @volatile var taskAccs
        : (org.apache.spark.util.LongAccumulator, org.apache.spark.util.LongAccumulator) = null
    // exec_* baseline captured at reset() so json reports reset-relative
    // deltas like every other field (round-5 ADVICE: they were lifetime-of-
    // state sums). Keyed to the kernel accumulator identity: a state
    // constructed AFTER the reset swaps in fresh zero accumulators, and the
    // stale base must not be subtracted from them.
    @volatile private var taskAccBase
        : (org.apache.spark.util.LongAccumulator, Long, Long) = null
    def reset(): Unit = {
      bcast.set(0); job.set(0); apply.set(0); destroy.set(0); sweeps.set(0)
      kernelTask.set(0); deriveTask.set(0)
      val a = taskAccs
      taskAccBase =
        if (a == null) null
        else (a._1, a._1.value.longValue, a._2.value.longValue)
    }
    def json: String = {
      val (ek, ed) = {
        val a = taskAccs
        if (a == null) (0L, 0L)
        else {
          val b = taskAccBase
          val (bk, bd) = if (b != null && (b._1 eq a._1)) (b._2, b._3) else (0L, 0L)
          (a._1.value.longValue - bk, a._2.value.longValue - bd)
        }
      }
      s"""{"half_sweeps":${sweeps.get},"bcast_secs":${"%.3f".format(bcast.get / 1e9)},""" +
      s""""job_secs":${"%.3f".format(job.get / 1e9)},"apply_secs":${"%.3f".format(apply.get / 1e9)},""" +
      s""""destroy_secs":${"%.3f".format(destroy.get / 1e9)},""" +
      s""""kernel_task_sum_secs":${"%.3f".format(kernelTask.get / 1e9)},""" +
      s""""derive_task_sum_secs":${"%.3f".format(deriveTask.get / 1e9)},""" +
      s""""exec_kernel_sum_secs":${"%.3f".format(ek / 1e9)},""" +
      s""""exec_derive_sum_secs":${"%.3f".format(ed / 1e9)}}"""
    }
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
    * (packed, widths, bitOff); decode is inlined in [[halfSweep]].
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

  /** Gap-packed unit blocks (see [[packGaps]]); var so parity specs can
    * flip it per run.
    */
  private[graft] var PackGaps: Boolean = true

  /** Pack the edge cache into per-partition CSR blocks — one job per
    * phase, cached deserialized by the caller. The per-block argmax is
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
    *        Moves are unchanged (above), but the half-sweep's dq sum is
    *        not block-composition-independent: the driver folds the
    *        per-block dq partials in block order, which is ascending src
    *        under range blocks and partition order under these hash
    *        blocks. On integral weights every dq term is exact, so the
    *        order is moot; on other weights dq can differ in the last ulp,
    *        and dq decides termination against the tolerance.
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

  /** One partition's (src, dst, w) rows as a [[CsrBlock]]. */
  private def toBlock(b: Packed, pack: Boolean): CsrBlock = {
    val m = b.size
    val ss = b.ints(0); val dd = b.ints(1); val ww = b.doubles(2)
    // bucket by src via a src-span-sized degree array (build-time only;
    // range partitioning makes the local span ~n/P, not n)
    var lo = Int.MaxValue; var hi = Int.MinValue
    var i = 0
    while (i < m) { val s = ss(i); if (s < lo) lo = s; if (s > hi) hi = s; i += 1 }
    val span = hi - lo + 1
    val deg = new Array[Int](span)
    i = 0
    while (i < m) { deg(ss(i) - lo) += 1; i += 1 }
    var nSrc = 0
    i = 0
    while (i < span) { if (deg(i) > 0) nSrc += 1; i += 1 }
    val srcs = new Array[Int](nSrc)
    val off = new Array[Int](nSrc + 1)
    val start = new Array[Int](span) // running write cursor per src
    var k = 0; var acc = 0
    i = 0
    while (i < span) {
      if (deg(i) > 0) {
        srcs(k) = i + lo; off(k) = acc; start(i) = acc
        acc += deg(i); k += 1
      }
      i += 1
    }
    off(nSrc) = acc
    val dstA = new Array[Int](m); val wA = new Array[Double](m)
    var unit = true
    i = 0
    while (i < m) {
      val s = ss(i) - lo; val pos = start(s)
      dstA(pos) = dd(i); wA(pos) = ww(i); start(s) = pos + 1
      if (ww(i) != 1.0) unit = false
      i += 1
    }
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

  /** Full-state snapshot shipped once per rebase in delta mode. */
  final case class CsrBase(commI: Array[Int], ctot: Array[Double],
                           csize: Array[Int], sgl: Array[Long])

  private val stateIds = new java.util.concurrent.atomic.AtomicLong

  /** Driver-side registry of live CsrState ids. Its minimum is the low
    * watermark shipped with every delta-mode half-sweep: executors evict
    * mirror entries below it ([[resolveMirror]]), so the per-executor
    * registry is bounded by CONCURRENTLY-live states — not by all states
    * ever created (a long-lived app running repeated detect() calls would
    * otherwise grow executor memory by ~17 B/vertex per pass forever).
    */
  private val liveStates =
    new java.util.concurrent.ConcurrentSkipListSet[java.lang.Long]()

  /** Per-executor mirror of the sweep state, advanced by replaying move
    * deltas (delta mode, see [[CsrState]] scaladoc). One entry per live
    * CsrState id; rebases re-materialize in place (gen check), and ids
    * below the driver's live-state watermark are evicted on every resolve.
    */
  private[leiden] final class ExecMirror {
    var gen: Long = -1L
    var epoch: Int = -1
    var commI: Array[Int] = null
    var ctot: Array[Double] = null
    var csize: Array[Int] = null
    var sgl: Array[Long] = null
  }
  private val mirrors =
    new java.util.concurrent.ConcurrentHashMap[Long, ExecMirror]()

  /** Test hook: live mirror entries on this JVM's executor side. */
  private[graft] def mirrorCount: Int = mirrors.size

  /** Test hook: (gen, epoch, commI, ctot, csize) of one mirror — the
    * lifecycle spec asserts replay results and rebase/eviction behavior
    * without reaching into the private class.
    */
  private[leiden] def mirrorProbe(sid: Long): Option[(Long, Int, Array[Int], Array[Double], Array[Int])] =
    Option(mirrors.get(sid)).map(m =>
      (m.gen, m.epoch, m.commI.clone(), m.ctot.clone(), m.csize.clone()))

  /** Test hook: the eviction sweep alone (no entry creation) — specs drop
    * their synthetic mirrors so suite-order-sensitive count assertions in
    * OTHER specs stay exact. Always safe: an evicted live mirror simply
    * re-materializes from its base chain on the next resolve (the
    * fresh-executor path).
    */
  private[leiden] def mirrorEvictBelow(watermark: Long): Unit = {
    val it = mirrors.keySet().iterator()
    while (it.hasNext) if (it.next() < watermark) it.remove()
  }

  /** local[k] fast path: tasks run in the driver's JVM, so the per-sweep
    * (commI, ctot, sgl) payload needs no broadcast at all — TorrentBroadcast
    * still SERIALIZES ~16 B/vertex at construction (~25 ms/half-sweep at 2M
    * vertices, a pure driver serial term under the N->4N witness). Instead
    * the driver registers the live arrays here keyed by (stateId, sweep
    * sequence) and tasks read them directly; safe because every task of the
    * half-sweep completes inside collect() strictly before the apply loop
    * mutates the arrays (same reasoning as the live-array broadcast it
    * replaces), and the key is removed in the sweep's finally. Cluster
    * masters never touch this path.
    */
  private val localSweepState =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long), (Array[Int], Array[Double], Array[Long])]()

  /** Single-flight per executor: the first task of a half-sweep
    * materializes/advances the mirror (O(base) once per rebase, O(moves)
    * per delta), the rest block only for that. A task landing on a FRESH
    * executor (dynamic allocation, task retry after executor loss) replays
    * base + all deltas since — every payload is a Broadcast, fetchable on
    * first access, so recovery needs no driver round-trip.
    *
    * Big replays run PARALLEL (same machinery and exactness argument as
    * the driver apply's parallel pass): every task of the half-sweep
    * blocks on this single-flight, so a serial O(moves) scatter here was
    * an executor-local Amdahl term that GREW relative to the kernel as
    * executors were added — the 4×8 point paid the same per-executor
    * replay wall as 1×8 against a 4× smaller kernel job. Within one delta
    * epoch each src moves at most once, so commI writes are disjoint;
    * ctot/csize scatter-adds use lock-free atomic RMW, exact because the
    * ±vtot adds are integral doubles on the gate that enables delta mode;
    * epochs apply in order (a src may move again in a later epoch). The
    * singleton bitmap is rebuilt from FINAL sizes after the last epoch —
    * the per-update rule's final bits equal (csize == 1), so the rebuild
    * is bit-identical and order-free. Small replays (converged sweeps)
    * keep the serial per-update rule: fork-join dispatch plus the O(V)
    * bitmap rebuild would cost more than they save.
    */
  /** Executor-side replay parallelism, bounded by the executor's ADVERTISED
    * core count (`spark.executor.cores`), not the box's: the ForkJoin
    * common pool sizes itself from host CPUs, and on a one-box
    * local-cluster emulation that would hand the 1-executor scaling point
    * a 32-thread replay — inflating the lo leg the N->4N witness divides
    * by. A real executor should also not burst past its core reservation
    * into a co-tenant's share. Unset (local-mode tests, driver-side
    * mirrors) falls back to host CPUs, which is then the truth.
    */
  private lazy val replayPool: java.util.concurrent.ForkJoinPool = {
    val cores =
      try {
        val env = org.apache.spark.SparkEnv.get
        if (env != null)
          env.conf.getInt("spark.executor.cores",
            Runtime.getRuntime.availableProcessors())
        else Runtime.getRuntime.availableProcessors()
      } catch { case _: Throwable => Runtime.getRuntime.availableProcessors() }
    new java.util.concurrent.ForkJoinPool(math.max(1, cores))
  }

  private[leiden] def resolveMirror(sid: Long, gen: Long, watermark: Long,
                            base: Broadcast[CsrBase],
                            deltas: IndexedSeq[Broadcast[Array[Long]]],
                            vt: Array[Double]): ExecMirror = {
    // evict mirrors of driver-closed states (ids below the live watermark);
    // O(live mirrors) — a handful of entries
    if (!mirrors.isEmpty) {
      val it = mirrors.keySet().iterator()
      while (it.hasNext) if (it.next() < watermark) it.remove()
    }
    val m = mirrors.computeIfAbsent(sid, _ => new ExecMirror)
    m.synchronized {
      // a zombie/speculative task from BEFORE a rebase must never roll the
      // mirror back (its base broadcast is destroyed; re-materializing from
      // it would thrash live tasks of the current job) — fail it explicitly
      if (gen < m.gen)
        throw new IllegalStateException(
          s"stale sweep generation $gen < ${m.gen} (zombie/speculative task)")
      if (m.gen != gen) {
        val b = base.value
        m.commI = b.commI.clone(); m.ctot = b.ctot.clone()
        m.csize = b.csize.clone(); m.sgl = b.sgl.clone()
        m.gen = gen; m.epoch = 0
      }
      var totalNew = 0
      var ei = m.epoch
      while (ei < deltas.length) { totalNew += deltas(ei).value.length; ei += 1 }
      val par = totalNew >= ParallelApplyMin
      while (m.epoch < deltas.length) {
        val mv = deltas(m.epoch).value
        val commI = m.commI; val ctot = m.ctot; val csize = m.csize; val sgl = m.sgl
        if (par) {
          val chunk = 1 << 15
          val nCh = (mv.length + chunk - 1) / chunk
          // parallel streams invoked from inside a ForkJoinPool task run in
          // THAT pool — this bounds the replay to the executor's cores
          replayPool.submit(new Runnable {
            def run(): Unit =
              java.util.stream.IntStream.range(0, nCh).parallel().forEach { c =>
                var j = c * chunk
                val end = math.min(j + chunk, mv.length)
                while (j < end) {
                  val pk = mv(j)
                  val s = (pk >>> 32).toInt
                  val to = (pk & 0xFFFFFFFFL).toInt
                  val from = commI(s)
                  val vts = vt(s)
                  atomicAdd(ctot, from, -vts)
                  atomicAdd(ctot, to, vts)
                  atomicAddInt(csize, from, -1)
                  atomicAddInt(csize, to, 1)
                  commI(s) = to
                  j += 1
                }
              }
          }).get()
        } else {
          var j = 0
          while (j < mv.length) {
            val pk = mv(j)
            val s = (pk >>> 32).toInt
            val to = (pk & 0xFFFFFFFFL).toInt
            val from = commI(s)
            val vts = vt(s)
            ctot(from) -= vts; ctot(to) += vts
            val fs = csize(from) - 1
            csize(from) = fs
            if (fs == 1) sgl(from >> 6) |= 1L << (from & 63)
            else sgl(from >> 6) &= ~(1L << (from & 63))
            val ts = csize(to) + 1
            csize(to) = ts
            if (ts == 1) sgl(to >> 6) |= 1L << (to & 63)
            else sgl(to >> 6) &= ~(1L << (to & 63))
            commI(s) = to
            j += 1
          }
        }
        m.epoch += 1
      }
      if (par && totalNew > 0) {
        // singleton bits from final sizes: one sequential O(V) scan (~ms at
        // the 4M-vertex gate) instead of 2 random csize loads per move
        val csize = m.csize; val sgl = m.sgl
        val n = csize.length
        var wi = 0
        while (wi < sgl.length) {
          var word = 0L
          var b = wi << 6
          val end = math.min(b + 64, n)
          while (b < end) { if (csize(b) == 1) word |= 1L << (b & 63); b += 1 }
          sgl(wi) = word
          wi += 1
        }
      }
    }
    m
  }

  /** Driver-held sweep state for this tier: membership + the folded
    * frontier (scaladoc algebra). `vtot` broadcasts once per state
    * lifetime (it never changes within a phase); `bound` once per run.
    *
    * Community totals live HERE, maintained incrementally by the apply
    * loop (O(moves) per half-sweep), whenever `vtot` is integral — then
    * every ±vt(s) update is an exact double operation (web graphs and
    * every coarsened pass of an integer-weight input qualify), so the
    * incremental totals are bit-identical to the ascending-vertex scratch
    * rebuild they replace. The kernel receives them in the per-sweep
    * broadcast instead of re-deriving O(V) totals behind a single-flight
    * barrier that every task of every half-sweep had to wait out (the
    * dominant serial Amdahl term of the N->4N scaling witness after the
    * kernel itself was measured to scale core-linearly). Non-integral
    * weights keep the executor-side scratch derive.
    */
  final class CsrState(val csr: RDD[CsrBlock], val n: Int,
                       val vtot: Array[Double], val comm: Array[Long],
                       val seed: Array[Byte],
                       deltaOpt: Option[Boolean] = None) {
    val nBytes: Int = (n + 7) / 8
    val acc: Array[Array[Byte]] =
      Array(new Array[Byte](nBytes), new Array[Byte](nBytes))
    // per-half-sweep scratch (allocated once; the serial sections of the
    // apply must not sort or allocate). Long words so the moved-bitmap
    // writes can ride the PARALLEL scatter pass via atomicSetBit (set-only,
    // so CAS-OR races commute) instead of the serial dq walk.
    private[CsrSweep] val mvScratchL = new Array[Long]((n + 63) / 64)
    val seedAlive: Array[Boolean] = Array(true, true)
    private[CsrSweep] val bcVtot: Broadcast[Array[Double]] =
      csr.sparkContext.broadcast(vtot)
    // executor-task nanos (kernel scan / mirror-resolve+replay), summed
    // across all tasks of every half-sweep on this state; accumulators so
    // the values cross the executor-JVM boundary (Timers.taskAccs)
    private[CsrSweep] val accKernelNs = csr.sparkContext.longAccumulator("graft.csr.kernelNs")
    private[CsrSweep] val accDeriveNs = csr.sparkContext.longAccumulator("graft.csr.deriveNs")
    Timers.taskAccs = (accKernelNs, accDeriveNs)
    /** All weight mass integral => incremental totals are exact. */
    val integral: Boolean = {
      var i = 0; var ok = true
      while (ok && i < n) { ok = vtot(i) == math.rint(vtot(i)); i += 1 }
      ok
    }
    // Int mirror of `comm` (dense ids < n <= 4M): the per-sweep broadcast
    // payload, updated by the same O(moves) apply — no O(V) rebuild/copy
    private[CsrSweep] val commI: Array[Int] = {
      val a = new Array[Int](n); var i = 0
      while (i < n) { a(i) = comm(i).toInt; i += 1 }
      a
    }
    private[CsrSweep] val ctot = new Array[Double](n)
    private[CsrSweep] val csize = new Array[Int](n)
    private[CsrSweep] val sgl = new Array[Long]((n + 63) / 64)
    rebuildTotals()
    /** Delta mode: per half-sweep, ship only the moves the driver just
      * applied (8 B/move) instead of the full commI+ctot+sgl snapshot
      * (~16 B/vertex); executors advance a mirror ([[resolveMirror]]).
      * A full-state rebase every [[RebaseEvery]] deltas bounds both the
      * recovery replay chain and the undestroyed-broadcast footprint.
      * Default: on for multi-executor masters (the N->4N cluster shape,
      * where the full snapshot costs executors x bytes through the
      * driver's block manager every half-sweep), off for local[k] (one
      * in-process copy, serialize-once is cheaper than mirror upkeep).
      * Requires the integral gate — mirror replay must be exact.
      * `deltaOpt` overrides the master-shape default.
      */
    val deltaMode: Boolean =
      integral && deltaOpt.getOrElse(!csr.sparkContext.isLocal)
    private[CsrSweep] val stateId: Long = stateIds.incrementAndGet()
    liveStates.add(stateId)
    // per-state sweep sequence: the localSweepState registry key suffix
    private[CsrSweep] var sweepSeq: Long = 0L
    private[CsrSweep] var gen: Long = 0L
    private[CsrSweep] var baseBc: Broadcast[CsrBase] = null
    private[CsrSweep] var deltaBcs: Vector[Broadcast[Array[Long]]] = Vector.empty
    private[CsrSweep] var pendingDelta: Array[Long] = Array.emptyLongArray
    private[CsrSweep] def destroyChain(): Unit = {
      if (baseBc != null) { baseBc.destroy(); baseBc = null }
      deltaBcs.foreach(_.destroy())
      deltaBcs = Vector.empty
      pendingDelta = Array.emptyLongArray
    }
    private[CsrSweep] def rebase(): Unit = {
      destroyChain()
      gen += 1
      baseBc = csr.sparkContext.broadcast(
        CsrBase(commI.clone(), ctot.clone(), csize.clone(), sgl.clone()))
    }
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
    def close(): Unit = {
      destroyChain(); bcVtot.destroy()
      liveStates.remove(stateId); ()
    }
    def snapshot(): Snap =
      Snap(comm.clone(), acc(0).clone(), acc(1).clone(), seedAlive.clone(),
        commI.clone(), ctot.clone(), csize.clone(), sgl.clone())
    def restore(s: Snap): Unit = {
      destroyChain() // driver state rewound: next half-sweep rebases
      Array.copy(s.comm, 0, comm, 0, n)
      Array.copy(s.acc0, 0, acc(0), 0, nBytes)
      Array.copy(s.acc1, 0, acc(1), 0, nBytes)
      seedAlive(0) = s.seedAlive(0); seedAlive(1) = s.seedAlive(1)
      Array.copy(s.commI, 0, commI, 0, n)
      Array.copy(s.ctot, 0, ctot, 0, n)
      Array.copy(s.csize, 0, csize, 0, n)
      Array.copy(s.sgl, 0, sgl, 0, sgl.length)
    }
    /** Re-init to singletons for the refinement phase, reusing this
      * state's vtot broadcast; returns the previous membership (the
      * refinement bound), like the DataFrame tier's singleton re-init
      * before its refine phase ([[Leiden.detect]]).
      */
    def resetToSingletons(): Array[Long] = {
      destroyChain() // membership rewritten wholesale: next sweep rebases
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

  /** Full-state rebase cadence in delta mode: bounds a fresh executor's
    * replay chain and the undestroyed broadcast footprint (first sweeps
    * move ~V/2 vertices, converged sweeps near zero).
    */
  private val RebaseEvery = 64

  def init(csr: RDD[CsrBlock], n: Int, vtot: Array[Double],
           comm0: Array[Long], aff0: Array[Byte],
           deltaBcast: Option[Boolean] = None): CsrState =
    new CsrState(csr, n, vtot, comm0, aff0, deltaBcast)

  /** Identity membership + all-affected seed (singleton init). */
  def singleton(csr: RDD[CsrBlock], n: Int, vtot: Array[Double],
                deltaBcast: Option[Boolean] = None): CsrState =
    new CsrState(csr, n, vtot, Array.tabulate(n)(_.toLong),
      Array.fill[Byte]((n + 7) / 8)(-1), deltaBcast)

  @inline private def bit(b: Array[Byte], i: Int): Boolean =
    (b(i >> 3) & (1 << (i & 7))) != 0

  @inline private def bitL(b: Array[Long], i: Int): Boolean =
    (b(i >> 6) & (1L << (i & 63))) != 0

  /** Community totals + singleton flags, derived from (comm, vtot). The
    * kernel needs these per half-sweep but they are a pure O(V) function
    * of the membership — so instead of broadcasting 8 B/vertex of ctot on
    * top of the 4 B/vertex membership, each EXECUTOR derives them once per
    * broadcast (weak-identity memo on the broadcast's value instance; all
    * tasks of one executor share it, GC reclaims with the broadcast).
    * Exactness unchanged: the scatter-add runs in ascending vertex order,
    * identical to the driver-side loop it replaces.
    */
  private val derivMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[Array[Int], (Array[Double], Array[Long])]())

  private def derive(comm: Array[Int], vt: Array[Double]): (Array[Double], Array[Long]) = {
    val got = derivMemo.get(comm)
    if (got != null) return got
    // single-flight per broadcast value: every task of a half-sweep sees
    // the same deserialized array instance, so locking it makes exactly
    // ONE task compute the O(V) scatter while the rest block ~ms. Without
    // this, all P concurrent tasks raced through the cold memo and each
    // ran the cache-hostile scatter — wasted work GROWING with core count
    // (measured: 32 cores spent 2.1s/half-sweep of summed derive time vs
    // 0.45s at 8, inverting the scaling the memo exists to protect).
    comm.synchronized {
      val again = derivMemo.get(comm)
      if (again != null) return again
      val n = comm.length
      val ctot = new Array[Double](n)
      val csize = new Array[Int](n)
      var i = 0
      while (i < n) { val c = comm(i); ctot(c) += vt(i); csize(c) += 1; i += 1 }
      val sgl = new Array[Long]((n + 63) / 64)
      i = 0
      while (i < n) {
        if (csize(i) == 1) sgl(i >> 6) |= 1L << (i & 63)
        i += 1
      }
      val r = (ctot, sgl)
      derivMemo.put(comm, r)
      r
    }
  }

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
    * `sketchSlots > 0` switches the per-src candidate accumulation to the
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
    */
  def halfSweep(st: CsrState, m: Double, resolution: Double, parity: Int,
                bcBound: Option[Broadcast[Array[Int]]] = None,
                refineSingletons: Boolean = false,
                sketchSlots: Int = 0): (Long, Double) = {
    val n = st.n
    val useSeed = st.seedAlive(parity)
    // frontier provably empty at this parity -> skip the scan job
    if (allZero(st.acc(parity)) && !(useSeed && hasParityBits(st.seed, parity)))
      return (0L, 0.0)
    val sc = st.csr.sparkContext
    val tT0 = System.nanoTime()
    // Per-half-sweep payload, three tiers:
    //   delta mode (multi-executor + integral): ship only the moves the
    //     driver just applied; executors advance a mirror (resolveMirror).
    //   integral local: the Int membership mirror plus the driver-
    //     maintained totals, so no task ever derives them. Broadcasting
    //     the live arrays is safe: TorrentBroadcast serializes at
    //     construction (cluster mode snapshots here), and in local mode
    //     every task of this half-sweep completes inside collect() below,
    //     strictly before the apply loop mutates them.
    //   non-integral: derive totals executor-side, memoized by array
    //     INSTANCE — ship a fresh clone per sweep so an in-place-mutated
    //     commI can never hit a stale memo entry.
    val deltaOn = st.deltaMode
    var bcComm: Broadcast[Array[Int]] = null
    var bcTot: Broadcast[(Array[Double], Array[Long])] = null
    var localKey: (Long, Long) = null
    if (deltaOn) {
      if (st.baseBc == null || st.deltaBcs.size >= RebaseEvery) st.rebase()
      else if (st.pendingDelta.nonEmpty) {
        st.deltaBcs :+= sc.broadcast(st.pendingDelta)
        st.pendingDelta = Array.emptyLongArray
      }
    } else if (st.integral && sc.isLocal) {
      // same-JVM registry instead of a broadcast (localSweepState scaladoc)
      localKey = (st.stateId, st.sweepSeq)
      st.sweepSeq += 1
      localSweepState.put(localKey, (st.commI, st.ctot, st.sgl))
    } else {
      bcComm = sc.broadcast(if (st.integral) st.commI else st.commI.clone())
      if (st.integral) bcTot = sc.broadcast((st.ctot, st.sgl))
    }
    val mirSid = st.stateId
    val mirGen = st.gen
    val mirWm: Long =
      try liveStates.first().longValue()
      catch { case _: java.util.NoSuchElementException => st.stateId }
    val mirBase = st.baseBc
    val mirDeltas = st.deltaBcs
    val tT1 = System.nanoTime()
    Timers.bcast.addAndGet(tT1 - tT0)
    Timers.sweeps.incrementAndGet()
    val bcVtot = st.bcVtot
    val seedL = if (useSeed) st.seed else null
    val accL = st.acc(parity)
    val twoM2 = 2 * m * m
    val res = resolution
    val par = parity
    val refine = refineSingletons
    val slots = sketchSlots
    val accK = st.accKernelNs
    val accD = st.accDeriveNs
    try {
      val out = st.csr.map { blk =>
        val tk0 = System.nanoTime()
        val vt = bcVtot.value
        val (comm, ct, sglL) =
          if (deltaOn) {
            val mir = resolveMirror(mirSid, mirGen, mirWm, mirBase, mirDeltas, vt)
            (mir.commI, mir.ctot, mir.sgl)
          } else if (localKey != null) {
            localSweepState.get(localKey)
          } else if (bcTot != null) {
            val t = bcTot.value
            (bcComm.value, t._1, t._2)
          } else {
            val c = bcComm.value
            val d = derive(c, vt)
            (c, d._1, d._2)
          }
        val tk1 = System.nanoTime()
        Timers.deriveTask.addAndGet(tk1 - tk0)
        accD.add(tk1 - tk0)
        val bnd = bcBound.map(_.value).orNull
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
        val packed = blk.packed; val pWidths = blk.widths; val pBitOff = blk.bitOff
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
              // blocks fold the test into the single decode pass — the
              // unpacked early exit saves nothing there because a miss
              // must scan (decode) the whole adjacency either way.
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
                val wd = pWidths(k).toInt
                val mask = (1L << wd) - 1
                var bp = pBitOff(k)
                var cur = -1
                var i2 = 0
                while (i2 < len) {
                  val wIdx = (bp >>> 6).toInt
                  val sh = (bp & 63).toInt
                  var bits = packed(wIdx) >>> sh
                  if (sh + wd > 64) bits |= packed(wIdx + 1) << (64 - sh)
                  cur += (bits & mask).toInt
                  dbuf(i2) = cur
                  if (!front && bit(accL, cur)) front = true
                  i2 += 1
                  bp += wd
                }
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
                  // lowmem scan (halfSweep scaladoc): MG/BM sketch pass,
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
        val tkEnd = System.nanoTime()
        Timers.kernelTask.addAndGet(tkEnd - tk1)
        accK.add(tkEnd - tk1)
        (java.util.Arrays.copyOf(mvPacked, nMv), java.util.Arrays.copyOf(mvDq, nMv))
      }.collect()
      val tT2 = System.nanoTime()
      Timers.job.addAndGet(tT2 - tT1)

      var total = 0
      out.foreach(p => total += p._1.length)
      // non-moving sweep: frontier state untouched (legacy parity)
      if (total == 0) return (0L, 0.0)
      val mvL = st.mvScratchL
      java.util.Arrays.fill(mvL, 0L)
      // delta mode: the concatenated moves (in driver-apply order) are the
      // NEXT half-sweep's broadcast payload
      if (deltaOn) {
        val all = new Array[Long](total)
        var p = 0
        out.foreach { case (mp, _) =>
          System.arraycopy(mp, 0, all, p, mp.length); p += mp.length
        }
        st.pendingDelta = all
      }
      val inc = st.integral // incremental totals (exact: integral weights)
      // Apply, three sections. (1) SERIAL walk: dq left-fold only, in
      // block order with ascending-src emission inside each block. Range
      // blocks make that the ascending-src order; hash blocks
      // (build's srcComplete) fold in partition order instead, which is
      // exact on integral weights only (build scaladoc). The moved-bitmap
      // writes (order-free, set-only) ride the parallel scatter pass below.
      var dq = 0.0
      var wb = 0
      while (wb < out.length) {
        val md = out(wb)._2
        var j = 0
        while (j < md.length) { dq += md(j); j += 1 }
        wb += 1
      }
      if (total >= ParallelApplyMin && out.length > 1) {
        // (2) PARALLEL pass over blocks — the O(moves) scatter was the
        // dominant serial Amdahl term of the N->4N witness once the kernel
        // itself scaled (~10 random O(V)-array accesses per move). Each
        // src moves at most once per half-sweep, so comm/commI writes are
        // disjoint; ctot/csize are scatter-adds to shared communities →
        // lock-free atomic RMW (exact: adds are ± integral doubles on the
        // `inc` gate, order-independent). mp is rewritten in place to
        // (from, to) as the pass-3 payload — the delta snapshot above and
        // the serial walk have already consumed the original packing.
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
        // serial per-update rule's final bit equals (csize == 1) — the
        // same invariant the mirror replay documents — so recomputing
        // from final sizes is bit-identical and order-free. The pass's
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
    } finally {
      val d0 = System.nanoTime()
      // delta mode keeps its chain alive for fresh-executor replay; it is
      // destroyed at rebase / reset / close instead
      if (localKey != null) localSweepState.remove(localKey)
      if (bcComm != null) bcComm.destroy()
      if (bcTot != null) bcTot.destroy()
      Timers.destroy.addAndGet(System.nanoTime() - d0)
    }
  }

  /** [[LocalMove.run]]'s exact termination rule over this tier. */
  def run(st: CsrState, m: Double, resolution: Double, tolerance: Double,
          maxIterations: Int, boundArr: Option[Array[Long]] = None,
          refineSingletons: Boolean = false, minMoves: Long = 0L,
          sketchSlots: Int = 0): (Int, Long) = {
    val sc = st.csr.sparkContext
    val bcBound = boundArr.map { b =>
      val a = new Array[Int](st.n); var j = 0
      while (j < st.n) { a(j) = b(j).toInt; j += 1 }
      sc.broadcast(a)
    }
    try {
      var it = 0
      var totalMoves = 0L
      var continue = true
      while (continue && it < maxIterations) {
        val (am, adq) = halfSweep(st, m, resolution, 0, bcBound, refineSingletons, sketchSlots)
        val (bm, bdq) = halfSweep(st, m, resolution, 1, bcBound, refineSingletons, sketchSlots)
        it += 1
        totalMoves += am + bm
        if (am + bm < math.max(1L, minMoves) || adq + bdq <= tolerance)
          continue = false
      }
      (it, totalMoves)
    } finally bcBound.foreach(_.destroy())
  }
}

package graft.algo

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.graph.Packed
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared-array kernels for connected components and BFS on dense-id
  * graphs (max id below `LocalMove.CtBroadcastMax`), local-master only.
  *
  * Tier story, same as Leiden's (CsrSweep scaladoc): below ~4M vertices the
  * per-vertex state is a primitive array, and on a local[k] master every
  * task shares the driver's JVM — so min-label propagation can run exactly
  * like the reference's shared-memory loops (atomic compare-and-swap min,
  * `/root/reference/inc/bfs.hxx:22-72` frontier discipline) instead of a
  * join-per-round Catalyst plan. One round = ONE job streaming packed
  * 8 B/edge int pairs; the Catalyst tier's round is a shuffle join + an
  * aggregation + a changed-count action (3 jobs, O(E) shuffle each). On a
  * non-local master the callers keep the Catalyst plans — this kernel is
  * the single-box accelerator, not the scale path (the 100-TB regime runs
  * the join-iterate tier, whose per-round shuffles AQE handles).
  *
  * Correctness: min-label CC is a monotone confluent fixpoint (labels only
  * decrease, min is commutative/associative/idempotent), so ANY update
  * order — including racy atomic-min with per-round pointer-jumping
  * compression — converges to the same exact fixpoint: comp(v) = min vertex
  * id reachable from v, bit-identical to the Catalyst tier. BFS levels are
  * processed synchronously (one job per level), so dist is the exact hop
  * count, identical to the frontier-swap plan.
  */
object DenseKernel {

  /** Task-visible registry of the shared arrays: on a local master, tasks
    * and driver share one JVM, so an id into this map replaces any
    * broadcast (`CsrSweep.pin` hands blocks the other way through the same
    * kind of map). Entries are removed in the caller's finally.
    */
  private val registry = new ConcurrentHashMap[Long, AnyRef]()
  private val ids = new AtomicLong(0L)

  private val U = {
    val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    f.setAccessible(true)
    f.get(null).asInstanceOf[sun.misc.Unsafe]
  }
  private val IOff = U.arrayBaseOffset(classOf[Array[Int]]).toLong
  private val IScale = U.arrayIndexScale(classOf[Array[Int]]).toLong

  /** Lock-free min: lowers a(i) to at most v; returns true if it moved. */
  @inline private def atomicMin(a: Array[Int], i: Int, v: Int): Boolean = {
    val off = IOff + i * IScale
    var moved = false
    var done = false
    while (!done) {
      val cur = U.getIntVolatile(a, off)
      if (v >= cur) done = true
      else if (U.compareAndSwapInt(a, off, cur, v)) { moved = true; done = true }
    }
    moved
  }

  /** Pack (src, dst) into per-partition int-pair blocks — one decode job,
    * cached by the caller; both kernels stream these at 8 B/edge.
    */
  def pack(edges: DataFrame): RDD[(Array[Int], Array[Int])] =
    Packed.blocks(edges.select(col("src").cast("int"), col("dst").cast("int")))
      .map(b => (b.ints(0), b.ints(1)))

  /** Pack (src, dst, w) into per-partition triple blocks hash-partitioned
    * by dst and sorted (dst, src): every dst's in-edges live in exactly one
    * partition in a fixed order, so the per-iteration rank gather in
    * [[pagerank]] is race-free (disjoint write ranges per task) AND
    * deterministic (fixed per-dst summation order, run to run). One decode
    * job; the caller caches the result and every iteration streams it at
    * 16 B/edge.
    */
  def packByDst(edges: DataFrame, parts: Int): RDD[(Array[Int], Array[Int], Array[Double])] =
    Packed.blocks(edges
      .select(col("src").cast("int"), col("dst").cast("int"), col("w").cast("double"))
      .repartition(parts, col("dst"))
      .sortWithinPartitions("dst", "src"))
      .map(b => (b.ints(0), b.ints(1), b.doubles(2)))

  /** Power iteration on shared arrays — PageRank.run's dense local-master
    * tier. Semantics identical to PageRank.localSolve / sequential (the test
    * oracles): each iteration recomputes the dangling mass from the current
    * ranks, gathers rank(s)/outW(s)*w per dst, applies
    * next = (1-alpha)/n + alpha*(gath + dangling/n) and stops on the L1
    * delta. `present` masks id-space holes (slots in [0,n) that are no
    * vertex): holes carry no rank, join no dangling mass and emit no row,
    * and n counts only present vertices — exactly the Catalyst tier's
    * distinct-vertex universe.
    *
    * One job per iteration (the edge gather over the dst-partitioned
    * blocks); the O(n) rank update runs on the driver between jobs. The
    * Catalyst tier's iteration is a shuffle join + hash aggregation + a
    * checkpoint + a stats action (3+ jobs, two O(V) exchanges each).
    * Job start/end edges publish `unit` before and `gath` after the pass;
    * the per-dst write ranges are disjoint by construction, so the gathered
    * sums are exact and deterministically ordered (by src within each dst).
    */
  def pagerank(packed: RDD[(Array[Int], Array[Int], Array[Double])], n: Int,
               present: Array[Boolean], outW: Array[Double], alpha: Double,
               tol: Double, maxIters: Int): Array[Double] = {
    var np = 0L
    var v = 0
    while (v < n) { if (present(v)) np += 1; v += 1 }
    val ranks = new Array[Double](n)
    if (np == 0L) return ranks
    val nd = np.toDouble
    v = 0
    while (v < n) { if (present(v)) ranks(v) = 1.0 / nd; v += 1 }
    val unit = new Array[Double](n)
    val gath = new Array[Double](n)
    val key = ids.incrementAndGet()
    registry.put(key, (unit, gath))
    try {
      var it = 0
      var delta = Double.MaxValue
      while (delta > tol && it < maxIters) {
        var dangling = 0.0
        v = 0
        while (v < n) {
          if (present(v) && outW(v) == 0.0) dangling += ranks(v)
          unit(v) = if (outW(v) > 0.0) ranks(v) / outW(v) else 0.0
          v += 1
        }
        java.util.Arrays.fill(gath, 0.0)
        packed.foreachPartition { pit =>
          val (u, g) = registry.get(key).asInstanceOf[(Array[Double], Array[Double])]
          pit.foreach { case (ss, dd, ww) =>
            var i = 0
            while (i < ss.length) { g(dd(i)) += u(ss(i)) * ww(i); i += 1 }
          }
        }
        delta = 0.0
        v = 0
        while (v < n) {
          if (present(v)) {
            val nx = (1 - alpha) / nd + alpha * (gath(v) + dangling / nd)
            delta += math.abs(nx - ranks(v))
            ranks(v) = nx
          }
          v += 1
        }
        it += 1
      }
      ranks
    } finally registry.remove(key)
  }

  /** Closed-wedge count over an oriented edge list (Triangles.kernelCount's
    * parallel stage): for each oriented edge j = (u, v), add the size of
    * the sorted-list intersection of the oriented in-neighborhoods of u and
    * v. ONE job over contiguous index stripes; tasks read the shared CSR
    * from the registry (same JVM on a local master). Exact integer sum —
    * stripe boundaries cannot change it.
    */
  def wedgeCount(spark: org.apache.spark.sql.SparkSession, os: Array[Int],
                 od: Array[Int], roff: Array[Int], radj: Array[Int]): Long = {
    val mo = os.length
    if (mo == 0) return 0L
    val tasks = math.max(1, math.min(spark.sparkContext.defaultParallelism * 4, mo))
    val key = ids.incrementAndGet()
    registry.put(key, (os, od, roff, radj))
    try {
      spark.sparkContext.parallelize(0 until tasks, tasks).map { t =>
        val (eos, eod, eoff, eadj) = registry.get(key)
          .asInstanceOf[(Array[Int], Array[Int], Array[Int], Array[Int])]
        val m = eos.length
        val lo = (t.toLong * m / tasks).toInt
        val hi = ((t + 1).toLong * m / tasks).toInt
        var sum = 0L
        var j = lo
        while (j < hi) {
          val u = eos(j); val v = eod(j)
          var a = eoff(u); val aEnd = eoff(u + 1)
          var b = eoff(v); val bEnd = eoff(v + 1)
          while (a < aEnd && b < bEnd) {
            val x = eadj(a); val y = eadj(b)
            if (x == y) { sum += 1; a += 1; b += 1 }
            else if (x < y) a += 1
            else b += 1
          }
          j += 1
        }
        sum
      }.fold(0L)(_ + _)
    } finally registry.remove(key)
  }

  /** Exact connected components: lab(v) = min vertex id reachable from v,
    * for all v in [0, n). Isolated ids keep themselves. Runs rounds of
    * one-job atomic-min edge relaxation with driver-side pointer-jumping
    * compression between rounds, until an edge round changes nothing.
    */
  def cc(packed: RDD[(Array[Int], Array[Int])], n: Int): Array[Int] = {
    val lab = Array.tabulate(n)(identity)
    val key = ids.incrementAndGet()
    registry.put(key, lab)
    try {
      var changed = true
      while (changed) {
        changed = packed.map { case (ss, dd) =>
          val l = registry.get(key).asInstanceOf[Array[Int]]
          var ch = false
          var i = 0
          while (i < ss.length) {
            val s = ss(i); val d = dd(i)
            val a = l(s); val b = l(d)
            if (a < b) { if (atomicMin(l, d, a)) ch = true }
            else if (b < a) { if (atomicMin(l, s, b)) ch = true }
            i += 1
          }
          ch
        }.fold(false)(_ || _)
        if (changed) {
          // pointer-jumping: lab is a decreasing parent forest (every write
          // lowered a label to another component member's id), so full path
          // compression between rounds cuts the round count from diameter
          // to near-logarithmic without changing the fixpoint
          var v = 0
          while (v < n) {
            var r = lab(v)
            while (lab(r) != r) r = lab(r)
            lab(v) = r
            v += 1
          }
        }
      }
      lab
    } finally registry.remove(key)
  }

  /** Exact hop distances from `sources` up to `maxDepth` levels; -1 =
    * unreached. Synchronous level-by-level relaxation — one job per level,
    * each task scans only edges whose src bit is in the CURRENT frontier —
    * so dist is the exact BFS hop count (`/root/reference/inc/bfs.hxx`
    * frontier-swap semantics).
    */
  def bfs(packed: RDD[(Array[Int], Array[Int])], n: Int,
          sources: Array[Int], maxDepth: Int): Array[Int] = {
    val dist = Array.fill(n)(-1)
    val frontier = new Array[Long]((n + 63) / 64)
    sources.foreach { s => dist(s) = 0; frontier(s >> 6) |= 1L << (s & 63) }
    val key = ids.incrementAndGet()
    registry.put(key, (dist, frontier))
    try {
      var depth = 0
      var live = sources.nonEmpty
      while (live && depth < maxDepth) {
        depth += 1
        val level = depth
        // dist writes race only on EQUAL values (every writer of one level
        // writes `level` into a slot that was -1 at level start), so plain
        // writes are idempotent; job start/end edges publish them
        live = packed.map { case (ss, dd) =>
          val (dl, fr) = registry.get(key).asInstanceOf[(Array[Int], Array[Long])]
          var any = false
          var i = 0
          while (i < ss.length) {
            val s = ss(i)
            if ((fr(s >> 6) & (1L << (s & 63))) != 0) {
              val d = dd(i)
              if (dl(d) < 0) { dl(d) = level; any = true }
            }
            i += 1
          }
          any
        }.fold(false)(_ || _)
        // rebuild the frontier from dist, the authoritative record, on the
        // driver (the job-end edge makes all task writes visible here)
        if (live) {
          java.util.Arrays.fill(frontier, 0L)
          var v = 0
          while (v < n) {
            if (dist(v) == level) frontier(v >> 6) |= 1L << (v & 63)
            v += 1
          }
        }
      }
      dist
    } finally registry.remove(key)
  }
}

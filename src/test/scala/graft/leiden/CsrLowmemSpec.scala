package graft.leiden

import graft.SparkSpec
import graft.graph.EdgeTable
import org.apache.spark.sql.functions._
import scala.util.Random

/** Round-5 CSR-kernel additions: the lowmem (Misra-Gries) scan on the fused
  * kernel, the parallel driver apply, and the gap-packed block layout.
  */
class CsrLowmemSpec extends SparkSpec {

  private def sbmEdges(seed: Int, n: Int = 300, blocks: Int = 10) = {
    val rnd = new Random(seed)
    val es = Seq.newBuilder[(Long, Long, Double)]
    val bs = n / blocks
    for (a <- 0 until n; b <- a + 1 until n)
      if (rnd.nextDouble() < (if ((a / bs) == (b / bs)) 0.3 else 0.015))
        es += ((a.toLong, b.toLong, 1.0))
    EdgeTable.undirected(spark, es.result()).repartition(col("src")).cache()
  }

  private def vtArr(edges: org.apache.spark.sql.DataFrame, n: Int): (Double, Array[Double]) = {
    val m = EdgeTable.totalWeight(edges) / 2
    val vt = new Array[Double](n)
    EdgeTable.vertexWeights(edges).collect()
      .foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
    (m, vt)
  }

  test("parallel driver apply is bit-identical to the serial apply (move+refine)") {
    val n = 300
    val edges = sbmEdges(19, n)
    val (m, vt) = vtArr(edges, n)
    val csr = CsrSweep.build(edges, n, parts = 4).cache()
    def fullRun(): (Int, Long, Int, Long, Seq[Long]) = {
      val st = CsrSweep.singleton(csr, n, vt)
      val (itM, mvM) = CsrSweep.run(st, m, 1.0, 1e-9, 50)
      val bound = st.resetToSingletons()
      val (itR, mvR) = CsrSweep.run(st, m, 1.0, 1e-9, 50,
        boundArr = Some(bound), refineSingletons = true)
      val out = (itM, mvM, itR, mvR, st.comm.toSeq)
      st.close()
      out
    }
    val serial = fullRun() // default floor 8192 >> any toy move count
    val old = CsrSweep.ParallelApplyMin
    CsrSweep.ParallelApplyMin = 1 // force the parallel path on every sweep
    val parallel = try fullRun() finally CsrSweep.ParallelApplyMin = old
    assert(parallel === serial)
    csr.unpersist(); edges.unpersist()
  }

  test("pinned blocks scanned in-process equal one driver block, half-sweep by half-sweep") {
    // CsrSweep.pin pins the cached blocks on a local master; a state over
    // one driver block of the same rows (CsrSweep.onDriver, the local
    // tail's layout) scans them in one piece. Both must take the same
    // moves with the same dq bits in every half-sweep of the move and the
    // refine phase.
    val n = 300
    val sc = spark.sparkContext
    assert(sc.isLocal)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def same(a: CsrSweep.CsrBlock, b: CsrSweep.CsrBlock): Boolean = {
      import java.util.Arrays.{equals => arrEq}
      arrEq(a.srcs, b.srcs) && arrEq(a.off, b.off) && arrEq(a.dst, b.dst) && arrEq(a.w, b.w) &&
        arrEq(a.packed, b.packed) && arrEq(a.widths, b.widths) && arrEq(a.bitOff, b.bitOff)
    }
    val weights = Seq[(String, (Long, Long) => Double)](
      "unit" -> ((_, _) => 1.0),
      "integral" -> ((a, b) => 1.0 + (a + b) % 3),
      "non-dyadic" -> ((a, b) => 0.1 + (a * 17 + b) % 5 * 0.3))
    for ((wName, wf) <- weights) {
      val rnd = new Random(23)
      val es = for (a <- 0 until n; b <- a + 1 until n
          if rnd.nextDouble() < (if (a / 30 == b / 30) 0.3 else 0.015))
        yield (a.toLong, b.toLong, wf(a.toLong, b.toLong))
      val edges = EdgeTable.undirected(spark, es).repartition(4, col("src")).cache()
      val (m, vt) = vtArr(edges, n)
      val one = CsrSweep.toBlock(graft.graph.Packed.collect(edges.select(col("src").cast("int"),
        col("dst").cast("int"), col("w").cast("double"))), CsrSweep.PackGaps)
      for ((kind, csr) <- Seq(
          "hash" -> CsrSweep.build(edges, n, srcComplete = true).cache(),
          "range" -> CsrSweep.build(edges, n, parts = 4).cache())) {
        val collected = csr.collect()
        if (kind == "hash")
          assert(collected.exists(b => b.srcs.last - b.srcs.head > n / 2),
            s"$wName: hash blocks must interleave src ranges")
        for (slots <- Seq(0, 64, 1)) {
          val tag = s"$wName $kind slots=$slots"
          def start = (Array.tabulate(n)(_.toLong), Array.fill[Byte]((n + 7) / 8)(-1))
          val (c0, s0) = start
          val single = CsrSweep.onDriver(Array(one), n, vt, c0, s0)
          val (c1, s1) = start
          val pinned = CsrSweep.onDriver(CsrSweep.pin(csr), n, vt, c1, s1)
          assert(CsrSweep.handoffSize === 0, tag)
          val held = pinned.blocks
          assert(held.length === collected.length && held.length > 1 && held.indices.forall(i =>
            same(held(i), collected(i))), s"$tag: pinned blocks vs collect()")
          // half-sweeps until two in a row move nothing
          def phase(name: String, refine: Boolean): Int = {
            var i = 0; var quiet = 0
            while (quiet < 2 && i < 80) {
              val (ma, da) = CsrSweep.halfSweep(single, m, 1.0, i % 2, refine, slots)
              val (mb, db) = CsrSweep.halfSweep(pinned, m, 1.0, i % 2, refine, slots)
              assert(mb === ma, s"$tag $name sweep $i")
              assert(bits(db) === bits(da), s"$tag $name sweep $i: dq $db vs $da")
              quiet = if (ma == 0) quiet + 1 else 0
              i += 1
            }
            i
          }
          assert(phase("move", refine = false) > 4, s"$tag: the move phase must take several sweeps")
          assert(pinned.comm.sameElements(single.comm), tag)
          val bS = single.resetToSingletons(); val bP = pinned.resetToSingletons()
          single.bind(Some(bS)); pinned.bind(Some(bP))
          try phase("refine", refine = true)
          finally { single.unbind(); pinned.unbind() }
          assert(pinned.comm.sameElements(single.comm), tag)
          single.close(); pinned.close()
          assert(pinned.blocks == null, s"$tag: close drops the blocks")
        }
        csr.unpersist()
      }
      edges.unpersist()
    }
    // a pin job that throws leaves no handoff key behind
    val failing = sc.parallelize(0 until 4, 4).map { p =>
      if (p == 1) throw new IllegalStateException("pin test: partition 1 fails")
      CsrSweep.CsrBlock(Array(p), Array(0, 0), Array.emptyIntArray, null)
    }
    intercept[org.apache.spark.SparkException](CsrSweep.onDriver(CsrSweep.pin(failing), 4,
      Array.fill(4)(1.0), Array.tabulate(4)(_.toLong), Array.fill[Byte](1)(-1)))
    assert(CsrSweep.handoffSize === 0, "after a failed pin")
  }

  test("kernel sketch with slots >= distinct candidates equals the exact kernel bit-for-bit") {
    // no vertex here sees > 64 neighbor communities, so the MG sketch never
    // evicts: survivors == the full candidate set and the rescored weights
    // equal the exact accumulation — every decision must match slots=0
    val n = 300
    val edges = sbmEdges(19, n)
    val (m, vt) = vtArr(edges, n)
    val csr = CsrSweep.build(edges, n).cache()
    def fullRun(slots: Int): (Int, Long, Int, Long, Seq[Long]) = {
      val st = CsrSweep.singleton(csr, n, vt)
      val (itM, mvM) = CsrSweep.run(st, m, 1.0, 1e-9, 50, sketchSlots = slots)
      val bound = st.resetToSingletons()
      val (itR, mvR) = CsrSweep.run(st, m, 1.0, 1e-9, 50,
        boundArr = Some(bound), refineSingletons = true, sketchSlots = slots)
      val out = (itM, mvM, itR, mvR, st.comm.toSeq)
      st.close()
      out
    }
    assert(fullRun(64) === fullRun(0))
    csr.unpersist(); edges.unpersist()
  }

  test("kernel sketch half-sweep equals a sequential MGSketch twin under eviction pressure") {
    // k=2 on a 10-block SBM: the sketch genuinely evicts, so this pins the
    // kernel's in-loop MG replay (and the exact survivor rescore) against
    // MGSketch.sequential consuming the same dst-ascending stream
    val n = 300
    val edges = sbmEdges(23, n)
    val (m, vt) = vtArr(edges, n)
    // dst-sorted adjacency exactly as CsrBlock lays it out
    val adj: Map[Int, Seq[(Int, Double)]] = edges.collect()
      .map(r => (r.getLong(0).toInt, (r.getLong(1).toInt, r.getDouble(2))))
      .groupBy(_._1).map { case (s, a) => s -> a.map(_._2).toSeq.sortBy(_._1) }
    val csr = CsrSweep.build(edges, n).cache()
    for (k <- Seq(1, 2); parity <- 0 to 1) {
      // blocked non-singleton start (same discipline as the other parity specs)
      val comm0 = Array.tabulate(n)(i => (i % 16).toLong)
      val st = CsrSweep.onDriver(CsrSweep.pin(csr), n, vt, comm0.clone(),
        Array.fill[Byte]((n + 7) / 8)(-1))
      val (mv, _) = CsrSweep.halfSweep(st, m, 1.0, parity, sketchSlots = k)

      // sequential twin over the frozen pre-sweep state
      val ctot = new Array[Double](n); val csize = new Array[Int](n)
      for (i <- 0 until n) { ctot(comm0(i).toInt) += vt(i); csize(comm0(i).toInt) += 1 }
      val twoM2 = 2 * m * m
      var twinMoves = 0L
      val twinComm = comm0.clone()
      for (s <- 0 until n if (s & 1) == parity) {
        val stream = adj.getOrElse(s, Seq.empty).filter(_._1 != s)
          .map { case (d, w) => (comm0(d), w) }
        if (stream.nonEmpty) {
          val surv = MGSketch.sequential(k, stream).map(_.comm).toSet
          val exact = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
          val ccur = comm0(s)
          stream.foreach { case (c, w) =>
            if (surv(c) || c == ccur) exact(c) = exact.getOrElse(c, 0.0) + w
          }
          val wud = exact.getOrElse(ccur, 0.0)
          var bestC = -1L
          var bestScore = 0.0
          for (c <- (surv - ccur).toSeq.sorted) {
            val wuc = exact.getOrElse(c, 0.0)
            if (!(csize(ccur.toInt) == 1 && csize(c.toInt) == 1 && c > ccur)) {
              val score = wuc / m - 1.0 * vt(s) * ctot(c.toInt) / twoM2
              if (bestC < 0 || score > bestScore) { bestScore = score; bestC = c }
            }
          }
          if (bestC >= 0) {
            val mdq = bestScore - wud / m - 1.0 * vt(s) * (vt(s) - ctot(ccur.toInt)) / twoM2
            if (mdq > 0) { twinComm(s) = bestC; twinMoves += 1 }
          }
        }
      }
      assert(mv === twinMoves, s"k=$k parity=$parity")
      assert(st.comm.toSeq === twinComm.toSeq, s"k=$k parity=$parity")
      st.close()
    }
    csr.unpersist(); edges.unpersist()
  }

  test("gap-packed blocks are bit-identical to unpacked across move+refine+sketch") {
    // the packed layout must be a pure re-encoding: every decision of every
    // half-sweep flavor (exact, bounded refine, MG-sketch) identical
    val n = 300
    val edges = sbmEdges(19, n)
    val (m, vt) = vtArr(edges, n)
    def fullRun(pack: Boolean): (Int, Long, Int, Long, Int, Long, Seq[Long]) = {
      val old = CsrSweep.PackGaps
      CsrSweep.PackGaps = pack
      try {
        val csr = CsrSweep.build(edges, n, parts = 4).cache()
        val st = CsrSweep.singleton(csr, n, vt)
        val (itM, mvM) = CsrSweep.run(st, m, 1.0, 1e-9, 50)
        val (itS, mvS) = CsrSweep.run(st, m, 1.0, 1e-9, 50, sketchSlots = 2)
        val bound = st.resetToSingletons()
        val (itR, mvR) = CsrSweep.run(st, m, 1.0, 1e-9, 50,
          boundArr = Some(bound), refineSingletons = true)
        val out = (itM, mvM, itS, mvS + itR, itR, mvR, st.comm.toSeq)
        st.close()
        csr.unpersist()
        out
      } finally CsrSweep.PackGaps = old
    }
    assert(fullRun(pack = true) === fullRun(pack = false))
    edges.unpersist()
  }

  test("packed block decode reproduces the dst-sorted adjacency exactly") {
    val n = 300
    val edges = sbmEdges(23, n)
    def blocks(pack: Boolean) = {
      val old = CsrSweep.PackGaps
      CsrSweep.PackGaps = pack
      try CsrSweep.build(edges, n, parts = 2).collect()
      finally CsrSweep.PackGaps = old
    }
    val plain = blocks(pack = false)
    val packs = blocks(pack = true)
    // same range partitioner seed sampling may differ run to run — compare
    // per-src adjacency maps, not block composition
    def adjMap(bs: Array[CsrSweep.CsrBlock]): Map[Int, Seq[Int]] =
      bs.flatMap { b =>
        b.srcs.indices.map { k =>
          val len = b.off(k + 1) - b.off(k)
          val ds =
            if (b.dst != null) (b.off(k) until b.off(k + 1)).map(b.dst(_))
            else {
              val wd = b.widths(k).toInt
              val mask = (1L << wd) - 1
              var bp = b.bitOff(k)
              var cur = -1
              (0 until len).map { _ =>
                val wIdx = (bp >>> 6).toInt
                val sh = (bp & 63).toInt
                var bits = b.packed(wIdx) >>> sh
                if (sh + wd > 64) bits |= b.packed(wIdx + 1) << (64 - sh)
                cur += (bits & mask).toInt
                bp += wd
                cur
              }
            }
          b.srcs(k) -> ds.toSeq
        }
      }.toMap
    assert(adjMap(packs) === adjMap(plain))
    assert(packs.forall(b => b.dst == null && b.packed != null))
    edges.unpersist()
  }
}

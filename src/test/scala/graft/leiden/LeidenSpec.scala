package graft.leiden

import graft.SparkSpec
import graft.graph.EdgeTable
import org.apache.spark.sql.functions._
import scala.util.Random

class LeidenSpec extends SparkSpec {

  def clique(ids: Seq[Long]): Seq[(Long, Long, Double)] =
    for (a <- ids; b <- ids if a < b) yield (a, b, 1.0)

  /** LocalMove.run from singletons, then the bounded refine phase from
    * singletons, as Leiden.detect runs a DataFrame-tier pass: (post-move
    * membership, refined membership, move iterations, move moves, refine
    * iterations, refine moves).
    */
  def columnRun(edges: org.apache.spark.sql.DataFrame, vw: org.apache.spark.sql.DataFrame,
                m: Double): (Map[Long, Long], Map[Long, Long], Int, Long, Int, Long) = {
    def st0 = vw.select(col("id"), col("id").as("comm"), col("vtot"), lit(true).as("aff"))
    def memb(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "comm").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (moved, itM, mvM) = LocalMove.run(edges, st0, m, 1.0, 1e-9, 50,
      broadcastCt = true, broadcastMembership = true)
    val (refined, itR, mvR) = LocalMove.run(edges, st0, m, 1.0, 1e-9, 50,
      Some(moved.select(col("id"), col("comm").as("bound"))), refineSingletons = true,
      broadcastCt = true, broadcastMembership = true)
    (memb(moved), memb(refined), itM, mvM, itR, mvR)
  }

  /** Driver-array reference of the synchronous local-moving phase: plain
    * Scala over a collected adjacency, with the frontier kept as the
    * explicit [[FrontierBits.next]] recurrence. Decisions follow
    * [[LocalMove.sweep]]: the same score and ΔQ expressions, the swap
    * guard between singletons, ties toward the smaller community id,
    * mdq > 0 acceptance, moves applied after the whole half-sweep scored.
    */
  final class ArrayTier(edges: Array[(Int, Int, Double)], val n: Int, vtot: Array[Double]) {
    val comm: Array[Long] = Array.tabulate(n)(_.toLong)
    private var bits = Array.fill[Byte]((n + 7) / 8)(-1)
    private val adj = edges.groupBy(_._1)

    def resetToSingletons(): Array[Long] = {
      val prev = comm.clone()
      (0 until n).foreach(i => comm(i) = i.toLong)
      bits = Array.fill[Byte]((n + 7) / 8)(-1)
      prev
    }

    private def bit(b: Array[Byte], i: Int): Boolean = (b(i >> 3) & (1 << (i & 7))) != 0

    def halfSweep(m: Double, r: Double, parity: Int, bound: Option[Array[Long]],
                  refineSingletons: Boolean): (Long, Double) = {
      if (FrontierBits.isEmpty(bits, parity)) return (0L, 0.0)
      val ctot = new Array[Double](n)
      val csize = new Array[Int](n)
      (0 until n).foreach { i => val c = comm(i).toInt; ctot(c) += vtot(i); csize(c) += 1 }
      def sgl(c: Long): Boolean = csize(c.toInt) == 1
      val moves = (0 until n).filter(s => s % 2 == parity && bit(bits, s) &&
          (!refineSingletons || sgl(comm(s)))).flatMap { s =>
        val ccur = comm(s); val vu = vtot(s)
        val wuc = adj.getOrElse(s, Array.empty[(Int, Int, Double)])
          .filter { case (_, d, _) => d != s && bound.forall(b => b(s) == b(d)) }
          .groupBy(e => comm(e._2)).map { case (c, es) => c -> es.map(_._3).sum }
        val wud = wuc.getOrElse(ccur, 0.0)
        val eligible = wuc.filter { case (c, _) =>
          c != ccur && !(sgl(c) && sgl(ccur) && c > ccur) }
        if (eligible.isEmpty) None
        else {
          val (best, score) = eligible
            .map { case (c, w) => c -> (w / m - r * vu * ctot(c.toInt) / (2 * m * m)) }
            .maxBy { case (c, sc) => (sc, -c) }
          val mdq = score - wud / m - r * vu * (vu - ctot(ccur.toInt)) / (2 * m * m)
          if (mdq > 0) Some((s, best, mdq)) else None
        }
      }
      if (moves.isEmpty) return (0L, 0.0)
      val nb = new Array[Byte](bits.length)
      moves.foreach { case (s, best, _) =>
        comm(s) = best
        adj.getOrElse(s, Array.empty[(Int, Int, Double)]).foreach { case (_, d, _) =>
          nb(d >> 3) = (nb(d >> 3) | (1 << (d & 7))).toByte }
      }
      bits = FrontierBits.next(bits, nb, parity)
      (moves.length.toLong, moves.map(_._3).sum)
    }

    /** [[LocalMove.run]]'s termination rule; returns (iterations, moves). */
    def run(m: Double, r: Double, tolerance: Double, maxIterations: Int,
            bound: Option[Array[Long]] = None, refineSingletons: Boolean = false): (Int, Long) = {
      var it = 0; var total = 0L; var go = true
      while (go && it < maxIterations) {
        val (am, adq) = halfSweep(m, r, 0, bound, refineSingletons)
        val (bm, bdq) = halfSweep(m, r, 1, bound, refineSingletons)
        it += 1; total += am + bm
        if (am + bm < 1L || adq + bdq <= tolerance) go = false
      }
      (it, total)
    }
  }

  test("two 4-cliques + bridge: recovers the planted partition, Q=11/26, none disconnected") {
    val edges = EdgeTable.undirected(spark,
      clique(0L to 3L) ++ clique(4L to 7L) :+ ((3L, 4L, 1.0)))
    val r = Leiden.detect(edges, LeidenOptions(maxPasses = 4))
    assert(r.communities === 2L, s"communities=${r.communities}")
    assert(approx(r.modularity, 11.0 / 26.0, 1e-9), s"q=${r.modularity}")
    assert(Leiden.disconnectedCommunities(edges, r.membership) === 0L)
    // the partition itself is the planted one
    val groups = r.membership.collect().groupBy(_.getLong(1)).values
      .map(_.map(_.getLong(0)).toSet).toSet
    assert(groups === Set(Set(0L, 1L, 2L, 3L), Set(4L, 5L, 6L, 7L)))
  }

  test("ring of 6 5-cliques: one community per clique") {
    val k = 6; val s = 5
    val cliques = (0 until k).flatMap(c => clique((c * s).toLong until (c * s + s).toLong))
    val ring = (0 until k).map(c => ((c * s).toLong, (((c + 1) % k) * s + 1).toLong, 1.0))
    val edges = EdgeTable.undirected(spark, cliques ++ ring)
    val r = Leiden.detect(edges)
    assert(r.communities === k.toLong, s"communities=${r.communities}")
    assert(approx(r.modularity, 49.0 / 66.0, 1e-9), s"q=${r.modularity}") // committed golden
    assert(Leiden.disconnectedCommunities(edges, r.membership) === 0L)
    val groups = r.membership.collect().groupBy(_.getLong(1)).values
      .map(_.map(_.getLong(0)).toSet).toSet
    assert(groups === (0 until k).map(c => ((c * s).toLong until (c * s + s).toLong).toSet).toSet)
  }

  test("seeded SBM k=4 m=30: exact community count, disconnected=0, Q golden") {
    val rnd = new Random(42)
    val k = 4; val mSize = 30
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until k * mSize; b <- a + 1 until k * mSize) {
      val sameBlock = (a / mSize) == (b / mSize)
      val p = if (sameBlock) 0.3 else 0.01
      if (rnd.nextDouble() < p) es += ((a.toLong, b.toLong, 1.0))
    }
    val edges = EdgeTable.undirected(spark, es.result())
    val r = Leiden.detect(edges)
    assert(r.communities === k.toLong, s"communities=${r.communities}")
    assert(Leiden.disconnectedCommunities(edges, r.membership) === 0L)
    // committed golden to 1e-6 (BASELINE.md quality target); exact because
    // all inputs are integer-valued doubles, so every aggregation is exact
    // regardless of partition merge order
    assert(approx(r.modularity, 0.647583673693155, 1e-6), s"q=${r.modularity}")
    // membership matches blocks exactly (strong signal at these densities)
    val blocks = r.membership.collect().groupBy(_.getLong(1)).values
      .map(_.map(_.getLong(0) / mSize).toSet).toSet
    assert(blocks === (0 until k).map(b => Set(b.toLong)).toSet)
    // run-to-run determinism: second run produces identical membership
    val r2 = Leiden.detect(edges)
    assert(r2.modularity === r.modularity)
    assert(r.membership.except(r2.membership).count() === 0L)
  }

  test("dst-cache sweep path equals the legacy sweep exactly") {
    // the zero-E-exchange gather (LocalMove.sweep edgesByDst) must pick the
    // identical moves as the legacy mover-pruned join on a non-trivial
    // graph — both parities, from a non-singleton blocked state
    val rnd = new Random(7)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 400; b <- a + 1 until 400)
      if (rnd.nextDouble() < (if ((a / 40) == (b / 40)) 0.25 else 0.01))
        es += ((a.toLong, b.toLong, 1.0))
    val edges = EdgeTable.undirected(spark, es.result()).cache()
    val edst = edges.repartition(col("dst")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val st0 = EdgeTable.vertexWeights(edges)
      .select(col("id"), pmod(col("id"), lit(16)).as("comm"), col("vtot"),
        lit(true).as("aff"))
    def memb(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "comm").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def affSet(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("aff")).select("id").collect().map(_.getLong(0)).toSet
    val bits0 = FrontierBits.fromState(st0, 400)
    for (parity <- 0 to 1) {
      val legacy = LocalMove.sweep(edges, st0, m, 1.0, parity)
      val viaDst = LocalMove.sweep(edges, st0, m, 1.0, parity,
        edgesByDst = Some(edst))
      val viaBc = LocalMove.sweep(edges, st0, m, 1.0, parity,
        edgesByDst = Some(edst), broadcastCt = true)
      val viaBits = LocalMove.sweep(edges, st0, m, 1.0, parity,
        broadcastCt = true, broadcastMembership = true, affBits = Some(bits0))
      assert(viaDst.moves === legacy.moves, s"parity=$parity")
      assert(memb(viaDst.state) === memb(legacy.state), s"parity=$parity")
      assert(viaBc.moves === legacy.moves, s"bc parity=$parity")
      assert(memb(viaBc.state) === memb(legacy.state), s"bc parity=$parity")
      assert(viaBits.moves === legacy.moves, s"bits parity=$parity")
      assert(memb(viaBits.state) === memb(legacy.state), s"bits parity=$parity")
      // the frontier bitmap, the returned state's aff column, and the
      // legacy path's aff column must all be the SAME set
      val legacyAff = affSet(legacy.state)
      assert(affSet(viaBits.state) === legacyAff, s"bits aff parity=$parity")
      val gotBits = viaBits.affBits.get
      val fromBits = (0L until 400L)
        .filter(id => graft.catalyst.BitSetKernels.contains(gotBits, id)).toSet
      assert(fromBits === legacyAff, s"bitmap-vs-column parity=$parity")
    }
    edst.unpersist(); edges.unpersist()
  }

  test("driver-array tier equals the column tiers across move and refine phases") {
    // full-run parity of CsrSweep against LocalMove, the independent
    // DataFrame tier, including the non-moving half-sweeps near
    // convergence: the folded frontier (acc/seedAlive algebra) must visit
    // the same iteration count, move counts, refinement bound and final
    // membership as the column tier's explicit frontier
    val rnd = new Random(19)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 300; b <- a + 1 until 300)
      if (rnd.nextDouble() < (if ((a / 30) == (b / 30)) 0.3 else 0.015))
        es += ((a.toLong, b.toLong, 1.0))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vw = EdgeTable.vertexWeights(edges)
    val (movedM, refM, itMC, mvMC, itRC, mvRC) = columnRun(edges, vw, m)
    val realIds = vw.select("id").collect().map(_.getLong(0)).toSet

    val vt = new Array[Double](300)
    vw.collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
    val csr = CsrSweep.build(edges, 300).cache()
    val st = CsrSweep.singleton(csr, 300, vt)
    val (itMA, mvMA) = CsrSweep.run(st, m, 1.0, 1e-9, 50)
    assert(itMA === itMC); assert(mvMA === mvMC)
    val bound = st.resetToSingletons()
    (0 until 300).foreach { i =>
      // id-space holes keep their singleton label
      val want = if (realIds(i.toLong)) movedM(i.toLong) else i.toLong
      assert(bound(i) === want, s"bound id=$i")
    }
    val (itRA, mvRA) = CsrSweep.run(st, m, 1.0, 1e-9, 50,
      boundArr = Some(bound), refineSingletons = true)
    assert(itRA === itRC); assert(mvRA === mvRC)
    realIds.foreach(id => assert(st.comm(id.toInt) === refM(id), s"refine id=$id"))
    st.close()
    csr.unpersist(); edges.unpersist()
  }

  test("packed-CSR half-sweep equals the legacy sweep from a blocked state") {
    val rnd = new Random(7)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 400; b <- a + 1 until 400)
      if (rnd.nextDouble() < (if ((a / 40) == (b / 40)) 0.25 else 0.01))
        es += ((a.toLong, b.toLong, 1.0))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vw = EdgeTable.vertexWeights(edges)
    val st0 = vw.select(col("id"), pmod(col("id"), lit(16)).as("comm"),
      col("vtot"), lit(true).as("aff"))
    val vt = new Array[Double](400)
    vw.collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
    def memb(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "comm").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val realIds = vw.select("id").collect().map(_.getLong(0))
    val csr = CsrSweep.build(edges, 400).cache()
    for (parity <- 0 to 1) {
      val legacy = LocalMove.sweep(edges, st0, m, 1.0, parity)
      val comm0 = (0 until 400).map(i => (i % 16).toLong).toArray
      val st = CsrSweep.init(csr, 400, vt, comm0, Array.fill[Byte](50)(-1))
      val (mvC, _) = CsrSweep.halfSweep(st, m, 1.0, parity)
      assert(mvC === legacy.moves, s"parity=$parity")
      val legacyM = memb(legacy.state)
      realIds.foreach { id =>
        assert(st.comm(id.toInt) === legacyM(id), s"id=$id parity=$parity")
      }
      st.close()
    }
    csr.unpersist(); edges.unpersist()
  }

  test("packed-CSR tier equals the array tier across move and refine phases") {
    // full-run parity including the non-moving half-sweeps near
    // convergence: the folded frontier (acc/seedAlive algebra) must visit
    // the same iteration count, move counts, and final membership as the
    // driver-array reference's explicit bits recurrence
    val rnd = new Random(19)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 300; b <- a + 1 until 300)
      if (rnd.nextDouble() < (if ((a / 30) == (b / 30)) 0.3 else 0.015))
        es += ((a.toLong, b.toLong, 1.0))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vw = EdgeTable.vertexWeights(edges)
    val vt = new Array[Double](300)
    vw.collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))

    val stA = new ArrayTier(edges.select("src", "dst", "w").collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))), 300, vt)
    val (itMA, mvMA) = stA.run(m, 1.0, 1e-9, 50)
    val boundA = stA.resetToSingletons()
    val (itRA, mvRA) = stA.run(m, 1.0, 1e-9, 50,
      bound = Some(boundA), refineSingletons = true)

    val csr = CsrSweep.build(edges, 300).cache()
    val stC = CsrSweep.singleton(csr, 300, vt)
    val (itMC, mvMC) = CsrSweep.run(stC, m, 1.0, 1e-9, 50)
    assert(itMC === itMA); assert(mvMC === mvMA)
    val boundC = stC.resetToSingletons()
    assert(boundC.toSeq === boundA.toSeq)
    val (itRC, mvRC) = CsrSweep.run(stC, m, 1.0, 1e-9, 50,
      boundArr = Some(boundC), refineSingletons = true)
    assert(itRC === itRA); assert(mvRC === mvRA)
    assert(stC.comm.toSeq === stA.comm.toSeq)
    stC.close()
    csr.unpersist(); edges.unpersist()
  }

  test("a restored CSR sweep state replays the same move+refine run") {
    // a state dirtied by one half-sweep and rewound with restore(snap0)
    // must replay a fresh state's run exactly; a 50-iteration cap over
    // both phases crosses sweeps with zero moves and the
    // resetToSingletons re-init
    val rnd = new Random(19)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 300; b <- a + 1 until 300)
      if (rnd.nextDouble() < (if ((a / 30) == (b / 30)) 0.3 else 0.015))
        es += ((a.toLong, b.toLong, 1.0))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vw = EdgeTable.vertexWeights(edges)
    val vt = new Array[Double](300)
    vw.collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
    val csr = CsrSweep.build(edges, 300).cache()

    val stF = CsrSweep.singleton(csr, 300, vt)
    val (itMF, mvMF) = CsrSweep.run(stF, m, 1.0, 1e-9, 50)
    val boundF = stF.resetToSingletons()
    val (itRF, mvRF) = CsrSweep.run(stF, m, 1.0, 1e-9, 50,
      boundArr = Some(boundF), refineSingletons = true)

    val stD = CsrSweep.singleton(csr, 300, vt)
    val snap0 = stD.snapshot()
    CsrSweep.halfSweep(stD, m, 1.0, 0) // dirty the state, then rewind
    stD.restore(snap0)
    val (itMD, mvMD) = CsrSweep.run(stD, m, 1.0, 1e-9, 50)
    assert(itMD === itMF); assert(mvMD === mvMF)
    val boundD = stD.resetToSingletons()
    assert(boundD.toSeq === boundF.toSeq)
    val (itRD, mvRD) = CsrSweep.run(stD, m, 1.0, 1e-9, 50,
      boundArr = Some(boundD), refineSingletons = true)
    assert(itRD === itRF); assert(mvRD === mvRF)
    assert(stD.comm.toSeq === stF.comm.toSeq)
    stF.close(); stD.close()
    csr.unpersist(); edges.unpersist()
  }

  test("packed-CSR tier equals the column tier on NON-integral weights") {
    // fractional weights fail CsrState.integral, so every half-sweep
    // rebuilds the community totals from scratch on the driver — the
    // branch the incremental driver totals do NOT cover. Parity with the
    // column tier across move+refine proves the rebuild: stale totals
    // would surface as diverged moves here.
    val rnd = new Random(31)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 300; b <- a + 1 until 300)
      if (rnd.nextDouble() < (if ((a / 30) == (b / 30)) 0.3 else 0.015))
        es += ((a.toLong, b.toLong, 0.25 + (a * 31 + b) % 7 * 0.125))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vw = EdgeTable.vertexWeights(edges)
    val (movedM, refM, itMA, mvMA, itRA, mvRA) = columnRun(edges, vw, m)
    val realIds = vw.select("id").collect().map(_.getLong(0))

    val vt = new Array[Double](300)
    vw.collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
    val csr = CsrSweep.build(edges, 300).cache()
    val stC = CsrSweep.singleton(csr, 300, vt)
    assert(!stC.integral, "fixture must take the non-integral rebuild path")
    val (itMC, mvMC) = CsrSweep.run(stC, m, 1.0, 1e-9, 50)
    assert(itMC === itMA); assert(mvMC === mvMA)
    realIds.foreach(id => assert(stC.comm(id.toInt) === movedM(id), s"move id=$id"))
    val boundC = stC.resetToSingletons()
    val (itRC, mvRC) = CsrSweep.run(stC, m, 1.0, 1e-9, 50,
      boundArr = Some(boundC), refineSingletons = true)
    assert(itRC === itRA); assert(mvRC === mvRA)
    realIds.foreach(id => assert(stC.comm(id.toInt) === refM(id), s"refine id=$id"))
    stC.close()
    csr.unpersist(); edges.unpersist()
  }

  test("packed-CSR vs column tier on NON-DYADIC weights: quality parity within tolerance") {
    // Arbitrary decimal weights (0.1 + k*0.3 — NOT binary fractions) void
    // the bit-parity contract: the CSR tier's dst-sorted accumulation
    // reorders double additions within a src, so a near-tie argmax can
    // legitimately flip between tiers (CsrSweep scaladoc, "Non-dyadic
    // weights"). What MUST still hold: both tiers converge,
    // and the partitions they land are quality-equivalent — modularity of
    // each tier's own membership within 1e-3 absolute on a Q≈0.6 fixture
    // (a tie flip near ΔQ=0 moves Q by ~the tie margin, not by structure).
    val rnd = new Random(47)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 240; b <- a + 1 until 240)
      if (rnd.nextDouble() < (if ((a / 40) == (b / 40)) 0.3 else 0.01))
        es += ((a.toLong, b.toLong, 0.1 + (a * 17 + b) % 5 * 0.3))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vw = EdgeTable.vertexWeights(edges)
    val vt = new Array[Double](240)
    vw.collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))

    val (movedA, _, _) = LocalMove.run(edges,
      vw.select(col("id"), col("id").as("comm"), col("vtot"), lit(true).as("aff")),
      m, 1.0, 1e-9, 50, broadcastCt = true, broadcastMembership = true)
    val csr = CsrSweep.build(edges, 240).cache()
    val stC = CsrSweep.singleton(csr, 240, vt)
    assert(!stC.integral)
    CsrSweep.run(stC, m, 1.0, 1e-9, 50)

    val qa = Modularity.modularity(edges, movedA.select("id", "comm"), m)
    val qc = {
      import spark.implicits._
      val memb = stC.comm.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
        .toDF("id", "comm")
      Modularity.modularity(edges, memb, m)
    }
    assert(qa > 0.3 && qc > 0.3, s"fixture must cluster: $qa / $qc")
    assert(math.abs(qa - qc) < 1e-3, s"tier quality diverged: $qa vs $qc")
    stC.close()
    csr.unpersist(); edges.unpersist()
  }

  test("end-to-end Leiden: the CSR tier equals the LocalMove tier across passes") {
    // multi-pass detect parity: coarsened passes arrive (src,dst)-hash
    // partitioned, exercising build()'s repartition-to-src requirement;
    // localSolveEdgeThreshold = 0 keeps every pass on the distributed
    // tiers. Shifting every id by FrontierBitsMax makes the dense gate
    // decline, so the shifted run takes LocalMove on every pass (coarsening
    // keeps community labels, which stay shifted) while the plain run
    // takes CsrSweep.
    val rnd = new Random(23)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 360; b <- a + 1 until 360)
      if (rnd.nextDouble() < (if ((a / 24) == (b / 24)) 0.35 else 0.008))
        es += ((a.toLong, b.toLong, 1.0))
    val shift = LocalMove.FrontierBitsMax
    val opts = LeidenOptions(localSolveEdgeThreshold = 0)
    val rc = Leiden.detect(EdgeTable.undirected(spark, es.result()), opts)
    val rl = Leiden.detect(EdgeTable.undirected(spark,
      es.result().map { case (a, b, w) => (a + shift, b + shift, w) }), opts)
    assert(rc.phaseMillis.contains("csrbuild"), rc.phaseMillis.toString)
    assert(!rl.phaseMillis.contains("csrbuild"), rl.phaseMillis.toString)
    assert(rl.iterations === rc.iterations)
    assert(rl.passes === rc.passes)
    assert(rl.communities === rc.communities)
    assert(math.abs(rl.modularity - rc.modularity) < 1e-12, s"${rl.modularity} vs ${rc.modularity}")
    def partition(memb: org.apache.spark.sql.DataFrame, by: Long): Set[Set[Long]] =
      memb.collect().groupBy(_.getLong(1)).values.map(_.map(_.getLong(0) - by).toSet).toSet
    assert(partition(rl.membership, shift) === partition(rc.membership, 0L))
  }

  /** Symmetric planted-block graph over ids 0..n-1 with weights `w(a, b)`. */
  def blocks(n: Int, block: Int, seed: Int, w: (Int, Int) => Double): Seq[(Long, Long, Double)] = {
    val rnd = new Random(seed)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until n; b <- a + 1 until n)
      if (rnd.nextDouble() < (if (a / block == b / block) 0.35 else 0.008))
        es += ((a.toLong, b.toLong, w(a, b)))
    es.result()
  }

  test("end-to-end Leiden: the driver-array leaf equals the DataFrame leaf") {
    // Plain ids keep the leaf membership on the driver (dense pass 0, then
    // dense passes or the local tail); ids shifted by FrontierBitsMax make
    // every pass take LocalMove and keep the leaf a checkpointed DataFrame.
    // Composition, counts and Q must not depend on where the leaf lives,
    // on integral and on non-dyadic weights, with and without the tail.
    val shift = LocalMove.FrontierBitsMax
    for ((name, es) <- Seq(
        "integral" -> blocks(300, 25, 41, (a, b) => 1.0 + (a + b) % 3),
        "non-dyadic" -> blocks(300, 25, 43, (a, b) => 0.1 + (a * 13 + b) % 7 * 0.3))) {
      val rows = EdgeTable.undirected(spark, es).count()
      for (threshold <- Seq(0L, rows - 1)) {
        val opts = LeidenOptions(localSolveEdgeThreshold = threshold)
        val what = s"$name, tail threshold $threshold"
        val rc = Leiden.detect(EdgeTable.undirected(spark, es), opts)
        val rl = Leiden.detect(EdgeTable.undirected(spark,
          es.map { case (a, b, w) => (a + shift, b + shift, w) }), opts)
        assert(rc.phaseMillis.contains("csrbuild"), s"$what: ${rc.phaseMillis}")
        assert(!rl.phaseMillis.contains("csrbuild"), s"$what: ${rl.phaseMillis}")
        assert(rc.phaseMillis.contains("localtail") === (threshold > 0), s"$what: ${rc.phaseMillis}")
        assert(rl.iterations === rc.iterations, what)
        assert(rl.passes === rc.passes, what)
        assert(rc.passes > 1, s"$what: fixture must coarsen")
        assert(rl.communities === rc.communities, what)
        assert(math.abs(rl.modularity - rc.modularity) < 1e-12,
          s"$what: ${rl.modularity} vs ${rc.modularity}")
        def memb(df: org.apache.spark.sql.DataFrame, by: Long): Map[Long, Long] =
          df.collect().map(r => (r.getLong(0) - by) -> (r.getLong(1) - by)).toMap
        val mc = memb(rc.membership, 0L)
        assert(mc.size === 300, what)
        assert(memb(rl.membership, shift) === mc, what)
        assert(rc.membership.schema === rl.membership.schema, what)
      }
    }
  }

  /** Phase tag of every job `f` starts (null = untagged), and f's result. */
  def jobPhases[T](f: => T): (Seq[String], T) = {
    val phases = scala.collection.mutable.ArrayBuffer[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        phases.synchronized {
          phases += Option(e.properties).map(_.getProperty(Leiden.PhaseProperty)).orNull
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.PlanUtils.drainListenerBus(spark)
    sc.addSparkListener(l)
    val r = try {
      val r = f
      org.apache.spark.sql.graft.PlanUtils.drainListenerBus(spark)
      r
    } finally sc.removeSparkListener(l)
    (phases.synchronized(phases.toList), r)
  }

  test("dense detect ending in the local tail: no compose, count or gate job, one modularity job") {
    val es = blocks(300, 25, 41, (_, _) => 1.0)
    val edges = EdgeTable.undirected(spark, es).cache()
    val rows = edges.count()
    val (phases, r) = jobPhases(
      Leiden.detect(edges, LeidenOptions(localSolveEdgeThreshold = rows - 1)))
    assert(r.phaseMillis.contains("csrbuild") && r.phaseMillis.contains("localtail"),
      r.phaseMillis.toString)
    val byPhase = phases.groupBy(identity).map { case (k, v) => k -> v.size }
    // every job runs inside a phase: the local-tail gate reads row counts
    // that earlier jobs already produced instead of counting again
    assert(!byPhase.contains(null), s"untagged jobs: $byPhase")
    assert(!byPhase.contains("compose"), byPhase.toString)
    assert(!byPhase.contains("finalcount"), byPhase.toString)
    assert(byPhase.get("modularity") === Some(1), byPhase.toString)
    // the dense pass coarsens its pinned blocks in-process, and the coarse
    // rows, under the gate, enter the tail from the driver: no job in either
    assert(!byPhase.contains("aggregate"), byPhase.toString)
    assert(!byPhase.contains("localtail"), byPhase.toString)
    // on a local master the dense pass's one csrbuild job also pins its
    // blocks on the driver, and every half-sweep scans them in-process
    assert(byPhase.get("csrbuild") === Some(1), byPhase.toString)
    assert(!byPhase.contains("firstpass") && !byPhase.contains("move") &&
      !byPhase.contains("refine"), byPhase.toString)
    edges.unpersist()
  }

  test("detect tags its jobs with the phase property and restores the caller's value") {
    val es = blocks(120, 30, 42, (_, _) => 1.0)
    val sc = spark.sparkContext
    sc.setLocalProperty(Leiden.PhaseProperty, "caller")
    val (phases, r) = try jobPhases(
      Leiden.detect(EdgeTable.undirected(spark, es), LeidenOptions(localSolveEdgeThreshold = 0)))
    finally assert(sc.getLocalProperty(Leiden.PhaseProperty) === "caller")
    sc.setLocalProperty(Leiden.PhaseProperty, null)
    // the first pass's half-sweeps run no job on a local master: its
    // csrbuild job carries the tag, and the phase is still timed
    assert(phases.contains("csrbuild"), phases.toString)
    assert(r.phaseMillis.contains("firstpass"), r.phaseMillis.toString)
    assert(phases.contains("modularity"), phases.toString)
  }

  test("srcComplete hash blocks fold dq bit-for-bit as range blocks on NON-DYADIC weights") {
    // hash(src) blocks interleave src ranges; the driver must still fold
    // the movers' dq in ascending src, so dq — which decides termination —
    // is the same double as under range blocks
    val n = 300
    val es = blocks(n, 30, 53, (a, b) => 0.1 + (a * 17 + b) % 5 * 0.3)
    val edges = EdgeTable.undirected(spark, es).repartition(4, col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    val vt = new Array[Double](n)
    EdgeTable.vertexWeights(edges).collect().foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
    val hashCsr = CsrSweep.build(edges, n, srcComplete = true).cache()
    val rangeCsr = CsrSweep.build(edges, n).cache()
    val hashSrcs = hashCsr.collect().map(_.srcs)
    assert(hashSrcs.length > 1 && hashSrcs.exists(s => s.last - s.head > n / 2),
      "fixture must interleave src ranges across blocks")
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val sh = CsrSweep.singleton(hashCsr, n, vt)
    val sr = CsrSweep.singleton(rangeCsr, n, vt)
    assert(!sh.integral)
    var sweeps = 0; var moved = true
    while (moved && sweeps < 40) {
      val (mh, dh) = CsrSweep.halfSweep(sh, m, 1.0, sweeps % 2)
      val (mr, dr) = CsrSweep.halfSweep(sr, m, 1.0, sweeps % 2)
      assert(mh === mr, s"sweep $sweeps")
      assert(bits(dh) === bits(dr), s"sweep $sweeps: dq $dh vs $dr")
      assert(sh.comm.sameElements(sr.comm), s"sweep $sweeps")
      moved = mh > 0 || sweeps % 2 == 0
      sweeps += 1
    }
    assert(sweeps > 4, "fixture must take several moving sweeps")
    sh.close(); sr.close()
    // the full run: move then refine, iterations and moves alike
    val rh = CsrSweep.singleton(hashCsr, n, vt)
    val rr = CsrSweep.singleton(rangeCsr, n, vt)
    assert(CsrSweep.run(rh, m, 1.0, 1e-6, 50) === CsrSweep.run(rr, m, 1.0, 1e-6, 50))
    val bh = rh.resetToSingletons(); val br = rr.resetToSingletons()
    assert(CsrSweep.run(rh, m, 1.0, 1e-6, 50, boundArr = Some(bh), refineSingletons = true) ===
      CsrSweep.run(rr, m, 1.0, 1e-6, 50, boundArr = Some(br), refineSingletons = true))
    assert(rh.comm.sameElements(rr.comm))
    rh.close(); rr.close()
    hashCsr.unpersist(); rangeCsr.unpersist(); edges.unpersist()
  }

  test("a hash block with a large src span packs into the same CsrBlock as the range path") {
    // one hash-partitioned block spans ~n ids for a few dozen rows: the
    // pack buckets it by sort, not by two span-sized arrays; the range
    // path's block of the same rows, and the counting sort forced on
    // them, must come out identical
    val n = 200000
    val ids = Seq(0, 3, 17, 18, 50000, 99999, 150001, 199999).map(_.toLong)
    def same(a: CsrSweep.CsrBlock, b: CsrSweep.CsrBlock): Boolean = {
      import java.util.Arrays.{equals => arrEq}
      arrEq(a.srcs, b.srcs) && arrEq(a.off, b.off) && arrEq(a.dst, b.dst) && arrEq(a.w, b.w) &&
        arrEq(a.packed, b.packed) && arrEq(a.widths, b.widths) && arrEq(a.bitOff, b.bitOff)
    }
    for ((name, w) <- Seq[(String, (Long, Long) => Double)](
        "unit" -> ((_, _) => 1.0), "weighted" -> ((a, b) => 0.5 + (a + b) % 3))) {
      val es = for (a <- ids; b <- ids if a < b && (a + b) % 3 != 1) yield (a, b, w(a, b))
      val edges = EdgeTable.undirected(spark, es).repartition(1, col("src")).cache()
      val hash = CsrSweep.build(edges, n, srcComplete = true).collect()
      val range = CsrSweep.build(edges, n, parts = 1).collect()
      val packed = graft.graph.Packed.collect(
        edges.select(col("src").cast("int"), col("dst").cast("int"), col("w").cast("double")))
      val counted = CsrSweep.toBlock(packed, CsrSweep.PackGaps, bySort = Some(false))
      val sorted = CsrSweep.toBlock(packed, CsrSweep.PackGaps, bySort = Some(true))
      assert(hash.length === 1 && range.length === 1, name)
      assert(same(sorted, counted), name)
      assert(same(hash(0), counted), s"$name: hash block")
      assert(same(range(0), counted), s"$name: range block")
      edges.unpersist()
    }
  }

  test("frontier-bitmap run equals the column-path run across full phases") {
    // multi-iteration LocalMove.run parity: the bitmap tier must converge
    // through the SAME states (same iterations, moves, membership) as the
    // aff-column path, on a graph messy enough to need several sweeps
    val rnd = new Random(19)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 300; b <- a + 1 until 300)
      if (rnd.nextDouble() < (if ((a / 30) == (b / 30)) 0.3 else 0.015))
        es += ((a.toLong, b.toLong, 1.0))
    val edges = EdgeTable.undirected(spark, es.result())
      .repartition(col("src")).cache()
    val m = EdgeTable.totalWeight(edges) / 2
    def st0 = EdgeTable.vertexWeights(edges)
      .select(col("id"), col("id").as("comm"), col("vtot"), lit(true).as("aff"))
    val (plain, itP, mvP) = LocalMove.run(edges, st0, m, 1.0, 1e-9, 50,
      broadcastCt = true, broadcastMembership = true)
    val (viaBits, itB, mvB) = LocalMove.run(edges, st0, m, 1.0, 1e-9, 50,
      broadcastCt = true, broadcastMembership = true, frontierBits = 300)
    assert(itB === itP); assert(mvB === mvP)
    def memb(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "comm").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(memb(viaBits) === memb(plain))
    edges.unpersist()
  }

  test("driver-local tail solver equals the distributed path bit-for-bit on exact-weight graphs") {
    val ring = {
      val k = 6; val s = 5
      val cliques = (0 until k).flatMap(c => clique((c * s).toLong until (c * s + s).toLong))
      val bridge = (0 until k).map(c => ((c * s).toLong, (((c + 1) % k) * s + 1).toLong, 1.0))
      cliques ++ bridge
    }
    val sbm = {
      val rnd = new Random(42)
      val es = Seq.newBuilder[(Long, Long, Double)]
      for (a <- 0 until 120; b <- a + 1 until 120)
        if (rnd.nextDouble() < (if (a / 30 == b / 30) 0.3 else 0.01)) es += ((a.toLong, b.toLong, 1.0))
      es.result()
    }
    // hub-heavy, as Cli.fixtureEdges: dst = floor(u^3 * src), so hubs see
    // more than 64 neighbor communities and the MG-64 sketch evicts
    val hubs = {
      val rnd = new Random(9)
      val es = scala.collection.mutable.LinkedHashSet[(Long, Long, Double)]()
      for (s <- 1 until 600; _ <- 0 until 8) {
        val d = (math.pow(rnd.nextDouble(), 3) * s).toLong
        if (d != s) es += ((math.min(s, d), math.max(s, d), 1.0))
      }
      es.toSeq
    }
    // the tail scans with the sketch the options ask for: every width, with
    // the sketch on at every pass size
    val shift = LocalMove.FrontierBitsMax
    for ((name, es) <- Seq("ring" -> ring, "sbm" -> sbm, "hubs" -> hubs); slots <- Seq(0, 64, 1)) {
      val what = s"$name, sketchSlots $slots"
      val opts = LeidenOptions(sketchSlots = slots, sketchExactCutoff = 0)
      val edges = EdgeTable.undirected(spark, es)
      val local = Leiden.detect(edges, opts) // default threshold: whole run is local
      val dist = Leiden.detect(edges, opts.copy(localSolveEdgeThreshold = 0))
      assert(local.phaseMillis.contains("localtail") && !local.phaseMillis.contains("csrbuild"),
        s"$what: ${local.phaseMillis}")
      assert(local.modularity === dist.modularity, s"$what: ${local.modularity} vs ${dist.modularity}")
      assert(local.membership.except(dist.membership).count() === 0L, what)
      assert(dist.membership.except(local.membership).count() === 0L, what)
      assert(local.iterations === dist.iterations, s"$what iter parity")
      assert(local.passes === dist.passes, s"$what pass parity")
      // the same graph over ids out of the dense id space: a whole-tail
      // run from a DataFrame leaf gives the same un-shifted partition
      val shifted = Leiden.detect(EdgeTable.undirected(spark,
        es.map { case (a, b, w) => (a + shift, b + shift, w) }), opts)
      assert(shifted.phaseMillis.contains("localtail") && !shifted.phaseMillis.contains("csrbuild"),
        s"$what shifted: ${shifted.phaseMillis}")
      def memb(df: org.apache.spark.sql.DataFrame, by: Long): Map[Long, Long] =
        df.collect().map(r => (r.getLong(0) - by) -> (r.getLong(1) - by)).toMap
      assert(memb(shifted.membership, shift) === memb(dist.membership, 0L), s"$what shifted")
      assert(shifted.iterations === dist.iterations, s"$what shifted iter parity")
      assert(shifted.passes === dist.passes, s"$what shifted pass parity")
      assert(math.abs(shifted.modularity - dist.modularity) < 1e-12,
        s"$what shifted: ${shifted.modularity} vs ${dist.modularity}")
    }
  }

  test("kill-and-resume: continuing from a pass snapshot reproduces the full run (M6)") {
    val rnd = new Random(7)
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until 90; b <- a + 1 until 90) {
      val p = if (a / 30 == b / 30) 0.3 else 0.02
      if (rnd.nextDouble() < p) es += ((a.toLong, b.toLong, 1.0))
    }
    val edges = EdgeTable.undirected(spark, es.result()).cache()
    // distributed machinery under test: disable the driver-local tail
    val full = Leiden.detect(edges, LeidenOptions(localSolveEdgeThreshold = 0))
    val dir = java.nio.file.Files.createTempDirectory("resume").toString
    // "kill" after the first aggregation: cap passes so only early
    // snapshots are committed
    val partial = Leiden.detect(edges, LeidenOptions(maxPasses = 2, snapshotDir = Some(dir),
      localSolveEdgeThreshold = 0))
    assert(graft.io.Snapshots.committed(dir, "leiden").nonEmpty)
    // resume picks up the last committed pass and must land on the exact
    // same final membership as the uninterrupted run
    val resumed = Leiden.detect(edges, LeidenOptions(snapshotDir = Some(dir),
      localSolveEdgeThreshold = 0))
    assert(resumed.modularity === full.modularity)
    assert(resumed.membership.except(full.membership).count() === 0L)
    assert(full.membership.except(resumed.membership).count() === 0L)
  }

  test("incremental re-run: batch-seeded affected set reproduces the from-scratch membership") {
    val spark2 = spark
    import spark2.implicits._
    // three 6-cliques, light bridges between consecutive cliques
    val cliques = (0 until 3).flatMap(c => clique((c * 6).toLong until (c * 6 + 6).toLong))
    val bridges = Seq((5L, 6L, 1.0), (11L, 12L, 1.0))
    val edges = EdgeTable.undirected(spark, cliques ++ bridges).cache()
    val r0 = Leiden.detect(edges)
    assert(r0.communities === 3L)

    // batch: vertex 0 defects — delete its clique-A edges, wire it into clique C
    val dels = (1L to 5L).map(v => (0L, v, 1.0)).toDF("src", "dst", "w")
    val ins = (12L to 17L).map(v => (0L, v, 1.0)).toDF("src", "dst", "w")
    val updated = graft.graph.Batch.apply(edges, ins, dels, symmetric = true).cache()

    // distributed fm/fi wiring under test: disable the driver-local tail
    val scratch = Leiden.detect(updated, LeidenOptions(localSolveEdgeThreshold = 0))
    // fm hook: only the batch's endpoints start affected; fi hook: communities
    // start from the previous membership
    val touched = (Seq(0L) ++ (1L to 5L) ++ (12L to 17L)).toDF("id")
    val inc = Leiden.detect(updated, LeidenOptions(localSolveEdgeThreshold = 0),
      prevMembership = Some(r0.membership), affected = Some(touched))

    def partition(m: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      m.collect().groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
    assert(partition(inc.membership) === partition(scratch.membership))
    assert(approx(inc.modularity, scratch.modularity, 1e-9),
      s"inc=${inc.modularity} scratch=${scratch.modularity}")

    // GraphStream's path: the default threshold runs both wholly in the
    // local tail, which takes the fi/fm hooks itself
    val scratchT = Leiden.detect(updated)
    val incT = Leiden.detect(updated, prevMembership = Some(r0.membership), affected = Some(touched))
    assert(incT.phaseMillis.contains("localtail") && !incT.phaseMillis.contains("csrbuild"),
      incT.phaseMillis.toString)
    assert(partition(scratchT.membership) === partition(scratch.membership))
    assert(incT.membership.except(inc.membership).count() === 0L)
    assert(inc.membership.except(incT.membership).count() === 0L)
    assert(incT.iterations === inc.iterations)
    assert(approx(incT.modularity, inc.modularity, 1e-12),
      s"incT=${incT.modularity} inc=${inc.modularity}")
    edges.unpersist(); updated.unpersist()
  }

  test("aggregate.coarsen: super-edges carry intra weight as self loops") {
    val spark2 = spark
    import spark2.implicits._
    val edges = EdgeTable.undirected(spark, clique(0L to 2L) ++ Seq((2L, 3L, 1.0)) ++ clique(3L to 5L))
    val memb = (0L to 5L).map(i => (i, if (i < 3) 0L else 1L)).toDF("id", "comm")
    val coarse = Aggregate.coarsen(edges, memb).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(coarse === Map((0L, 0L) -> 6.0, (1L, 1L) -> 6.0, (0L, 1L) -> 1.0, (1L, 0L) -> 1.0))
    // the local tail's driver coarsen, one block in one slice: the same
    // rows, sorted by (src, dst)
    val rows = graft.graph.Packed.collect(edges.select(col("src").cast("int"),
      col("dst").cast("int"), col("w").cast("double")))
    val driver = Aggregate.coarsenBlocks(Array(CsrSweep.toBlock(rows, CsrSweep.PackGaps)),
      Array(0L, 0L, 0L, 1L, 1L, 1L), 1)(0)
    assert(driver.ints(0).toSeq === Seq(0, 0, 1, 1) && driver.ints(1).toSeq === Seq(0, 1, 0, 1))
    assert(driver.ints(0).indices.map(i => ((driver.ints(0)(i).toLong, driver.ints(1)(i).toLong),
      driver.doubles(2)(i))).toMap === coarse)
  }

  def bitsOf(m: Map[(Long, Long), Double]): Map[(Long, Long), Long] =
    m.map { case (k, w) => k -> java.lang.Double.doubleToRawLongBits(w) }

  test("aggregate.coarsenBlocks equals the coarsen join on unit, weighted, hash and range blocks") {
    val spark2 = spark
    import spark2.implicits._
    val n = 300
    // blocks of 9 with every 11th vertex a singleton; ids stay below n
    val comm = Array.tabulate(n)(v => if (v % 11 == 0) v.toLong else (v / 9 * 9).toLong)
    val memb = comm.indices.map(v => (v.toLong, comm(v))).toDF("id", "comm")
    def withLoops(es: Seq[(Long, Long, Double)], w: Double) =
      es ++ (0 until n by 13).map(v => (v.toLong, v.toLong, w))
    val p = spark.sparkContext.defaultParallelism
    for ((name, es, integral) <- Seq(
        ("unit", withLoops(blocks(n, 25, 61, (_, _) => 1.0), 1.0), true),
        ("weighted", withLoops(blocks(n, 25, 62, (a, b) => 1.0 + (a + b) % 3), 2.0), true),
        ("non-dyadic", withLoops(blocks(n, 25, 63, (a, b) => 0.1 + (a * 13 + b) % 7 * 0.3), 0.7),
          false))) {
      val edges = EdgeTable.undirected(spark, es).repartition(4, col("src")).cache()
      val oracle = Aggregate.coarsen(edges, memb).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(oracle.keys.exists { case (a, b) => a == b }, s"$name: fixture must keep self loops")
      for ((kind, csr) <- Seq(
          "hash" -> CsrSweep.build(edges, n, srcComplete = true),
          "range" -> CsrSweep.build(edges, n))) {
        val what = s"$name, $kind blocks"
        val blks = csr.collect()
        assert(blks.length > 1, what)
        assert(blks.forall(b => (b.dst == null) == (name == "unit")), s"$what: block layout")
        // the slices' rows, one after another, sorted by (src, dst)
        def run(slices: Int): Seq[(Int, Int, Long)] = {
          val (phases, ss) = jobPhases(Aggregate.coarsenBlocks(blks, comm, slices))
          assert(phases.isEmpty, s"$what, $slices slices: $phases")
          assert(ss.length === slices, what)
          ss.foreach { s =>
            val keys = s.ints(0).indices.map(i => (s.ints(0)(i).toLong << 32) | s.ints(1)(i))
            assert(keys === keys.sorted && keys.distinct.size === keys.size, s"$what: a slice's order")
          }
          ss.flatMap(s => s.ints(0).indices.map(i =>
            (s.ints(0)(i), s.ints(1)(i), java.lang.Double.doubleToRawLongBits(s.doubles(2)(i)))))
            .toSeq.sortBy(r => (r._1, r._2))
        }
        val got = run(p)
        val gotMap = got.map(r => (r._1.toLong, r._2.toLong) -> java.lang.Double.longBitsToDouble(r._3)).toMap
        assert(got.size === oracle.size && gotMap.keySet === oracle.keySet, what)
        if (integral) assert(bitsOf(gotMap) === bitsOf(oracle), what)
        else {
          gotMap.foreach { case (k, w) => assert(math.abs(w - oracle(k)) <= 1e-12, s"$what: $k") }
          assert(run(p) === got, s"$what: a second run over the same blocks")
        }
        // the local tail's one slice, and an odd count, sum the same doubles
        for (slices <- Seq(1, 3)) assert(run(slices) === got, s"$what, $slices slices")
      }
      edges.unpersist()
    }
  }

  test("aggregate.coarsenBlocks: the coarse slices are checkpointed at MEMORY_AND_DISK, cut from the CSR blocks") {
    val n = 200
    val edges = EdgeTable.undirected(spark, blocks(n, 20, 71, (_, _) => 1.0)).cache()
    val csr = CsrSweep.build(edges, n).cache()
    val comm = Array.tabulate(n)(v => (v / 20 * 20).toLong)
    // the frame of a coarse graph above the local tail's gate: one job
    val slices =
      Aggregate.coarsenBlocks(CsrSweep.pin(csr), comm, spark.sparkContext.defaultParallelism)
    val rows = slices.map(_.size.toLong).sum
    val (phases, frame) = jobPhases(Aggregate.slicesFrame(spark, slices))
    assert(phases.size === 1, phases.toString)
    assert(CsrSweep.handoffSize === 0, "the slices' handoff is closed with its job")
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val frameRdds = frame.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(frameRdds.nonEmpty)
    frameRdds.foreach { r =>
      val held = lineage(r).filter(_.isCheckpointed)
      assert(held.size === 1, r.toDebugString)
      assert(held.head.getStorageLevel === org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assert(!lineage(r).exists(_.id == csr.id), r.toDebugString)
    }
    assert(frame.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ===
      Seq(("src", "bigint", false), ("dst", "bigint", false), ("w", "double", false)))
    // the blocks gone, the coarse rows still read back without them
    csr.unpersist(blocking = true)
    assert(frame.count() === rows)
    assert(frame.agg(sum("w")).head.getDouble(0) === edges.agg(sum("w")).head.getDouble(0))
    org.apache.spark.sql.graft.PlanUtils.release(frame)
    edges.unpersist()
  }

  test("compose maps leaf communities through the next level") {
    val spark2 = spark
    import spark2.implicits._
    val leaf = Seq((0L, 10L), (1L, 10L), (2L, 20L)).toDF("id", "comm")
    val level = Seq((10L, 100L), (20L, 200L)).toDF("id", "comm")
    val c = Aggregate.compose(leaf, level).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c === Map(0L -> 100L, 1L -> 100L, 2L -> 200L))
  }

  test("renumber produces dense 0..C-1 ids deterministically") {
    val spark2 = spark
    import spark2.implicits._
    val memb = Seq((0L, 77L), (1L, 5L), (2L, 77L), (3L, 9000L)).toDF("id", "comm")
    val d = Aggregate.renumber(memb).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 2L))
  }
}

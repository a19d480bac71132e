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

  test("delta-broadcast CSR sweep equals the full-broadcast sweep (move+refine)") {
    // delta mode (executor-shape payload: base snapshot + per-sweep move
    // deltas replayed into executor mirrors) forced on in local mode; a
    // 50-iteration cap over both phases crosses sweeps with zero moves
    // (empty-delta skip), resetToSingletons invalidation, and — via the
    // snapshot/restore below — the restore-destroys-chain path
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

    val stF = CsrSweep.singleton(csr, 300, vt, deltaBcast = Some(false))
    val (itMF, mvMF) = CsrSweep.run(stF, m, 1.0, 1e-9, 50)
    val boundF = stF.resetToSingletons()
    val (itRF, mvRF) = CsrSweep.run(stF, m, 1.0, 1e-9, 50,
      boundArr = Some(boundF), refineSingletons = true)

    val stD = CsrSweep.singleton(csr, 300, vt, deltaBcast = Some(true))
    assert(stD.deltaMode)
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
    // fractional weights fail CsrState.integral, putting every half-sweep
    // on the executor-side memoized derive path (CsrSweep.derive) with a
    // cloned membership per sweep — the branch the incremental driver
    // totals do NOT cover. Parity with the column tier across move+refine
    // proves the clone-per-sweep rule: a stale memo entry (in-place-mutated
    // commI reused as a key) would surface as diverged totals here.
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
    assert(!stC.integral, "fixture must take the non-integral derive path")
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
      EdgeTable.undirected(spark, cliques ++ bridge)
    }
    val sbm = {
      val rnd = new Random(42)
      val es = Seq.newBuilder[(Long, Long, Double)]
      for (a <- 0 until 120; b <- a + 1 until 120)
        if (rnd.nextDouble() < (if (a / 30 == b / 30) 0.3 else 0.01)) es += ((a.toLong, b.toLong, 1.0))
      EdgeTable.undirected(spark, es.result())
    }
    for ((name, edges) <- Seq("ring" -> ring, "sbm" -> sbm)) {
      val local = Leiden.detect(edges) // default threshold: whole run is local
      val dist = Leiden.detect(edges, LeidenOptions(localSolveEdgeThreshold = 0))
      assert(local.modularity === dist.modularity, s"$name: ${local.modularity} vs ${dist.modularity}")
      assert(local.membership.except(dist.membership).count() === 0L, name)
      assert(dist.membership.except(local.membership).count() === 0L, name)
      assert(local.iterations === dist.iterations, s"$name iter parity")
      assert(local.passes === dist.passes, s"$name pass parity")
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

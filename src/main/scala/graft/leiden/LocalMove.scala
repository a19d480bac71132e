package graft.leiden

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{NativeColumns, PlanUtils}

/** The Leiden local-moving phase as synchronous Catalyst supersteps.
  *
  * Reference: `leidenMoveOmpW` (`/root/reference/inc/leiden.hxx:409-435`) —
  * per iteration, every affected vertex scans its neighbor communities,
  * picks the best positive delta-Q move, applies it, and marks neighbors
  * affected. The reference's sweeps are asynchronous (threads observe
  * partially updated membership); a naive synchronous (Jacobi) translation
  * oscillates: mutually-linked vertices adopt each other's communities
  * forever. We therefore split each iteration into two deterministic
  * half-sweeps gated by vertex-id parity — vertices with even id move first
  * against the current snapshot, then odd ids against the half-updated one.
  * This is a 2-coloring schedule: deterministic, still bulk-parallel, and
  * breaks the symmetric-update cycles (same device as distributed Louvain's
  * vertex-coloring schedules). Community totals are recomputed exactly after
  * every half-sweep — correctness by construction instead of the reference's
  * relaxed atomics (`/root/reference/inc/leiden.hxx:359-384`).
  *
  * State DF columns: id, comm, vtot, aff.
  * One half-sweep = one edges-x-membership shuffle join (the J1 gather) +
  * hash aggregations (map-side combined) + small community-total joins that
  * AQE converts to broadcasts once communities have coarsened. The heavy
  * plan is materialized exactly once per half-sweep (checkpointTruncated),
  * then move stats and the next state derive from the materialized result.
  */
object LocalMove {

  /** `affBits` rides along only on the bitmap-frontier path (see
    * [[FrontierBits]]): the returned state's `aff` column and the bitmap
    * always agree bit-for-bit.
    */
  case class SweepResult(state: DataFrame, moves: Long, dqSum: Double,
                         affBits: Option[Array[Byte]] = None)

  /** Community totals from state: (comm, ctot, csize). */
  def communityTotals(state: DataFrame): DataFrame =
    state.groupBy("comm").agg(sum("vtot").as("ctot"), count(lit(1)).as("csize"))

  /** Mover-id broadcast cap for the dst-partitioned scan path: above this
    * many movers the broadcast (8 B/id) stops being worth shipping to every
    * executor and the sweep falls back to the legacy mover-pruned join.
    * 8M ids ≈ 64 MB — comfortably under executor memory at both local and
    * cluster sizes.
    */
  val BroadcastMoverMax: Long = 8000000L

  /** Vertex-count cap for broadcasting the community-totals table. C ≤ V
    * always, so gating on V is safe without counting communities per
    * half-sweep. 4M rows × ~28 B ≈ 112 MB — inside every executor size
    * this engine targets. Above it (10^9-vertex pass-0 web graphs) the
    * totals join stays a shuffle and AQE broadcasts it on its own once
    * coarsening shrinks C.
    */
  val CtBroadcastMax: Long = 4000000L

  /** Max-id bound (exclusive) for the frontier-bitmap tier — 2^26 ids =
    * an 8 MB bitmap, fine as a plan literal (it rides each stage's task
    * binary broadcast once per executor). The gate is on MAX ID, not
    * vertex count: a bitmap addresses the id space directly, so sparse id
    * spaces above the bound fall back to the aff-column path even when the
    * vertex COUNT fits CtBroadcastMax.
    */
  val FrontierBitsMax: Long = 1L << 26

  /** The zero-E-exchange gather plan (exposed for the PlanSpec pin): scan
    * the dst-partitioned edge cache in place, prune to this half-sweep's
    * movers with a broadcast semi-join, and probe the O(V) membership with
    * a shuffle-hash join whose BUILD side is the membership — the cached
    * O(E) side streams with no Exchange and no Sort (a hint-less plan
    * picks sort-merge here and re-sorts all E rows every half-sweep).
    */
  private[graft] def dstGather(edgesByDst: DataFrame, movers: DataFrame,
                                mdBase: DataFrame, parity: Int): DataFrame =
    edgesByDst
      .filter(col("src") =!= col("dst") && pmod(col("src"), lit(2)) === parity)
      .join(broadcast(movers), Seq("src"), "left_semi")
      .join(mdBase.hint("shuffle_hash"), "dst")
      .select(col("src"), col("cdst"), col("w"))

  /** The ZERO-candidate-exchange gather (exposed for the PlanSpec pin):
    * scan the MAIN src-partitioned edge cache in place and resolve
    * comm(dst) by BROADCASTING the whole O(V) membership (16 B/vertex;
    * gated by the caller on V ≤ CtBroadcastMax). Both joins are broadcasts,
    * so the scan output keeps the cache's src-hash partitioning — and
    * because checkpointTruncated (PlanUtils) preserves the state's id-hash
    * partitioning, everything downstream of this gather is partition-local
    * too: groupBy(src,cdst) needs no exchange (src-hash satisfies the
    * clustering), the mover-constants join arrives co-partitioned from the
    * state projection, and the final argmax groups by the same src
    * partitioning. Per half-sweep the candidate stream — O(E)-row in early
    * supersteps — crosses the wire ZERO times, vs twice on the dst path
    * and three times legacy. Above the V cap (pass-0 of a 10^10-vertex web
    * graph) the caller falls back to the dst-cache path, whose per-sweep
    * exchanges are O(V) membership + O(candidates).
    */
  private[graft] def srcGather(edgesBySrc: DataFrame, movers: DataFrame,
                                mdBase: DataFrame, parity: Int): DataFrame =
    edgesBySrc
      .filter(col("src") =!= col("dst") && pmod(col("src"), lit(2)) === parity)
      .join(broadcast(movers), Seq("src"), "left_semi")
      .join(broadcast(mdBase), "dst")
      .select(col("src"), col("cdst"), col("w"))

  /** The bound-restricted (refinement) twin of [[srcGather]]: the refine
    * scan only counts neighbors in the same bound community
    * (`/root/reference/inc/leiden.hxx:257`), which needs BOTH endpoints'
    * bounds on the edge row before aggregation — the legacy plan exchanges
    * the O(E) stream by dst for that. Here the mover side arrives with its
    * bound already attached (`moverBs`: src, bsrc) and the dst side's
    * membership and bound both BROADCAST, so the refine candidate stream
    * is as exchange-free as the main phase's. Same V ≤ CtBroadcastMax gate
    * (the bound table is O(V), 16 B/vertex).
    */
  private[graft] def srcGatherBound(edgesBySrc: DataFrame, moverBs: DataFrame,
                                     mdBase: DataFrame, bd: DataFrame,
                                     parity: Int): DataFrame =
    edgesBySrc
      .filter(col("src") =!= col("dst") && pmod(col("src"), lit(2)) === parity)
      .join(broadcast(moverBs), "src")
      .join(broadcast(mdBase), "dst")
      .join(broadcast(bd), "dst")
      .filter(col("bsrc") === col("bdst"))
      .select(col("src"), col("cdst"), col("w"))

  /** [[srcGather]] with the mover prune as a frontier-bitmap literal filter
    * instead of a broadcast semi-join (see [[FrontierBits]]): same rows,
    * zero driver-side relation build, and the predicate runs inside the
    * scan's whole-stage codegen. The remaining broadcast is the O(V)
    * membership.
    */
  private[graft] def srcGatherBits(edgesBySrc: DataFrame, affBits: Array[Byte],
                                    mdBase: DataFrame, parity: Int): DataFrame =
    edgesBySrc
      .filter(col("src") =!= col("dst") && pmod(col("src"), lit(2)) === parity &&
        NativeColumns.bitsetContains(lit(affBits), col("src")))
      .join(broadcast(mdBase), "dst")
      .select(col("src"), col("cdst"), col("w"))

  /** Bitmap twin of [[srcGatherBound]]: the refine scan prune is the
    * frontier bitmap (a SUPERSET of the exact still-singleton mover set —
    * exactness is enforced by the moverInfo join downstream, same contract
    * as the main phase), and the src-side bound arrives by broadcast
    * instead of riding a mover join.
    */
  private[graft] def srcGatherBoundBits(edgesBySrc: DataFrame, affBits: Array[Byte],
                                         mdBase: DataFrame, bs: DataFrame,
                                         bd: DataFrame, parity: Int): DataFrame =
    edgesBySrc
      .filter(col("src") =!= col("dst") && pmod(col("src"), lit(2)) === parity &&
        NativeColumns.bitsetContains(lit(affBits), col("src")))
      .join(broadcast(bs), "src")
      .join(broadcast(mdBase), "dst")
      .join(broadcast(bd), "dst")
      .filter(col("bsrc") === col("bdst"))
      .select(col("src"), col("cdst"), col("w"))

  /** One synchronous half-sweep over vertices with id % 2 == parity.
    *
    * `bound` restricts scanning to same-bound neighbors (the refinement
    * guard, `/root/reference/inc/leiden.hxx:257`); pass None for the main
    * phase. With `refineSingletons`, only vertices that are still singleton
    * communities may move (`/root/reference/inc/leiden.hxx:422`).
    *
    * `edgesByDst` (same edge rows cached hash-partitioned by DST) switches
    * the main-phase gather to the zero-E-exchange plan: the scan reads the
    * dst cache in place (its partitioning satisfies the membership join),
    * prunes to this half-sweep's movers with a BROADCAST semi-join instead
    * of the src-side shuffle join, and only the O(V) membership plus the
    * aggregated candidates cross the wire — the per-half-sweep O(E)
    * (src,dst,w) exchange by dst disappears. Falls back to the legacy plan
    * when the mover set exceeds BroadcastMoverMax (early supersteps of a
    * 10^10-vertex graph) or when `bound` is set (refine needs both
    * endpoints' bounds on the edge row before aggregation). Results are
    * identical either way — the mover prune is a semi-join superset filter
    * and the exact mover set is enforced by the moverInfo join below
    * (LeidenSpec goldens run entirely on this path).
    */
  def sweep(edges: DataFrame, state: DataFrame, m: Double, resolution: Double,
            parity: Int, bound: Option[DataFrame] = None,
            refineSingletons: Boolean = false, sketchSlots: Int = 0,
            edgesByDst: Option[DataFrame] = None,
            broadcastCt: Boolean = false,
            vertexCountHint: Long = -1L,
            broadcastMembership: Boolean = false,
            affBits: Option[Array[Byte]] = None): SweepResult = {
    // Frontier-bitmap tier (affBits set — implies broadcastMembership and
    // dense ids; see FrontierBits): an empty frontier at this parity is
    // known on the driver for free, and running the sweep would change
    // nothing (no movers => no moves => state returned unchanged).
    if (affBits.exists(FrontierBits.isEmpty(_, parity)))
      return SweepResult(state, 0L, 0.0, affBits)
    // The state's aff predicate: the bitmap literal when present (exact
    // same set — the state column and bitmap are maintained in lockstep),
    // the aff column otherwise.
    def affPred(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      affBits.map(b => NativeColumns.bitsetContains(lit(b), id))
        .getOrElse(col("aff"))
    // With `broadcastCt` (caller guarantees V ≤ CtBroadcastMax, so C fits
    // a broadcast) the community-totals table ships to executors instead
    // of shuffling: the candidate stream — O(E)-row in early supersteps,
    // when map-side combine can't compress singleton-community neighbors —
    // then crosses the wire twice (gather agg + the src-keyed constants
    // join the argmax reuses) instead of three times, and both O(V)
    // totals exchanges disappear. Identical results either way; only the
    // physical join strategy changes. Both consumers (mover constants,
    // candidate targets) join the SAME aliased plan so the exchange —
    // broadcast or shuffle — is built once and the second use is a
    // ReusedExchange, not a second aggregation of the state.
    val ct0 = communityTotals(state)
    val ct = if (broadcastCt) broadcast(ct0) else ct0

    val mdBase = state.select(col("id").as("dst"), col("comm").as("cdst"))

    // Movers carry their community's totals from the start: the per-vertex
    // terms of delta-Q (wud, ctot_d) are CONSTANT across a vertex's
    // candidates, so joining them onto the O(V) mover side up front lets
    // the candidate scoring, swap guard, and argmax all happen in ONE
    // aggregation — no wud self-join, no post-argmax community-total join.
    var moverInfo = state.filter(affPred(col("id")) && pmod(col("id"), lit(2)) === parity)
      .select(col("id").as("src"), col("comm").as("ccur"), col("vtot").as("vtot_u"))
      .join(ct.as("ctd"), col("ccur") === col("ctd.comm"))
      .select(col("src"), col("ccur"), col("vtot_u"),
        col("ctd.ctot").as("ctot_d"), col("ctd.csize").as("csize_d"))
    if (refineSingletons)
      // REFINE: only still-singleton vertices scan at all
      // (/root/reference/inc/leiden.hxx:422)
      moverInfo = moverInfo.filter(col("csize_d") === 1)

    // Zero-E-exchange gather (scaladoc above): dst-cache scan + broadcast
    // mover prune, when the dst cache is supplied, no bound restricts the
    // scan, and this half-sweep's movers fit a broadcast. A caller-supplied
    // vertex-count hint proves the fit for free (movers ≤ V/2 per parity);
    // without one, the mover count is one cheap scan of the materialized
    // state — and a zero count short-circuits the whole sweep.
    var dstScan: Option[DataFrame] = None
    var moverCount = -1L
    if (affBits.isDefined) {
      val bits = affBits.get
      bound match {
        case None =>
          dstScan = Some(srcGatherBits(edges, bits, mdBase, parity))
        case Some(b) =>
          val bs = b.select(col("id").as("src"), col("bound").as("bsrc"))
          val bd = b.select(col("id").as("dst"), col("bound").as("bdst"))
          dstScan = Some(srcGatherBoundBits(edges, bits, mdBase, bs, bd, parity))
      }
    } else if (broadcastMembership) {
      // caller guarantees V ≤ CtBroadcastMax, so the membership broadcast
      // and the (≤ V/2-row) mover broadcast both fit with no count job
      bound match {
        case None =>
          val movers = state.filter(col("aff") && pmod(col("id"), lit(2)) === parity)
            .select(col("id").as("src"))
          dstScan = Some(srcGather(edges, movers, mdBase, parity))
        case Some(b) =>
          // refine: movers carry their own bound (the moverInfo-filtered
          // set — during refine only still-singleton vertices scan at all,
          // so the prune is EXACT here, not a superset)
          val moverBs = moverInfo.select("src")
            .join(b.select(col("id").as("src"), col("bound").as("bsrc")), "src")
          val bd = b.select(col("id").as("dst"), col("bound").as("bdst"))
          dstScan = Some(srcGatherBound(edges, moverBs, mdBase, bd, parity))
      }
    } else if (edgesByDst.isDefined && bound.isEmpty) {
      val movers = state.filter(col("aff") && pmod(col("id"), lit(2)) === parity)
        .select(col("id").as("src"))
      if (vertexCountHint >= 0 && vertexCountHint <= 2 * BroadcastMoverMax)
        dstScan = Some(dstGather(edgesByDst.get, movers, mdBase, parity))
      else {
        moverCount = movers.count()
        if (moverCount > 0 && moverCount <= BroadcastMoverMax)
          dstScan = Some(dstGather(edgesByDst.get, movers, mdBase, parity))
      }
    }
    if (moverCount == 0) return SweepResult(state, 0L, 0.0)

    // J1 gather, NARROW (legacy / refine / oversized-frontier path): the
    // O(E) stream carries only (src, cdst, w) [plus the bound column
    // during refine] through its exchanges — the per-vertex constants
    // (ccur, vtot_u, ctot_d, csize_d) do NOT ride every edge row; they
    // rejoin on the aggregated candidate stream below, which is
    // O(distinct (vertex, neighbor community)). At the 32M-edge scale this
    // halves the bytes shuffled per half-sweep.
    // SELF=false: self loops never counted in the scan
    // (/root/reference/inc/leiden.hxx:255-256).
    val scanN = dstScan.getOrElse {
      val (moverIds, md) = bound match {
        case Some(b) =>
          val bs = b.select(col("id").as("src"), col("bound").as("bsrc"))
          val bd = b.select(col("id").as("dst"), col("bound").as("bdst"))
          (moverInfo.select("src").join(bs, "src"), mdBase.join(bd, "dst"))
        case None => (moverInfo.select("src"), mdBase)
      }
      var scan = edges
        .filter(col("src") =!= col("dst"))
        .join(moverIds, "src")
        .join(md, "dst")
      if (bound.isDefined) scan = scan.filter(col("bsrc") === col("bdst"))
      scan.select(col("src"), col("cdst"), col("w"))
    }

    // Exact path: one hash-agg state per distinct (vertex, neighbor
    // community). Sketch path (sketchSlots > 0, the low-memory variants of
    // /root/reference/inc/leidenLowmem.hxx:567-579): a bounded Misra-Gries
    // buffer per vertex selects <= k candidate communities, then exact
    // weights are recomputed only for the survivors (A7 re-scoring,
    // /root/reference/inc/leidenLowmem.hxx:207-231) — caps aggregation
    // state for hub vertices whose neighbors span millions of communities.
    val cand =
      if (sketchSlots <= 0)
        scanN.groupBy("src", "cdst").agg(sum("w").as("wuc"))
      else {
        val candPairs = scanN
          .groupBy(col("src"))
          .agg(MGSketch.sketch(sketchSlots)(col("cdst"), col("w")).as("cands"))
          .select(col("src"), explode(col("cands")).as("c"))
          .select(col("src"), col("c.comm").as("cdst"))
        // survivors + the vertex's own community (its weight feeds wud);
        // the semi-join prunes (src, ccur) pairs with no edge into ccur,
        // exactly as the former scan-side distinct did
        scanN.join(candPairs.unionByName(
            moverInfo.select(col("src"), col("ccur").as("cdst"))).distinct(),
            Seq("src", "cdst"), "left_semi")
          .groupBy("src", "cdst").agg(sum("w").as("wuc"))
      }

    // Per-candidate delta-Q part: dq = score_c - wud/M - R*vtot*(vtot-ctot_d)/(2M^2)
    // with score_c = wuc/M - R*vtot*ctot_c/(2M^2). The subtraction is a
    // per-vertex constant, so argmax over score_c == argmax over dq, with
    // identical tie behavior. Join order: target totals first (cdst key),
    // THEN the mover constants (src key) — the final argmax groups by src,
    // so the last exchange and the aggregation share the src partitioning.
    val scored = cand
      .join(ct.as("ctc"), col("cdst") === col("ctc.comm"))
      .select(col("src"), col("cdst"), col("wuc"),
        col("ctc.ctot").as("ctot_c"), col("ctc.csize").as("csize_c"))
      // shuffle_hash: BUILD the O(V/2) mover-constants side and STREAM the
      // candidates — a hint-less plan picks sort-merge and sorts the whole
      // candidate stream every half-sweep (no exchange either way: both
      // sides are already src-partitioned on the srcGather path, and the
      // legacy path's exchange here is the one the argmax reuses).
      .join(moverInfo.hint("shuffle_hash"), "src")
      .withColumn("score",
        col("wuc") / lit(m) -
          lit(resolution) * col("vtot_u") * col("ctot_c") / lit(2 * m * m))
      // Swap guard: two mutually-linked same-parity singletons would
      // exchange communities forever; only the move toward the smaller
      // community id is allowed when both sides are singletons.
      .withColumn("eligible",
        col("cdst") =!= col("ccur") &&
          !(col("csize_c") === 1 && col("csize_d") === 1 && col("cdst") > col("ccur")))

    // One aggregation computes the argmax over eligible candidates (ties
    // toward the smallest community id — deterministic stand-in for the
    // reference's hashtable iteration order, /root/reference/inc/leiden.hxx:335-344)
    // AND the weight to the vertex's current community (wud). Grouped by
    // src alone (the per-vertex constants are functionally dependent and
    // come along via first()), so the exchange stays 8-byte-keyed.
    val best = PlanUtils.checkpointTruncated(
      scored
        .groupBy(col("src"))
        .agg(
          max(when(col("eligible"), struct(col("score").as("score"),
            (-col("cdst")).as("tb"), col("cdst").as("best")))).as("mx"),
          sum(when(col("cdst") === col("ccur"), col("wuc")).otherwise(lit(0.0))).as("wud"),
          first(col("vtot_u")).as("vtot_u"), first(col("ctot_d")).as("ctot_d"))
        .filter(col("mx").isNotNull)
        .withColumn("mdq",
          col("mx.score") - col("wud") / lit(m) -
            lit(resolution) * col("vtot_u") * (col("vtot_u") - col("ctot_d")) / lit(2 * m * m))
        .filter(col("mdq") > 0)
        .select(col("src").as("id"), col("mx.best").as("newcomm"), col("mdq")))

    // On the bitmap path the moved-vertex bitmap rides the SAME stats job
    // (one scan of the cached best instead of two).
    val stats = affBits match {
      case Some(bits) => best.agg(count(lit(1)), coalesce(sum("mdq"), lit(0.0)),
        NativeColumns.bitsetOr(col("id"), bits.length * 8)).head
      case None => best.agg(count(lit(1)), coalesce(sum("mdq"), lit(0.0))).head
    }
    val nMoves = stats.getLong(0)
    val dqSum = stats.getDouble(1)

    if (nMoves == 0) { PlanUtils.release(best); return SweepResult(state, 0L, 0.0, affBits) }

    affBits.foreach { bits =>
      // Frontier-bitmap state update (FrontierBits scaladoc): neighbors of
      // moved = one bit-OR pass over the edge cache behind a codegen'd
      // moved-bitmap filter (no join, no V-sized hash distinct), the parity
      // carry-over is a driver byte mask, and the state update joins best
      // CO-PARTITIONED (checkpointTruncated preserves the shared id/src
      // hash partitioning; shuffle_hash builds the O(moves) side) — zero
      // exchanges and zero broadcast-relation builds in the whole update.
      val n = bits.length * 8
      val movedBits = stats.getAs[Array[Byte]](2)
      val nbBits = edges
        .filter(NativeColumns.bitsetContains(lit(movedBits), col("src")))
        .agg(NativeColumns.bitsetOr(col("dst"), n)).head.getAs[Array[Byte]](0)
      val nextBits = FrontierBits.next(bits, nbBits, parity)
      val next = PlanUtils.checkpointTruncated(
        state
          .join(best.select(col("id"), col("newcomm")).hint("shuffle_hash"), Seq("id"), "left")
          .select(
            col("id"),
            coalesce(col("newcomm"), col("comm")).as("comm"),
            col("vtot"),
            NativeColumns.bitsetContains(lit(nextBits), col("id")).as("aff")))
      PlanUtils.release(best)
      return SweepResult(next, nMoves, dqSum, Some(nextBits))
    }

    // neighbors of moved vertices become affected
    // (/root/reference/inc/leiden.hxx:427-429); a visited mover clears its
    // own flag unless a neighbor moved too. The edge table is symmetric
    // (Leiden's input contract), so "srcs of edges INTO moved" equals
    // "dsts of edges FROM moved" — join on src, which reuses the edge
    // cache's src-hash partitioning instead of shuffling all E rows by dst.
    // nMoves is already known here, so the moved set broadcasts whenever it
    // fits (same cap as the mover prune): the edge scan stays cache-local
    // with zero exchange, and the state update's moved-side join sheds one
    // of its two O(V) id exchanges. distinct()'s partial aggregation is the
    // best available compressor for the neighbor stream — it dedups per
    // partition before the single id exchange.
    val bestFits = nMoves <= BroadcastMoverMax
    val movedSrc = {
      val r = best.select(col("id").as("src"))
      if (bestFits) broadcast(r) else r
    }
    val affNext = edges.join(movedSrc, "src").select(col("dst").as("id")).distinct()
      .withColumn("affN", lit(true))
    val bestSel = {
      val b = best.select("id", "newcomm")
      if (bestFits) broadcast(b) else b
    }

    val next = PlanUtils.checkpointTruncated(
      state
        .join(bestSel, Seq("id"), "left")
        .join(affNext, Seq("id"), "left")
        .select(
          col("id"),
          coalesce(col("newcomm"), col("comm")).as("comm"),
          col("vtot"),
          (coalesce(col("affN"), lit(false)) ||
            (col("aff") && pmod(col("id"), lit(2)) =!= parity)).as("aff")))

    PlanUtils.release(best) // next is materialized; best's blocks are dead
    SweepResult(next, nMoves, dqSum)
  }

  /** Iterate until sum(dq) <= tolerance or maxIterations, mirroring
    * `/root/reference/inc/leiden.hxx:425-434`. One iteration = the even
    * half-sweep then the odd half-sweep. Returns the final state, the
    * iteration count, and the total number of moves.
    *
    * `minMoves` adds a churn stop: an iteration that moves fewer vertices
    * than this (but more than zero — zero already stops) ends the phase.
    * Weak-structure graphs otherwise trickle single-digit move counts for
    * the entire iteration budget at full sweep cost.
    */
  def run(edges: DataFrame, state0: DataFrame, m: Double, resolution: Double,
          tolerance: Double, maxIterations: Int,
          bound: Option[DataFrame] = None,
          refineSingletons: Boolean = false, sketchSlots: Int = 0,
          minMoves: Long = 0L,
          edgesByDst: Option[DataFrame] = None,
          broadcastCt: Boolean = false,
          vertexCountHint: Long = -1L,
          broadcastMembership: Boolean = false,
          frontierBits: Int = 0): (DataFrame, Int, Long) = {
    var state = state0
    var it = 0
    var totalMoves = 0L
    var continue = true
    // Frontier-bitmap tier: materialize state0's aff column once (one small
    // job per phase), then the per-sweep frontier lives on the driver.
    // Caller contract: frontierBits > maxId of every vertex this phase, and
    // broadcastMembership (the bitmap path always resolves membership by
    // broadcast).
    var bits: Option[Array[Byte]] =
      if (frontierBits > 0 && broadcastMembership)
        Some(FrontierBits.fromState(state0, frontierBits))
      else None
    while (continue && it < maxIterations) {
      val a = sweep(edges, state, m, resolution, 0, bound, refineSingletons, sketchSlots, edgesByDst, broadcastCt, vertexCountHint, broadcastMembership, bits)
      val b = sweep(edges, a.state, m, resolution, 1, bound, refineSingletons, sketchSlots, edgesByDst, broadcastCt, vertexCountHint, broadcastMembership, a.affBits)
      bits = b.affBits
      // drop the persisted blocks of superseded intermediate states
      // (never the caller's state0 and never what we return)
      if ((a.state ne state) && (a.state ne b.state)) PlanUtils.release(a.state)
      if ((state ne state0) && (state ne b.state)) PlanUtils.release(state)
      state = b.state
      it += 1
      totalMoves += a.moves + b.moves
      if (a.moves + b.moves < math.max(1L, minMoves) ||
        a.dqSum + b.dqSum <= tolerance) continue = false
    }
    (state, it, totalMoves)
  }
}

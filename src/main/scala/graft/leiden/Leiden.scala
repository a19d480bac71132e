package graft.leiden

import graft.graph.{EdgeTable, Packed}
import graft.io.Snapshots
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.graft.PlanUtils

/** Leiden community detection: the pass-loop driver
  * (`leidenInvokeOmp`, `/root/reference/inc/leiden.hxx:662-780`).
  *
  * Per pass (matching the reference's control flow):
  *   1. local-moving from singleton init (`/root/reference/inc/leiden.hxx:731-732`),
  *   2. refinement: membership becomes the bound, vertices re-init to
  *      singletons, REFINE-constrained moving merges singletons within
  *      bounds (`/root/reference/inc/leiden.hxx:734-743`),
  *   3. stop if (move+refine iterations) <= 1 or maxPasses
  *      (`/root/reference/inc/leiden.hxx:744-746`),
  *   4. stop if communities/vertices >= aggregationTolerance
  *      (`/root/reference/inc/leiden.hxx:747-750`),
  *   5. coarsen by refined membership, compose leaf membership, tighten
  *      tolerance by toleranceDrop (`/root/reference/inc/leiden.hxx:751-770`).
  *
  * M is computed once on the input graph and is invariant under coarsening
  * (aggregation preserves total edge weight, self loops carry intra weight).
  *
  * Every pass ends in a durable snapshot (coarse edges + composed leaf
  * membership + metrics + per-partition lineage) via graft.io.Snapshots;
  * `detect` resumes from the latest committed snapshot if one exists.
  */
object Leiden {

  private def singletonState(vtot: DataFrame): DataFrame =
    vtot.select(col("id"), col("id").as("comm"), col("vtot"), lit(true).as("aff"))

  /** A driver-side (id, comm) membership as a `parts`-partition DataFrame. */
  private def idComm(spark: SparkSession, rows: Seq[(Long, Long)], parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("comm", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v) => Row(k, v) }, parts), schema)
  }

  /** @param edges0 canonical symmetrized edge table (src,dst,w)
    * @param prevMembership warm start (the reference's `fi` hook,
    *                       `/root/reference/inc/leiden.hxx:655-662`): pass-0
    *                       communities initialize from this (id, comm)
    *                       membership instead of singletons — the dynamic
    *                       re-run path after a Batch.apply
    * @param affected the `fm` hook: pass-0 scanning starts from ONLY these
    *                 vertex ids (single column) instead of marking every
    *                 vertex affected; moves re-mark neighbors, so the
    *                 frontier grows exactly where the batch disturbed the
    *                 graph. Ignored when resuming from a snapshot.
    */
  def detect(edges0: DataFrame, opts: LeidenOptions = LeidenOptions(),
             prevMembership: Option[DataFrame] = None,
             affected: Option[DataFrame] = None): LeidenResult = {
    val spark = edges0.sparkSession
    val t0 = System.currentTimeMillis()
    var phase = Map.empty[String, Long]
    def timed[T](name: String)(f: => T): T = {
      val s = System.currentTimeMillis()
      val r = f
      phase = phase.updated(name, phase.getOrElse(name, 0L) + (System.currentTimeMillis() - s))
      r
    }

    // Cache the input ONCE, up front, hash-partitioned by src (every
    // half-sweep's gather join and the affected-neighbor join key on src).
    // Every pre-pass aggregate (totalWeight, vertices, the leaf init, the
    // local-tail gate count) and the final modularity evaluation read THIS
    // cache: with a derived input (the bench queries feed the copurchase
    // self-join straight in) the old shape re-derived the input plan five
    // to six times per detect() call — about half of g_leiden's sf0.1 wall.
    // Weight sums are unaffected (integral-weight sums are exact in any
    // order; detect's float tolerance covers the rest — LeidenSpec).
    // Explicit partition count: an unpinned repartition(col) is an AQE
    // coalescing target — a small input could collapse to 1-2 cached
    // partitions, serializing every kernel sweep and the CSR pack. Pinning
    // to defaultParallelism keeps one block per core (CsrSweep's measured
    // best) and lets CsrSweep.build(srcComplete=true) pack straight from
    // these cached partitions with no further exchange.
    val inputEdges = edges0
      .repartition(spark.sparkContext.defaultParallelism, col("src")).cache()
    var edges = inputEdges
    val twoM = timed("input") { EdgeTable.totalWeight(edges) }
    val m = twoM / 2
    // detect's input contract is a SYMMETRIZED edge table (every caller
    // symmetrizes: scaladoc param, GraphStream applyOps(symmetric=true),
    // Cli, the bench queries), so src alone already covers every vertex —
    // half the rows into the distinct vs the generic union-of-both-ends
    // EdgeTable.vertices. Coarsened passes stay symmetric by construction.
    val verts0 = edges.select(col("src").as("id")).distinct()
    if (m <= 0) {
      val leaf = verts0.select(col("id"), col("id").as("comm"))
      val r = LeidenResult(leaf, 0, 0, 0.0, leaf.count(), Map("total" -> 0L))
      inputEdges.unpersist()
      return r
    }

    var leaf = timed("input") {
      PlanUtils.checkpointTruncated(verts0.select(col("id"), col("id").as("comm")))
    }
    // leaf is the checkpointed (id, id) projection of verts0 — counting it
    // counts the same rows without re-running the distinct-union
    var gn = leaf.count()
    // original leaf-vertex count: gates the final modularity's membership
    // broadcast (leaf always has exactly this many rows)
    val leafCount = gn
    // the fi/fm warm-start hooks on the driver, read by the first pass only
    lazy val warmComm: Map[Long, Long] = prevMembership.fold(Map.empty[Long, Long])(
      _.select(col("id").cast("long"), col("comm").cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    lazy val warmAff: Option[Set[Long]] = affected.map(a =>
      a.select(col(a.columns.head).cast("long")).collect().map(_.getLong(0)).toSet)
    var tolerance = opts.tolerance
    var pass = 0
    var totalIters = 0
    var done = false
    var resumed = false

    // Resume from the latest committed pass snapshot, if any.
    for (root <- opts.snapshotDir; last <- Snapshots.committed(root, "leiden").lastOption) {
      if (edges ne inputEdges) edges.unpersist()
      edges = Snapshots.read(spark, root, "leiden", last, "edges").cache()
      PlanUtils.release(leaf)
      leaf = Snapshots.read(spark, root, "leiden", last, "leaf")
      pass = (last + 1).toInt
      tolerance = opts.tolerance / math.pow(opts.toleranceDrop, pass.toDouble)
      gn = EdgeTable.vertices(edges).count()
      totalIters = Snapshots.manifestText(root, "leiden", last)
        .split("\"iterations\":\"").lift(1).flatMap(_.takeWhile(_.isDigit).toIntOption)
        .getOrElse(0)
      resumed = true
    }
    val firstPass = pass

    while (!done && pass < opts.maxPasses) {
      // Local tail: once the (coarsened) graph fits the driver threshold,
      // finish all remaining passes in the sequential twin of these sweeps
      // — per-superstep Spark job scheduling dominates sub-threshold
      // graphs. Semantics identical (LocalSolver scaladoc); exact-weight
      // graphs produce bit-identical memberships (pinned by LeidenSpec).
      // Snapshot-enabled runs keep the distributed path throughout: the
      // per-pass durability contract (resume from the last committed pass)
      // outranks the tail's fixed-cost saving.
      if (opts.localSolveEdgeThreshold > 0 && opts.snapshotDir.isEmpty &&
        edges.count() <= opts.localSolveEdgeThreshold) {
        val warm = pass == firstPass && !resumed
        val local = timed("localtail") {
          // packed collect (no per-edge Row), then the tuple view LocalSolver
          // expects — same row order as a Row collect, so the solver's
          // order-sensitive accumulations are unchanged
          val (sA, dA, wA) = EdgeTable.collectPacked(edges)
          val arr = Array.tabulate(sA.length)(i => (sA(i), dA(i), wA(i)))
          LocalSolver.solve(arr, m, opts, tolerance, opts.maxPasses - pass,
            if (warm) warmComm else Map.empty[Long, Long], if (warm) warmAff else None)
        }
        totalIters += local.iterations
        pass += local.passes
        val lvl = idComm(spark, local.leaf.toSeq, 4)
        val prevLeaf = leaf
        leaf = timed("compose") {
          PlanUtils.checkpointTruncated(Aggregate.compose(leaf, lvl))
        }
        PlanUtils.release(prevLeaf)
        done = true
      } else {
      // sketch auto-fallback: exact scan/coarsening once the pass graph is
      // small — the sketch's candidate filter exists to bound hub-vertex
      // aggregation state, not to slow down broadcast-sized graphs
      val slots =
        if (opts.sketchSlots > 0 && gn >= opts.sketchExactCutoff) opts.sketchSlots else 0
      val minMoves =
        if (opts.minMovedFraction > 0) (opts.minMovedFraction * gn).toLong else 0L

      // lazy per-vertex weights: the dense tier consumes them as one packed
      // collect and never pays the checkpoint job or the state0 joins —
      // only the DataFrame tier materializes them, after the gate decides
      val vtotLazy = EdgeTable.vertexWeights(edges)

      // 1. local moving. C ≤ V = gn, so whenever the pass's vertex count
      // fits the cap (LocalMove.CtBroadcastMax) BOTH the community-totals
      // table and the full membership broadcast safely — the half-sweeps
      // then run on the zero-candidate-exchange srcGather plan over the
      // main src-partitioned cache, and no dst-partitioned twin is needed
      // at all (saving its once-per-pass O(E) exchange + cache). Above the
      // cap (pass 0 of a 10^10-vertex web graph), build the dst twin once
      // and gather via the dstGather plan (LocalMove.sweep scaladoc).
      val bcCt = gn <= LocalMove.CtBroadcastMax
      // Dense gate (also the FrontierBits gate): a dense-enough id space,
      // checked against the pass's actual id bounds. gn <= the 4M cap
      // bounds the row count, so the bounds come from one packed collect of
      // the vtot rows, reused below for vt/present (order-independent
      // per-id fills). A dense pass's coarse graph keeps ids below its n,
      // so the gate holds for every pass after one; a DataFrame-tier pass
      // passes its community labels on unchanged.
      val (vtIds, vtVals): (Array[Long], Array[Double]) =
        if (bcCt) timed("init") {
          val p = Packed.collect(
            vtotLazy.select(col("id").cast("long"), col("vtot").cast("double")))
          (p.longs(0), p.doubles(1))
        } else (Array.empty[Long], Array.empty[Double])
      val (minId, maxId): (Long, Long) =
        if (bcCt && vtIds.nonEmpty) {
          var mn = Long.MaxValue; var mx = Long.MinValue
          var i = 0
          while (i < vtIds.length) {
            val id = vtIds(i)
            if (id < mn) mn = id
            if (id > mx) mx = id
            i += 1
          }
          (mn, mx)
        } else (0L, Long.MaxValue)
      val fBits: Int =
        if (bcCt && minId >= 0 && maxId + 1 <= LocalMove.FrontierBitsMax)
          (maxId + 1).toInt
        else 0

      // Dense tier (CsrSweep scaladoc): dense id space small enough for
      // driver arrays → all O(V) state lives on the driver. A warm start
      // whose community labels escape the dense id space falls through to
      // the DataFrame tier (it accepts arbitrary labels).
      val warmInit = pass == firstPass && !resumed &&
        (prevMembership.isDefined || affected.isDefined)
      // dense-gate init: (vt, comm0, bits0, present) for CsrSweep; None
      // when the gate fails or a warm start's community labels escape the
      // dense id space. The CSR kernel carries the MG-sketch scan natively
      // (CsrSweep.halfSweep lowmem branch), so sketch passes ride it too.
      // `present` marks the pass's REAL vertex ids (the vtot rows) so the
      // post-pass community count can run on the driver — id-space holes
      // keep their singleton labels and must not count.
      val denseInit: Option[(Array[Double], Array[Long], Array[Byte], Array[Boolean])] =
        if (fBits > 0 && fBits <= LocalMove.CtBroadcastMax) timed("mark") {
          val n = fBits
          val vt = new Array[Double](n)
          val present = new Array[Boolean](n)
          var vi = 0
          while (vi < vtIds.length) {
            val id = vtIds(vi).toInt
            vt(id) = vtVals(vi)
            present(id) = true
            vi += 1
          }
          if (warmInit) {
            // driver-side twin of the DataFrame tier's state0 joins: the
            // state rows are the vtot ids; comm = seed membership's comm
            // when present else the id (left join + coalesce); aff = id in
            // the affected set, defaulting to all-true without one. Same
            // escape check as before: any effective comm outside [0, n)
            // falls back to the DataFrame tier (it accepts any labels).
            var ok = true
            val comm0 = Array.tabulate(n)(_.toLong)
            val bits0 = new Array[Byte]((n + 7) / 8)
            var id = 0
            while (ok && id < n) {
              if (present(id)) {
                val c = warmComm.getOrElse(id.toLong, id.toLong)
                if (c < 0 || c >= n) ok = false
                else {
                  comm0(id) = c
                  if (warmAff.forall(_.contains(id.toLong)))
                    bits0(id >>> 3) = (bits0(id >>> 3) | (1 << (id & 7))).toByte
                }
              }
              id += 1
            }
            if (ok) Some((vt, comm0, bits0, present)) else None
          } else
            Some((vt, Array.tabulate(n)(_.toLong),
              Array.fill[Byte]((n + 7) / 8)(-1), present))
        } else None

      // DataFrame-tier state, built ONLY when the dense gate declined:
      // checkpointed vertex weights + the (fi/fm) init-state joins
      val vtot: DataFrame =
        if (denseInit.isDefined) null
        else timed("init") { PlanUtils.checkpointTruncated(vtotLazy) }
      val state0: DataFrame =
        if (denseInit.isDefined) null
        else timed("mark") {
          if (warmInit) {
            val withComm = prevMembership match {
              case Some(pm) => vtot
                .join(pm.select(col("id"), col("comm").as("__pc")), Seq("id"), "left")
                .select(col("id"), coalesce(col("__pc"), col("id")).as("comm"), col("vtot"))
              case None => vtot.select(col("id"), col("id").as("comm"), col("vtot"))
            }
            val withAff = affected match {
              case Some(ids) => withComm
                .join(ids.select(col(ids.columns.head).as("id"), lit(true).as("__aff")), Seq("id"), "left")
                .select(col("id"), col("comm"), col("vtot"), coalesce(col("__aff"), lit(false)).as("aff"))
              case None => withComm.withColumn("aff", lit(true))
            }
            PlanUtils.checkpointTruncated(withAff)
          } else singletonState(vtot)
        }

      // the dense tier returns the final membership as the DRIVER ARRAY itself
      // (denseComm): the pass tail below then composes, counts and coarsens
      // through broadcast array lookups — no per-pass materialize job, no
      // compose join, no membership joins in the coarsen, no distinct-count
      // job. The DataFrame tier keeps its refMemb DataFrame unchanged.
      val (denseComm, refMembOpt, iters, lMoves, rMoves) = denseInit match {
        case Some((vt, comm0, bits0, _)) =>
          // packed-CSR fused kernel (CsrSweep scaladoc): one primitive-
          // array pass per half-sweep, frontier folded into the same pass
          val csr = timed("csrbuild") {
            // pass-0 edges are the src-hash input cache: every edge of a src
            // already lives in one partition, so the pack skips the range
            // shuffle and its sampling pre-job (srcComplete contract in
            // CsrSweep.build). Coarsened passes keep the range-balanced path.
            val c = CsrSweep.build(edges, fBits,
              srcComplete = edges eq inputEdges).cache()
            c.count() // materialize here so sweep timings are pure
            c
          }
          val st = CsrSweep.init(csr, fBits, vt, comm0, bits0)
          val (lIt, lMv) = timed(if (pass == firstPass) "firstpass" else "move") {
            CsrSweep.run(st, m, opts.resolution, tolerance,
              opts.maxIterations, minMoves = minMoves, sketchSlots = slots)
          }
          val boundArr = st.resetToSingletons()
          val (rIt, rMv) = timed("refine") {
            CsrSweep.run(st, m, opts.resolution, tolerance,
              opts.maxIterations, boundArr = Some(boundArr),
              refineSingletons = true, minMoves = minMoves,
              sketchSlots = slots)
          }
          val commArr = st.comm
          st.close()
          csr.unpersist(blocking = false)
          (Some(commArr), None, lIt + rIt, lMv, rMv)

        case None =>
          val edgesByDst =
            if (bcCt) None else Some(edges.repartition(col("dst")).cache())
          val (moved, lIters, lMoves) = timed(if (pass == firstPass) "firstpass" else "move") {
            LocalMove.run(edges, state0, m, opts.resolution,
              tolerance, opts.maxIterations, sketchSlots = slots, minMoves = minMoves,
              edgesByDst = edgesByDst, broadcastCt = bcCt, vertexCountHint = gn,
              broadcastMembership = bcCt, frontierBits = fBits)
          }
          edgesByDst.foreach(_.unpersist(blocking = false))

          // 2. refinement: bound = post-move membership; re-init singletons
          val bound = PlanUtils.checkpointTruncated(
            moved.select(col("id"), col("comm").as("bound")))
          if (moved ne state0) PlanUtils.release(moved)
          val (refined, rIters, rMoves) = timed("refine") {
            LocalMove.run(edges, singletonState(vtot), m, opts.resolution,
              tolerance, opts.maxIterations, Some(bound), refineSingletons = true,
              sketchSlots = slots, minMoves = minMoves, broadcastCt = bcCt,
              broadcastMembership = bcCt, frontierBits = fBits)
          }
          val rm = PlanUtils.checkpointTruncated(refined.select("id", "comm"))
          PlanUtils.release(bound)
          if (refined ne rm) PlanUtils.release(refined)
          (None, Some(rm), lIters + rIters, lMoves, rMoves)
      }
      totalIters += math.max(iters, 1)
      if (vtot != null) {
        PlanUtils.release(vtot)
        if (state0 ne vtot) PlanUtils.release(state0)
      }
      val prevLeaf = leaf
      leaf = timed("compose") {
        denseComm match {
          case Some(arr) => Aggregate.composeArray(leaf, arr) // checkpointed inside
          case None => PlanUtils.checkpointTruncated(Aggregate.compose(leaf, refMembOpt.get))
        }
      }
      PlanUtils.release(prevLeaf)
      pass += 1

      if (lMoves + rMoves == 0 || pass >= opts.maxPasses) done = true
      else {
        // community count of the pass: the dense tier counts distinct labels of
        // the PRESENT ids on the driver (identical to the refMemb distinct —
        // refMemb rows are exactly the present ids); the DataFrame tier
        // keeps the distinct-count job
        val cn = denseComm match {
          case Some(arr) =>
            val present = denseInit.get._4
            val seen = new Array[Boolean](arr.length)
            var c = 0L
            var v = 0
            while (v < arr.length) {
              if (present(v)) {
                val l = arr(v).toInt
                if (!seen(l)) { seen(l) = true; c += 1 }
              }
              v += 1
            }
            c
          case None => refMembOpt.get.select("comm").distinct().count()
        }
        if (cn.toDouble / gn >= opts.aggregationTolerance) done = true
        else {
          // 3. aggregate into the next pass's graph. EXACT by default even
          // in low-mem mode: Catalyst's shuffled hash aggregation spills,
          // so the per-thread-memory hazard the reference's aggregation
          // sketch guards against does not exist here, while its compounded
          // weight under-estimates destroy quality whenever a pass leaves a
          // large community set (see LeidenOptions.sketchAggregation).
          // Opt-in sketch aggregation keeps reference semantics: width
          // floored at 8 — the reference instantiates the aggregation
          // sketch at SLOTS too (/root/reference/inc/leidenLowmem.hxx:370-417)
          // but documents its <=1% modularity bound only from k=8 up
          // (README.md:9); a 1-slot coarse graph (one out-edge per
          // community) loses connectivity that synchronous supersteps —
          // unlike the reference's asynchronous CAS dynamics — cannot
          // recover. The scan keeps the caller's width (1 = Boyer-Moore).
          val (coarse, coarseCached) = timed("aggregate") {
            denseComm match {
              case Some(arr) if !(slots > 0 && opts.sketchAggregation) =>
                // cached+materialized in one pass (no checkpoint-then-cache
                // double materialization); the cache assignment below skips
                // its own .cache() for this branch
                (Aggregate.coarsenArrayCached(edges, arr), true)
              case _ =>
                // sketch-aggregation with a dense-tier membership: build
                // the (id, comm) rows straight from the driver arrays
                // (vtot is already released at this point)
                val rm = refMembOpt.getOrElse {
                  val present = denseInit.get._4
                  val arr = denseComm.get
                  idComm(spark, (0 until arr.length).filter(present(_)).map(v => v.toLong -> arr(v)),
                    math.max(4, spark.sparkContext.defaultParallelism))
                }
                val c = PlanUtils.checkpointTruncated(
                  if (slots > 0 && opts.sketchAggregation)
                    Aggregate.coarsenSketch(edges, rm, math.max(slots, 8))
                  else Aggregate.coarsen(edges, rm))
                (c, false)
            }
          }
          opts.snapshotDir.foreach { root =>
            timed("snapshot") {
              Snapshots.commit(root, "leiden", (pass - 1).toLong,
                if (pass >= 2) Some((pass - 2).toLong) else None,
                Map("edges" -> coarse, "leaf" -> leaf),
                Map("pass" -> (pass - 1).toString, "vertices" -> cn.toString,
                  "iterations" -> totalIters.toString,
                  "tolerance" -> tolerance.toString))
            }
          }
          // inputEdges stays cached: the final modularity evaluation reads it
          if (edges ne inputEdges) edges.unpersist()
          edges = if (coarseCached) coarse else coarse.cache()
          gn = cn
          tolerance /= opts.toleranceDrop
        }
      }
      refMembOpt.foreach(PlanUtils.release)
      } // end distributed pass
    }

    val communities = timed("finalcount") { leaf.select("comm").distinct().count() }
    val q = timed("modularity") {
      // same rows as edges0 (a repartition), read from the cache built at
      // detect() start instead of re-deriving the caller's input plan;
      // broadcast the membership joins whenever V fits the broadcast gate
      Modularity.modularity(inputEdges, leaf, m, opts.resolution,
        broadcastMembership = leafCount <= LocalMove.CtBroadcastMax)
    }
    if (edges ne inputEdges) edges.unpersist()
    inputEdges.unpersist()
    phase = phase.updated("total", System.currentTimeMillis() - t0)
    LeidenResult(leaf, totalIters, pass, q, communities, phase)
  }

  /** Count communities that are internally disconnected on the given graph —
    * the Leiden guarantee is that this is 0
    * (`/root/reference/inc/properties.hxx:379-401`, `main.cxx:58`).
    */
  def disconnectedCommunities(edges: DataFrame, membership: DataFrame): Long = {
    val refined = Refine.refine(edges, membership)
    refined.groupBy("bound")
      .agg(countDistinct("comm").as("parts"))
      .filter(col("parts") > 1)
      .count()
  }
}

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
  * The leaf membership (original vertex -> current community) lives where
  * the pass-0 ids allow. When they fit the dense gate (0 <= id <
  * `LocalMove.CtBroadcastMax`) it is a driver array over the pass-0 id
  * space, as the reference keeps it (`/root/reference/inc/leiden.hxx:565-570`):
  * passes compose it by indexing, the community count and the final
  * modularity (`Modularity.dense`) read it on the driver, and the result's
  * membership is built from it once at the end. Otherwise it is a
  * checkpointed (id, comm) DataFrame composed by joins.
  *
  * The tier follows the master, as for the other dense kernels. On a
  * local master a dense pass packs its graph into CSR blocks
  * (`csrbuild`) in the one job that also pins them on the driver
  * (`CsrSweep.init`): its half-sweeps run no Spark
  * job, and it coarsens the pinned blocks in-process
  * (`Aggregate.coarsenBlocks`) into disjoint hash slices of the coarse
  * graph. A coarse graph above the local tail's gate becomes the next
  * pass's frame over those slices, persisted and locally checkpointed in
  * one job (`Aggregate.slicesFrame`); one under the gate stays on the
  * driver for the tail. On any other master every pass above the gate
  * takes the Catalyst tier (`LocalMove`).
  *
  * Once a pass graph has at most `LeidenOptions.localSolveEdgeThreshold`
  * rows, the remaining passes run the same steps on the driver, on any
  * master: the CSR block scan in-process (`CsrSweep.onDriver`) and the
  * same in-process coarsen over the tail's one block. The rows arrive
  * once: from the coarsen after a dense pass, else by one collect.
  *
  * With a snapshot directory, every pass ends in a durable snapshot (coarse
  * edges + composed leaf membership + metrics + per-partition lineage) via
  * graft.io.Snapshots; `detect` resumes from the latest committed snapshot
  * if one exists.
  */
object Leiden {

  /** Spark local property that [[detect]] sets, while each of its phases
    * runs, to the phase's `phaseMillis` key; a SparkListener can count
    * jobs per phase from it (`LeidenResult` scaladoc).
    */
  val PhaseProperty = "graft.leiden.phase"

  private def singletonState(vtot: DataFrame): DataFrame =
    vtot.select(col("id"), col("id").as("comm"), col("vtot"), lit(true).as("aff"))

  /** A driver-side (id, comm) membership as a `parts`-partition DataFrame
    * over slices of the two arrays (no job); `id` is nullable as the input
    * column it came from.
    */
  private def idComm(spark: SparkSession, ids: Array[Long], comms: Array[Long], parts: Int,
                     idNullable: Boolean = false): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, idNullable),
      StructField("comm", LongType, nullable = false)))
    val n = ids.length
    val slices = (0 until parts).map { p =>
      val lo = (n.toLong * p / parts).toInt; val hi = (n.toLong * (p + 1) / parts).toInt
      (ids.slice(lo, hi), comms.slice(lo, hi))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(slices, parts).flatMap {
      case (is, cs) => is.indices.iterator.map(i => Row(is(i), cs(i)))
    }, schema)
  }

  /** (id, comm) rows of the present ids of a driver leaf. */
  private def presentRows(leaf: Array[Long], present: Array[Boolean]): (Array[Long], Array[Long]) = {
    var k = 0
    var v = 0
    while (v < present.length) { if (present(v)) k += 1; v += 1 }
    val ids = new Array[Long](k); val comms = new Array[Long](k)
    k = 0
    v = 0
    while (v < present.length) {
      if (present(v)) { ids(k) = v; comms(k) = leaf(v); k += 1 }
      v += 1
    }
    (ids, comms)
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
    val sc = spark.sparkContext
    val t0 = System.currentTimeMillis()
    var phase = Map.empty[String, Long]
    // The local tail (enterTail): the pass graph's rows on the driver (src
    // int, dst int, w double; sorted, one per pair) over tail ids, a
    // monotone, parity-preserving relabel of the pass ids, so tie-breaks,
    // parity schedule and sketch stream are unchanged. `tailBack` maps a
    // tail id to its pass id (-1: none), and `tailLeaf` maps each tail id
    // at entry to its community, composed into the leaf when the run ends.
    var tail: Packed = null
    var tailBack: Array[Long] = null
    var tailLeaf: Array[Int] = null
    // the pass graph's rows when a dense pass's coarsen left them on the
    // driver: its hash slices of (src int, dst int, w double) rows, else null
    var held: Array[Packed] = null
    // the local tail's gate in rows, 0 = off. Snapshot-enabled runs stay
    // distributed: the per-pass durability contract (resume from the last
    // committed pass) outranks the tail's saving.
    val tailRows = if (opts.snapshotDir.isEmpty) math.max(opts.localSolveEdgeThreshold, 0L) else 0L
    // times a phase and tags its Spark jobs with its name (PhaseProperty);
    // every phase of a tail pass counts as the local tail's
    def timed[T](name: String)(f: => T): T = {
      val key = if (tail != null) "localtail" else name
      val outer = sc.getLocalProperty(PhaseProperty)
      sc.setLocalProperty(PhaseProperty, key)
      val s = System.currentTimeMillis()
      try f
      finally {
        phase = phase.updated(key, phase.getOrElse(key, 0L) + (System.currentTimeMillis() - s))
        sc.setLocalProperty(PhaseProperty, outer)
      }
    }

    // Cache the input ONCE, up front, hash-partitioned by src (every
    // half-sweep's gather join and the affected-neighbor join key on src).
    // Every pre-pass aggregate (the totals job below, the pass-0 vertex
    // weights, the local-tail collect) and the final modularity evaluation
    // read THIS cache: with a derived input (the bench queries feed the
    // copurchase self-join straight in) the old shape re-derived the input
    // plan five to six times per detect() call — about half of g_leiden's
    // sf0.1 wall. Weight sums are unaffected (integral-weight sums are
    // exact in any order; detect's float tolerance covers the rest —
    // LeidenSpec).
    // Explicit partition count: an unpinned repartition(col) is an AQE
    // coalescing target — a small input could collapse to 1-2 cached
    // partitions, serializing every kernel sweep and the CSR pack. Pinning
    // to defaultParallelism keeps one block per core (CsrSweep's measured
    // best) and lets CsrSweep.build(srcComplete=true) pack straight from
    // these cached partitions with no further exchange.
    val inputEdges = edges0
      .repartition(sc.defaultParallelism, col("src")).cache()
    var edges = inputEdges
    // drops the pass graph's cache or persisted slices; inputEdges stays
    // cached for the final modularity
    def dropEdges(): Unit = if (edges != null && (edges ne inputEdges)) {
      edges.unpersist()
      PlanUtils.release(edges)
    }
    // One job for the total weight, the row count (pass 0's local-tail
    // gate) and the src id bounds (pass 0's dense gate).
    val (twoM, rows0, minSrc, maxSrc) = timed("input") {
      val r = edges.agg(coalesce(sum(col("w")), lit(0.0)), count(lit(1)),
        min(col("src")).cast("long"), max(col("src")).cast("long")).head
      (r.getDouble(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))
    }
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

    // The pass-0 id-space size when the src ids pass the dense gate's id
    // test (0 <= id < CtBroadcastMax, so V <= CtBroadcastMax too), else 0.
    val n0: Int =
      if (minSrc >= 0 && maxSrc < LocalMove.CtBroadcastMax) (maxSrc + 1).toInt else 0
    // The leaf membership (object scaladoc), in one of two forms:
    //  - `leafArr` over the pass-0 ids, masked by `present0`, with `vt0`
    //    the pass-0 vertex weights (Modularity.dense's ctot). Only when
    //    n0 > 0; the first pass fills it, dense or local tail. Its values
    //    are the current pass graph's vertex ids, all below n0 (during
    //    the local tail, the tail ids at entry).
    //  - `leaf`, a checkpointed (id, comm) DataFrame. A run with n0 > 0
    //    builds it only if a pass takes the DataFrame tier.
    var leafArr: Array[Long] = null
    var present0: Array[Boolean] = null
    var vt0: Array[Double] = null
    var leaf: DataFrame = null
    // rows of `leaf`: gates the final modularity's membership broadcast
    var leafCount = 0L
    // the pass graph's vertex count; -1 until pass 0's dense collect counts it
    var gn = -1L
    // the pass graph's edge rows when a job already counted them, else -1
    var rows = rows0
    val srcField = inputEdges.schema("src")
    def identityLeaf(): DataFrame = {
      val l = timed("input") {
        PlanUtils.checkpointTruncated(verts0.select(col("id"), col("id").as("comm")))
      }
      // the checkpointed (id, id) projection of verts0 — counting it counts
      // the same rows without re-running the distinct
      leafCount = l.count()
      l
    }
    def leafFrame(): DataFrame = {
      val (ids, comms) = presentRows(leafArr, present0)
      val f = idComm(spark, ids, comms, sc.defaultParallelism, srcField.nullable)
      if (srcField.dataType == LongType) f
      else f.select(col("id").cast(srcField.dataType), col("comm"))
    }
    if (n0 == 0) { leaf = identityLeaf(); gn = leafCount }
    // the fi/fm warm-start hooks on the driver, keyed by the first pass's
    // graph ids (re-keyed to tail ids when that pass enters the tail);
    // collected and read by the first pass only
    var warmComm: Map[Long, Long] = null
    var warmAff: Option[Set[Long]] = None
    def loadWarm(): Unit = if (warmComm == null) {
      warmComm = prevMembership.fold(Map.empty[Long, Long])(
        _.select(col("id").cast("long"), col("comm").cast("long")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      warmAff = affected.map(a =>
        a.select(col(a.columns.head).cast("long")).collect().map(_.getLong(0)).toSet)
    }
    var tolerance = opts.tolerance
    var pass = 0
    var totalIters = 0
    var done = false
    var resumed = false

    // Resume from the latest committed pass snapshot, if any.
    for (root <- opts.snapshotDir; last <- Snapshots.committed(root, "leiden").lastOption) {
      dropEdges()
      edges = Snapshots.read(spark, root, "leiden", last, "edges").cache()
      if (leaf != null) PlanUtils.release(leaf)
      leaf = Snapshots.read(spark, root, "leiden", last, "leaf")
      if (n0 > 0) {
        // a dense-range run reads the snapshot leaf back into the driver
        // array, with the pass-0 vertex weights a fresh pass 0 collects
        val l = Packed.collect(leaf.select(col("id").cast("long"), col("comm").cast("long")))
        val (ids, comms) = (l.longs(0), l.longs(1))
        if (ids.forall(v => v >= 0 && v < n0) && comms.forall(c => c >= 0 && c < n0)) {
          val vw = Packed.collect(EdgeTable.vertexWeights(inputEdges)
            .select(col("id").cast("long"), col("vtot").cast("double")))
          leafArr = new Array[Long](n0)
          present0 = new Array[Boolean](n0)
          vt0 = new Array[Double](n0)
          ids.indices.foreach(i => leafArr(ids(i).toInt) = comms(i))
          vw.longs(0).indices.foreach { i =>
            val v = vw.longs(0)(i).toInt
            present0(v) = true
            vt0(v) = vw.doubles(1)(i)
          }
          leaf = null
        } else leafCount = ids.length
      }
      pass = (last + 1).toInt
      tolerance = opts.tolerance / math.pow(opts.toleranceDrop, pass.toDouble)
      gn = EdgeTable.vertices(edges).count()
      rows = -1L
      totalIters = Snapshots.manifestText(root, "leiden", last)
        .split("\"iterations\":\"").lift(1).flatMap(_.takeWhile(_.isDigit).toIntOption)
        .getOrElse(0)
      resumed = true
    }
    val firstPass = pass

    // Move the pass graph into the local tail (`tail` above): the rows its
    // coarsen left on the driver, else one collect. Its ids are the
    // endpoints plus, on a warm first pass, the seed labels.
    def enterTail(): Unit = {
      val (sA, dA, wA) =
        if (held == null) EdgeTable.collectPacked(edges)
        else (held.flatMap(_.ints(0).map(_.toLong)), held.flatMap(_.ints(1).map(_.toLong)),
          held.flatMap(_.doubles(2)))
      held = null
      val r = sA.length
      val warm = pass == firstPass && !resumed &&
        (prevMembership.isDefined || affected.isDefined)
      if (warm) loadWarm()
      val labels = if (warm) warmComm.values.toArray else Array.emptyLongArray
      if (leafArr == null && leaf == null) {
        // the whole run is local: the leaf starts as the identity over the
        // pass-0 ids, weighted from the collected rows. Seed labels outside
        // them need the DataFrame leaf, as they do on a dense pass.
        if (labels.exists(c => c < 0 || c >= n0)) leaf = identityLeaf()
        else {
          leafArr = Array.tabulate(n0)(_.toLong)
          present0 = new Array[Boolean](n0)
          vt0 = new Array[Double](n0)
          for (i <- 0 until r) { present0(sA(i).toInt) = true; vt0(sA(i).toInt) += wA(i) }
        }
      }
      val ids = new Array[Long](2 * r + labels.length)
      System.arraycopy(sA, 0, ids, 0, r)
      System.arraycopy(dA, 0, ids, r, r)
      System.arraycopy(labels, 0, ids, 2 * r, labels.length)
      java.util.Arrays.sort(ids)
      var k = 0
      for (i <- ids.indices) if (k == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
      // the next tail id is one up after an odd step of the pass ids and
      // two up after an even one, so order and parity are kept
      val tid = new Array[Int](k)
      tid(0) = java.lang.Math.floorMod(ids(0), 2L).toInt
      for (i <- 1 until k) tid(i) = tid(i - 1) + 2 - ((ids(i) - ids(i - 1)) & 1L).toInt
      tailBack = Array.fill(tid(k - 1) + 1)(-1L)
      for (i <- 0 until k) tailBack(tid(i)) = ids(i)
      // tail id of a pass id, -1 if it is not one of `ids`
      def rank(id: Long): Int = {
        val j = java.util.Arrays.binarySearch(ids, 0, k, id)
        if (j < 0) -1 else tid(j)
      }
      tail = Aggregate.sumPairs(
        Array.tabulate(r)(i => (rank(sA(i)).toLong << 32) | rank(dA(i))), wA)
      tailLeaf = Array.tabulate(tailBack.length)(identity)
      if (leafArr != null)
        for (v <- 0 until n0) if (present0(v)) leafArr(v) = rank(leafArr(v))
      if (warm) {
        warmComm = warmComm.iterator.collect {
          case (id, c) if rank(id) >= 0 => rank(id).toLong -> rank(c).toLong
        }.toMap
        warmAff = warmAff.map(_.iterator.map(rank).filter(_ >= 0).map(_.toLong).toSet)
      }
      dropEdges()
      edges = null
    }

    while (!done && pass < opts.maxPasses) {
      // Local tail: once the pass graph has at most `tailRows` rows, a
      // pass's Spark jobs (the CSR pack and the coarse frame, or off local
      // masters the Catalyst tier's jobs per half-sweep) are pure fixed
      // cost, so the rows move to the driver once and every remaining pass
      // runs the steps below on one driver-held CSR block.
      if (tail == null && tailRows > 0 &&
        (if (rows >= 0) rows else edges.count()) <= tailRows)
        timed("localtail") { enterTail() }

      // lazy per-vertex weights: the dense tier consumes them as one packed
      // collect and never pays the checkpoint job or the state0 joins —
      // only the DataFrame tier materializes them, after the gate decides
      val vtotLazy = if (tail == null) EdgeTable.vertexWeights(edges) else null

      // 1. local moving. C ≤ V = gn, so whenever the pass's vertex count
      // fits the cap (LocalMove.CtBroadcastMax) BOTH the community-totals
      // table and the full membership broadcast safely — the half-sweeps
      // then run on the zero-candidate-exchange srcGather plan over the
      // main src-partitioned cache, and no dst-partitioned twin is needed
      // at all (saving its once-per-pass O(E) exchange + cache). Above the
      // cap (pass 0 of a 10^10-vertex web graph), build the dst twin once
      // and gather via the dstGather plan (LocalMove.sweep scaladoc).
      // gn < 0 only on pass 0 with n0 > 0, whose id bounds already cap V.
      val bcCt = gn < 0 || gn <= LocalMove.CtBroadcastMax
      // Dense gate (also the FrontierBits gate): a dense-enough id space,
      // checked against the pass's actual id bounds. gn <= the 4M cap
      // bounds the row count, so the bounds come from one packed collect of
      // the vtot rows, reused below for vt/present (order-independent
      // per-id fills). A dense pass's coarse graph keeps ids below its n,
      // so the gate holds for every pass after one; a DataFrame-tier pass
      // passes its community labels on unchanged.
      val (vtIds, vtVals): (Array[Long], Array[Double]) =
        if (tail != null) timed("init") { rowWeights(tail) }
        else if (bcCt) timed("init") {
          val p = Packed.collect(
            vtotLazy.select(col("id").cast("long"), col("vtot").cast("double")))
          (p.longs(0), p.doubles(1))
        } else (Array.empty[Long], Array.empty[Double])
      if (gn < 0) gn = vtIds.length
      // sketch auto-fallback: exact scan/coarsening once the pass graph is
      // small — the sketch's candidate filter exists to bound hub-vertex
      // aggregation state, not to slow down broadcast-sized graphs
      val slots =
        if (opts.sketchSlots > 0 && gn >= opts.sketchExactCutoff) opts.sketchSlots else 0
      val minMoves =
        if (opts.minMovedFraction > 0) (opts.minMovedFraction * gn).toLong else 0L
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
      // a tail pass keeps the tail's whole id space, seed labels included
      val fBits: Int =
        if (tail != null) tailBack.length
        else if (bcCt && minId >= 0 && maxId + 1 <= LocalMove.FrontierBitsMax)
          (maxId + 1).toInt
        else 0

      // Dense tier (CsrSweep scaladoc): dense id space small enough for
      // driver arrays → all O(V) state lives on the driver. Above the tail
      // it needs a local master, whose driver can hold the pass's blocks;
      // the tail's one block is the driver's on any master. A warm start
      // whose community labels escape the dense id space falls through to
      // the DataFrame tier (it accepts arbitrary labels).
      val warmInit = pass == firstPass && !resumed &&
        (prevMembership.isDefined || affected.isDefined)
      // dense-gate init: (vt, comm0, bits0, present) for CsrSweep; None
      // when the gate fails or a warm start's community labels escape the
      // dense id space. The CSR kernel carries the MG-sketch scan natively
      // (CsrSweep.scanBlock), so sketch passes ride it too, tail included.
      // `present` marks the pass's REAL vertex ids (the vtot rows) so the
      // post-pass community count can run on the driver — id-space holes
      // keep their singleton labels and must not count.
      val denseGate =
        fBits > 0 && (tail != null || (sc.isLocal && fBits <= LocalMove.CtBroadcastMax))
      val denseInit: Option[(Array[Double], Array[Long], Array[Byte], Array[Boolean])] =
        if (denseGate) timed("mark") {
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
            loadWarm()
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
      // (denseComm): the pass tail below then composes and counts on the
      // driver and coarsens the pass's driver-held CSR blocks (passBlocks)
      // in-process — no per-pass materialize job, no compose join, no
      // membership joins in the coarsen, no distinct-count job. The
      // DataFrame tier keeps its refMemb DataFrame unchanged.
      val (denseComm, refMembOpt, iters, lMoves, rMoves, passBlocks) = denseInit match {
        case Some((vt, comm0, bits0, _)) =>
          // packed-CSR fused kernel (CsrSweep scaladoc): one primitive-
          // array pass per half-sweep, frontier folded into the same pass.
          // A tail pass holds its one block on the driver.
          val st =
            if (tail != null) CsrSweep.onDriver(
              Array(CsrSweep.toBlock(tail, CsrSweep.PackGaps)), fBits, vt, comm0, bits0)
            else timed("csrbuild") {
              // pass-0 edges are the src-hash input cache: every edge of a
              // src already lives in one partition, so the pack skips the
              // range shuffle and its sampling pre-job (srcComplete contract
              // in CsrSweep.build). Coarsened passes keep the range-balanced
              // path. init's one job builds the blocks and pins them on the
              // driver, so sweep timings are pure; nothing reads the RDD
              // after it, so it is not cached.
              CsrSweep.init(CsrSweep.build(edges, fBits, srcComplete = edges eq inputEdges),
                fBits, vt, comm0, bits0)
            }
          // closed on failure too: a failed call keeps no pinned blocks
          try {
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
            (Some(st.comm), None, lIt + rIt, lMv, rMv, st.blocks)
          } finally st.close()

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
          (None, Some(rm), lIters + rIters, lMoves, rMoves, null)
      }
      totalIters += math.max(iters, 1)
      if (vtot != null) {
        PlanUtils.release(vtot)
        if (state0 ne vtot) PlanUtils.release(state0)
      }
      if (denseComm.isEmpty) {
        // a DataFrame-tier pass composes by join: the leaf must be a frame
        if (leafArr != null) {
          leaf = leafFrame()
          leafCount = present0.count(identity)
          leafArr = null; present0 = null; vt0 = null
        } else if (leaf == null) leaf = identityLeaf()
      }
      timed("compose") {
        denseComm match {
          case Some(arr) if tail != null =>
            var t = 0
            while (t < tailLeaf.length) { tailLeaf(t) = arr(tailLeaf(t)).toInt; t += 1 }
          case Some(arr) if leafArr != null =>
            var v = 0
            while (v < n0) { if (present0(v)) leafArr(v) = arr(leafArr(v).toInt); v += 1 }
          case Some(arr) if leaf == null =>
            // pass 0 over a dense id space: the leaf is this pass's
            // membership (a copy: the leaf is composed in place)
            val (vt, _, _, present) = denseInit.get
            leafArr = arr.clone(); present0 = present; vt0 = vt
          case Some(arr) =>
            val prevLeaf = leaf
            leaf = Aggregate.composeArray(leaf, arr) // checkpointed inside
            PlanUtils.release(prevLeaf)
          case None =>
            val prevLeaf = leaf
            leaf = PlanUtils.checkpointTruncated(Aggregate.compose(leaf, refMembOpt.get))
            PlanUtils.release(prevLeaf)
        }
      }
      pass += 1

      if (lMoves + rMoves == 0 || pass >= opts.maxPasses) done = true
      else {
        // community count of the pass: the dense tier counts distinct labels of
        // the PRESENT ids on the driver (identical to the refMemb distinct —
        // refMemb rows are exactly the present ids); the DataFrame tier
        // keeps the distinct-count job
        val cn = denseComm match {
          case Some(arr) => countLabels(arr, denseInit.get._4)
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
          // A tail pass coarsens its one block in one slice, always
          // exactly: the in-process sort holds no per-thread hash state to
          // bound.
          if (tail != null) timed("aggregate") {
            tail = Aggregate.coarsenBlocks(passBlocks, denseComm.get, 1)(0)
          } else {
            val (coarse, coarseRows) = timed("aggregate") {
              denseComm match {
                case Some(arr) if !(slots > 0 && opts.sketchAggregation) =>
                  // in-process over the pinned blocks; the row count is the
                  // next pass's local-tail gate. A graph under the gate
                  // stays on the driver for the tail (`held`), with no job;
                  // a larger one becomes the next pass's persisted frame
                  val slices = Aggregate.coarsenBlocks(passBlocks, arr, sc.defaultParallelism)
                  val r = slices.map(_.size.toLong).sum
                  if (tailRows > 0 && r <= tailRows) { held = slices; (null, r) }
                  else (Aggregate.slicesFrame(spark, slices), r)
                case _ =>
                  // sketch-aggregation with a dense-tier membership: build
                  // the (id, comm) rows straight from the driver arrays
                  // (vtot is already released at this point)
                  val rm = refMembOpt.getOrElse {
                    val (ids, comms) = presentRows(denseComm.get, denseInit.get._4)
                    idComm(spark, ids, comms, math.max(4, sc.defaultParallelism))
                  }
                  val c = PlanUtils.checkpointTruncated(
                    if (slots > 0 && opts.sketchAggregation)
                      Aggregate.coarsenSketch(edges, rm, math.max(slots, 8))
                    else Aggregate.coarsen(edges, rm))
                  (c, -1L)
              }
            }
            opts.snapshotDir.foreach { root =>
              timed("snapshot") {
                Snapshots.commit(root, "leiden", (pass - 1).toLong,
                  if (pass >= 2) Some((pass - 2).toLong) else None,
                  Map("edges" -> coarse, "leaf" -> (if (leafArr != null) leafFrame() else leaf)),
                  Map("pass" -> (pass - 1).toString, "vertices" -> cn.toString,
                    "iterations" -> totalIters.toString,
                    "tolerance" -> tolerance.toString))
              }
            }
            dropEdges()
            // a counted graph is the slices frame, persisted already, or
            // null when it stayed on the driver for the tail
            edges = if (coarseRows >= 0) coarse else coarse.cache()
            rows = coarseRows
          }
          gn = cn
          tolerance /= opts.toleranceDrop
        }
      }
      refMembOpt.foreach(PlanUtils.release)
    }
    if (tail != null) timed("compose") {
      // the tail's leaf into the run's leaf, once
      if (leafArr != null) {
        for (v <- 0 until n0) if (present0(v)) leafArr(v) = tailBack(tailLeaf(leafArr(v).toInt))
      } else {
        val ts = tailLeaf.indices.filter(tailBack(_) >= 0).toArray
        val prevLeaf = leaf
        leaf = PlanUtils.checkpointTruncated(Aggregate.compose(leaf,
          idComm(spark, ts.map(tailBack(_)), ts.map(t => tailBack(tailLeaf(t))), 4)))
        PlanUtils.release(prevLeaf)
      }
      tail = null
    }

    val (membership, communities, q) =
      if (leafArr != null) {
        val communities = timed("finalcount") { countLabels(leafArr, present0) }
        // one scan job over the input cache; terms in ascending community id
        val q = timed("modularity") {
          Modularity.dense(inputEdges, leafArr, present0, vt0, m, opts.resolution)
        }
        (leafFrame(), communities, q)
      } else {
        val communities = timed("finalcount") { leaf.select("comm").distinct().count() }
        val q = timed("modularity") {
          // same rows as edges0 (a repartition), read from the cache built at
          // detect() start instead of re-deriving the caller's input plan;
          // broadcast the membership joins whenever V fits the broadcast gate
          Modularity.modularity(inputEdges, leaf, m, opts.resolution,
            broadcastMembership = leafCount <= LocalMove.CtBroadcastMax)
        }
        (leaf, communities, q)
      }
    dropEdges()
    inputEdges.unpersist()
    phase = phase.updated("total", System.currentTimeMillis() - t0)
    LeidenResult(membership, totalIters, pass, q, communities, phase)
  }

  /** (id, vtot) of rows sorted by src: each src once, ascending, its rows'
    * weights summed in row order.
    */
  private def rowWeights(rows: Packed): (Array[Long], Array[Double]) = {
    val s = rows.ints(0); val w = rows.doubles(2)
    val ids = s.distinct.map(_.toLong)
    val vt = new Array[Double](ids.length)
    var k = -1
    for (i <- 0 until rows.size) { if (i == 0 || s(i) != s(i - 1)) k += 1; vt(k) += w(i) }
    (ids, vt)
  }

  /** Distinct labels of the present ids; every label is below `arr.length`. */
  private def countLabels(arr: Array[Long], present: Array[Boolean]): Long = {
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

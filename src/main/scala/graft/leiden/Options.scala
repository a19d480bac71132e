package graft.leiden

import org.apache.spark.sql.DataFrame

/** Algorithm options, defaults identical to the reference
  * (`/root/reference/inc/leiden.hxx:26-59`, defaults at `:56`).
  */
case class LeidenOptions(
    resolution: Double = 1.0,
    tolerance: Double = 1e-2,
    aggregationTolerance: Double = 0.8,
    toleranceDrop: Double = 10.0,
    maxIterations: Int = 20,
    maxPasses: Int = 10,
    /** Misra-Gries sketch slots for the low-memory scan; 0 = exact.
      * Reference uses 64 (multi) and 1 (majority)
      * (`/root/reference/main.cxx:69-75`).
      */
    sketchSlots: Int = 0,
    /** With sketchSlots > 0, ALSO route graph coarsening through the k-slot
      * sketch (`Aggregate.coarsenSketch`, the analog of
      * `/root/reference/inc/leidenLowmem.hxx:370-417`). OFF by default and
      * deliberately so: the reference sketches aggregation to bound its
      * per-thread hashtable memory, a hazard Catalyst does not have —
      * `Aggregate.coarsen` is a shuffled hash aggregation that spills, so
      * the scalable Spark formulation keeps coarsening exact. The lossy
      * path's <=1% modularity bound (README.md:9) presumes few surviving
      * communities; when a pass ends with a large community set (hub-heavy
      * web graphs under the synchronous sweeps), compounded under-estimated
      * super-edge weights destroy later passes — measured on a 100k-vertex
      * preferential-attachment graph: Q 0.0015 sketch-aggregated vs 0.209
      * exact (44% of total edge weight lost by pass 2). Opt in only for
      * strict reference-semantics experiments.
      */
    sketchAggregation: Boolean = false,
    /** With sketchSlots > 0, passes whose graph has fewer vertices than
      * this fall back to the exact scan/coarsening: the sketch exists to
      * bound per-vertex aggregation state on hub-heavy graphs, and on a
      * broadcast-small graph its extra exchanges are pure overhead. Set 0
      * to force the sketch at every size (tests do).
      */
    sketchExactCutoff: Long = 8192,
    /** Stop a local-move phase when an iteration's moves fall below this
      * fraction of the pass's vertices (in addition to the reference's
      * dq-sum tolerance, `/root/reference/inc/leiden.hxx:425-434`) — weak-
      * structure graphs otherwise churn single-digit move counts for the
      * full iteration budget. DEFAULT 0 (off): the default termination
      * semantics match the reference exactly; the bench/driver queries opt
      * in with 1e-3 explicitly (an early churn stop can trade a little
      * modularity on weak-structure graphs for wall-clock).
      */
    minMovedFraction: Double = 0.0,
    /** Once a pass's (coarsened) graph has at most this many edge rows,
      * it moves to the driver once and the remaining passes run there, on
      * any master: the same dense-tier steps and block scan
      * (`CsrSweep.scanBlock`), called in-process on one driver-held block,
      * with the same in-process coarsen (`Aggregate.coarsenBlocks`).
      * Coarsening shrinks graphs geometrically, so the multi-level tail is
      * a few thousand super-vertices for which a pass's Spark jobs (the
      * CSR pack and the coarse frame, or off local masters the Catalyst
      * tier's jobs per half-sweep) are pure fixed cost. 1M edge rows ≈
      * 24 MB on the driver — conservative next to broadcast-join
      * thresholds, and the reference
      * solves 100M-edge graphs on one node. 0 disables (tests of the
      * distributed machinery use 0).
      */
    localSolveEdgeThreshold: Long = 1000000,
    /** Directory for per-pass snapshots (checkpoint/resume). Empty = use
      * Spark localCheckpoint only (no durability).
      */
    snapshotDir: Option[String] = None)

/** Result record (`/root/reference/inc/leiden.hxx:73-145` analog).
  *
  * While each phase of `Leiden.detect` runs, the Spark local property
  * `Leiden.PhaseProperty` ("graft.leiden.phase") holds the phase's
  * `phaseMillis` key, and the caller's value is restored afterwards. So a
  * SparkListener can count the jobs of each phase from
  * `SparkListenerJobStart.properties`.
  *
  * @param membership   (id, comm) final leaf-vertex community assignment
  * @param iterations   total local-move+refine iterations across passes
  * @param passes       number of coarsening passes executed
  * @param modularity   Q of the final membership on the input graph
  * @param communities  number of distinct final communities
  * @param phaseMillis  per-phase wall times (input/init/mark/csrbuild/
  *                     firstpass/move/refine/compose/aggregate/snapshot/
  *                     localtail/finalcount/modularity/total)
  */
case class LeidenResult(
    membership: DataFrame,
    iterations: Int,
    passes: Int,
    modularity: Double,
    communities: Long,
    phaseMillis: Map[String, Long])

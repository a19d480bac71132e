package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtils

/** PageRank by power iteration (mandated by BASELINE.json north_rule;
  * standard public algorithm — damping alpha, dangling mass redistributed
  * uniformly, double precision throughout, ranks sum to 1).
  *
  * One HEAVY job per iteration: the edges-x-contribs gather join + hash
  * aggregation + state update, materialized once (PlanUtils). Everything
  * else reads that materialization: the state row carries `outw` and the
  * previous rank, so the dangling mass for the NEXT iteration and the L1
  * delta for THIS one come from a single cheap scan-aggregation over the
  * checkpointed blocks — no extra joins, no per-iteration recomputation.
  * (Round-1 shape ran three driver actions per iteration — dangling `head`,
  * checkpoint, delta `head` — which dominated wall-clock at fixed cost.)
  *
  * Edges are cached pre-partitioned by `src`, so the gather join reuses the
  * cache's hash partitioning and only the O(V) contribs side shuffles.
  */
object PageRank {

  /** @param edges directed (src,dst,w) — weights define the split of a
    *              vertex's rank among its out-neighbors
    * @param localEdgeThreshold graphs with at most this many edge rows are
    *              solved in the driver-local tail (`localSolve`) — the same
    *              device as Leiden's LocalSolver tail: a power iteration on
    *              a sub-threshold graph is ~100 Spark jobs of pure fixed
    *              scheduling cost, while 2M edge rows collect to well under
    *              a GB transiently. Semantics identical (same formula, same
    *              dangling/delta definitions as `sequential`); the
    *              distributed plan stays the 100-TB path. 0 disables (the
    *              distributed-machinery test pins 0).
    * @param denseKernel gate for the shared-array local-master tier below
    *              (DenseKernel.pagerank): graphs whose ids fit a dense
    *              [0, CtBroadcastMax) array on a local[k] master iterate as
    *              ONE edge-gather job per iteration over dst-partitioned
    *              packed blocks instead of the Catalyst join+agg+checkpoint
    *              round (3+ jobs, two O(V) exchanges each). Same formula,
    *              same dangling/delta definitions, deterministic summation
    *              order (AlgoSpec pins all tiers allclose 1e-6 to the
    *              sequential oracle); non-local masters and sparse/huge id
    *              spaces keep the Catalyst plan — the 100-TB path is
    *              untouched. false pins the distributed machinery (tests).
    * @return (id, rank), sum(rank) == 1 +- fp error
    */
  def run(edges: DataFrame, alpha: Double = 0.85, tol: Double = 1e-6,
          maxIters: Int = 100, localEdgeThreshold: Long = 2000000,
          denseKernel: Boolean = true): DataFrame = {
    val spark = edges.sparkSession
    val isLocalMaster = spark.sparkContext.isLocal
    if (localEdgeThreshold > 0) {
      // on a local master, cache through the gate count so the collect below
      // does not re-derive the input plan (the bench feeds the bipartite
      // distinct+symmetrize straight in); non-local masters skip the cache
      // (a >threshold cluster graph would spill storage for nothing)
      val gated = if (isLocalMaster) edges.cache() else edges
      val cnt = gated.count()
      if (cnt <= localEdgeThreshold) {
        // packed collect: no Row/tuple per edge; same row order as a Row
        // collect, so the gather's edge-order float accumulation and the
        // resulting ranks are identical (EdgeTable.collectPacked scaladoc)
        val (sA, dA, wArr) = graft.graph.EdgeTable.collectPacked(gated)
        if (isLocalMaster) gated.unpersist(blocking = false)
        val ranks = localSolve(sA, dA, wArr, alpha, tol, maxIters)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.DoubleType, nullable = false)))
        return spark.createDataFrame(
          spark.sparkContext.parallelize(
            ranks.toSeq.map { case (k, v) => org.apache.spark.sql.Row(k, v) }, 4), schema)
      }
      if (isLocalMaster) gated.unpersist(blocking = false)
    }
    if (denseKernel && isLocalMaster) {
      denseSolve(edges, alpha, tol, maxIters) match {
        case Some(df) => return df
        case None => // id space not dense-gated: fall through to Catalyst
      }
    }
    val e = edges.select("src", "dst", "w").repartition(col("src")).cache()
    val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()

    // out-weight per vertex; dangling vertices have none
    val outW = e.groupBy(col("src").as("id")).agg(sum("w").as("outw"))
    val base = PlanUtils.checkpointTruncated(
      verts.join(outW, Seq("id"), "left").na.fill(0.0, Seq("outw"))
        .select(col("id"), col("outw")))
    val n = base.count().toDouble
    var state = PlanUtils.checkpointTruncated(
      base.select(col("id"), col("outw"), lit(1.0 / n).as("rank")))
    PlanUtils.release(base)
    var dangling = state.filter(col("outw") === 0.0)
      .agg(coalesce(sum("rank"), lit(0.0))).head.getDouble(0)

    var it = 0
    var delta = Double.MaxValue
    while (delta > tol && it < maxIters) {
      val contribs = state.filter(col("outw") > 0.0)
        .select(col("id").as("src"), (col("rank") / col("outw")).as("unit"))
      val gathered = e.join(contribs.hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("w") * col("unit")).as("gath"))
      val next = PlanUtils.checkpointTruncated(
        state.select(col("id"), col("outw"), col("rank").as("prev"))
          .join(gathered, Seq("id"), "left")
          .select(col("id"), col("outw"),
            (lit((1 - alpha) / n) + lit(alpha) *
              (coalesce(col("gath"), lit(0.0)) + lit(dangling / n))).as("rank"),
            col("prev")))
      // one cheap scan: dangling mass for iteration t+1, L1 delta for t
      val stats = next.agg(
        coalesce(sum(when(col("outw") === 0.0, col("rank"))), lit(0.0)),
        coalesce(sum(abs(col("rank") - col("prev"))), lit(0.0))).head
      dangling = stats.getDouble(0)
      delta = stats.getDouble(1)
      PlanUtils.release(state)
      state = next
      it += 1
    }
    e.unpersist()
    state.select("id", "rank")
  }

  /** Dense local-master tier behind `denseKernel`: one bounded min/max agg
    * decides the gate, then the graph is packed by dst once
    * (DenseKernel.packByDst) and iterated via DenseKernel.pagerank — one
    * edge-gather job per iteration, O(n) driver update between jobs.
    * Returns None when the id space fails the dense gate (negative ids,
    * maxId >= CtBroadcastMax, or an empty graph) — the caller falls back to
    * the Catalyst plan unchanged.
    */
  private def denseSolve(edges: DataFrame, alpha: Double, tol: Double,
                         maxIters: Int): Option[DataFrame] = {
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("double").as("w")).cache()
    try {
      val b = e.agg(min("src"), max("src"), min("dst"), max("dst"),
        count(lit(1))).head
      if (b.isNullAt(0)) return None // empty: Catalyst yields the empty result
      val minId = math.min(b.getLong(0), b.getLong(2))
      val maxId = math.max(b.getLong(1), b.getLong(3))
      val edgeCount = b.getLong(4)
      if (minId < 0 || maxId + 1 > graft.leiden.LocalMove.CtBroadcastMax) return None
      val n = (maxId + 1).toInt
      // present masks id-space holes; outW is the same per-src weight sum
      // the Catalyst tier aggregates (dangling vertices keep outW 0)
      val present = new Array[Boolean](n)
      val outW = new Array[Double](n)
      e.groupBy("src").agg(sum("w").as("ow")).collect().foreach { r =>
        val i = r.getLong(0).toInt
        present(i) = true
        outW(i) = r.getDouble(1)
      }
      e.select("dst").distinct().collect()
        .foreach(r => present(r.getLong(0).toInt) = true)
      // partition count sized by DATA (~128k edges/partition, capped at the
      // core count): the gather job runs once per ITERATION, so idle tasks
      // are pure scheduling overhead — at sf0.1 (1.2M edges, ~90
      // iterations) 32 near-empty tasks/job cost more than the edge scan
      val parts = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
        (edgeCount + (1 << 17) - 1) / (1 << 17))).toInt
      val packed = DenseKernel.packByDst(e, parts).cache()
      packed.count() // materialize: iterations stream the packed blocks only
      val ranks = DenseKernel.pagerank(packed, n, present, outW, alpha, tol, maxIters)
      packed.unpersist(blocking = false)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.DoubleType, nullable = false)))
      val rows = (0 until n).iterator.filter(present(_))
        .map(v => org.apache.spark.sql.Row(v.toLong, ranks(v))).toSeq
      Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema))
    } finally e.unpersist(blocking = false)
  }

  /** Indexed driver-local power iteration — the small-graph tail behind
    * `localEdgeThreshold`. Same semantics as `sequential` (the test
    * oracle): dangling recomputed from the current ranks each iteration,
    * per-dst gather accumulates in edge order, L1 delta stop.
    */
  private[graft] def localSolve(srcA: Array[Long], dstA: Array[Long], wA: Array[Double],
                                alpha: Double, tol: Double, maxIters: Int): Array[(Long, Double)] = {
    val m = srcA.length
    // ids = sorted distinct of both endpoint arrays (identical to the old
    // tuple formulation's (srcs ++ dsts).distinct.sorted, allocation-free)
    val all = new Array[Long](2 * m)
    System.arraycopy(srcA, 0, all, 0, m)
    System.arraycopy(dstA, 0, all, m, m)
    java.util.Arrays.sort(all)
    var n = 0
    var j = 0
    while (j < all.length) {
      if (j == 0 || all(j) != all(j - 1)) n += 1
      j += 1
    }
    if (n == 0) return Array.empty
    val ids = new Array[Long](n)
    var k = 0
    j = 0
    while (j < all.length) {
      if (j == 0 || all(j) != all(j - 1)) { ids(k) = all(j); k += 1 }
      j += 1
    }
    val index = new java.util.HashMap[Long, Int](n * 2)
    var i = 0
    while (i < n) { index.put(ids(i), i); i += 1 }
    val srcI = new Array[Int](m)
    val dstI = new Array[Int](m)
    val wArr = new Array[Double](m)
    val outW = new Array[Double](n)
    i = 0
    while (i < m) {
      srcI(i) = index.get(srcA(i)); dstI(i) = index.get(dstA(i)); wArr(i) = wA(i)
      outW(srcI(i)) += wA(i)
      i += 1
    }
    var ranks = Array.fill(n)(1.0 / n)
    var it = 0
    var delta = Double.MaxValue
    while (delta > tol && it < maxIters) {
      var dangling = 0.0
      i = 0
      while (i < n) { if (outW(i) == 0.0) dangling += ranks(i); i += 1 }
      val gath = new Array[Double](n)
      i = 0
      while (i < m) { gath(dstI(i)) += ranks(srcI(i)) / outW(srcI(i)) * wArr(i); i += 1 }
      val next = new Array[Double](n)
      delta = 0.0
      i = 0
      while (i < n) {
        next(i) = (1 - alpha) / n + alpha * (gath(i) + dangling / n)
        delta += math.abs(next(i) - ranks(i))
        i += 1
      }
      ranks = next
      it += 1
    }
    ids.zip(ranks)
  }

  /** Sequential double-precision oracle for tests (same semantics). */
  def sequential(edges: Seq[(Long, Long, Double)], alpha: Double = 0.85,
                 tol: Double = 1e-6, maxIters: Int = 100): Map[Long, Double] = {
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = verts.size.toDouble
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val byDst = edges.groupBy(_._2)
    var ranks = verts.map(v => v -> 1.0 / n).toMap
    var it = 0
    var delta = Double.MaxValue
    while (delta > tol && it < maxIters) {
      val dangling = verts.filter(v => outW.getOrElse(v, 0.0) == 0.0).map(ranks).sum
      val next = verts.map { v =>
        val gath = byDst.getOrElse(v, Seq.empty)
          .map { case (s, _, w) => ranks(s) / outW(s) * w }.sum
        v -> ((1 - alpha) / n + alpha * (gath + dangling / n))
      }.toMap
      delta = verts.map(v => math.abs(next(v) - ranks(v))).sum
      ranks = next
      it += 1
    }
    ranks
  }
}

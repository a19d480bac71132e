package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Canonical weighted directed edge.
  *
  * Mirrors the reference's edge triple (`/root/reference/inc/Graph.hxx:23-372`:
  * adjacency lists of (key, value) pairs). Vertex ids are Long (the reference
  * uses uint32; Long leaves headroom for 10^12-scale url ids), weights Double
  * at rest — the reference stores float edges but accumulates in double
  * (`/root/reference/inc/leiden.hxx:62-63`); we keep double end-to-end so the
  * 1e-6 modularity reproduction is unaffected by storage precision.
  */
case class Edge(src: Long, dst: Long, w: Double)

/** Canonical edge-table algebra (SURVEY.md §1.4, §2.1-2.6).
  *
  * The distributed analog of the reference's `DiGraph`/`DiGraphCsr`: an edge
  * DataFrame `(src, dst, w)` that is
  *   - deduplicated last-write-wins per (src,dst)
  *     (`/root/reference/inc/_bitset.hxx:245-262` semantics),
  *   - optionally symmetrized (`/root/reference/inc/symmetrize.hxx:21-69`),
  *   - repartitioned by `src` and sorted within partitions — the distributed
  *     CSR analog: each partition is a sorted adjacency block.
  *
  * Everything here is pure DataFrame algebra; Catalyst plans the shuffles.
  */
object EdgeTable {
  val SRC = "src"
  val DST = "dst"
  val W   = "w"

  /** Last-write-wins dedup per (src,dst). `seq` disambiguates duplicates:
    * the row with the highest sequence number wins, matching the reference's
    * "later batch overwrites earlier" merge
    * (`/root/reference/inc/_algorithm.hxx:164-213`). Ties (same seq) break on
    * the larger weight for determinism.
    */
  def dedupLastSeq(edges: DataFrame, seqCol: String): DataFrame = {
    val w = Window.partitionBy(SRC, DST).orderBy(col(seqCol).desc, col(W).desc)
    edges
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(SRC, DST, W)
  }

  /** Dedup without an explicit sequence: max weight wins (deterministic). */
  def dedup(edges: DataFrame): DataFrame =
    edges.groupBy(SRC, DST).agg(max(W).as(W))

  /** Add every missing reverse edge, keeping existing weights
    * (`/root/reference/inc/symmetrize.hxx:44-69`: an existing (v,u) is NOT
    * overwritten by the mirror of (u,v); only absent reverses are added).
    * Implemented as reverse-anti-join + union: one shuffle join, no window.
    */
  def symmetrize(edges: DataFrame): DataFrame = {
    val rev = transpose(edges)
    val missing = rev.join(edges.select(SRC, DST), Seq(SRC, DST), "left_anti")
    edges.unionByName(missing)
  }

  /** Reverse all edges (`/root/reference/inc/transpose.hxx:16-134`). */
  def transpose(edges: DataFrame): DataFrame =
    edges.select(col(DST).as(SRC), col(SRC).as(DST), col(W))

  /** Repartition by src + sort within partitions: the distributed CSR layout
    * (`/root/reference/inc/Graph.hxx:383-672` analog). All per-vertex
    * gather joins then co-locate on this partitioning.
    */
  def canonicalize(edges: DataFrame, partitions: Option[Int] = None): DataFrame = {
    val rep = partitions.fold(edges.repartition(col(SRC)))(n => edges.repartition(n, col(SRC)))
    rep.sortWithinPartitions(SRC, DST)
  }

  /** Total directed edge weight (`/root/reference/inc/properties.hxx:69-106`).
    * On a symmetrized graph this is 2M.
    */
  def totalWeight(edges: DataFrame): Double =
    edges.agg(coalesce(sum(W), lit(0.0))).head.getDouble(0)

  /** Driver-side packed collect of (src, dst, w) as three primitive arrays
    * — the feed for the driver-local tail solvers (PageRank.localSolve,
    * Leiden's LocalSolver). Rows arrive in the order a Row collect returns
    * them ([[Packed]]), so any order-sensitive float accumulation
    * downstream is unchanged. Callers gate on an edge-count threshold
    * first — this is the sub-threshold tail path, never the 100-TB path.
    */
  def collectPacked(edges: DataFrame): (Array[Long], Array[Long], Array[Double]) = {
    val p = Packed.collect(
      edges.select(col(SRC).cast("long"), col(DST).cast("long"), col(W).cast("double")))
    (p.longs(0), p.longs(1), p.doubles(2))
  }

  /** Per-vertex out-degree (`/root/reference/inc/properties.hxx:26-55`). */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col(SRC).as("id")).agg(count(lit(1)).as("degree"))

  /** Per-vertex weighted degree vtot[u] = sum of outgoing edge weights
    * (`/root/reference/inc/leiden.hxx:194-202`). Self-loops included, as in
    * the reference (vertexWeights scans all edges).
    */
  def vertexWeights(edges: DataFrame): DataFrame =
    edges.groupBy(col(SRC).as("id")).agg(sum(W).as("vtot"))

  /** Point lookup: the out-neighborhood of one vertex (SURVEY.md §2.2 P3;
    * `/root/reference/inc/Graph.hxx` per-vertex edge iteration). A plain
    * src-equality filter — on the canonical edge table (hash-partitioned by
    * src, sorted within partitions) Catalyst pushes the predicate into the
    * scan and, with src-bucketed storage, prunes to a single bucket; no
    * shuffle, no full scan at rest.
    */
  def neighborsOf(edges: DataFrame, vertex: Long): DataFrame =
    edges.filter(col(SRC) === vertex).select(col(DST), col(W))

  /** Distinct vertex ids appearing as src or dst. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col(SRC).as("id")).union(edges.select(col(DST).as("id"))).distinct()

  /** Count self loops (`/root/reference/inc/selfLoop.hxx:58-79`). */
  def selfLoopCount(edges: DataFrame): Long =
    edges.filter(col(SRC) === col(DST)).count()

  /** Add a self loop of weight `w` to every vertex that lacks one
    * (`/root/reference/inc/selfLoop.hxx:15-50`).
    */
  def addSelfLoops(edges: DataFrame, w: Double): DataFrame = {
    val have = edges.filter(col(SRC) === col(DST)).select(col(SRC).as("id"))
    val need = vertices(edges).join(have, Seq("id"), "left_anti")
    edges.unionByName(need.select(col("id").as(SRC), col("id").as(DST), lit(w).as(W)))
  }

  /** Keep vertices/edges passing predicates
    * (`/root/reference/inc/duplicate.hxx:17-72` duplicate-if). The vertex
    * filter applies to both endpoints (a dropped vertex drops its edges).
    */
  def filterGraph(edges: DataFrame, edgePred: Option[org.apache.spark.sql.Column],
                  keptVertices: Option[DataFrame]): DataFrame = {
    val e1 = edgePred.fold(edges)(edges.filter)
    keptVertices.fold(e1) { vs =>
      val ids = vs.select(col(vs.columns.head).as("id"))
      e1.join(ids.withColumnRenamed("id", SRC), Seq(SRC), "left_semi")
        .join(ids.withColumnRenamed("id", DST), Seq(DST), "left_semi")
        .select(SRC, DST, W)
    }
  }

  import org.apache.spark.sql.Encoders
  /** Typed view for module boundaries. */
  def typed(edges: DataFrame): Dataset[Edge] = {
    edges.select(col(SRC).cast("long"), col(DST).cast("long"), col(W).cast("double"))
      .as[Edge](Encoders.product[Edge])
  }

  /** Edges from an in-memory seq (tests, toy graphs). */
  def of(spark: SparkSession, es: Seq[(Long, Long, Double)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(SRC, LongType, nullable = false),
      StructField(DST, LongType, nullable = false),
      StructField(W, DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(es.map(e => Row(e._1, e._2, e._3))), schema)
  }

  /** Undirected toy graph: emit both directions for each pair. */
  def undirected(spark: SparkSession, es: Seq[(Long, Long, Double)]): DataFrame =
    symmetrize(dedup(of(spark, es)))
}

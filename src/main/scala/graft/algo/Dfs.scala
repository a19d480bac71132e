package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Depth-first search (SURVEY T2, `/root/reference/inc/dfs.hxx:19-42`).
  *
  * DFS is inherently sequential — a vertex's visit time depends on the
  * entire traversal before it, so there is no shuffle-parallel formulation
  * (unlike BFS's frontier supersteps). The reference's dfs.hxx is likewise
  * a single-threaded routine. The implementation mirrors the engine's other
  * driver-local tails (Leiden's local tail, PageRank.localSolve): the graph is
  * collected under an explicit edge bound and traversed iteratively.
  * Neighbor order is ascending id — deterministic, playing the role of the
  * reference's adjacency-list order.
  */
object Dfs {

  /** @return (id, pre, post) pre/post-order numbers for every vertex
    *         reachable from `source`; unreachable vertices are absent.
    */
  def run(edges: DataFrame, source: Long, maxEdges: Long = 2000000): DataFrame = {
    val spark = edges.sparkSession
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val n = rows.count()
    require(n <= maxEdges,
      s"DFS is a sequential traversal; graph has $n edge rows > maxEdges=$maxEdges. " +
        "Raise maxEdges explicitly if a driver-local traversal of this size is intended.")
    val es = rows.collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = es.groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2).sorted }
    val pre = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    val post = scala.collection.mutable.HashMap.empty[Long, Int]
    var preC = 0
    var postC = 0
    // iterative two-phase stack: (vertex, nextChildIndex)
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    pre(source) = preC; preC += 1
    stack += ((source, 0))
    while (stack.nonEmpty) {
      val (v, i) = stack.remove(stack.length - 1)
      val nbrs = adj.getOrElse(v, Array.empty[Long])
      var j = i
      var descended = false
      while (j < nbrs.length && !descended) {
        val d = nbrs(j)
        if (!pre.contains(d)) {
          stack += ((v, j + 1))
          pre(d) = preC; preC += 1
          stack += ((d, 0))
          descended = true
        }
        j += 1
      }
      if (!descended) { post(v) = postC; postC += 1 }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pre", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("post", org.apache.spark.sql.types.IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        pre.toSeq.map { case (v, p) => org.apache.spark.sql.Row(v, p, post(v)) }, 4), schema)
  }
}

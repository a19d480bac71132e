package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting on the symmetrized simple graph (mandated by
  * BASELINE.json north_rule; standard public algorithm).
  *
  * Edge-orientation trick: direct every undirected edge from the endpoint
  * with the smaller (degree, id) to the larger. Each triangle then has
  * exactly one wedge u->v, u->w with an oriented closing edge v->w, so the
  * count is one self-join plus one semi-join — the wedge explosion is
  * bounded by sum(min-degree^2) instead of sum(degree^2), which is what
  * makes it survive web-graph hubs.
  */
object Triangles {

  /** Orient the symmetrized edge set by (degree, id). */
  def orient(edges: DataFrame): DataFrame = {
    val simple = edges.filter(col("src") =!= col("dst")).select("src", "dst").distinct()
    val deg = simple.groupBy(col("src").as("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    simple
      .join(deg.select(col("id").as("src"), col("deg").as("dsrc")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddst")), "dst")
      .filter(col("dsrc") < col("ddst") ||
        (col("dsrc") === col("ddst") && col("src") < col("dst")))
      .select("src", "dst")
  }

  /** All triangles as (a, b, c) rows (each triangle exactly once). */
  def triangles(edges: DataFrame): DataFrame = {
    val o = orient(edges).cache()
    val wedges = o.select(col("src").as("a"), col("dst").as("b"))
      .join(o.select(col("src").as("a"), col("dst").as("c")), "a")
      .filter(col("b") < col("c"))
    // closing edge may be oriented either b->c or c->b
    val closed = wedges.join(
      o.select(col("src").as("b"), col("dst").as("c"))
        .union(o.select(col("dst").as("b"), col("src").as("c"))),
      Seq("b", "c"), "left_semi")
    closed.select("a", "b", "c")
  }

  /** Global triangle count. On a local master with a dense-gated id
    * space the count runs in the shared-array kernel (`kernelCount`) — the
    * exact integer is identical to the Catalyst plan's by construction
    * (AlgoSpec pins it); non-local masters and huge/sparse graphs keep the
    * Catalyst join plan, which is the 100-TB path.
    *
    * @param simpleInput caller guarantees `edges` is already a SIMPLE
    *        symmetric pair set (no self-loops, no duplicate (src,dst)
    *        rows) — the kernel feed then skips its defensive
    *        filter+distinct exchange (a full O(E) shuffle). Deduping an
    *        already-distinct set is the identity, so this is plan-only.
    */
  def globalCount(edges: DataFrame, simpleInput: Boolean = false): Long =
    if (edges.sparkSession.sparkContext.isLocal)
      kernelCount(edges, simpleInput).getOrElse(triangles(edges).count())
    else triangles(edges).count()

  /** Edge-row cap for the kernel's driver-side edge collect (two int arrays
    * + sort): 16M directed distinct pairs ≈ 128 MB transient.
    */
  val KernelEdgeMax: Long = 16000000L

  /** Shared-array twin of `triangles(edges).count()`: same simple-graph
    * projection, same (degree, id) orientation, and the count is the number
    * of closed wedges — for every oriented edge (u,v), the common oriented
    * IN-neighbors a (a→u and a→v) are exactly the wedge apexes whose
    * closing edge is (u,v); the orientation admits at most one of
    * (u,v)/(v,u), so each closed wedge is counted exactly once, as in the
    * Catalyst semi-join. Integer arithmetic throughout — the kernel and the
    * join plan cannot differ. One collect of the distinct directed pairs
    * (bounded by KernelEdgeMax), then ONE job of sorted-adjacency
    * intersections over index stripes; the Catalyst plan's wedge self-join +
    * semi-join shuffles O(sum min-deg^2) rows instead.
    *
    * Returns None (caller falls back to the join plan) when ids are
    * negative, the id space exceeds the dense gate, or the pair count
    * exceeds KernelEdgeMax.
    */
  private[graft] def kernelCount(edges: DataFrame,
                                 simpleInput: Boolean = false): Option[Long] = {
    val spark = edges.sparkSession
    val simple =
      (if (simpleInput) edges.select(col("src").cast("long"), col("dst").cast("long"))
       else edges.filter(col("src") =!= col("dst"))
         .select(col("src").cast("long"), col("dst").cast("long")).distinct()).cache()
    try {
      val st = simple.agg(org.apache.spark.sql.functions.count(lit(1)),
        min("src"), max("src"), min("dst"), max("dst")).head
      val mEdges = st.getLong(0)
      if (mEdges == 0) return Some(0L)
      if (mEdges > KernelEdgeMax) return None
      val minId = math.min(st.getLong(1), st.getLong(3))
      val maxId = math.max(st.getLong(2), st.getLong(4))
      if (minId < 0 || maxId + 1 > graft.leiden.LocalMove.CtBroadcastMax) return None
      val n = (maxId + 1).toInt
      val m = mEdges.toInt
      // collect the pairs as packed int columns (no Row objects)
      val pairs = graft.graph.Packed.collect(
        simple.select(col("src").cast("int"), col("dst").cast("int")))
      val ss = pairs.ints(0); val dd = pairs.ints(1)
      // out-degree in the simple directed graph — the orientation key
      val deg = new Array[Int](n)
      var i = 0
      while (i < m) { deg(ss(i)) += 1; i += 1 }
      // orient: keep (s,d) iff (deg(s), s) < (deg(d), d) lexicographically
      @inline def keep(s: Int, d: Int): Boolean =
        deg(s) < deg(d) || (deg(s) == deg(d) && s < d)
      var mo = 0
      i = 0
      while (i < m) { if (keep(ss(i), dd(i))) mo += 1; i += 1 }
      val os = new Array[Int](mo); val od = new Array[Int](mo)
      var j = 0
      i = 0
      while (i < m) {
        if (keep(ss(i), dd(i))) { os(j) = ss(i); od(j) = dd(i); j += 1 }
        i += 1
      }
      // in-CSR over the oriented edges: radj(roff(x)..roff(x+1)) = sorted
      // oriented in-neighbors of x
      val roff = new Array[Int](n + 1)
      i = 0
      while (i < mo) { roff(od(i) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { roff(i + 1) += roff(i); i += 1 }
      val cur = java.util.Arrays.copyOf(roff, n)
      val radj = new Array[Int](mo)
      i = 0
      while (i < mo) { radj(cur(od(i))) = os(i); cur(od(i)) += 1; i += 1 }
      var x = 0
      while (x < n) { java.util.Arrays.sort(radj, roff(x), roff(x + 1)); x += 1 }
      Some(DenseKernel.wedgeCount(spark, os, od, roff, radj))
    } finally simple.unpersist(blocking = false)
  }

  /** Per-vertex triangle counts (vertices in no triangle get 0). */
  def perVertex(edges: DataFrame): DataFrame = {
    val t = triangles(edges)
    val verts = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val corners = t.select(col("a").as("id"))
      .union(t.select(col("b").as("id")))
      .union(t.select(col("c").as("id")))
      .groupBy("id").agg(org.apache.spark.sql.functions.count(lit(1)).as("triangles"))
    verts.join(corners, Seq("id"), "left").na.fill(0L, Seq("triangles"))
  }
}

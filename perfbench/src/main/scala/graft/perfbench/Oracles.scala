package graft.perfbench

import org.apache.spark.sql.DataFrame

/** Reference computations written apart from the program: plain Scala
  * over edge lists collected to the driver. Nothing here calls graft code.
  */
object Oracles {

  /** A collected edge table; vertex ids are dense enough to index arrays. */
  final class Graph(val src: Array[Int], val dst: Array[Int], val w: Array[Double]) {
    val n: Int = if (src.isEmpty) 0 else math.max(src.max, dst.max) + 1
    /** ids that occur at either end of some row */
    lazy val present: Array[Boolean] = {
      val p = new Array[Boolean](n)
      var i = 0
      while (i < src.length) { p(src(i)) = true; p(dst(i)) = true; i += 1 }
      p
    }
    lazy val vertexCount: Int = present.count(identity)
  }

  def collect(df: DataFrame): Graph = {
    val rows = df.selectExpr("cast(src as int)", "cast(dst as int)", "cast(w as double)").collect()
    new Graph(rows.map(_.getInt(0)), rows.map(_.getInt(1)), rows.map(_.getDouble(2)))
  }

  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  def components(g: Graph, skipSelfLoops: Boolean = false): UnionFind = {
    val uf = new UnionFind(g.n)
    var i = 0
    while (i < g.src.length) {
      if (!skipSelfLoops || g.src(i) != g.dst(i)) uf.union(g.src(i), g.dst(i))
      i += 1
    }
    uf
  }

  /** (id, label) rows as an array indexed by id; None on a duplicate id,
    * an id outside the graph, or an id that is not a vertex.
    */
  def labelArray(g: Graph, rows: Array[(Long, Long)]): Option[Array[Long]] = {
    val lab = Array.fill(g.n)(-1L)
    val ok = rows.forall { case (id, l) =>
      id >= 0 && id < g.n && g.present(id.toInt) && lab(id.toInt) < 0 && { lab(id.toInt) = l; l >= 0 }
    }
    if (ok) Some(lab) else None
  }

  /** Q = Σ_c [ in_c/(2m) − (tot_c/(2m))² ] over the symmetric row set:
    * 2m is the sum of all row weights, in_c the weight of rows with both
    * ends in c, tot_c the weight of rows whose src is in c.
    */
  def modularity(g: Graph, comm: Array[Long]): Double = {
    val in = new java.util.HashMap[Long, Double]()
    val tot = new java.util.HashMap[Long, Double]()
    var twoM = 0.0
    var i = 0
    while (i < g.src.length) {
      val cs = comm(g.src(i)); val w = g.w(i)
      twoM += w
      tot.merge(cs, w, (a: Double, b: Double) => a + b)
      if (cs == comm(g.dst(i))) in.merge(cs, w, (a: Double, b: Double) => a + b)
      i += 1
    }
    var q = 0.0
    tot.forEach { (c, t) =>
      q += in.getOrDefault(c, 0.0) / twoM - (t / twoM) * (t / twoM)
    }
    q
  }

  /** Communities whose members are not connected by the community's own
    * edges (the Leiden guarantee is that there are none).
    */
  def disconnected(g: Graph, comm: Array[Long]): Int = {
    val uf = new UnionFind(g.n)
    var i = 0
    while (i < g.src.length) {
      if (comm(g.src(i)) == comm(g.dst(i))) uf.union(g.src(i), g.dst(i))
      i += 1
    }
    val rootOf = scala.collection.mutable.HashMap[Long, Int]()
    val split = scala.collection.mutable.HashSet[Long]()
    var v = 0
    while (v < g.n) {
      if (g.present(v)) {
        val r = uf.find(v)
        if (rootOf.getOrElseUpdate(comm(v), r) != r) split += comm(v)
      }
      v += 1
    }
    split.size
  }

  /** PageRank by power iteration to an L1 change below 1e-13: damping
    * alpha, rank of vertices without out-weight spread uniformly, a
    * vertex's rank split among out-neighbors by row weight.
    */
  def pagerank(g: Graph, alpha: Double = 0.85): Array[Double] = {
    val n = g.vertexCount.toDouble
    val outW = new Array[Double](g.n)
    var i = 0
    while (i < g.src.length) { outW(g.src(i)) += g.w(i); i += 1 }
    var r = Array.tabulate(g.n)(v => if (g.present(v)) 1.0 / n else 0.0)
    var delta = Double.MaxValue
    var it = 0
    while (delta > 1e-13 && it < 10000) {
      var dangling = 0.0
      var v = 0
      while (v < g.n) { if (g.present(v) && outW(v) == 0.0) dangling += r(v); v += 1 }
      val next = new Array[Double](g.n)
      i = 0
      while (i < g.src.length) { next(g.dst(i)) += r(g.src(i)) / outW(g.src(i)) * g.w(i); i += 1 }
      delta = 0.0
      v = 0
      while (v < g.n) {
        if (g.present(v)) {
          next(v) = (1 - alpha) / n + alpha * (next(v) + dangling / n)
          delta += math.abs(next(v) - r(v))
        }
        v += 1
      }
      r = next
      it += 1
    }
    r
  }

  /** Triangles of the simple undirected graph behind the rows (self loops
    * and repeated pairs ignored), by degree-ordered sorted-adjacency merge.
    */
  def triangles(g: Graph): Long = {
    val keys = new Array[Long](g.src.length)
    var k = 0
    var i = 0
    while (i < g.src.length) {
      val a = math.min(g.src(i), g.dst(i)); val b = math.max(g.src(i), g.dst(i))
      if (a != b) { keys(k) = (a.toLong << 32) | b; k += 1 }
      i += 1
    }
    val pairs = java.util.Arrays.copyOf(keys, k).sorted.distinct
    val deg = new Array[Int](g.n)
    pairs.foreach { p => deg((p >>> 32).toInt) += 1; deg((p & 0xffffffffL).toInt) += 1 }
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    // forward adjacency: each pair oriented from the lower-ranked end
    val fwd = Array.fill(g.n)(scala.collection.mutable.ArrayBuilder.make[Int])
    pairs.foreach { p =>
      val a = (p >>> 32).toInt; val b = (p & 0xffffffffL).toInt
      if (before(a, b)) fwd(a) += b else fwd(b) += a
    }
    val adj = fwd.map(_.result().sorted)
    var count = 0L
    var u = 0
    while (u < g.n) {
      val au = adj(u)
      var j = 0
      while (j < au.length) {
        val av = adj(au(j))
        var x = 0; var y = 0
        while (x < au.length && y < av.length) {
          if (au(x) < av(y)) x += 1
          else if (au(x) > av(y)) y += 1
          else { count += 1; x += 1; y += 1 }
        }
        j += 1
      }
      u += 1
    }
    count
  }
}

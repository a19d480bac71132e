package graft.leiden

import graft.graph.Packed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Modularity evaluation, independent of the solver — the engine's oracle
  * for golden tests, mirroring `modularityByOmp`
  * (`/root/reference/inc/properties.hxx:205-233`).
  */
object Modularity {

  /** Q = sum_c [ cin_c/(2M) - R*(ctot_c/(2M))^2 ]
    * (`/root/reference/inc/properties.hxx:123-126`), where for each community
    * c over the DIRECTED (symmetrized) edge set:
    *   cin_c  = sum of w over edges whose both endpoints are in c,
    *   ctot_c = sum of w over edges whose src is in c,
    * and M = totalDirectedWeight / 2 (`/root/reference/main.cxx:51`).
    *
    * One plan: edges joined twice against membership (broadcast when small),
    * then a two-level aggregation. At web scale the membership join is the
    * shuffle; cin/ctot aggregation is map-side combined.
    *
    * @param edges      symmetrized directed edges (src,dst,w)
    * @param membership (id, comm)
    */
  def modularity(edges: DataFrame, membership: DataFrame, m: Double, resolution: Double = 1.0,
                 broadcastMembership: Boolean = false): Double = {
    // broadcastMembership: checkpointed memberships carry no size statistics
    // (localCheckpoint => defaultSizeInBytes), so the planner never picks a
    // broadcast join on its own; callers that KNOW V is broadcast-sized
    // (Leiden.detect gates on CtBroadcastMax) pass true and both membership
    // joins skip the O(E) exchanges
    val hint = (df: DataFrame) => if (broadcastMembership) broadcast(df) else df
    val ms = hint(membership.select(col("id").as("src"), col("comm").as("csrc")))
    val md = hint(membership.select(col("id").as("dst"), col("comm").as("cdst")))
    val terms = edges
      .join(ms, "src")
      .join(md, "dst")
      .groupBy(col("csrc").as("comm"))
      .agg(
        sum(when(col("csrc") === col("cdst"), col("w")).otherwise(lit(0.0))).as("cin"),
        sum(col("w")).as("ctot"))
    val q = terms
      .select(sum(communityTerm(col("cin"), col("ctot"), m, resolution)).as("q"))
      .head
    if (q.isNullAt(0)) 0.0 else q.getDouble(0)
  }

  /** [[modularity]] of a membership held on the driver over a dense id
    * space, as `Leiden.detect` keeps it: `comm(v)` is the community of id
    * v where `present(v)`, every community id is below `comm.length`, and
    * `vt(v)` is v's weighted out-degree. ctot is summed from `vt` on the
    * driver; cin comes from ONE scan job over `edges` with the membership
    * broadcast, each task folding its intra-community edges per community
    * in partition order. The terms are the same expression as
    * [[communityTerm]], summed in ascending community id, so Q does not
    * depend on Spark's aggregation order: on integral weights, where cin
    * and ctot are exact, it is a function of the membership alone.
    */
  def dense(edges: DataFrame, comm: Array[Long], present: Array[Boolean], vt: Array[Double],
            m: Double, resolution: Double = 1.0): Double = {
    val n = comm.length
    val lab = new Array[Int](n) // community per id, -1 for an id-space hole
    var v = 0
    while (v < n) {
      if (present(v)) {
        val c = comm(v)
        require(c >= 0 && c < n, s"community $c of vertex $v is outside [0, $n)")
        lab(v) = c.toInt
      } else lab(v) = -1
      v += 1
    }
    val sc = edges.sparkSession.sparkContext
    val bc = sc.broadcast(lab)
    val partials = try {
      Packed.blocks(edges.select(col("src").cast("int"), col("dst").cast("int"),
          col("w").cast("double")))
        .map { b =>
          val lab = bc.value
          val ss = b.ints(0); val dd = b.ints(1); val ww = b.doubles(2)
          // intra-community edges as (community, row) keys: one sort
          // groups them by community, rows kept in partition order
          val key = new Array[Long](b.size)
          var k = 0
          var i = 0
          while (i < b.size) {
            val c = lab(ss(i)); val d = dd(i)
            if (c >= 0 && d >= 0 && d < lab.length && lab(d) == c) {
              key(k) = (c.toLong << 32) | i.toLong
              k += 1
            }
            i += 1
          }
          java.util.Arrays.sort(key, 0, k)
          val cs = new Array[Int](k); val sums = new Array[Double](k)
          var g = -1
          i = 0
          while (i < k) {
            val c = (key(i) >>> 32).toInt
            if (g < 0 || cs(g) != c) { g += 1; cs(g) = c }
            sums(g) += ww((key(i) & 0xFFFFFFFFL).toInt)
            i += 1
          }
          (java.util.Arrays.copyOf(cs, g + 1), java.util.Arrays.copyOf(sums, g + 1))
        }
        .collect()
    } finally bc.destroy()
    val cin = new Array[Double](n)
    partials.foreach { case (cs, sums) =>
      var i = 0
      while (i < cs.length) { cin(cs(i)) += sums(i); i += 1 }
    }
    val ctot = new Array[Double](n)
    val has = new Array[Boolean](n)
    v = 0
    while (v < n) {
      if (present(v)) { val c = lab(v); ctot(c) += vt(v); has(c) = true }
      v += 1
    }
    val twoM = 2 * m
    var q = 0.0
    var c = 0
    while (c < n) {
      if (has(c)) q += cin(c) / twoM - resolution * math.pow(ctot(c) / twoM, 2.0)
      c += 1
    }
    q
  }

  /** Per-community modularity term (`/root/reference/inc/properties.hxx:123-126`). */
  def communityTerm(cin: Column, ctot: Column, m: Double, resolution: Double): Column =
    cin / lit(2 * m) - lit(resolution) * pow(ctot / lit(2 * m), 2.0)

  /** Per-community (cin, ctot) table — exact integers when w is integral;
    * exposed for the SQL-oracle contract.
    */
  def communityTerms(edges: DataFrame, membership: DataFrame): DataFrame = {
    val ms = membership.select(col("id").as("src"), col("comm").as("csrc"))
    val md = membership.select(col("id").as("dst"), col("comm").as("cdst"))
    edges
      .join(ms, "src")
      .join(md, "dst")
      .groupBy(col("csrc").as("comm"))
      .agg(
        sum(when(col("csrc") === col("cdst"), col("w")).otherwise(lit(0.0))).as("cin"),
        sum(col("w")).as("ctot"))
  }

  /** Delta-modularity of moving u from community d to community c
    * (`/root/reference/inc/properties.hxx:253-256`):
    *   dQ = (w_uc - w_ud)/M - R*vtot_u*(vtot_u + ctot_c - ctot_d)/(2*M*M)
    * where w_uc/w_ud exclude self loops (SELF=false scan,
    * `/root/reference/inc/leiden.hxx:255-256`) and ctot_d still includes
    * vtot_u (u has not left d yet).
    */
  def deltaQ(wuc: Column, wud: Column, vtot: Column, ctotC: Column, ctotD: Column,
             m: Double, resolution: Double): Column =
    (wuc - wud) / lit(m) -
      lit(resolution) * vtot * (vtot + ctotC - ctotD) / lit(2 * m * m)

  /** Scala-side dQ for tests / sequential oracles. */
  def deltaQScalar(wuc: Double, wud: Double, vtot: Double, ctotC: Double, ctotD: Double,
                   m: Double, resolution: Double = 1.0): Double =
    (wuc - wud) / m - resolution * vtot * (vtot + ctotC - ctotD) / (2 * m * m)
}

package graft.leiden

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Modularity evaluation, independent of the solver — the engine's oracle
  * for golden tests, mirroring `modularityByOmp`
  * (`/root/reference/inc/properties.hxx:205-233`): [[modularity]] joins a
  * membership frame against an edge frame in Spark. [[ofBlocks]] reads
  * CSR blocks the driver holds with no job; `Leiden.detect` uses it when
  * its last pass ran on the driver, else the join.
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

  /** [[modularity]] of a graph the driver holds as CSR blocks, under the
    * membership `comm` indexed by the blocks' vertex ids, with no Spark
    * job. `Leiden.detect` passes its last pass's blocks and membership:
    * coarsening preserves every community's cin and ctot, so that is the
    * input's Q under the run's leaf membership.
    *
    * The blocks coarsen into one slice by `comm`
    * ([[Aggregate.coarsenBlocks]]), whose rows (c, d) come sorted. Then
    * cin_c is the (c, c) row's weight and ctot_c the sum of c's rows, and
    * the terms, the same expression as [[communityTerm]], are summed in
    * ascending c. So Q does not depend on Spark's aggregation order: on
    * integral weights, where cin and ctot are exact, it is a function of
    * the membership and its community ids alone.
    */
  def ofBlocks(blocks: Array[CsrSweep.CsrBlock], comm: Array[Long], m: Double,
               resolution: Double = 1.0): Double = {
    val rows = Aggregate.coarsenBlocks(blocks, comm, 1)(0)
    val src = rows.ints(0); val dst = rows.ints(1); val w = rows.doubles(2)
    val twoM = 2 * m
    var q = 0.0
    var i = 0
    while (i < rows.size) {
      val c = src(i)
      var cin = 0.0; var ctot = 0.0
      while (i < rows.size && src(i) == c) {
        if (dst(i) == c) cin = w(i)
        ctot += w(i)
        i += 1
      }
      q += cin / twoM - resolution * math.pow(ctot / twoM, 2.0)
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

package graft.leiden

import graft.graph.Packed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph coarsening (`leidenAggregateOmpW`,
  * `/root/reference/inc/leiden.hxx:591-645`): collapse each refined
  * sub-community into a super-vertex; super-edge weight = sum of member edge
  * weights; intra-community weight becomes the super-vertex self loop
  * (SELF=true during aggregation, `/root/reference/inc/leiden.hxx:600-601`).
  *
  * Two membership joins + one hash aggregation. The output shrinks
  * geometrically per pass, so AQE coalesces partitions and later passes run
  * on broadcast-sized data — the Spark analog of the reference's
  * DiGraph->CSR switch (`/root/reference/inc/leiden.hxx:724-725`).
  */
object Aggregate {

  /** Coarsen edges by a membership (id -> comm). Keeps self loops. */
  def coarsen(edges: DataFrame, membership: DataFrame): DataFrame = {
    val ms = membership.select(col("id").as("src"), col("comm").as("csrc"))
    val md = membership.select(col("id").as("dst"), col("comm").as("cdst"))
    edges
      .join(ms, "src").join(md, "dst")
      .groupBy(col("csrc").as("src"), col("cdst").as("dst"))
      .agg(sum("w").as("w"))
  }

  /** Low-memory LOSSY coarsening (`leidenLowmemAggregateEdgesOmpW`,
    * `/root/reference/inc/leidenLowmem.hxx:370-417`): each community's
    * outgoing neighbor-community weights pass through a k-slot Misra-Gries
    * sketch instead of an exact hashtable, so a super-vertex keeps at most
    * `slots` out-edges (hub communities with millions of neighbor
    * communities get a bounded profile; weights are the sketch's decrement
    * estimates, hence lossy — the reference bounds the modularity gap at
    * ~1% for k>=8, `/root/reference/README.md:9`).
    *
    * The reference emits each surviving (c,d) super-edge symmetrically with
    * first-writer-wins dedup (`:386-387`, `csrAddEdgeOmpU<CHECK=true>`),
    * which is thread-schedule-dependent; the deterministic analog here
    * takes the MAX estimate per unordered pair, then emits both directions.
    */
  def coarsenSketch(edges: DataFrame, membership: DataFrame, slots: Int): DataFrame = {
    val ms = membership.select(col("id").as("src"), col("comm").as("csrc"))
    val md = membership.select(col("id").as("dst"), col("comm").as("cdst"))
    val sk = edges
      .join(ms, "src").join(md, "dst")
      .groupBy("csrc")
      .agg(MGSketch.sketch(slots)(col("cdst"), col("w")).as("cands"))
      .select(col("csrc"), explode(col("cands")).as("c"))
      .select(col("csrc").as("a"), col("c.comm").as("b"), col("c.w").as("w"))
    val canon = sk
      .select(least(col("a"), col("b")).as("lo"), greatest(col("a"), col("b")).as("hi"), col("w"))
      .groupBy("lo", "hi").agg(max("w").as("w"))
    canon.select(col("lo").as("src"), col("hi").as("dst"), col("w"))
      .unionByName(canon.filter(col("lo") =!= col("hi"))
        .select(col("hi").as("src"), col("lo").as("dst"), col("w")))
      // a community whose sketch decremented to all-zero would otherwise
      // vanish from the coarse graph and its leaf rows would drop out of
      // the membership composition (an inner join) — keep every community
      // alive with a zero-weight self loop (harmless: every consumer
      // aggregates weights, and the move scan skips self loops)
      .unionByName(membership.select(col("comm").as("src"), col("comm").as("dst"),
        lit(0.0).as("w")).distinct())
  }

  /** Dense-tier twin of [[coarsen]]: when the pass membership lives in a
    * driver array (the CsrSweep state; a LocalMove pass keeps a DataFrame
    * membership and takes [[coarsen]]), project src/dst through a
    * broadcast array lookup instead of two membership joins — the result
    * (comm(src), comm(dst), sum w) is identical (the joins were total on
    * the pass's vertices), and the plan is scan → project → one hash
    * aggregation: zero join exchanges, zero broadcast-relation builds.
    *
    * Returns the coarse edges cached AND materialized, not checkpointed:
    * the pass loop caches the coarse graph anyway (the next pass reads it
    * repeatedly), so checkpoint-then-cache paid two materializations of the
    * same rows. The cached plan still SERIALIZES the broadcast handle into
    * every later task over the cache (the InMemoryTableScan keeps its child
    * plan for recompute), so the broadcast is only UNPERSISTED here —
    * executor copies drop, the handle stays valid (a recompute or late task
    * re-fetches it from the driver), and the array is GC-eligible once
    * detect() releases the cache at pass end.
    *
    * @return the coarse edges and their row count — the count of the
    *         materializing job, which detect's local-tail gate reads
    *         instead of counting again
    */
  def coarsenArrayCached(edges: DataFrame, comm: Array[Long]): (DataFrame, Long) = {
    val spark = edges.sparkSession
    val bcRef = new graft.catalyst.BcLongs(spark.sparkContext.broadcast(comm))
    val out = edges.select(
        org.apache.spark.sql.graft.NativeColumns.bcLookupLong(bcRef, col("src")).as("src"),
        org.apache.spark.sql.graft.NativeColumns.bcLookupLong(bcRef, col("dst")).as("dst"),
        col("w"))
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .cache()
    val rows = out.count()
    bcRef.bc.unpersist(blocking = false)
    (out, rows)
  }

  /** [[coarsenArrayCached]] for rows the driver holds (the local tail of
    * `Leiden.detect`): `rows` are (src int, dst int, w double) and `comm`
    * maps a vertex to its community. Exact, like the distributed coarsen.
    */
  def coarsenRows(rows: Packed, comm: Array[Long]): Packed = {
    val s = rows.ints(0); val d = rows.ints(1)
    sumPairs(Array.tabulate(rows.size)(i => (comm(s(i)) << 32) | comm(d(i))), rows.doubles(2))
  }

  /** Rows keyed by packed `(src << 32) | dst` longs of non-negative ints,
    * one row per pair: one sort of the keys gives the distinct pairs in
    * ascending (src, dst), and each row's weight adds to its pair's in row
    * order. Returns (src int, dst int, w double) rows.
    */
  def sumPairs(keys: Array[Long], w: Array[Double]): Packed = {
    val pairs = keys.clone()
    java.util.Arrays.sort(pairs)
    var k = 0
    var i = 0
    while (i < pairs.length) {
      if (k == 0 || pairs(i) != pairs(k - 1)) { pairs(k) = pairs(i); k += 1 }
      i += 1
    }
    val ws = new Array[Double](k)
    i = 0
    while (i < keys.length) { ws(java.util.Arrays.binarySearch(pairs, 0, k, keys(i))) += w(i); i += 1 }
    val src = new Array[Int](k); val dst = new Array[Int](k)
    i = 0
    while (i < k) { src(i) = (pairs(i) >>> 32).toInt; dst(i) = pairs(i).toInt; i += 1 }
    Packed.of(k, src, dst, ws)
  }

  /** [[compose]] for a dense pass whose leaf is still a DataFrame: the
    * pass membership is a driver array indexed by current-pass vertex id,
    * so the leaf join becomes a broadcast array lookup on `comm` — same
    * rows (the join was total on the leaf's comm values), no join
    * exchange. Returns the result LOCALLY CHECKPOINTED (broadcast destroyed
    * before returning). Only the mixed case takes it — a DataFrame-tier
    * pass 0, then a dense pass; a dense pass 0 keeps the leaf on the
    * driver, where detect composes by indexing.
    */
  def composeArray(leaf: DataFrame, comm: Array[Long]): DataFrame = {
    val spark = leaf.sparkSession
    val bcRef = new graft.catalyst.BcLongs(spark.sparkContext.broadcast(comm))
    val out = org.apache.spark.sql.graft.PlanUtils.checkpointTruncated(
      leaf.select(col("id"),
        org.apache.spark.sql.graft.NativeColumns.bcLookupLong(bcRef, col("comm")).as("comm")))
    bcRef.bc.destroy()
    out
  }

  /** Compose leaf membership with this pass's membership (J2,
    * `/root/reference/inc/leiden.hxx:565-570`): leaf vertices pointing at a
    * pass-level vertex id adopt that vertex's new community.
    *
    * @param leaf (id, comm) over ORIGINAL vertex ids; comm values are
    *             current-pass vertex ids
    * @param level (id, comm) over current-pass vertex ids
    */
  def compose(leaf: DataFrame, level: DataFrame): DataFrame =
    leaf
      .join(level.select(col("id").as("comm"), col("comm").as("newcomm")), "comm")
      .select(col("id"), col("newcomm").as("comm"))

  /** Dense renumbering of community ids to 0..C-1 (A12,
    * `/root/reference/inc/leiden.hxx:618-622`). Deterministic: ordered by
    * community id.
    *
    * Scale shape (no single-partition global sort anywhere — PlanSpec pins
    * it): the distinct community ids are RANGE-partitioned (partition i's
    * ids all sort before partition i+1's), each partition ranks locally in
    * parallel, and the per-partition ranks are composed into global dense
    * ids by adding cumulative partition offsets — one tiny driver-side
    * collect bounded by the PARTITION COUNT (32 rows), never by C. The
    * dense map does not depend on where the range boundaries fall, so the
    * output is identical at any parallelism.
    */
  def renumber(membership: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = membership.sparkSession
    val ranged = membership.select("comm").distinct()
      .repartitionByRange(col("comm"))
      .withColumn("pid", spark_partition_id())
    // materialized once: the counts action below and the returned join must
    // read the SAME partition assignment (a recomputed range partitioning
    // could legally re-sample boundaries between the two executions)
    val local = org.apache.spark.sql.graft.PlanUtils.checkpointTruncated(
      ranged.withColumn("lrank",
        (row_number().over(Window.partitionBy("pid").orderBy("comm")) - 1).cast("long")))
    val counts = local.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = counts.map { case (pid, n) => val o = (pid, acc); acc += n; o }.toSeq
    val offDf = spark.createDataFrame(offs).toDF("pid", "off")
    val dense = local.join(broadcast(offDf), "pid")
      .select(col("comm"), (col("lrank") + col("off")).as("dense"))
    membership.join(dense, "comm").select(col("id"), col("dense").as("comm"))
  }
}

package graft.leiden

import graft.graph.Packed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Graph coarsening (`leidenAggregateOmpW`,
  * `/root/reference/inc/leiden.hxx:591-645`): collapse each refined
  * sub-community into a super-vertex; super-edge weight = sum of member edge
  * weights; intra-community weight becomes the super-vertex self loop
  * (SELF=true during aggregation, `/root/reference/inc/leiden.hxx:600-601`).
  *
  * Two forms, by where the pass membership lives:
  *  - [[coarsen]]: a DataFrame-tier pass's membership frame, two membership
  *    joins and one hash aggregation;
  *  - [[coarsenBlocks]]: a dense or local-tail pass's driver array, one
  *    in-process pass over the CSR blocks the driver holds, with no Spark
  *    job, into hash slices of the coarse graph; [[slicesFrame]] makes the
  *    next pass's frame of them when that graph stays above the tail gate.
  * The output shrinks geometrically per pass, so later passes run on
  * driver-sized data — the analog of the reference's DiGraph->CSR switch
  * (`/root/reference/inc/leiden.hxx:724-725`).
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

  private val CoarseSchema = StructType(Seq(StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false), StructField("w", DoubleType, nullable = false)))

  /** [[coarsen]] over CSR blocks the driver holds (a dense pass's pinned
    * blocks, or the local tail's one block), in-process with no Spark job:
    * `comm` is the pass membership, indexed by pass vertex id (the CsrSweep
    * state).
    *
    * Each block maps its rows to packed `(comm(src) << 32) | comm(dst)` keys
    * and sums duplicates by one sort ([[sumPairs]]), in CSR row order, then
    * splits its partial rows into `p` hash slices of the key; the blocks
    * run in parallel. Each slice then sums each pair's partials in
    * ascending block index, the slices in parallel. So the weights are the
    * same doubles on every run over the same blocks, whatever the thread
    * schedule, and on integral weights they equal [[coarsen]]'s. The local
    * tail calls it with one block and one slice.
    *
    * @return the `p` slices in slice order, each one (src int, dst int,
    *         w double) row per pair, ascending
    */
  def coarsenBlocks(blocks: Array[CsrSweep.CsrBlock], comm: Array[Long], p: Int): Array[Packed] = {
    val parts = new Array[Array[(Array[Long], Array[Double])]](blocks.length)
    java.util.stream.IntStream.range(0, blocks.length).parallel().forEach { b =>
      parts(b) = sliced(blockKeys(blocks(b), comm), blockWeights(blocks(b)), p)
    }
    val out = new Array[Packed](p)
    java.util.stream.IntStream.range(0, p).parallel().forEach { sl =>
      val (keys, ws, k) = sumKeys(concat(parts.map(_(sl)._1)), concat(parts.map(_(sl)._2)))
      // the slice's partials are dropped as it is merged, so the driver
      // never holds every partial and every merged slice at once
      parts.foreach(_(sl) = null)
      out(sl) = unpack(keys, ws, k)
    }
    out
  }

  /** [[coarsenBlocks]]'s slices as the next pass's (src long, dst long,
    * w double) frame, one partition per slice in slice order, after one
    * job that persists them at MEMORY_AND_DISK with the lineage cut
    * (`localCheckpoint`): an evicted slice spills instead of recomputing,
    * and once the job ends no driver object holds the rows. A local master
    * only: each task takes its slice object from the driver through
    * `CsrSweep`'s same-JVM handoff, so no slice is serialized into a task
    * and the cache holds the driver's arrays themselves. The caller drops
    * the slices with `PlanUtils.release`.
    */
  def slicesFrame(spark: SparkSession, slices: Array[Packed]): DataFrame = {
    val sc = spark.sparkContext
    require(sc.isLocal, s"slicesFrame hands driver arrays to tasks and needs a local master, not ${sc.master}")
    val slots = new java.util.concurrent.atomic.AtomicReferenceArray[AnyRef](slices.length)
    slices.indices.foreach(i => slots.set(i, slices(i)))
    val persisted = CsrSweep.handingOff(slots) { key =>
      val rdd = sc.parallelize(slices.indices, slices.length).map { i =>
        val s = CsrSweep.handoffSlots(key)
        if (s == null) throw new IllegalStateException(s"coarse slice $i: its handoff job has ended")
        s.get(i).asInstanceOf[Packed]
      }
      rdd.localCheckpoint()
      rdd.count()
      rdd
    }
    val unsafeRows = persisted.mapPartitions { it =>
      val wr = new UnsafeRowWriter(3)
      it.flatMap { s =>
        val src = s.ints(0); val dst = s.ints(1); val w = s.doubles(2)
        Iterator.tabulate(s.size) { i =>
          wr.reset()
          wr.write(0, src(i).toLong); wr.write(1, dst(i).toLong); wr.write(2, w(i))
          wr.getRow: InternalRow
        }
      }
    }
    org.apache.spark.sql.graft.PlanUtils.frameOf(spark, unsafeRows, CoarseSchema)
  }

  /** A block's partial coarse rows, one per pair of `rowKeys` (weights
    * summed in row order), split into `p` (keys, weights) slices; a slice
    * is a multiplicative hash of the key.
    */
  private def sliced(rowKeys: Array[Long], rowW: Array[Double], p: Int)
      : Array[(Array[Long], Array[Double])] = {
    val (keys, ws, k) = sumKeys(rowKeys, rowW)
    val slice = new Array[Int](k)
    val start = new Array[Int](p + 1)
    var i = 0
    while (i < k) {
      slice(i) = ((keys(i) * 0x9E3779B97F4A7C15L >>> 33) % p).toInt
      start(slice(i) + 1) += 1
      i += 1
    }
    var sl = 0
    while (sl < p) { start(sl + 1) += start(sl); sl += 1 }
    val at = start.clone()
    val sk = new Array[Long](k); val sw = new Array[Double](k)
    i = 0
    while (i < k) { val j = at(slice(i)); sk(j) = keys(i); sw(j) = ws(i); at(slice(i)) = j + 1; i += 1 }
    Array.tabulate(p) { s =>
      (java.util.Arrays.copyOfRange(sk, start(s), start(s + 1)),
        java.util.Arrays.copyOfRange(sw, start(s), start(s + 1)))
    }
  }

  /** A block's rows as packed `(comm(src) << 32) | comm(dst)` keys, in CSR
    * row order; gap-packed unit blocks decode through `CsrSweep.decodeGaps`.
    */
  private def blockKeys(blk: CsrSweep.CsrBlock, comm: Array[Long]): Array[Long] = {
    val srcs = blk.srcs; val off = blk.off
    val keys = new Array[Long](off(srcs.length))
    var buf = if (blk.dst == null) new Array[Int](1 << 10) else null
    var k = 0
    while (k < srcs.length) {
      val cs = comm(srcs(k)) << 32
      val e0 = off(k); val len = off(k + 1) - e0
      var i = 0
      if (blk.dst != null) {
        while (i < len) { keys(e0 + i) = cs | comm(blk.dst(e0 + i)); i += 1 }
      } else {
        if (buf.length < len) buf = new Array[Int](math.max(len, buf.length * 2))
        CsrSweep.decodeGaps(blk, k, len, buf)
        while (i < len) { keys(e0 + i) = cs | comm(buf(i)); i += 1 }
      }
      k += 1
    }
    keys
  }

  /** A block's row weights in CSR row order (a unit block's are all 1.0). */
  private def blockWeights(blk: CsrSweep.CsrBlock): Array[Double] =
    if (blk.w != null) blk.w else Array.fill(blk.off(blk.srcs.length))(1.0)

  /** The arrays one after another. */
  private def concat[T: scala.reflect.ClassTag](parts: Array[Array[T]]): Array[T] = {
    val out = new Array[T](parts.map(_.length).sum)
    var off = 0
    parts.foreach { a => System.arraycopy(a, 0, out, off, a.length); off += a.length }
    out
  }

  /** Rows keyed by packed `(src << 32) | dst` longs of non-negative ints,
    * one row per pair: one sort of the keys gives the distinct pairs in
    * ascending (src, dst), and each row's weight adds to its pair's in row
    * order. Returns (src int, dst int, w double) rows.
    */
  def sumPairs(keys: Array[Long], w: Array[Double]): Packed = {
    val (pairs, ws, k) = sumKeys(keys, w)
    unpack(pairs, ws, k)
  }

  /** [[sumPairs]] as (pair keys, weights, pair count k): the first k
    * entries of both arrays are the pairs, ascending.
    */
  private def sumKeys(keys: Array[Long], w: Array[Double]): (Array[Long], Array[Double], Int) = {
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
    (pairs, ws, k)
  }

  /** The first k packed pairs as (src int, dst int, w double) rows. */
  private def unpack(pairs: Array[Long], ws: Array[Double], k: Int): Packed = {
    val src = new Array[Int](k); val dst = new Array[Int](k)
    var i = 0
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

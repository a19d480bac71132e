package graft.leiden

import graft.graph.Packed
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
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
  * Three forms, by where the pass membership lives:
  *  - [[coarsen]]: a DataFrame-tier pass's membership frame, two membership
  *    joins and one hash aggregation;
  *  - [[coarsenBlocks]]: a dense pass's driver array, one RDD job over the
  *    pass's cached CSR blocks into hash slices of the coarse graph, whose
  *    rows come back with the job when the local tail takes them;
  *  - [[coarsenRows]]: a local-tail pass, one sort on the driver.
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

  /** A dense pass's coarse graph, from [[coarsenBlocks]]: its rows in
    * `slices.getNumPartitions` disjoint hash slices of the packed
    * `(src << 32) | dst` key, one (src int, dst int, w double) row per pair,
    * ascending within a slice. `slices` is persisted at MEMORY_AND_DISK and
    * locally checkpointed, so it never recomputes the passes before it.
    *
    * @param sliceRows each slice's exact row count
    * @param held every row on the driver (the slices one after another), or
    *             null
    * @param edges the rows as a (src long, dst long, w double) frame over
    *              `slices` (no job)
    */
  final class Coarse(val slices: RDD[Packed], val sliceRows: Array[Long], val held: Packed,
                     val edges: DataFrame) {
    def rows: Long = sliceRows.sum
  }

  private val CoarseSchema = StructType(Seq(StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false), StructField("w", DoubleType, nullable = false)))

  /** [[coarsen]] for a dense pass, in one Spark job over the pass's cached
    * CSR blocks: the pass membership is a driver array indexed by pass
    * vertex id (the CsrSweep state), broadcast once as `Int`s.
    *
    * Each block maps its rows to packed `(comm(src) << 32) | comm(dst)` keys
    * and sums duplicates by one sort ([[sumPairs]]), in CSR row order. Its
    * partial rows are shuffled by key hash into P = defaultParallelism
    * slices. A slice's reduce task sums each pair's partials in ascending
    * block index, so the weights are the same doubles on every run over
    * the same blocks; on integral weights they equal [[coarsen]]'s. The
    * job returns every slice's row count, and the slice's rows too when it
    * has at most ⌈threshold / P⌉ of them: the driver receives at most
    * about `threshold` rows.
    *
    * The slices are marked for `localCheckpoint` before the job, so the
    * job materializes them at MEMORY_AND_DISK with the lineage cut: an
    * evicted slice spills instead of recomputing every earlier pass, and
    * the broadcast is destroyed once the job ends. The caller drops the
    * slices with `PlanUtils.release(edges)`.
    *
    * @param threshold the local tail's gate in rows; 0 returns no rows
    * @return `held` is set when the rows number at most `threshold` and
    *         every slice came back; otherwise a caller that wants the rows
    *         collects `edges` (one job over the persisted slices)
    */
  def coarsenBlocks(spark: SparkSession, csr: RDD[CsrSweep.CsrBlock], comm: Array[Long],
                    threshold: Long): Coarse = {
    val sc = csr.sparkContext
    val p = sc.defaultParallelism
    val bc = sc.broadcast(comm.map(_.toInt))
    val partials = csr.mapPartitionsWithIndex { (b, blocks) =>
      blocks.flatMap(blk => sliced(b, blockKeys(blk, bc.value), blockWeights(blk), p))
    }
    val slices = partials.partitionBy(new HashPartitioner(p)).mapPartitions { parts =>
      val byBlock = parts.map(_._2).toArray.sortBy(_._1)
      val (keys, ws, k) = sumKeys(concat(byBlock.map(_._2)), concat(byBlock.map(_._3)))
      Iterator.single(unpack(keys, ws, k))
    }
    slices.localCheckpoint()
    val share = if (threshold > 0) (threshold + p - 1) / p else -1L
    val got =
      try slices.map(s => (s.size.toLong, if (s.size <= share) s else null)).collect()
      finally bc.destroy()
    val sliceRows = got.map(_._1)
    val held =
      if (threshold > 0 && sliceRows.sum <= threshold && got.forall(_._2 != null)) {
        val ss = got.map(_._2)
        Packed.of(ss.map(_.size).sum, concat(ss.map(_.ints(0))), concat(ss.map(_.ints(1))),
          concat(ss.map(_.doubles(2))))
      } else null
    val unsafeRows = slices.mapPartitions { it =>
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
    new Coarse(slices, sliceRows, held,
      org.apache.spark.sql.graft.PlanUtils.frameOf(spark, unsafeRows, CoarseSchema))
  }

  /** Block `b`'s partial coarse rows, one per pair of `keys` (weights
    * summed in row order), as (slice, (b, keys, weights)) chunks, one per
    * non-empty slice of `p`; a slice is a multiplicative hash of the key.
    */
  private def sliced(b: Int, rowKeys: Array[Long], rowW: Array[Double], p: Int)
      : Iterator[(Int, (Int, Array[Long], Array[Double]))] = {
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
    (0 until p).iterator.filter(s => start(s + 1) > start(s)).map { s =>
      (s, (b, java.util.Arrays.copyOfRange(sk, start(s), start(s + 1)),
        java.util.Arrays.copyOfRange(sw, start(s), start(s + 1))))
    }
  }

  /** A block's rows as packed `(comm(src) << 32) | comm(dst)` keys, in CSR
    * row order; gap-packed unit blocks decode through `CsrSweep.decodeGaps`.
    */
  private def blockKeys(blk: CsrSweep.CsrBlock, comm: Array[Int]): Array[Long] = {
    val srcs = blk.srcs; val off = blk.off
    val keys = new Array[Long](off(srcs.length))
    var buf = if (blk.dst == null) new Array[Int](1 << 10) else null
    var k = 0
    while (k < srcs.length) {
      val cs = comm(srcs(k)).toLong << 32
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

  /** [[coarsenBlocks]] for rows the driver holds (the local tail of
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

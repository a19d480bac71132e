package graft.leiden

import graft.SparkSpec
import graft.graph.EdgeTable
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpec {

  test("MG k=2 hand-traced: eviction via decrement-all (F5)") {
    // (1,5): insert; (2,3): insert; (3,4): full -> subtract 4 from all
    val got = MGSketch.sequential(2, Seq((1L, 5.0), (2L, 3.0), (3L, 4.0)))
    assert(got === Seq(MGSketch.Cand(1L, 1.0)))
  }

  test("MG k=2 hand-traced: re-insert after a slot zeroes out (F5)") {
    // (1,5),(2,5),(3,5): both slots -> 0; (4,2) inserts into emptied slot
    val got = MGSketch.sequential(2, Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 2.0)))
    assert(got.map(_.comm).toSet === Set(4L))
  }

  test("MG k=1 behaves as weighted majority filter (F5)") {
    // majority weight on 7 -> must survive
    val got = MGSketch.sequential(1, Seq((3L, 1.0), (7L, 4.0), (5L, 1.0), (7L, 3.0)))
    assert(got.map(_.comm) === Seq(7L))
  }

  test("heavy hitter survives distributed merge (contract: survivors ⊇ >1/(k+1) share)") {
    val spark2 = spark
    import spark2.implicits._
    // community 100 holds 60% of total weight; 300 minor communities share the rest
    val major = (1 to 120).map(i => (1L, 100L, 5.0))
    val minor = (1 to 300).map(i => (1L, 200L + i, 400.0 / 300))
    val df = spark.sparkContext.parallelize(scala.util.Random.shuffle(major ++ minor), 8)
      .toDF("src", "comm", "w")
    val out = df.groupBy("src")
      .agg(MGSketch.sketch(8)(col("comm"), col("w")).as("cands"))
      .select(explode(col("cands")).as("c")).select(col("c.comm"))
      .collect().map(_.getLong(0)).toSet
    assert(out.contains(100L), s"survivors=$out")
  }

  test("low-mem Leiden (k=64 and k=1) recovers the same partition as exact on cliques") {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b, 1.0)
    val edges = EdgeTable.undirected(spark,
      clique(0L to 3L) ++ clique(4L to 7L) :+ ((3L, 4L, 1.0)))
    for (k <- Seq(64, 1)) {
      // sketchExactCutoff = 0: force the sketch path at toy size (the
      // default falls back to the exact scan below 8192 vertices)
      val r = Leiden.detect(edges, LeidenOptions(sketchSlots = k, sketchExactCutoff = 0,
        sketchAggregation = true, localSolveEdgeThreshold = 0))
      assert(r.communities === 2L, s"k=$k communities=${r.communities}")
      assert(approx(r.modularity, 11.0 / 26.0, 1e-9), s"k=$k q=${r.modularity}")
    }
  }

  test("sketch auto-fallback: below the cutoff the low-mem path equals exact bit-for-bit") {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b, 1.0)
    val edges = EdgeTable.undirected(spark,
      clique(0L to 3L) ++ clique(4L to 7L) :+ ((3L, 4L, 1.0)))
    val exact = Leiden.detect(edges, LeidenOptions(localSolveEdgeThreshold = 0))
    val lowmem = Leiden.detect(edges, LeidenOptions(sketchSlots = 64, localSolveEdgeThreshold = 0)) // default cutoff 8192 > 8
    assert(lowmem.modularity === exact.modularity)
    assert(lowmem.membership.except(exact.membership).count() === 0L)
  }

  test("lossy sketch coarsening: no-eviction sketch equals exact coarsening") {
    val spark2 = spark
    import spark2.implicits._
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b, 1.0)
    val edges = EdgeTable.undirected(spark, clique(0L to 2L) ++ Seq((2L, 3L, 1.0)) ++ clique(3L to 5L))
    val memb = (0L to 5L).map(i => (i, if (i < 3) 0L else 1L)).toDF("id", "comm")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("src", "dst").agg(org.apache.spark.sql.functions.sum("w").as("w"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 64 slots >> 2 neighbor communities: the sketch never evicts, so the
    // lossy path must reproduce the exact super-edges (plus 0-weight keepalive loops)
    assert(agg(Aggregate.coarsenSketch(edges, memb, 64)) === agg(Aggregate.coarsen(edges, memb)))
  }

  test("lossy coarsening under eviction pressure keeps Q within 1% of exact (ref README bound)") {
    val rnd = new scala.util.Random(42)
    val k = 12; val mSize = 12
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until k * mSize; b <- a + 1 until k * mSize) {
      val p = if ((a / mSize) == (b / mSize)) 0.7 else 0.01
      if (rnd.nextDouble() < p) es += ((a.toLong, b.toLong, 1.0))
    }
    val edges = EdgeTable.undirected(spark, es.result())
    val exact = Leiden.detect(edges, LeidenOptions(localSolveEdgeThreshold = 0))
    // 12 blocks: each coarse community sees ~12 neighbor communities, above
    // the aggregation sketch's 8-slot floor, so coarsening MUST evict
    val lossy = Leiden.detect(edges, LeidenOptions(sketchSlots = 8, sketchExactCutoff = 0,
      sketchAggregation = true, localSolveEdgeThreshold = 0))
    // one-sided: the lossy path may not LOSE more than 1% of exact Q (it
    // may land higher — both are valid local optima of the same objective)
    assert(lossy.modularity >= exact.modularity - 0.01 * math.abs(exact.modularity),
      s"lossy=${lossy.modularity} exact=${exact.modularity}")
  }

  test("a run resumed from a sketch-aggregated snapshot takes Q from the input, not the estimated graph") {
    val rnd = new scala.util.Random(42)
    val k = 12; val mSize = 12
    val es = Seq.newBuilder[(Long, Long, Double)]
    for (a <- 0 until k * mSize; b <- a + 1 until k * mSize) {
      val p = if ((a / mSize) == (b / mSize)) 0.7 else 0.01
      if (rnd.nextDouble() < p) es += ((a.toLong, b.toLong, 1.0))
    }
    val edges = EdgeTable.undirected(spark, es.result()).cache()
    val dir = java.nio.file.Files.createTempDirectory("resume-lossy").toString
    // pass 0 coarsens through the evicting sketch and commits its snapshot
    Leiden.detect(edges, LeidenOptions(sketchSlots = 8, sketchExactCutoff = 0,
      sketchAggregation = true, maxPasses = 2, snapshotDir = Some(dir), localSolveEdgeThreshold = 0))
    val ids = graft.io.Snapshots.committed(dir, "leiden")
    assert(ids.nonEmpty)
    assert(graft.io.Snapshots.manifestText(dir, "leiden", ids.head).contains("\"exact\":\"false\""))
    // the exact remainder runs its last pass on the driver over the
    // estimated coarse graph: its Q must still be the input's
    val resumed = Leiden.detect(edges, LeidenOptions(snapshotDir = Some(dir),
      localSolveEdgeThreshold = 0))
    val oracle = Modularity.modularity(edges, resumed.membership, EdgeTable.totalWeight(edges) / 2)
    assert(math.abs(resumed.modularity - oracle) < 1e-12, s"${resumed.modularity} vs $oracle")
    edges.unpersist()
  }

  test("hub-heavy graph: low-mem (exact aggregation default) holds quality where " +
    "sketch aggregation collapses it") {
    // Preferential-attachment-style web graph: hub vertices see thousands of
    // distinct neighbor communities under the synchronous singleton start —
    // the regime where compounded sketch-coarsening under-estimates destroyed
    // Q before sketchAggregation became opt-in (head-to-head vs the reference
    // binary on a 100k-vertex twin of this fixture: Q 0.0015 vs 0.209).
    val edges = graft.Cli.fixtureEdges(spark, 10000).cache()
    val o = LeidenOptions(maxIterations = 6, maxPasses = 3, localSolveEdgeThreshold = 0)
    val exact = Leiden.detect(edges, o)
    // default cutoff 8192 < 10000 vertices: the MG scan is genuinely active
    val lowmem = Leiden.detect(edges, o.copy(sketchSlots = 64))
    assert(exact.modularity > 0.1, s"fixture lost its structure? exact=${exact.modularity}")
    assert(lowmem.modularity >= 0.5 * exact.modularity,
      s"lowmem=${lowmem.modularity} exact=${exact.modularity}")
    edges.unpersist()
  }
}

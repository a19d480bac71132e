package graft.leiden

import graft.SparkSpec
import graft.graph.EdgeTable
import org.apache.spark.sql.functions._

class ModularitySpec extends SparkSpec {

  /** Two 4-cliques bridged by a single edge (FIXTURES.md F3). Optimal
    * partition = the two cliques; hand-computed Q = 12/13 - 1/2 = 11/26.
    */
  def twoCliquesBridge = {
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b, 1.0)
    EdgeTable.undirected(spark,
      clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(4L, 5L, 6L, 7L)) :+ ((3L, 4L, 1.0)))
  }

  test("modularity of the planted two-clique partition equals 11/26") {
    val edges = twoCliquesBridge
    val m = EdgeTable.totalWeight(edges) / 2
    assert(m === 13.0)
    val spark2 = spark
    import spark2.implicits._
    val memb = (0L to 7L).map(i => (i, if (i < 4) 0L else 1L)).toDF("id", "comm")
    val q = Modularity.modularity(edges, memb, m)
    assert(approx(q, 11.0 / 26.0), s"q=$q")
  }

  test("modularity of the all-singleton partition") {
    val edges = twoCliquesBridge
    val m = EdgeTable.totalWeight(edges) / 2
    val spark2 = spark
    import spark2.implicits._
    val memb = (0L to 7L).map(i => (i, i)).toDF("id", "comm")
    // cin = 0 everywhere; Q = -R * sum((vtot/2M)^2)
    val vtots = Seq(3.0, 3.0, 3.0, 4.0, 4.0, 3.0, 3.0, 3.0)
    val expected = -vtots.map(v => math.pow(v / 26.0, 2)).sum
    val q = Modularity.modularity(edges, memb, m)
    assert(approx(q, expected), s"q=$q expected=$expected")
  }

  test("deltaQ matches a hand-derived move") {
    // Two singleton vertices 0,1 with one undirected edge of weight 1. M=1.
    // Move 0 from {0} to {1}: wuc=1, wud=0, vtot=1, ctotC=1, ctotD=1.
    // dQ = (1-0)/1 - 1*1*(1+1-1)/(2*1*1) = 1 - 0.5 = 0.5
    assert(approx(Modularity.deltaQScalar(1, 0, 1, 1, 1, 1.0), 0.5))
    // Full-graph check: Q(merged) - Q(singletons) should equal dQ.
    val edges = EdgeTable.undirected(spark, Seq((0L, 1L, 1.0)))
    val m = EdgeTable.totalWeight(edges) / 2
    val spark2 = spark
    import spark2.implicits._
    val single = Seq((0L, 0L), (1L, 1L)).toDF("id", "comm")
    val merged = Seq((0L, 1L), (1L, 1L)).toDF("id", "comm")
    val dq = Modularity.modularity(edges, merged, m) - Modularity.modularity(edges, single, m)
    assert(approx(dq, 0.5), s"dq=$dq")
  }

  test("driver-array modularity equals the join oracle, with holes and non-dyadic weights") {
    // ids 0..199 on even ids only: odd ids are id-space holes
    def graph(w: (Int, Int) => Double): Seq[(Long, Long, Double)] = {
      val rnd = new scala.util.Random(5)
      val es = Seq.newBuilder[(Long, Long, Double)]
      for (a <- 0 until 100; b <- a + 1 until 100)
        if (rnd.nextDouble() < (if (a / 20 == b / 20) 0.3 else 0.02))
          es += ((2L * a, 2L * b, w(a, b)))
      es.result()
    }
    for ((name, es, integral) <- Seq(
        ("integral", graph((a, b) => 1.0 + (a * 7 + b) % 3), true),
        ("non-dyadic", graph((a, b) => 0.1 + (a * 7 + b) % 5 * 0.3), false))) {
      val edges = EdgeTable.undirected(spark, es).cache()
      val m = EdgeTable.totalWeight(edges) / 2
      val n = 199
      val present = new Array[Boolean](n)
      EdgeTable.vertexWeights(edges).collect().foreach(r => present(r.getLong(0).toInt) = true)
      // communities: blocks of 40 ids labelled by a member id; holes carry junk
      val comm = Array.tabulate(n)(v => if (present(v)) (v / 40 * 40).toLong else 9999L)
      val spark2 = spark
      import spark2.implicits._
      val memb = (0 until n).filter(present).map(v => (v.toLong, comm(v))).toDF("id", "comm")
      val blocks = CsrSweep.pin(CsrSweep.build(edges, n))
      assert(blocks.length > 1, name)
      for (res <- Seq(1.0, 0.5)) {
        val oracle = Modularity.modularity(edges, memb, m, res)
        val q = Modularity.ofBlocks(blocks, comm, m, res)
        if (integral) assert(java.lang.Double.doubleToRawLongBits(q) ===
          java.lang.Double.doubleToRawLongBits(oracle), s"$name, res=$res: $q vs $oracle")
        else assert(math.abs(q - oracle) < 1e-12, s"$name, res=$res: $q vs $oracle")
        assert(Modularity.ofBlocks(blocks, comm, m, res) === q, s"$name: repeatable")
      }
      edges.unpersist()
    }
  }
}

package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EdgesSpec extends SparkSpec {

  test("symmetrize adds only missing reverse edges, keeps existing weights") {
    // (0->1 w=2), (1->0 w=5 already present), (1->2 w=3)
    val e = EdgeTable.of(spark, Seq((0L, 1L, 2.0), (1L, 0L, 5.0), (1L, 2L, 3.0)))
    val s = EdgeTable.symmetrize(e).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(s === Set((0L, 1L, 2.0), (1L, 0L, 5.0), (1L, 2L, 3.0), (2L, 1L, 3.0)))
  }

  test("collectPacked returns the same rows in the same order as a Row collect") {
    val e = EdgeTable.of(spark,
      (0 until 500).map(i => ((i % 37).toLong, (i % 53).toLong, 1.0 + (i % 7))))
      .repartition(4, col("src"))
    val rows = e.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val (s, d, w) = EdgeTable.collectPacked(e)
    assert(s.length === rows.length)
    // ORDER matters (the local tail solvers' float accumulation follows it)
    assert(rows.indices.forall(i => rows(i) == ((s(i), d(i), w(i)))))
  }

  test("Packed reads int, long and double columns per partition in row order") {
    val df = EdgeTable.of(spark, (0 until 300).map(i => (i.toLong, (i * 7).toLong, i / 4.0)))
      .repartition(6, col("src"))
      .select(col("src").cast("int"), col("dst"), col("w"))
    val byPart = df.rdd.glom().collect()
    val blocks = Packed.blocks(df).collect()
    assert(blocks.map(_.size).toSeq === byPart.map(_.length).toSeq)
    blocks.zip(byPart).foreach { case (b, rows) =>
      assert(rows.indices.forall(i => rows(i).getInt(0) == b.ints(0)(i) &&
        rows(i).getLong(1) == b.longs(1)(i) && rows(i).getDouble(2) == b.doubles(2)(i)))
      assert(b.ints(0).length === b.size) // cut to the row count
    }
    val empty = Packed.collect(df.filter(col("src") < 0))
    assert(empty.size === 0 && empty.longs(1).isEmpty)
    intercept[IllegalArgumentException](Packed.collect(df.select(col("src").cast("string"))))
  }

  test("dedupLastSeq keeps the last write per (src,dst)") {
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((0L, 1L, 1.0, 0L), (0L, 1L, 9.0, 1L), (2L, 3L, 4.0, 0L))
      .toDF("src", "dst", "w", "seq")
    val d = EdgeTable.dedupLastSeq(e, "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(d === Set((0L, 1L, 9.0), (2L, 3L, 4.0)))
  }

  test("degrees / vertexWeights / totalWeight on a toy graph") {
    val e = EdgeTable.undirected(spark, Seq((0L, 1L, 1.0), (1L, 2L, 2.0)))
    assert(EdgeTable.totalWeight(e) === 6.0) // (1+2)*2 directions
    val deg = EdgeTable.degrees(e).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg === Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
    val vtot = EdgeTable.vertexWeights(e).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vtot === Map(0L -> 1.0, 1L -> 3.0, 2L -> 2.0))
  }

  test("self loops: count and add") {
    val e = EdgeTable.of(spark, Seq((0L, 0L, 1.0), (0L, 1L, 1.0), (1L, 0L, 1.0)))
    assert(EdgeTable.selfLoopCount(e) === 1L)
    val withLoops = EdgeTable.addSelfLoops(e, 7.0)
    val loops = withLoops.filter(col("src") === col("dst")).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(loops === Map(0L -> 1.0, 1L -> 7.0)) // existing loop untouched
  }

  test("neighborsOf is the exact out-neighborhood of one vertex") {
    val e = EdgeTable.of(spark, Seq((0L, 1L, 2.0), (0L, 2L, 3.0), (1L, 2L, 4.0)))
    val n = EdgeTable.neighborsOf(e, 0L).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(n === Set((1L, 2.0), (2L, 3.0)))
    assert(EdgeTable.neighborsOf(e, 9L).isEmpty)
  }

  test("filterGraph drops edges of dropped vertices") {
    val e = EdgeTable.undirected(spark, Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0)))
    val spark2 = spark
    import spark2.implicits._
    val kept = Seq(0L, 1L, 2L).toDF("id")
    val f = EdgeTable.filterGraph(e, None, Some(kept))
    assert(EdgeTable.vertices(f).collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
    assert(f.count() === 4L)
  }
}

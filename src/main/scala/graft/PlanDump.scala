package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 plan-artifact dumper (dev tool, not a driver artifact): writes
  * `.explain("formatted")` for the query paths the optimization round
  * touched, in BOTH the pre-round shape (the Catalyst tiers, still live
  * behind their gates) and the post-round shape, to `plans/r06/`.
  *
  * The iterative queries' interesting plans are per-iteration/per-pass
  * internals, not the returned checkpoint scan, so this rebuilds those
  * internal DataFrames exactly as the operators do and explains them.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt "runMain graft.PlanDump"
  */
object PlanDump {

  private def explainStr(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  private def write(dir: java.nio.file.Path, name: String, sections: (String, String)*): Unit = {
    val body = sections.map { case (title, text) => s"== $title ==\n$text" }.mkString("\n")
    java.nio.file.Files.writeString(dir.resolve(name), body)
    println(s"[plandump] wrote $name")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val dir = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r06"))
    java.nio.file.Files.createDirectories(dir)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")

    val bip = {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      graft.graph.EdgeTable.symmetrize(
        li.select(col("l_suppkey").as("src"),
          (col("l_partkey") + 100000L).as("dst"), lit(1.0).as("w")).distinct())
    }

    // ---- g_pagerank_dist: the per-iteration plan of each tier ------------
    {
      // BEFORE (Catalyst tier, still live behind denseKernel=false / non-
      // local masters): one iteration's `next` plan exactly as PageRank.run
      // builds it — gather join + hash agg + state join
      val e = bip.select("src", "dst", "w").repartition(col("src"))
      val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
      val outW = e.groupBy(col("src").as("id")).agg(sum("w").as("outw"))
      val base = verts.join(outW, Seq("id"), "left").na.fill(0.0, Seq("outw"))
        .select(col("id"), col("outw"))
      val state = base.select(col("id"), col("outw"), lit(0.001).as("rank"))
      val contribs = state.filter(col("outw") > 0.0)
        .select(col("id").as("src"), (col("rank") / col("outw")).as("unit"))
      val gathered = e.join(contribs.hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("w") * col("unit")).as("gath"))
      val next = state.select(col("id"), col("outw"), col("rank").as("prev"))
        .join(gathered, Seq("id"), "left")
        .select(col("id"), col("outw"),
          (lit(0.15 / 100) + lit(0.85) *
            (coalesce(col("gath"), lit(0.0)) + lit(0.0))).as("rank"), col("prev"))
      write(dir, "g_pagerank_dist_before.txt",
        ("g_pagerank_dist BEFORE: per-iteration `next` plan of the Catalyst tier " +
          "(PageRank.run denseKernel=false), executed ~50-100x per query plus a " +
          "stats aggregation and a localCheckpoint per iteration") -> explainStr(next))

      // AFTER (dense local-master tier): the one-off packByDst plan; each
      // iteration is then ONE foreachPartition job over the cached packed
      // blocks (no SQL plan) + an O(n) driver update
      val packPlan = bip
        .select(col("src").cast("int"), col("dst").cast("int"), col("w").cast("double"))
        .repartition(8, col("dst"))
        .sortWithinPartitions("dst", "src")
      write(dir, "g_pagerank_dist_after.txt",
        ("g_pagerank_dist AFTER: the ONLY SQL plan left is this one-off pack " +
          "(DenseKernel.packByDst: dst-hash repartition + in-partition sort, " +
          "executed once and cached as primitive blocks); every iteration is one " +
          "foreachPartition job over the blocks + an O(n) driver rank update — " +
          "no join, no aggregation exchange, no checkpoint per iteration") -> explainStr(packPlan))
    }

    // ---- g_copurchase: self-join plan vs per-order pair expansion --------
    {
      val opq = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val before = opq.as("a")
        .join(opq.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("src"), col("b.p").as("dst")).agg(count(lit(1)).as("w"))
      write(dir, "g_copurchase_before.txt",
        ("g_copurchase BEFORE: distinct + self-join on orderkey + pair " +
          "aggregation — four exchanges; the symmetrized consumers " +
          "(g_leiden, g_triangles) paid the agg once per union branch") ->
          explainStr(before))
      write(dir, "g_copurchase_after.txt",
        ("g_copurchase AFTER: one collect_set aggregation per order (map-side " +
          "partial agg) + native codegen'd in-row pair expansion " +
          "(graft_ordered_pairs) + pair-count aggregation — two exchanges, " +
          "no join; row-identical output (oracle MATCH)") ->
          explainStr(graft.SparkEntry.queries("g_copurchase")(spark, sfDir)))
    }

    // ---- g_triangles: join plan vs kernel feed ---------------------------
    {
      val op = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val cp = op.as("a").join(op.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("src"), col("b.p").as("dst")).agg(count(lit(1)).as("w"))
      val und = cp.select(col("src"), col("dst"), lit(1.0).as("w"))
      val sym = und.unionByName(und.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      write(dir, "g_triangles_before.txt",
        ("g_triangles BEFORE: Triangles.triangles(sym) count plan (orientation " +
          "joins + wedge self-join + closing-edge semi-join), the Catalyst tier " +
          "still live behind the kernel gate") -> explainStr(graft.algo.Triangles.triangles(sym)))
      val symNew = {
        // the current query feed: per-order pair expansion with sym=true
        val perOrder = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
          .select(col("ps"))
        perOrder
          .select(explode(org.apache.spark.sql.graft.NativeColumns
            .orderedPairs(col("ps"), true)).as("pr"))
          .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
          .agg(count(lit(1)).as("w"))
          .select(col("src"), col("dst"))
      }
      write(dir, "g_triangles_after.txt",
        ("g_triangles AFTER: the only SQL plan left is this simple-pair feed " +
          "(per-order native pair expansion, symmetric orientations in ONE " +
          "aggregation; simpleInput skips the defensive distinct exchange — " +
          "the pair set is distinct by construction). Triangles.kernelCount " +
          "collects it as packed int blocks; orientation, CSR build and the " +
          "sorted-adjacency intersections run in ONE stripe job " +
          "(DenseKernel.wedgeCount) — the wedge self-join and semi-join " +
          "exchanges are gone") ->
          explainStr(symNew.select(col("src").cast("long"), col("dst").cast("long"))))
    }

    // ---- g_leiden: per-pass compose/coarsen and the input cache ----------
    {
      val opq = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val cpw = opq.as("a").join(opq.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("src"), col("b.p").as("dst"))
        .agg(count(lit(1)).cast("double").as("w"))
      val edges0 = cpw.unionByName(cpw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val edges = edges0.repartition(col("src")).cache()
      edges.count()
      val verts = edges.select(col("src").as("id")).distinct()
      val memb = verts.select(col("id"), pmod(col("id"), lit(64)).as("comm"))
      val leaf = verts.select(col("id"), col("id").as("comm"))

      write(dir, "g_leiden_before.txt",
        ("g_leiden BEFORE (1/3): per-pass coarsen — two membership joins + hash " +
          "aggregation (Aggregate.coarsen), executed once per pass") ->
          explainStr(graft.leiden.Aggregate.coarsen(edges, memb)),
        ("g_leiden BEFORE (2/3): per-pass leaf composition — a membership join " +
          "(Aggregate.compose), executed once per pass, plus a separate " +
          "distinct-count job for the aggregation-tolerance check") ->
          explainStr(graft.leiden.Aggregate.compose(leaf, memb)),
        ("g_leiden BEFORE (3/3): pre-round input shape — totalWeight, vertices, " +
          "leaf init, the tail gate count and the final modularity each re-derived " +
          "the CALLER'S input plan (for the bench queries: the copurchase " +
          "self-join) — 5-6 full recomputations per detect() call; this is the " +
          "input plan they each re-executed") -> explainStr(edges0))

      val n = 1 + edges.agg(max(greatest(col("src"), col("dst")))).head.getLong(0).toInt
      val comm = Array.tabulate(n)(v => (v % 64).toLong)
      write(dir, "g_leiden_after.txt",
        ("g_leiden AFTER (1/3): per-pass coarsen on dense-tier passes (local " +
          "masters) — no SQL plan and no job: the driver coarsens the pass's " +
          "pinned CSR blocks in-process (Aggregate.coarsenBlocks), mapping each " +
          "row through the membership array, summing per block and merging the " +
          "blocks' partials into hash slices. A coarse graph above the local " +
          "tail's gate becomes the next pass's frame over the slices in one job " +
          "that persists and locally checkpoints them (Aggregate.slicesFrame); " +
          "that frame's lineage (RDD.toDebugString) is") -> {
            val blocks = graft.leiden.CsrSweep.build(edges, n, srcComplete = true).collect()
            val frame = graft.leiden.Aggregate.slicesFrame(spark,
              graft.leiden.Aggregate.coarsenBlocks(blocks, comm, spark.sparkContext.defaultParallelism))
            val lineage = frame.queryExecution.toRdd.toDebugString
            org.apache.spark.sql.graft.PlanUtils.release(frame)
            lineage
          },
        ("g_leiden AFTER (2/3): leaf composition on a dense pass whose leaf is " +
          "still a DataFrame (after a DataFrame-tier pass 0) — join replaced by " +
          "the same broadcast array lookup (Aggregate.composeArray): map-only, " +
          "zero exchanges. After a dense pass 0 the leaf is a driver array and " +
          "composition, the community counts and the final count run no plan at " +
          "all") ->
          explainStr {
            val bcRef = new graft.catalyst.BcLongs(spark.sparkContext.broadcast(comm))
            leaf.select(col("id"),
              org.apache.spark.sql.graft.NativeColumns.bcLookupLong(bcRef, col("comm")).as("comm"))
          },
        ("g_leiden AFTER (3/3): input shape — detect() caches the repartitioned " +
          "input ONCE up front; totalWeight, vertices, leaf init, the tail gate " +
          "and the final modularity all read this InMemoryTableScan instead of " +
          "re-deriving the plan above") ->
          explainStr(edges.agg(coalesce(sum("w"), lit(0.0)))))
    }

    // ---- g_pagerank (local tail): cache-through-gate ---------------------
    write(dir, "g_pagerank_before.txt",
      ("g_pagerank BEFORE: the driver-local tail counted `edges` for its gate and " +
        "then collected from the UNCACHED plan — the input (distinct + " +
        "symmetrize anti-join) executed twice per query; this is that input " +
        "plan") -> explainStr(bip))
    write(dir, "g_pagerank_after.txt",
      ("g_pagerank AFTER: on local masters the tail caches through the gate " +
        "count, so the collect reads the cache (one input computation); this " +
        "is the cached scan the collect sees") -> {
        val gated = bip.cache(); gated.count()
        val s = explainStr(gated); gated.unpersist(); s
      })

    spark.stop()
  }
}

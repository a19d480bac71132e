package graft

import org.apache.spark.sql.SparkSession

/** One scaling-measurement point, master-agnostic: measures both scaling
  * witnesses (compute-dense simhash throughput, shuffle-bound Leiden
  * superstep throughput) in whatever session `spark-submit` provides and
  * prints ONE JSON line. Off a local master the Leiden witness times the
  * Catalyst tier (`LocalMove`): the CSR tier scans driver-held blocks only.
  *
  * This is the executor-mode path for the north rule's N-vs-4N-executor
  * criterion: `Bench.main` submits this class twice via
  * `spark-submit --master local-cluster[1,8,m]` and `local-cluster[4,8,m]`
  * — real standalone-mode executor processes with separate heaps and GC,
  * launched exactly as a cluster run would be (the north rule names
  * spark-submit explicitly). Unlike the in-JVM `local[k]` pair, a 4x
  * executor step here adds 4x JVM heaps, GC threads, and netty shuffle
  * endpoints; only DRAM stays shared (the documented one-box ceiling,
  * ROOFLINE.json).
  *
  * Identical measurement discipline to the in-JVM pair: deterministic
  * fixtures that are pure functions of row id (byte-identical at every
  * cluster size), warmup inside the measured session, best-of-3 windows
  * restarting from the same materialized state.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTS", "32"))
      .appName("graft-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Wait for the full executor set to register BEFORE building the cached
    // fixtures: a job submitted while only executor 0 is up caches every
    // block there, and locality then pins all later tasks to its 8 cores —
    // the 4-executor point measures 1x instead of 4x.
    val expectExecs = sys.env.get("SPARK_GRAFT_SCALE_EXECUTORS").map(_.toInt)
    expectExecs.foreach { n =>
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (spark.sparkContext.getExecutorMemoryStatus.size - 1 < n &&
             System.nanoTime() < deadline) Thread.sleep(200)
      val got = spark.sparkContext.getExecutorMemoryStatus.size - 1
      require(got >= n, s"only $got of $n executors registered after 120s")
    }
    val verts = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERTS", "2000000").toLong
    val docs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "4000000").toLong
    val alu = Bench.hashChainThroughput(spark)
    val sh = Bench.simHashThroughput(spark, docs)
    val (eps, ec, secs) = Bench.leidenSuperstepThroughput(spark, verts, iters = 2)
    val line =
      s"""{"alu_hashes_per_sec":${"%.0f".format(alu)},""" +
      s""""simhash_docs_per_sec":${"%.0f".format(sh)},"leiden_eps":${"%.0f".format(eps)},""" +
      s""""fixture_edges":$ec,"superstep_secs":${"%.3f".format(secs)},""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism}}"""
    println("GRAFT_SCALE " + line)
    sys.env.get("SPARK_GRAFT_SCALE_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
    }
    spark.stop()
  }
}

package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators.
  *
  * Each workload's graph is drawn from a fixed base seed; `--seed` orders
  * the rows of the parquet the program reads. Relabelling vertex ids by
  * the seed, or drawing a new graph per seed, changes Leiden's passes and
  * iterations: on the first `web-leiden` graph, without host locality,
  * `leiden_exact_s` spread by 0.36 (q3 − q1 over the median) across five
  * relabelled seeds. No bound could hold that. Every value is a hash of (row, column), so a table does not
  * depend on partitioning.
  */
object Inputs {

  /** Base seed of the graph structure, the same for every run. */
  private val Base = 20261018L

  private def uniform(salt: Int, cols: Column*): Column =
    pmod(xxhash64((cols :+ lit(Base) :+ lit(salt)): _*), lit(1000000L)).cast("double") / 1e6

  private def key(salt: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(Base), lit(salt)), lit(n))

  /** Rows in a seeded order within each partition. */
  private def shuffled(df: DataFrame, seed: Long): DataFrame =
    df.sortWithinPartitions(xxhash64(df.columns.map(col) :+ lit(seed): _*))

  /** TPC-H-shaped lineitem keys at scale factor `sf`: 6M·sf lines, each on
    * a uniform order (1.5M·sf orders, so lines per order are Poisson with
    * mean 4), part (200k·sf) and supplier (10k·sf), as in the TPC-H sf0.1
    * tables the program's queries read. Only the three key columns the
    * graph feeds use are written.
    */
  def lineitem(spark: SparkSession, sf: Double, seed: Long, dir: String): Unit =
    shuffled(spark.range(0, (6000000 * sf).toLong, 1, 4).select(
        key(1, (1500000 * sf).toLong).as("l_orderkey"),
        key(2, (200000 * sf).toLong).as("l_partkey"),
        key(3, (10000 * sf).toLong).as("l_suppkey")), seed)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  /** Hub-skewed web-like link table with host locality. Vertices are
    * numbered in hosts of `host` consecutive ids, and every vertex
    * 1..n-1 links to `deg` targets. With probability `local` a target is
    * in the vertex's own host, at `base + floor(u³ · (src − base))`, and
    * otherwise anywhere below it, at `floor(u³ · src)` as in
    * `graft.Cli.fixtureEdges`, with u uniform. So low ids become hubs,
    * within each host and across the graph. Raw rows (duplicates and all,
    * unit weights); the benchmark feeds them through dedup and symmetrize.
    */
  def webLinks(spark: SparkSession, n: Long, deg: Int, host: Long, local: Double,
               seed: Long, dir: String): Unit = {
    val src = col("src")
    val base = src - pmod(src, lit(host))
    val skew = pow(uniform(7, src, col("k")), 3.0)
    shuffled(spark.range(1L, n, 1, 4).select(col("id").as("src"))
      .crossJoin(spark.range(deg.toLong).select(col("id").as("k")))
      .select(src,
        floor(when(uniform(8, src, col("k")) < local, base + skew * (src - base)).otherwise(skew * src))
          .cast("long").as("dst"))
      .filter(col("dst") =!= src)
      .select(src, col("dst"), lit(1.0).as("w")), seed)
      .write.mode("overwrite").parquet(s"$dir/links.parquet")
  }

  /** Supplier -> part bipartite graph of a lineitem table, both directions,
    * distinct, unit weight (+100000 keeps the two key spaces apart) — the
    * graph the program's PageRank and component queries run on.
    */
  def bipartite(spark: SparkSession, dir: String): DataFrame = {
    val p = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey").as("src"), (col("l_partkey") + 100000L).as("dst"))
    p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().select(col("src"), col("dst"), lit(1.0).as("w"))
  }
}

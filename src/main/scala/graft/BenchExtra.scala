package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 isolation bench (guide §1.4; dev tool, SEPARATE from the frozen
  * graft.Bench contract): times individual queries with the noop sink —
  * which computes every column of every row, unlike count(), so nothing is
  * pruned — plus sub-step timings for the near-dup pipelines, to attribute
  * their wall to stages rather than guessing.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchExtra [query ...]"
  */
object BenchExtra {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"[benchextra] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = args.toSet
    val spark = Sessions.local(cpus, "graft-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    def want(n: String) = only.isEmpty || only(n)

    // noop-sink isolation of the timed queries (vs Bench's count() action)
    Bench.TimedQueries.filter(want).foreach { name =>
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      timed(name)(noop(SparkEntry.queries(name)(spark, sfDir)))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    // near-dup pipeline sub-steps (the overhead-bound rows: sf0.1 docs are
    // 5000 rows x ~300 chars, so wall here is stages, not data)
    if (want("minhash_steps")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.cache().count()
      spark.sparkContext.setJobDescription("benchextra: minhash sub-steps")
      timed("mh: shingles only")(noop(
        docs.select(col("doc_id"), graft.text.TextOps.shingles(col("text"), 3).as("sh"))))
      timed("mh: shingles+sig")(noop(
        docs.select(col("doc_id"), graft.text.TextOps.shingles(col("text"), 3).as("sh"))
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"), graft.text.NearDup.minHash(col("sh"), 16).as("sig"))))
      timed("mh: full pipeline")(noop(
        graft.text.NearDup.minHashLshPairs(docs, threshold = 0.2)))
      timed("mh: full again (warm)")(noop(
        graft.text.NearDup.minHashLshPairs(docs, threshold = 0.2)))
      docs.unpersist()
    }
    if (want("copurchase_steps")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      spark.sparkContext.setJobDescription("benchextra: copurchase sub-steps")
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"))
      timed("cp: perOrder sets")(noop(perOrder))
      val pairs = flatten(transform(col("ps"), (x, i) =>
        flatten(transform(
          slice(col("ps"), i + lit(2), size(col("ps")) - i - lit(1)),
          y => array(struct(x.as("src"), y.as("dst")))))))
      timed("cp: + pair explode")(noop(perOrder.select(explode(pairs).as("pr"))))
      timed("cp: full agg")(noop(perOrder.select(explode(pairs).as("pr"))
        .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
        .agg(count(lit(1)).as("w"))))
      timed("cp: full again (warm)")(noop(perOrder.select(explode(pairs).as("pr"))
        .groupBy(col("pr.src").as("src"), col("pr.dst").as("dst"))
        .agg(count(lit(1)).as("w"))))
    }
    if (want("ngram_steps")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      docs.cache().count()
      spark.sparkContext.setJobDescription("benchextra: ngram sub-steps")
      timed("ng: index explode+distinct")(noop(
        docs.select(col("doc_id").as("id"),
          explode(graft.text.TextOps.shingles(col("text"), 3)).as("s")).distinct()))
      timed("ng: full pipeline")(noop(
        graft.text.TextOps.ngramOverlap(docs, 3)))
      timed("ng: full again (warm)")(noop(
        graft.text.TextOps.ngramOverlap(docs, 3)))
      docs.unpersist()
    }
    spark.stop()
  }
}

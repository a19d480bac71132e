package graft

import graft.graph.EdgeTable
import graft.leiden.{Leiden, LeidenOptions}
import graft.algo.{Components, LabelProp, PageRank, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry point (BASELINE.json north_rule: "run via
  * spark-submit on a multi-executor cluster").
  *
  * Usage:
  *   spark-submit --class graft.Cli graft.jar <algo> [options]
  *     algo               leiden | pagerank | cc | lpa | triangles |
  *                        stream-demo | mtx-dump (--mtxout PATH)
  *     --edges PATH       parquet edge table (src,dst,w); symmetrized here
  *     --fixture N        or: deterministic seeded web-ish graph, N vertices
  *     --sketch K         leiden: Misra-Gries slots (0 = exact scan)
  *     --sketch-agg 1     leiden: ALSO sketch the coarsening (reference
  *                        lowmem semantics; see LeidenOptions.sketchAggregation)
  *     --min-moved F      leiden: churn stop, a fraction of the pass's
  *                        vertices (default 1e-3; 0 = reference termination)
  *     --mtx PATH         MatrixMarket input (interop with native readers)
  *     --snapshot DIR     leiden: per-pass checkpoint dir (resume-aware)
  *     --events PATH      stream-demo: events parquet (default: the sf0.001
  *                        test data's events table)
  *     --out PATH         write result parquet (default: print summary only)
  *
  * Any other flag, or a flag without a value, fails before Spark starts.
  *
  * The fixture is a preferential-attachment-style graph built
  * deterministically per edge from hashes (no RNG state), so any two runs —
  * and any two cluster sizes — see byte-identical input.
  */
object Cli {

  def fixtureEdges(spark: SparkSession, n: Long, avgDeg: Int = 8): DataFrame = {
    // dst skewed toward low ids: dst = floor(u01^3 * src); hub-heavy like a
    // web graph. Deterministic: hash of (src, k).
    val e = spark.range(1L, n).selectExpr("id as src")
      .crossJoin(spark.range(avgDeg.toLong).selectExpr("id as k"))
      .select(col("src"),
        floor(pow(pmod(hash(col("src"), col("k")), lit(1000000)).cast("double") / 1e6, 3.0)
          * col("src")).cast("long").as("dst"))
      .filter(col("dst") =!= col("src"))
      .select(col("src"), col("dst"), lit(1.0).as("w"))
    EdgeTable.symmetrize(EdgeTable.dedup(e))
  }

  /** Every flag some algo reads (usage above). */
  val Flags: Set[String] = Set("--edges", "--fixture", "--mtx", "--sketch", "--sketch-agg",
    "--min-moved", "--snapshot", "--events", "--mtxout", "--out")

  /** `--flag value` pairs; an unknown flag or a dangling argument fails. */
  def parseFlags(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if Flags(k) => k -> v
      case Seq(k, _) => throw new IllegalArgumentException(
        s"unknown flag '$k' (known: ${Flags.toSeq.sorted.mkString(" ")})")
      case last => throw new IllegalArgumentException(
        s"dangling argument '${last.mkString}' (no value)")
    }.toMap

  def main(args: Array[String]): Unit = {
    val algo = args.headOption.getOrElse("leiden")
    val opts = parseFlags(args.toSeq.drop(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.configure(
      SparkSession.builder().master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")),
      cpus.toInt, s"graft-$algo")

    lazy val edges = (opts.get("--edges"), opts.get("--mtx")) match {
      case (Some(path), _) => EdgeTable.symmetrize(EdgeTable.dedup(
        spark.read.parquet(path).select(
          col("src").cast("long"), col("dst").cast("long"),
          coalesce(col("w"), lit(1.0)).cast("double").as("w"))))
      case (None, Some(mtx)) =>
        EdgeTable.symmetrize(EdgeTable.dedup(graft.io.Mtx.read(spark, mtx)))
      case _ => fixtureEdges(spark, opts.getOrElse("--fixture", "10000").toLong)
    }
    val t0 = System.currentTimeMillis()
    val (result, summary): (DataFrame, String) = algo match {
      case "leiden" =>
        val r = Leiden.detect(edges, LeidenOptions(
          sketchSlots = opts.getOrElse("--sketch", "0").toInt,
          // reference-semantics lossy aggregation (see LeidenOptions scaladoc)
          sketchAggregation = opts.getOrElse("--sketch-agg", "0").toInt > 0,
          // CLI opts into the churn stop (library default 0 = reference
          // termination semantics); --min-moved 0 restores the reference
          minMovedFraction = opts.getOrElse("--min-moved", "1e-3").toDouble,
          snapshotDir = opts.get("--snapshot")))
        (r.membership, s"communities=${r.communities} modularity=${r.modularity} " +
          s"iterations=${r.iterations} passes=${r.passes} phaseMillis=${r.phaseMillis}")
      case "pagerank" =>
        val pr = PageRank.run(edges)
        (pr, s"n=${pr.count()} sum=${pr.agg(sum("rank")).head.getDouble(0)}")
      case "cc" =>
        val cc = Components.connectedComponents(edges, EdgeTable.vertices(edges))
        (cc, s"components=${Components.componentCount(cc)}")
      case "lpa" =>
        val l = LabelProp.run(edges)
        (l, s"labels=${l.select("label").distinct().count()}")
      case "triangles" =>
        val pv = Triangles.perVertex(edges)
        (pv, s"triangles=${Triangles.globalCount(edges)}")
      case "stream-demo" =>
        // watermarked windowed aggregation over a two-arrival file stream
        val evPath = opts.getOrElse("--events", "/root/testdata/sf0.001/events.parquet")
        val ev = spark.read.parquet(evPath).cache()
        val srcDir = java.nio.file.Files.createTempDirectory("graftstream").toString
        val mid = ev.agg(percentile_approx(col("ts"), lit(0.5), lit(1000)))
          .head.getAs[java.time.LocalDateTime](0)
        ev.filter(col("ts") <= lit(mid)).write.mode("append").parquet(srcDir)
        val q = graft.streaming.EventStreams.windowedCountsStream(
            spark.readStream.schema(ev.schema).parquet(srcDir).toDF(), "1 hour", "30 minutes")
          .writeStream.outputMode("append").format("memory").queryName("cliwin")
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
          .start()
        q.processAllAvailable()
        ev.filter(col("ts") > lit(mid)).write.mode("append").parquet(srcDir)
        q.processAllAvailable()
        val emitted = spark.table("cliwin")
        val n = emitted.count()
        val wm = Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
        q.stop()
        (emitted, s"emittedWindows=$n watermark=$wm batchWindows=${
          graft.streaming.EventStreams.windowedCounts(ev, "1 hour").count()}")
      case "mtx-dump" =>
        // interop: write the (symmetrized) edge table as MatrixMarket so the
        // SAME graph can be fed to native MTX consumers — used for the
        // head-to-head quality comparison against the reference binary
        // (BENCH.md "reference parity"); ids are kept as-is, both edge
        // directions emitted, matching mtx.hxx's raw-id reader semantics
        val mtxOut = opts.getOrElse("--mtxout",
          sys.error("mtx-dump needs --mtxout PATH"))
        graft.io.Mtx.write(edges, mtxOut)
        (edges.limit(0), s"wrote=$mtxOut")
      case other => sys.error(s"unknown algo '$other' (leiden|pagerank|cc|lpa|triangles|stream-demo|mtx-dump)")
    }
    opts.get("--out").foreach(p => result.write.mode("overwrite").parquet(p))
    val secs = (System.currentTimeMillis() - t0) / 1000.0
    val edgeCount = if (algo == "stream-demo") 0L else edges.count()
    println(s"""{"algo":"$algo","seconds":$secs,"edges":$edgeCount,"summary":"$summary"}""")
    spark.stop()
  }
}

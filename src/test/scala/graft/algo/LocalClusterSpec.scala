package graft.algo

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import graft.Sessions
import graft.graph.EdgeTable
import graft.leiden.{Leiden, LeidenOptions, LeidenResult}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dense kernels' shared-array registry lives in the driver JVM only,
  * so on a `local-cluster` master, whose executors are JVMs of their own,
  * PageRank and triangle counting must take their Catalyst plans, and
  * Leiden's dense tier broadcasts its state every half-sweep. Each run
  * needs a JVM of its own: one JVM holds one SparkContext, and the suites'
  * shared session is `local[4]`.
  */
class LocalClusterSpec extends AnyFunSuite {

  /** Runs [[LocalClusterMain]] with `part` in a child JVM; its output. */
  def child(part: String): String = {
    // executors launch from a Spark distribution's jars directory: the one
    // this JVM loaded Spark from
    val sparkJars = java.nio.file.Paths.get(
      classOf[SparkContext].getProtectionDomain.getCodeSource.getLocation.toURI).getParent
    assume(sparkJars.getFileName.toString == "jars", s"Spark is not loaded from a distribution: $sparkJars")
    val javaBin = new java.io.File(sys.props("java.home"), "bin/java").toString
    // the forked test JVM's own flags (JDK module opens), with a small heap
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), LocalClusterMain.getClass.getName.stripSuffix("$"), part)
    // the standalone workers write under SPARK_HOME/work: point them at a
    // scratch home whose jars are the distribution's
    val home = java.nio.file.Files.createTempDirectory("graft-local-cluster")
    java.nio.file.Files.createSymbolicLink(home.resolve("jars"), sparkJars)
    val log = home.resolve("child.log").toFile
    try {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
      pb.environment().put("SPARK_HOME", home.toString)
      // the executor launcher reads it (Spark's load-spark-env.sh sets it)
      pb.environment().put("SPARK_SCALA_VERSION",
        scala.util.Properties.versionNumberString.split('.').take(2).mkString("."))
      val p = pb.start()
      val finished = p.waitFor(300, TimeUnit.SECONDS)
      if (!finished) p.destroyForcibly().waitFor()
      val out = new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
      assert(finished && p.exitValue() == 0, out.takeRight(4000))
      out
    } finally {
      // walk does not follow the jars link, so only the link is deleted
      val paths = java.nio.file.Files.walk(home)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally paths.close()
    }
  }

  test("local-cluster[2,1,1024]: pagerank and triangles run on executor JVMs") {
    val out = child("algos")
    assert(out.contains("RESULT triangles=2000 ranks=2000 uniform=true"), out.takeRight(4000))
  }

  test("local-cluster[2,1,1024]: Leiden's dense tier on executor JVMs equals the driver tail") {
    val out = child("leiden")
    assert(out.contains(
      "RESULT leiden dense=true tail=true mixed=true same=true weighted=true disconnected=0,0,0"),
      out.takeRight(4000))
  }
}

/** Child-JVM body of [[LocalClusterSpec]], on two single-core executors.
  * "algos": a 2000-vertex ring with +1/+2 chords (2000 triangles,
  * 4-regular, so every PageRank rank is 1/2000). "leiden": a planted
  * 8-block graph, detected with the local tail off (the dense tier, whose
  * executors read the broadcast state), wholly in the local tail, and with
  * a dense pass 0 whose coarsen (broadcast and shuffle across the executor
  * JVMs) hands the rest to the tail. The same graph with integral weights
  * `1 + (a + b) % 3` runs dense and wholly in the tail, so weighted blocks
  * are scanned on the executors too.
  */
object LocalClusterMain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.configure(SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.extraClassPath", sys.props("java.class.path")), 2,
      "graft-local-cluster")
    try args.headOption match {
      case Some("algos") =>
        val n = 2000L
        val ring = (0L until n).flatMap(i => Seq((i, (i + 1) % n, 1.0), (i, (i + 2) % n, 1.0)))
        val edges = EdgeTable.undirected(spark, ring).cache()
        val tri = Triangles.globalCount(edges)
        val ranks = PageRank.run(edges, localEdgeThreshold = 0).collect().map(_.getDouble(1))
        val uniform = ranks.forall(r => math.abs(r - 1.0 / n) < 1e-9)
        println(s"RESULT triangles=$tri ranks=${ranks.length} uniform=$uniform")
      case Some("leiden") =>
        val rnd = new scala.util.Random(5)
        val planted = for (a <- 0 until 160; b <- a + 1 until 160
                           if rnd.nextDouble() < (if (a / 20 == b / 20) 0.4 else 0.01))
          yield (a.toLong, b.toLong, 1.0)
        val g = EdgeTable.undirected(spark, planted).cache()
        val gw = EdgeTable.undirected(spark,
          planted.map { case (a, b, _) => (a, b, 1.0 + (a + b) % 3) }).cache()
        val dense = Leiden.detect(g, LeidenOptions(localSolveEdgeThreshold = 0))
        val tail = Leiden.detect(g)
        val mixed = Leiden.detect(g, LeidenOptions(localSolveEdgeThreshold = g.count() - 1))
        def memb(r: LeidenResult): Map[Long, Long] =
          r.membership.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        val same = memb(dense) == memb(tail) && memb(mixed) == memb(dense)
        val denseW = Leiden.detect(gw, LeidenOptions(localSolveEdgeThreshold = 0))
        val tailW = Leiden.detect(gw)
        val weighted = denseW.phaseMillis.contains("csrbuild") &&
          !tailW.phaseMillis.contains("csrbuild") && memb(denseW) == memb(tailW)
        println(s"RESULT leiden dense=${dense.phaseMillis.contains("csrbuild")} " +
          s"tail=${!tail.phaseMillis.contains("csrbuild")} " +
          s"mixed=${mixed.phaseMillis.contains("csrbuild") && mixed.phaseMillis.contains("localtail")} " +
          s"same=$same weighted=$weighted disconnected=" +
          Seq(dense, tail, mixed).map(r => Leiden.disconnectedCommunities(g, r.membership)).mkString(","))
      case other => throw new IllegalArgumentException(s"unknown part: $other")
    } finally spark.stop()
  }
}

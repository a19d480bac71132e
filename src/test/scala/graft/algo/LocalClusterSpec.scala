package graft.algo

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import graft.Sessions
import graft.graph.EdgeTable
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dense kernels' shared-array registry lives in the driver JVM only,
  * so on a `local-cluster` master, whose executors are JVMs of their own,
  * PageRank and triangle counting must take their Catalyst plans. The run
  * needs a JVM of its own: one JVM holds one SparkContext, and the suites'
  * shared session is `local[4]`.
  */
class LocalClusterSpec extends AnyFunSuite {

  test("local-cluster[2,1,1024]: pagerank and triangles run on executor JVMs") {
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
      Seq("-cp", sys.props("java.class.path"), LocalClusterMain.getClass.getName.stripSuffix("$"))
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
      assert(out.contains("RESULT triangles=2000 ranks=2000 uniform=true"), out.takeRight(4000))
    } finally {
      // walk does not follow the jars link, so only the link is deleted
      val paths = java.nio.file.Files.walk(home)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally paths.close()
    }
  }
}

/** Child-JVM body of [[LocalClusterSpec]]: a 2000-vertex ring with +1/+2
  * chords (2000 triangles, 4-regular, so every PageRank rank is 1/2000) on
  * two single-core executors.
  */
object LocalClusterMain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.configure(SparkSession.builder()
      .master("local-cluster[2,1,1024]")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.extraClassPath", sys.props("java.class.path")), 2,
      "graft-local-cluster")
    try {
      val n = 2000L
      val ring = (0L until n).flatMap(i => Seq((i, (i + 1) % n, 1.0), (i, (i + 2) % n, 1.0)))
      val edges = EdgeTable.undirected(spark, ring).cache()
      val tri = Triangles.globalCount(edges)
      val ranks = PageRank.run(edges, localEdgeThreshold = 0).collect().map(_.getDouble(1))
      val uniform = ranks.forall(r => math.abs(r - 1.0 / n) < 1e-9)
      println(s"RESULT triangles=$tri ranks=${ranks.length} uniform=$uniform")
    } finally spark.stop()
  }
}

package graft

import graft.graph.EdgeTable
import graft.leiden.LocalMove
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtils

/** Scaling diagnostic for the Leiden superstep (dev tool, not a driver
  * artifact): decomposes measured superstep wall time into executor task
  * time vs everything the tasks can't account for (driver-side broadcast
  * builds, planning, job-gap time). Run at two core counts to see which
  * component stops scaling:
  *
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.BenchDiag"
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.BenchDiag"
  *
  * Prints one JSON line: wall secs, sum of task run time, ideal parallel
  * secs (= taskSum/cores), jobs count, sum of per-job wall, and the
  * between-job gap (wall - jobWallSum = pure driver think/build time that
  * no executor can help with).
  */
object BenchDiag {

  private final class Acc extends SparkListener {
    val taskRun = new java.util.concurrent.atomic.AtomicLong
    val taskGc = new java.util.concurrent.atomic.AtomicLong
    val fetchWait = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    @volatile var jobs = 0L
    @volatile var jobWallNanos = 0L
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskRun.addAndGet(m.executorRunTime)
        taskGc.addAndGet(m.jvmGCTime)
        fetchWait.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        addStageTask(e.stageId, m.executorRunTime)
      }
      tasks.incrementAndGet(); ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, System.nanoTime()); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != 0L) { jobs += 1; jobWallNanos += System.nanoTime() - s }
    }
    // per-stage attribution: name -> (count, wall ms, task-run ms sum)
    val stages = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()
    private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageTaskMs.put(e.stageInfo.stageId, new java.util.concurrent.atomic.AtomicLong); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
      // name: first line of the stage's call site / stage name
      val name = si.name.takeWhile(_ != '\n').take(80)
      val trun = Option(stageTaskMs.remove(si.stageId)).map(_.get).getOrElse(0L)
      stages.merge(name, (1L, wall, trun),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3)); ()
    }
    def addStageTask(stageId: Int, ms: Long): Unit = {
      val a = stageTaskMs.get(stageId); if (a != null) { a.addAndGet(ms); () }
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val verts = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERTS", "2000000").toLong
    val iters = sys.env.getOrElse("SPARK_GRAFT_DIAG_ITERS", "2").toInt
    val spark = Sessions.local(cpus, s"graft-diag-$cpus")
    spark.sparkContext.setLogLevel("ERROR")

    if (sys.env.get("SPARK_GRAFT_DIAG_MODE").contains("csr")) {
      // CSR-tier serial-term decomposition: same measurement window as the
      // Bench csr leg, with CsrSweep.Timers splitting each half-sweep into
      // the in-process scan and the driver apply
      val deg = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEG", "8").toInt
      val edges = EdgeTable.canonicalize(Cli.fixtureEdges(spark, verts, deg))
        .repartition(col("src")).cache()
      val e = edges.count()
      val m = EdgeTable.totalWeight(edges) / 2
      val vtot = PlanUtils.checkpointTruncated(EdgeTable.vertexWeights(edges))
      val n = verts.toInt
      val vt = new Array[Double](n)
      vtot.select("id", "vtot").collect()
        .foreach(r => vt(r.getLong(0).toInt) = r.getDouble(1))
      val csr = graft.leiden.CsrSweep.build(edges, n).cache()
      val st = graft.leiden.CsrSweep.singleton(csr, n, vt)
      graft.leiden.CsrSweep.halfSweep(st, m, 1.0, 0)
      val snap = st.snapshot()
      for (rep <- 1 to 3) {
        st.restore(snap)
        graft.leiden.CsrSweep.Timers.reset()
        val t0 = System.nanoTime()
        var done = 0
        while (done < iters) {
          graft.leiden.CsrSweep.halfSweep(st, m, 1.0, 1)
          graft.leiden.CsrSweep.halfSweep(st, m, 1.0, 0)
          done += 1
        }
        val wall = (System.nanoTime() - t0) / 1e9
        println(s"""{"diag":"csr","rep":$rep,"cpus":$cpus,"edges":$e,"iters":$iters,""" +
          s""""wall_secs":${"%.3f".format(wall)},""" +
          s""""eps":${"%.0f".format(e.toDouble * iters / wall)},""" +
          s""""timers":${graft.leiden.CsrSweep.Timers.json}}""")
      }
      st.close()
      spark.stop()
      return
    }

    val edges = EdgeTable.canonicalize(Cli.fixtureEdges(spark, verts))
      .repartition(col("src")).cache()
    val e = edges.count()
    val m = EdgeTable.totalWeight(edges) / 2
    val vtot = PlanUtils.checkpointTruncated(EdgeTable.vertexWeights(edges))
    val init = vtot.select(col("id"), col("id").as("comm"), col("vtot"), lit(true).as("aff"))
    val fBits = Some(graft.leiden.FrontierBits.fromState(init, verts.toInt))
    val warmR = LocalMove.sweep(edges, init, m, 1.0, 0,
      broadcastCt = true, vertexCountHint = verts, broadcastMembership = true,
      affBits = fBits)
    val warm = warmR.state

    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    var state = warm
    var bits = warmR.affBits
    val t0 = System.nanoTime()
    var done = 0
    while (done < iters) {
      val r1 = LocalMove.sweep(edges, state, m, 1.0, 1, broadcastCt = true, vertexCountHint = verts, broadcastMembership = true, affBits = bits)
      val r2 = LocalMove.sweep(edges, r1.state, m, 1.0, 0, broadcastCt = true, vertexCountHint = verts, broadcastMembership = true, affBits = r1.affBits)
      val (s1, s2) = (r1.state, r2.state)
      bits = r2.affBits
      if ((state ne warm) && (state ne s1) && (state ne s2)) PlanUtils.release(state)
      if ((s1 ne warm) && (s1 ne s2)) PlanUtils.release(s1)
      state = s2
      done += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    PlanUtils.drainListenerBus(spark)
    val taskSum = acc.taskRun.get / 1e3
    val jobWall = acc.jobWallNanos / 1e9
    println(
      s"""{"diag":"leiden_superstep","cpus":$cpus,"edges":$e,"iters":$iters,""" +
      s""""wall_secs":${"%.2f".format(wall)},""" +
      s""""task_run_sum_secs":${"%.2f".format(taskSum)},""" +
      s""""ideal_parallel_secs":${"%.2f".format(taskSum / cpus)},""" +
      s""""task_gc_sum_secs":${"%.2f".format(acc.taskGc.get / 1e3)},""" +
      s""""fetch_wait_sum_secs":${"%.2f".format(acc.fetchWait.get / 1e3)},""" +
      s""""jobs":${acc.jobs},"tasks":${acc.tasks.get},""" +
      s""""job_wall_sum_secs":${"%.2f".format(jobWall)},""" +
      s""""between_job_gap_secs":${"%.2f".format(wall - jobWall)},""" +
      s""""in_job_nontask_secs":${"%.2f".format(jobWall - taskSum / cpus)}}""")
    import scala.jdk.CollectionConverters._
    acc.stages.asScala.toSeq.sortBy(-_._2._2).take(20).foreach { case (n, (c, w, t)) =>
      println(f"[stage] n=$c%3d wall=${w / 1e3}%7.2f taskSum=${t / 1e3}%8.2f  $n")
    }
    spark.stop()
  }
}

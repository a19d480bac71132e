package graft

/** Interleaved A/B harness for superstep-plan experiments.
  *
  * Cross-session comparisons on this shared host are dominated by co-tenant
  * load drift (BENCH.md host-calibration discipline), so plan variants are
  * judged by ALTERNATING them within one session — A,B,A,B,... — and taking
  * the best observation per variant. Currently wired to the community-totals
  * broadcast toggle (LocalMove.sweep broadcastCt); rounds × 2 measurements,
  * each a fresh fixture build + warmup + best-of-1 window of
  * `leidenSuperstepThroughput`.
  *
  * Env: SPARK_GRAFT_BENCH_VERTS (default 2M), SPARK_GRAFT_CPUS (32),
  * SPARK_GRAFT_AB_ROUNDS (3), SPARK_GRAFT_AB_ITERS (2),
  * SPARK_GRAFT_AB_TOGGLE (membership | broadcastCt, default membership).
  */
object BenchAB {
  def main(args: Array[String]): Unit = {
    val verts = sys.env.getOrElse("SPARK_GRAFT_BENCH_VERTS", "2000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_AB_ROUNDS", "3").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_AB_ITERS", "2").toInt
    val toggle = sys.env.getOrElse("SPARK_GRAFT_AB_TOGGLE", "membership")
    val spark = Sessions.local(cpus, "graft-bench-ab")
    spark.sparkContext.setLogLevel("ERROR")
    var bestOn = 0.0
    var bestOff = 0.0
    for (r <- 1 to rounds; on <- Seq(true, false)) {
      val (eps, _, secs) = toggle match {
        case "membership" => Bench.leidenSuperstepThroughput(
          spark, verts, iters, reps = 1, membershipOverride = Some(on))
        case _ => Bench.leidenSuperstepThroughput(
          spark, verts, iters, reps = 1, broadcastCtOverride = Some(on))
      }
      if (on) bestOn = math.max(bestOn, eps) else bestOff = math.max(bestOff, eps)
      println(f"[ab] round=$r $toggle=$on eps=${eps}%.0f secs_per_iter=${secs / iters}%.2f")
    }
    println(f"""{"ab":"$toggle","best_on_eps":${bestOn}%.0f,"best_off_eps":${bestOff}%.0f,"ratio":${if (bestOff > 0) bestOn / bestOff else 0.0}%.3f}""")
    spark.stop()
  }
}

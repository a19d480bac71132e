package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.{Sessions, SparkEntry}
import graft.algo.{Components, LabelProp, PageRank, Triangles}
import graft.graph.EdgeTable
import graft.leiden.{Aggregate, CsrSweep, Leiden, LeidenOptions, LeidenResult, Modularity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanUtils

/** One benchmark run: set up one workload in this JVM's Spark `local[cores]`
  * session, warm up, time whole rounds of the three Leiden variants for
  * `seconds`, check every output against [[Oracles]], and print one
  * `RESULT {json}` line. With trace 1 it then measures the layers under
  * the calls and the companion algorithms, and writes every figure to
  * `traceOut`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <cores> <traceOut>
  */
object Main {

  /** Leiden variants of the paper: exact scan, MG-64 sketch, Boyer-Moore. */
  val Variants: Seq[(String, Int)] = Seq("exact" -> 0, "mg64" -> 64, "bm1" -> 1)
  /** Companion algorithms, timed and checked in traced runs only. */
  val Companions: Seq[String] = Seq("pagerank", "pagerank_dist", "components", "lpa", "triangles")
  /** LPA round cap: every LPA round is a chain of Spark jobs over all
    * edges, and the default 20 would make LPA most of a traced run.
    */
  val LpaRounds = 1

  /** The inputs are 1/Scale of the sizes the program's own queries and
    * bench use (sf0.1 co-purchase, 150k-vertex web graph), so the two size
    * gates of `LeidenOptions` are scaled by 1/Scale as well: passes whose
    * graph has more than 15,625 edge rows stay distributed (CSR kernel,
    * coarsening), smaller ones finish in the local tail, and pass graphs
    * of at least 128 vertices take the sketch scan. Every other option is
    * the library default. The gates pick tiers, not results: LeidenSpec
    * pins the tiers to the same memberships on exact-weight graphs.
    * Leiden's time has a large fixed part (Spark jobs, JIT), so a call
    * takes seconds even at this size; smaller inputs let a run measure
    * several rounds, whose median is steadier than one larger call.
    */
  val Scale = 64
  /** Unrecorded rounds before the measured section. The first round of a
    * JVM runs at half speed or worse, and the second and third are still
    * 10-20% slower than later ones, as the JIT compiles. A run that
    * measured such a round reported a slower median the fewer rounds it
    * fit, so host load moved its figures twice.
    */
  val WarmupRounds = 3
  val LocalTailEdges = 1000000L / Scale
  val SketchCutoff = 8192L / Scale
  def leidenOptions(sketchSlots: Int): LeidenOptions =
    LeidenOptions(sketchSlots = sketchSlots, localSolveEdgeThreshold = LocalTailEdges,
      sketchExactCutoff = SketchCutoff)

  private val MiB = 1024.0 * 1024.0
  private def now(): Double = System.nanoTime() / 1e9
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  private def gcSeconds(): Double = {
    var ms = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, coresS, traceOut) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    val spark = Sessions.local(coresS.toInt, s"perfbench-$workload")
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStart

    val t1 = now()
    val w = Workload(workload, spark, seed, workDir)
    val b = new Bench(spark, stats, w)
    val inputS = now() - t1
    val t2 = now()
    // warm-up: whole rounds, unrecorded, until the JIT and Spark's code
    // generation have compiled what the measured rounds run
    for (_ <- 0 until WarmupRounds) b.round(record = false)
    val warmupS = now() - t2
    val setupS = System.currentTimeMillis() / 1e3 - jvmStart
    log(f"set-up $setupS%.3f s: session $sessionS%.3f, inputs $inputS%.3f, warm-up $warmupS%.3f")

    // whole rounds, each started only while the last round's duration says
    // it will end within the window, and at least one
    val gc0 = gcSeconds()
    val m0 = now()
    var rounds = 0
    var roundS = 0.0
    while (rounds == 0 || now() - m0 + roundS <= secondsS.toDouble) {
      val t = now(); b.round(); roundS = now() - t; rounds += 1
    }
    val gcS = gcSeconds() - gc0

    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (setupS, "s")
    for ((v, _) <- Variants) e2e(s"leiden_${v}_s") = (median(b.seconds(s"leiden_$v")), "s")
    for ((v, _) <- Variants) e2e(s"modularity_$v") = (b.last(v).modularity, "Q")
    e2e("task_mem_peak_mb") = (b.taskPeakMemBytes / MiB, "MiB")

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    if (trace) {
      layers("setup.session_s") = (sessionS, "s")
      layers("setup.input_s") = (inputS, "s")
      layers("setup.warmup_s") = (warmupS, "s")
      layers ++= b.layers()
      layers("jvm.gc_s") = (gcS, "s")
    }

    val attempted = rounds * b.opsPerRound
    def metricsJson(ms: Iterable[(String, (Double, String))]) = Json.obj(ms.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val head = Seq("correct" -> Json.raw(b.correct.toString),
      "attempted" -> Json.raw(attempted.toString), "failed" -> Json.raw(b.failed.toString))
    if (trace) {
      val doc = Json.obj(Seq("workload" -> Json.str(workload), "seed" -> Json.raw(seed.toString),
        "rounds" -> Json.raw(rounds.toString)) ++ head ++ Seq(
        "metrics" -> metricsJson(e2e ++ layers),
        "notes" -> Json.obj(b.notes.toSeq.map { case (k, v) => k -> Json.str(v) })))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(traceOut), doc.toString + "\n")
    }
    b.problems.foreach(p => log(s"CHECK FAILED: $p"))
    spark.stop()
    println("RESULT " + Json.obj(head :+ ("metrics" -> metricsJson(if (trace) layers else e2e))))
  }
}

/** Inputs of one workload. `leidenInput` rebuilds the Leiden input from
  * the workload's parquet on every call, as the program's queries do.
  * The companion inputs are built only for traced runs.
  */
final case class Workload(name: String, leidenInput: () => DataFrame,
                          companionInputs: () => Map[String, DataFrame])

object Workload {
  /** copurchase-leiden: TPC-H-shaped sf0.0015625, 312 parts. */
  val CopurchaseSf = 0.1 / Main.Scale
  /** web-leiden: 2,343 vertices × 8 links, in hosts of 64 vertices that
    * take 80% of the links. Without host locality (the `Cli.fixtureEdges`
    * shape) Leiden churns to its iteration cap in six distributed passes:
    * 142 Spark jobs and ~6 s per exact call, so a run could measure only
    * one round, and its times spread by up to 0.39 between runs.
    */
  val WebVertices = 150000L / Main.Scale
  val WebDegree = 8
  val WebHost = 64L
  val WebLocal = 0.8

  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "copurchase-leiden" =>
      Inputs.lineitem(spark, CopurchaseSf, seed, dir)
      val feed = () => SparkEntry.copurchaseSym(spark, dir)
      // PageRank and components on the supplier-part graph, LPA and
      // triangles on the co-purchase graph, as the program's queries do
      Workload(name, feed, () => {
        val co = feed().cache(); val bip = Inputs.bipartite(spark, dir).cache()
        Map("pagerank" -> bip, "pagerank_dist" -> bip, "components" -> bip, "lpa" -> co, "triangles" -> co)
      })
    case "web-leiden" =>
      Inputs.webLinks(spark, WebVertices, WebDegree, WebHost, WebLocal, seed, dir)
      // the Cli path: dedup, then symmetrize
      val feed = () => EdgeTable.symmetrize(EdgeTable.dedup(spark.read.parquet(s"$dir/links.parquet")))
      Workload(name, feed, () => { val web = feed().cache(); Main.Companions.map(_ -> web).toMap })
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** A timed call: wall seconds, what Spark did under its job group, and
  * for Leiden the result record with the independent disconnected count.
  */
final case class Call(seconds: Double, stats: CallStats, leiden: Option[(LeidenResult, Int)] = None)

final class Bench(spark: SparkSession, stats: JobStats, w: Workload) {
  private val sc = spark.sparkContext
  private val calls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Call]]()
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap()
  var failed = 0
  private var seq = 0
  private var lastExact: Array[(Long, Long)] = Array.empty

  // the Leiden input collected once, for the independent checks
  private val leidenG = Oracles.collect(w.leidenInput())

  /** per variant: the timed Leiden call and its connectivity check */
  val opsPerRound: Int = 2 * Main.Variants.length

  def correct: Boolean = problems.isEmpty
  def seconds(op: String): Seq[Double] = calls.getOrElse(op, Nil).map(_.seconds).toSeq
  def last(v: String): LeidenResult = calls(s"leiden_$v").last.leiden.get._1
  def taskPeakMemBytes: Long = calls.values.flatten.map(_.stats.taskPeakMemBytes).max

  private def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  private def timed[T](op: String)(f: => T): (T, Double, CallStats) = {
    seq += 1
    val group = s"$op#$seq"
    val alloc0 = allocatedBytes()
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try f finally sc.clearJobGroup()
    val s = (System.nanoTime() - t0) / 1e9
    val alloc = allocatedBytes().iterator.map { case (id, b) => b - alloc0.getOrElse(id, 0L) }.sum
    System.err.println(f"[perfbench] $group%-20s $s%8.3f s")
    PlanUtils.drainListenerBus(spark)
    (r, s, stats.get(group).copy(allocBytes = alloc))
  }

  private val Threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  /** bytes allocated so far by each live thread of the JVM (driver and
    * the local executors alike); a thread that ends within a call loses
    * its count
    */
  private def allocatedBytes(): Map[Long, Long] = {
    val ids = Threads.getAllThreadIds
    ids.iterator.zip(Threads.getThreadAllocatedBytes(ids).iterator).filter(_._2 >= 0).toMap
  }

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select(col(df.columns(0)).cast("long"), col(df.columns(1)).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Leiden to a collected membership; releases the result's blocks. */
  private def detect(edges: DataFrame, opts: LeidenOptions): (LeidenResult, Array[(Long, Long)]) = {
    val r = Leiden.detect(edges, opts)
    val rows = pairs(r.membership)
    PlanUtils.release(r.membership)
    (r, rows)
  }

  /** Leiden output checks; returns the independent disconnected count. */
  private def checkLeiden(what: String, g: Oracles.Graph, r: LeidenResult,
                          rows: Array[(Long, Long)]): Int =
    Oracles.labelArray(g, rows) match {
      case None => problems += s"$what: membership ids are not the input's vertices, once each"; -1
      case Some(lab) =>
        check(rows.length == g.vertexCount, s"$what: ${rows.length} rows for ${g.vertexCount} vertices")
        val distinct = rows.iterator.map(_._2).toSet.size
        check(distinct == r.communities, s"$what: communities=${r.communities}, labels=$distinct")
        val q = Oracles.modularity(g, lab)
        check(math.abs(q - r.modularity) <= 1e-9, s"$what: modularity ${r.modularity} vs recomputed $q")
        check(q > 0, s"$what: modularity $q <= 0")
        Oracles.disconnected(g, lab)
    }

  /** One round: each Leiden variant once, from the workload's parquet to a
    * collected membership, each output checked after its timing. The
    * union-find connectivity check of each output is an operation of its
    * own, which fails when the output has an internally disconnected
    * community.
    */
  def round(record: Boolean = true): Unit = {
    for ((v, k) <- Main.Variants) {
      val ((r, rows), s, st) = timed(s"leiden_$v")(detect(w.leidenInput(), Main.leidenOptions(k)))
      val disc = checkLeiden(s"leiden_$v", leidenG, r, rows)
      if (v == "exact") lastExact = rows
      if (record) {
        calls.getOrElseUpdate(s"leiden_$v", mutable.ArrayBuffer()) += Call(s, st, Some((r, disc)))
        if (disc != 0) failed += 1
      }
      notes(s"leiden.$v.disconnected") = s"$disc of ${r.communities}"
    }
  }

  // ---------------------------------------------------------------- layers

  private def med(op: String)(f: Call => Double): Double = Main.median(calls.getOrElse(op, Nil).map(f).toSeq)
  private def median3(f: => Unit): Double =
    Main.median(Seq.fill(3) { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 })

  /** Per-layer figures: from the measured calls, then from calls into
    * single layers and the companion algorithms after the measured
    * section.
    */
  def layers(): Seq[(String, (Double, String))] = {
    val out = mutable.ArrayBuffer[(String, (Double, String))]()
    def put(k: String, v: Double, u: String): Unit = out += (k -> (v, u))
    val MiB = 1024.0 * 1024.0
    def putStats(prefix: String, f: (CallStats => Double) => Double): Unit = {
      put(s"$prefix.jobs", f(_.jobs), "count")
      put(s"$prefix.shuffle_mb", f(_.shuffleBytes / MiB), "MiB")
      put(s"$prefix.task_cpu_s", f(_.taskCpuNs / 1e9), "s")
      put(s"$prefix.task_mem_peak_mb", f(_.taskPeakMemBytes / MiB), "MiB")
      put(s"$prefix.alloc_mb", f(_.allocBytes / MiB), "MiB")
    }

    put("spark.empty_job_ms", Main.median(Seq.fill(21) {
      val t = System.nanoTime(); sc.parallelize(0 until 4, 4).count(); (System.nanoTime() - t) / 1e6 }), "ms")

    val feed = Seq.fill(3)(timed("feed")(w.leidenInput().queryExecution.toRdd.count())).sortBy(_._2).apply(1)
    put("graph.feed_s", feed._2, "s")
    put("graph.feed_jobs", feed._3.jobs, "count")
    put("graph.feed_shuffle_mb", feed._3.shuffleBytes / MiB, "MiB")

    for ((v, _) <- Main.Variants) {
      val op = s"leiden_$v"
      putStats(s"leiden.$v", f => med(op)(c => f(c.stats)))
      val (r, disc) = calls(op).last.leiden.get
      put(s"leiden.$v.iterations", r.iterations, "count")
      put(s"leiden.$v.passes", r.passes, "count")
      put(s"leiden.$v.communities", r.communities.toDouble, "count")
      put(s"leiden.$v.disconnected", disc, "count")
      for (ph <- Seq("input", "init", "csrbuild", "firstpass", "move", "refine", "aggregate",
          "compose", "localtail", "modularity"))
        put(s"leiden.$v.${ph}_s", med(op)(_.leiden.get._1.phaseMillis.getOrElse(ph, 0L) / 1e3), "s")
    }

    // Layer calls on the Leiden input, cached as Leiden.detect caches it.
    val edges = w.leidenInput().repartition(sc.defaultParallelism, col("src")).cache()
    val e = edges.count()
    val m = EdgeTable.totalWeight(edges) / 2
    val n = leidenG.n
    val vt = new Array[Double](n)
    EdgeTable.vertexWeights(edges).select(col("id").cast("int"), col("vtot").cast("double"))
      .collect().foreach(r => vt(r.getInt(0)) = r.getDouble(1))

    // CsrSweep kernel from a fixed state, as Bench.leidenSuperstepThroughput
    // runs it: singleton start, one half-sweep, then HalfSweeps half-sweeps
    // from that snapshot for each variant
    val HalfSweeps = 10
    val tb = System.nanoTime()
    val csr = CsrSweep.build(edges, n, srcComplete = true).cache()
    csr.count()
    put("kernel.csr_build_s", (System.nanoTime() - tb) / 1e9, "s")
    val st = CsrSweep.singleton(csr, n, vt)
    CsrSweep.halfSweep(st, m, 1.0, 0)
    val snap = st.snapshot()
    for ((v, k) <- Main.Variants) {
      st.restore(snap)
      val (_, s, cs) = timed(s"kernel_$v") {
        for (i <- 0 until HalfSweeps) CsrSweep.halfSweep(st, m, 1.0, 1 - i % 2, sketchSlots = k) }
      put(s"kernel.$v.halfsweep_ms", s / HalfSweeps * 1e3, "ms")
      if (k == 0) {
        put("kernel.edges_per_s", e / (s / HalfSweeps), "1/s")
        put("kernel.jobs_per_halfsweep", cs.jobs.toDouble / HalfSweeps, "count")
      }
    }
    // bytes of the packed blocks the kernel streams, per edge row
    val bytes = csr.map { bl =>
      def len(a: AnyRef): Long = a match {
        case null => 0L
        case x: Array[Int] => 4L * x.length
        case x: Array[Long] => 8L * x.length
        case x: Array[Double] => 8L * x.length
        case x: Array[Byte] => x.length.toLong
      }
      Seq[AnyRef](bl.srcs, bl.off, bl.dst, bl.w, bl.packed, bl.widths, bl.bitOff).map(len).sum
    }.sum()
    put("kernel.bytes_per_edge", bytes / e, "B")
    st.close()
    csr.unpersist(blocking = true)

    val memb = spark.createDataFrame(lastExact.toSeq).toDF("id", "comm").cache()
    memb.count()
    put("aggregate.coarsen_s", median3(Aggregate.coarsen(edges, memb).queryExecution.toRdd.count()), "s")
    var q = 0.0
    put("modularity.eval_s",
      median3 { q = Modularity.modularity(edges, memb, m, 1.0, broadcastMembership = true) }, "s")
    check(math.abs(q - last("exact").modularity) <= 1e-9,
      s"Modularity.modularity $q vs LeidenResult.modularity ${last("exact").modularity}")
    // the library's own count beside the independent union-find count
    notes("leiden.exact.disconnected_vs_library") =
      s"union-find ${calls("leiden_exact").last.leiden.get._2}, " +
        s"Leiden.disconnectedCommunities ${Leiden.disconnectedCommunities(edges, memb)}"
    memb.unpersist(blocking = true)
    edges.unpersist(blocking = true)

    // Companions: each called twice, the second call timed and checked.
    val inputs = w.companionInputs()
    inputs.values.toSeq.distinct.foreach(_.count())
    val oracle = new CompanionOracles(inputs)
    for (o <- Main.Companions) {
      companion(o, inputs(o))
      val (result, s, cs) = timed(s"algo_$o")(companion(o, inputs(o)))
      oracle.check(o, result).foreach(problems += _)
      put(s"algo.$o.s", s, "s")
      putStats(s"algo.$o", f => f(cs))
    }
    inputs.values.toSeq.distinct.foreach(_.unpersist(blocking = true))
    out.toSeq
  }

  private def companion(o: String, in: DataFrame): Any = o match {
    case "pagerank" => pairsRank(PageRank.run(in))
    case "pagerank_dist" => pairsRank(PageRank.run(in, localEdgeThreshold = 0))
    case "components" => pairs(Components.connectedComponents(in, EdgeTable.vertices(in)))
    case "lpa" => pairs(LabelProp.run(in, maxRounds = Main.LpaRounds))
    case "triangles" => Triangles.globalCount(in)
  }

  private def pairsRank(df: DataFrame): Array[(Long, Double)] =
    df.select(col("id").cast("long"), col("rank").cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
}

/** Independent checks of the companion outputs. */
final class CompanionOracles(inputs: Map[String, DataFrame]) {
  private val graphs = mutable.HashMap[DataFrame, Oracles.Graph]()
  private def graph(o: String) = graphs.getOrElseUpdate(inputs(o), Oracles.collect(inputs(o)))

  def check(o: String, result: Any): Option[String] = (o, result) match {
    case ("pagerank" | "pagerank_dist", ranks: Array[(Long, Double)] @unchecked) =>
      val g = graph(o)
      val ref = Oracles.pagerank(g)
      val err = ranks.iterator.map { case (id, r) =>
        if (id >= 0 && id < g.n && g.present(id.toInt)) math.abs(r - ref(id.toInt)) else Double.MaxValue
      }.foldLeft(0.0)(math.max)
      val sum = ranks.iterator.map(_._2).sum
      if (ranks.length != g.vertexCount) Some(s"$o: ${ranks.length} rows for ${g.vertexCount} vertices")
      else if (err > 1e-6) Some(s"$o: max |rank - power iteration| = $err")
      else if (math.abs(sum - 1.0) > 1e-6) Some(s"$o: ranks sum to $sum")
      else None
    case ("components", cc: Array[(Long, Long)] @unchecked) =>
      val g = graph(o)
      val uf = Oracles.components(g)
      // same partition: label -> root and root -> label are both functions
      val l2r = mutable.HashMap[Long, Int](); val r2l = mutable.HashMap[Int, Long]()
      val same = Oracles.labelArray(g, cc).isDefined && cc.forall { case (id, l) =>
        val r = uf.find(id.toInt)
        l2r.getOrElseUpdate(l, r) == r && r2l.getOrElseUpdate(r, l) == l
      }
      if (cc.length != g.vertexCount) Some(s"$o: ${cc.length} rows for ${g.vertexCount} vertices")
      else if (!same) Some(s"$o: partition differs from union-find")
      else None
    case ("lpa", lpa: Array[(Long, Long)] @unchecked) =>
      val g = graph(o)
      val uf = Oracles.components(g, skipSelfLoops = true)
      val vert = new Array[Boolean](g.n)
      for (i <- g.src.indices if g.src(i) != g.dst(i)) { vert(g.src(i)) = true; vert(g.dst(i)) = true }
      val ok = lpa.forall { case (id, l) =>
        id >= 0 && id < g.n && l >= 0 && l < g.n && vert(id.toInt) && vert(l.toInt) &&
          uf.find(id.toInt) == uf.find(l.toInt)
      }
      if (lpa.length != vert.count(identity)) Some(s"$o: ${lpa.length} rows for ${vert.count(identity)} vertices")
      else if (!ok) Some(s"$o: a label is not a vertex of its vertex's own component")
      else None
    case ("triangles", t: Long) =>
      val ref = Oracles.triangles(graph(o))
      if (t != ref) Some(s"$o: $t, sorted-adjacency count $ref") else None
    case _ => Some(s"$o: unexpected result")
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def raw(s: String): Raw = Raw(s)
  def num(d: Double): Raw = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d")
    Raw(java.lang.Double.toString(d))
  }
  def str(s: String): Raw =
    Raw("\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\"")
  def obj(kv: Seq[(String, Raw)]): Raw = Raw(kv.map { case (k, v) => str(k).s + ":" + v.s }.mkString("{", ",", "}"))
}

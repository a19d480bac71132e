package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults.
  *
  * Local sandbox runs `local[k]`; on a real cluster the same settings apply
  * (AQE, skew-join splitting, small shuffle-partition floor is overridden by
  * the submitter). Shuffle partitions default to the local core count rather
  * than Spark's 200 — at cluster scale the caller sets this to 2-3x cores.
  */
object Sessions {
  def local(cores: Int = 32, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores, appName)

  def configure(b: SparkSession.Builder, shufflePartitions: Int, appName: String): SparkSession = {
    val b1 = b
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Kryo for RDD-level payloads (DataFrame shuffles ride Tungsten's own
      // UnsafeRow path either way). Off a local master the driver ships
      // primitive arrays to executors in Leiden's broadcast membership
      // lookups (Aggregate.composeArray, Modularity.dense); on a local
      // master the coarse slices Aggregate.slicesFrame caches spill
      // through it.
      // JavaSerializer writes long[]/double[] element-wise (~40 MB/s,
      // measured as ~40 ms of driver-serial broadcast per half-sweep at 4x8
      // executors on the 128M-edge fixture, BENCH.md round 5), Kryo's bulk
      // primitive-array path is a near-memcpy. spark.kryo.unsafe keeps it
      // on the unsafe fast path.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.unsafe", "true")
      // Packed driver collects (Leiden's dense-gate vertex weights, the
      // local tail's rows) return per-task results that straddle the
      // 1 MiB maxDirectResultSize default (~16 B/vertex); an over-limit
      // result is detoured through the BlockManager — an extra
      // driver->executor fetch round-trip PER TASK. 16 MiB keeps the
      // collect direct at the gated worst case (4M verts / 8 tasks x 16 B
      // = 8 MiB) without the driver-memory exposure an unbounded direct
      // path would mean on a 1000-executor cluster.
      .config("spark.task.maxDirectResultSize", (16L << 20).toString)
    // Off a local master Leiden's Catalyst tier broadcasts O(V) membership
    // and community-total relations every half-sweep; lz4-ing ~24 MB of
    // near-incompressible ids and doubles is a pure serial driver cost
    // that only pays off on a real network. Disable it ONLY when the
    // master is local/local-cluster (this sandbox, unit tests, the bench's
    // loopback executors) — a real cluster deployment keeps Spark's
    // compressed default unless the submitter opts out explicitly.
    val master = sys.props.getOrElse("spark.master", "local")
    val b2 =
      if (master.startsWith("local")) b1.config("spark.broadcast.compress", "false")
      else b1
    val spark = b2.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

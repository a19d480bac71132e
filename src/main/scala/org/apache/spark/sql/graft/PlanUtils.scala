package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame

/** Lineage/statistics truncation for iterative superstep algorithms.
  *
  * `Dataset.localCheckpoint` truncates the *lineage* but carries the origin
  * plan's *statistics* into the resulting LogicalRDD. In an iterative join
  * pipeline (Leiden sweeps, label propagation, PageRank) each iteration's
  * sizeInBytes estimate is a product over the previous iteration's, so the
  * BigInt statistics grow to millions of digits within ~10 iterations and
  * join planning (`canBroadcastBySize`) degenerates into minutes of
  * BigInteger arithmetic on the driver.
  *
  * The fix: after checkpointing, rebuild the DataFrame directly from the
  * materialized InternalRow RDD, which resets statistics to the session
  * default. Runtime join planning is unaffected — AQE derives broadcast
  * decisions from actual shuffle sizes, not these logical estimates.
  *
  * Lives under org.apache.spark.sql to reach the private[sql]
  * internalCreateDataFrame (zero row-format conversion, unlike the public
  * createDataFrame(rdd.rdd, schema) which would deserialize + re-encode
  * every row).
  */
object PlanUtils extends org.apache.spark.internal.Logging {

  /** Materialize `df` once (local checkpoint) and return a DataFrame with
    * truncated lineage, fresh statistics, AND the materialized RDD's
    * physical partitioning/ordering intact.
    *
    * `localCheckpoint` already rewrites the executed plan's output
    * partitioning onto its LogicalRDD (so a state table that was hash
    * partitioned by `id` stays visibly so), but it also carries the origin
    * plan's statistics — the BigInt blowup described above. Rebuilding via
    * `internalCreateDataFrame` fixed the stats but erased the partitioning,
    * which silently re-inserted one Exchange per id-keyed join/agg per
    * superstep downstream. This keeps both properties: same output
    * attributes and RDD, partitioning/ordering carried over, origin stats
    * and constraints dropped.
    */
  def checkpointTruncated(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ck = df.localCheckpoint(true)

    // Under AQE the checkpoint records UnknownPartitioning — the eagerly
    // executed plan is an AdaptiveSparkPlanExec, which never overrides
    // SparkPlan.outputPartitioning even once its final plan is known. The
    // final plan exists by now (the eager checkpoint just ran it), so read
    // the partitioning off it and rewrite its attribute ids onto the new
    // LogicalRDD's output. Anything that doesn't cleanly map degrades to
    // UnknownPartitioning, never to a wrong partitioning.
    def rewrite(p: Partitioning, m: Map[Attribute, Attribute],
                out: AttributeSet): Partitioning = p match {
      case pc: PartitioningCollection => rewrite(pc.partitionings.head, m, out)
      case e: Expression =>
        val r = e.transform { case a: Attribute => m.getOrElse(a, a) }
        if (r.references.subsetOf(out)) r.asInstanceOf[Partitioning]
        else UnknownPartitioning(p.numPartitions)
      case other => other
    }

    ck.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val part = l.outputPartitioning match {
          case _: UnknownPartitioning =>
            val fin = df.queryExecution.executedPlan match {
              case a: AdaptiveSparkPlanExec => a.executedPlan
              case p => p
            }
            LogicalRDD.buildOutputAssocForRewrite(fin.output, l.output)
              .map(m => rewrite(fin.outputPartitioning, m, AttributeSet(l.output)))
              .getOrElse(l.outputPartitioning)
          case p => p
        }
        val clean = new LogicalRDD(
          l.output, l.rdd, part, l.outputOrdering,
          l.isStreaming, l.stream)(spark, None, None)
        org.apache.spark.sql.classic.Dataset.ofRows(spark, clean)
      case _ =>
        spark.internalCreateDataFrame(
          ck.queryExecution.toRdd, df.schema, isStreaming = false)
    }
  }

  /** `rows` as a DataFrame of `schema`, with no conversion of the rows and
    * no job: one scan of the RDD, which the frame's plans read as it is.
    */
  def frameOf(spark: org.apache.spark.sql.SparkSession,
              rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** Block until the async listener bus has delivered all posted events —
    * required before reading metrics accumulated by a SparkListener
    * (task-end events post asynchronously). private[spark] on SparkContext,
    * hence surfaced here.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long = 30000): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Unpersist the blocks behind a checkpointTruncated DataFrame that is no
    * longer referenced — long iterative loops otherwise accumulate one set
    * of persisted partitions per iteration for the life of the job. Safe on
    * any DataFrame (walks the short post-truncation RDD lineage and
    * unpersists whatever is persisted).
    */
  def release(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Unit = {
      if (depth > 8) return
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) {
        if (r.checkpointData.exists(_.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]])) {
          // RDD.unpersist warns that a locally checkpointed RDD "cannot be
          // recomputed after unpersisting". That is the point here: release
          // only unpersists frames that are dead, so the warning is noise
          // (hundreds per test run). Drop the blocks the way unpersist
          // does, and log the event at debug level instead. The RDD keeps
          // its storage level, so the persisted-RDD registry tells whether
          // its blocks are already gone.
          if (r.sparkContext.getPersistentRDDs.contains(r.id)) {
            logDebug(s"release: unpersisting locally checkpointed RDD ${r.id}")
            r.sparkContext.unpersistRDD(r.id, blocking = false)
          }
        } else r.unpersist(blocking = false)
      }
      r.dependencies.foreach(d => walk(d.rdd, depth + 1))
    }
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => walk(l.rdd, 0)
      case _ => ()
    }
  }
}

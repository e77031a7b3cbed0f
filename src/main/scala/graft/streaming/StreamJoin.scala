package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Watermarked stream-stream interval join — the streaming twin of the
  * batch range join (`q_range_join`): attribute each purchase to every
  * click by the same user in the 30 minutes before it, where BOTH sides
  * arrive as unbounded streams.
  *
  * This is the one join shape batch composition cannot express
  * incrementally: both inputs grow, so the engine must buffer each side
  * in state and emit matches as the other side arrives. The scale
  * contract is state EVICTION: with a watermark on both sides and a
  * time-range join condition, Spark derives a per-side state watermark
  * (click state can be dropped once wm > click_ts + 30 min; purchase
  * state once wm > purchase_ts) and evicts continuously — without the
  * range condition the state grows with the stream and a 100-TB/day
  * stream OOMs. StreamJoinSpec pins result parity with the batch join
  * and cross-batch matching through state.
  *
  * Reference shape: the replay pipeline's 15-min incremental joins
  * (replay_silver_to_gold.py) always join a NEW batch against STATIC
  * dims; this operator covers the fact×fact case those jobs punt on.
  */
object StreamJoin {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  val WindowMinutes = 30

  /** One AvailableNow drain: joins clicks→purchases from the parquet
    * stream at `eventsDir`, appending matches to `outDir`. Returns the
    * join-state row count after the drain's last batch (from progress
    * metrics) so callers can observe watermark-driven eviction — the
    * number a production monitor alerts on when state stops shrinking.
    */
  def run(spark: SparkSession, eventsDir: String, outDir: String,
          ckptDir: String, watermarkDelay: String = "1 hour"): Long = {
    // the join keeps 4 per-side state stores per batch instead of one
    // per core (see StreamTuning), on a session the stream owns
    val raw = StreamTuning.stateSession(spark).readStream.schema(eventSchema).parquet(eventsDir)
    val clicks = raw.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = raw.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    val joined = clicks.join(purchases,
      expr(s"""c_user = p_user
              |AND purchase_ts >= click_ts
              |AND purchase_ts <= click_ts + INTERVAL $WindowMinutes MINUTES
              |""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"), col("value"))
    val q = joined.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Option(q.lastProgress).flatMap(p => p.stateOperators.headOption)
      .map(_.numRowsTotal).getOrElse(0L)
  }

  /** Batch twin over the same files (the oracle for the spec). */
  def batchTwin(spark: SparkSession, eventsDir: String): DataFrame = {
    val raw = spark.read.schema(eventSchema).parquet(eventsDir)
    val clicks = raw.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = raw.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    clicks.join(purchases,
      expr(s"""c_user = p_user
              |AND purchase_ts >= click_ts
              |AND purchase_ts <= click_ts + INTERVAL $WindowMinutes MINUTES
              |""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("click_ts"), col("purchase_ts"), col("value"))
  }
}

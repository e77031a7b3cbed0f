package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Watermarked streaming deduplication — the streaming twin of the batch
  * exact-dedup pass (`q_exact_dedup`) and of the micro-batch runner's
  * anti-join redelivery guard (`MicroBatch.markExisting`): an
  * at-least-once upstream (Kafka-shaped redelivery, crawler re-fetches)
  * deduplicated ON ARRIVAL with `dropDuplicatesWithinWatermark`, so
  * exactly one row per key ever reaches the sink.
  *
  * Scale contract (the reason this exists as a separate operator): the
  * anti-join guard re-reads the affected sink partitions every tick;
  * the streaming form keeps seen-key state in the state store instead —
  * O(keys-in-window) per tick, zero sink reads — and the watermark
  * BOUNDS that state: a key's entry is evicted once the event-time
  * watermark passes its timestamp + delay, so state stays proportional
  * to the redelivery window, not the stream's lifetime. (Plain
  * `dropDuplicates` on a stream never evicts — an unbounded stream OOMs
  * the state store; the WithinWatermark variant is the 100-TB form.)
  * StreamDedupSpec pins batch parity, cross-drain dedup through state,
  * and the eviction itself via the query's state metrics.
  *
  * Reference shape: the replay pipeline's redelivered-tick guarantee
  * (replay_bronze_to_silver.py re-run semantics) — here as a continuous
  * stream instead of a batch anti-join.
  */
object StreamDedup {

  /** One AvailableNow drain: dedups the parquet event stream at
    * `eventsDir` by event_id within the watermark window, appending
    * first-seen rows to `outDir`. Returns Some(dedup-state row count)
    * after the drain's last batch — the number a production monitor
    * watches to confirm eviction keeps pace with arrival — or None when
    * the drain reported no state metrics at all (no batch ran, or the
    * progress event is missing): a metrics-reporting gap must be
    * distinguishable from a genuinely empty state store (ADVICE r8).
    */
  def run(spark: SparkSession, eventsDir: String, outDir: String,
          ckptDir: String, watermarkDelay: String = "1 hour"): Option[Long] = {
    val raw = spark.readStream.schema(StreamJoin.eventSchema).parquet(eventsDir)
    val deduped = raw
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Option(q.lastProgress).flatMap(p => p.stateOperators.headOption)
      .map(_.numRowsTotal)
  }

  /** Batch twin over the same files (the oracle for the spec): one row
    * per event_id, any representative — the spec compares key sets.
    */
  def batchTwin(spark: SparkSession, eventsDir: String): DataFrame =
    spark.read.schema(StreamJoin.eventSchema).parquet(eventsDir)
      .dropDuplicates("event_id")
}

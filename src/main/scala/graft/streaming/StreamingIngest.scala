package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.{BronzeToSilver, StagingToBronze}
import graft.runner.{MicroBatch, Pin, RunReport}

/** Structured-Streaming twin of the micro-batch ingest (SURVEY.md §2.9):
  * file-source `readStream` over the staging directory, the same pure
  * transforms, `Trigger.AvailableNow` so each invocation drains exactly
  * the files present and exits — the streaming-native equivalent of the
  * reference's Airflow-driven 15-minute ticks, with checkpointed
  * exactly-once file tracking instead of hand-derived interval paths.
  *
  * Dedup semantics: batch `dropDuplicates("event_id")` is global per
  * batch; the streaming path uses watermarked dedup (state is bounded by
  * the watermark horizon — required at 100 TB, where unbounded dedup
  * state would grow forever). Events later than the watermark can
  * re-enter; the reference has the same at-least-once property across
  * batches (SURVEY.md §7.5 risk 4).
  */
object StreamingIngest {

  /** staging JSONL files → bronze parquet, streaming. Blocks until the
    * AvailableNow drain finishes.
    */
  def runBronze(spark: SparkSession, stagingGlob: String, bronzePath: String,
                checkpoint: String, ingestionDate: String): Unit = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", 1000)
      .text(stagingGlob)
    val bronze = StagingToBronze.enrich(raw, stagingGlob, ingestionDate)
    val q = bronze.writeStream
      .format("parquet")
      .option("path", bronzePath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("ingestion_date")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Watermarked tumbling-window aggregation over a silver stream:
    * hourly event counts + distinct-ish user activity, emitted append-
    * mode once the watermark closes each window — the streaming twin of
    * the events_per_time rollup. State per open window is one aggregate
    * row per (window, event_name): bounded by the watermark horizon.
    */
  def runHourlyCounts(spark: SparkSession, silverPath: String, outPath: String,
                      checkpoint: String, watermark: String = "2 hours"): Unit = {
    val schema = spark.read.parquet(silverPath).schema
    val silver = spark.readStream.schema(schema).parquet(silverPath)
    val agg = silver
      .withWatermark("kst_timestamp", watermark)
      .groupBy(window(col("kst_timestamp"), "1 hour"), col("event_name"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("hour_start"), col("event_name"),
        col("n_events"), col("approx_users"))
    val q = agg.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Structured Streaming twin of the silver → gold stage: stream the
    * silver directory and run the SAME incremental dim-upsert + fact-merge
    * per micro-batch through `foreachBatch` — the sink pattern for
    * multi-table transactional-ish writes that a declarative streaming
    * sink can't express. SKs stay append-only across micro-batches
    * because the batch path's persisted high-water marks are reused
    * verbatim. With `maintainRollup` the continuous gold composition
    * also maintains the daily-KPI rollup per micro-batch
    * (IncrementalRollup.update over the batch's affected dates) —
    * the EP1 gold-tick semantics, streaming-native. Returns the drained
    * micro-batches' reports, summed.
    */
  def runGold(spark: SparkSession, silverPath: String, warehouse: String,
              checkpoint: String, maintainRollup: Boolean = false): RunReport = {
    val schema = spark.read.parquet(silverPath).schema
    val mb = new MicroBatch(spark, stagingBase = "", warehouse, maintainRollup = maintainRollup)
    // added to on the stream's thread; the read below follows its end
    var report = RunReport()
    val q = spark.readStream.schema(schema).parquet(silverPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin the streamed micro-batch before the multi-action gold stage
        // (the fact probe, each dim upsert and the fact build read it);
        // its size and affected partition keys ride the pinning job
        val (pinned, m) = Pin.observed(batch, Pin.Rows, MicroBatch.AffectedKeys)
        if (m("n") != 0L) report += mb.goldFromSilverBatch(pinned, MicroBatch.keysOf(m))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    report
  }

  /** bronze parquet → silver parquet with watermarked streaming dedup.
    * The dedup's state store runs at [[StreamTuning.statePartitions]]
    * (shuffle.partitions of a session the stream owns — see
    * StreamTuning for the measured A/B: fewer state partitions halve the
    * drain's per-batch delta-file/snapshot churn at tick-sized state).
    */
  def runSilver(spark: SparkSession, bronzePath: String, silverPath: String,
                checkpoint: String, watermark: String = "1 hour"): Unit = {
    val bronzeSchema = spark.read.parquet(bronzePath).schema
    val bronze = StreamTuning.stateSession(spark).readStream
      .schema(bronzeSchema).parquet(bronzePath)
    val silver = BronzeToSilver.parse(bronze).where(BronzeToSilver.Parsed)
      .withWatermark("kst_timestamp", watermark)
      // WithinWatermark, not plain dropDuplicates: with a dedup key that
      // excludes the event-time column, plain streaming dropDuplicates
      // never evicts its state store — unbounded growth on a real stream.
      // This variant evicts each key once the watermark passes its first
      // sighting, bounding state to one watermark window of keys, and
      // still dedups every redelivery inside that window (the reference's
      // redelivery regime: retries arrive seconds-to-minutes apart, far
      // inside the 1-hour default).
      .dropDuplicatesWithinWatermark("event_id")
    val q = silver.writeStream
      .format("parquet")
      .option("path", silverPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("year", "month", "day")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

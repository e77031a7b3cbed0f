package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staging → Bronze: raw JSONL text lines → bronze rows with ingestion
  * metadata. Pure DF→DF transform + a thin text-scan wrapper.
  *
  * Reference semantics: staging_to_bronze_iceberg.py:136-150 (bulk) and
  * replay_staging_to_bronze.py:164-194 (incremental path derivation).
  */
object StagingToBronze {

  /** S1 — text-line scan: one `value: STRING` column per line. */
  def readStaging(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** S2 — interval start → partitioned staging glob
    * (`year=.../month=.../day=.../hour=.../minute=...` + a json wildcard),
    * 15-min aligned.
    */
  def stagingPathFor(base: String, start: java.time.LocalDateTime): String = {
    val m = start.getMinute - (start.getMinute % 15)
    f"$base/year=${start.getYear}%04d/month=${start.getMonthValue}%02d/" +
      f"day=${start.getDayOfMonth}%02d/hour=${start.getHour}%02d/minute=$m%02d/*.json"
  }

  /** P1/P2 — rename `value`→`raw_event_string`, enrich with source file +
    * ingestion stamps. `ingestionDate` is the batch's logical date so
    * re-runs are deterministic (current_timestamp is audit-only).
    */
  def enrich(raw: DataFrame, sourceFile: String, ingestionDate: String): DataFrame =
    raw
      .withColumnRenamed("value", "raw_event_string")
      .withColumn("source_file",
        when(input_file_name() =!= "", input_file_name()).otherwise(lit(sourceFile)))
      .withColumn("ingestion_timestamp", current_timestamp())
      .withColumn("ingestion_date", to_date(lit(ingestionDate)))
}

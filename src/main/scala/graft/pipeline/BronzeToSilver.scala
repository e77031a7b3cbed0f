package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bronze → Silver: the semantic heart of the pipeline.
  *
  * Double-nested from_json parse (envelope, then JSON-in-JSON context and
  * event_properties), ISO-8601 `+09:00` timestamp parse, KST/UTC
  * derivation, KST time-component derivation, 21-column projection, audit
  * stamping, and `dropDuplicates(event_id)` (the at-least-once dedup).
  *
  * Reference semantics: bronze_to_silver_iceberg.py:121-193.
  *
  * Timezone discipline (SURVEY.md §7.5): the reference runs its session in
  * Asia/Seoul, so its `kst_timestamp` column *displays* KST wall-clock. Our
  * sessions pin UTC, so we materialize KST wall-clock explicitly:
  * `to_timestamp` of the `+09:00`-offset string yields the UTC instant;
  * adding 9 hours yields a timestamp whose UTC rendering equals the KST
  * wall clock. All date/year/month/day/hour/day_of_week derivations then
  * match the reference's KST semantics regardless of session zone, and
  * `utc_timestamp = kst_timestamp - INTERVAL 9 HOURS` reproduces the
  * reference's formula (bronze_to_silver_iceberg.py:160) exactly.
  */
object BronzeToSilver {

  val TimestampPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

  /** Conversion + engagement config shared with SilverToGold. */
  val PipelineVersion = "graft_v2.0"

  /** Pure transform: bronze rows (raw_event_string, source_file, ...) →
    * silver rows (parse + derive + dedup). No I/O.
    */
  def transform(bronze: DataFrame): DataFrame =
    // A1 — at-least-once delivery dedup. One shuffle on event_id; at
    // 100 TB this is a hash-partitioned exchange with map-side partial
    // dedup (Catalyst plans dropDuplicates as a hash aggregate), which
    // scales linearly and never collects to the driver.
    parse(bronze).where(Parsed).dropDuplicates("event_id")

  /** Parse failures (unparseable envelope: no event_id), as a metric a
    * job over the parsed, not yet deduplicated, rows observes — the
    * reference logs this count at the silver boundary
    * (bronze_to_silver_iceberg.py:112-113,195).
    */
  val Unparseable: Column = count(when(col("event_id").isNull, 1)).as("unparseable")

  /** The rows that parsed, kept above the job observing [[Unparseable]]:
    * the event_id dedup would merge a pass's unparseable lines into one
    * silver (and fact) row.
    */
  val Parsed: Column = col("event_id").isNotNull

  /** Parse + derive without the final dedup — the streaming path applies
    * watermarked dedup instead (bounded state).
    */
  def parse(bronze: DataFrame): DataFrame = {
    val parsed = bronze
      .withColumn("event_data", from_json(col("raw_event_string"), Schemas.jsonEventSchema))
      .withColumn("parsed_context", from_json(col("event_data.context"), Schemas.contextSchema))
      .withColumn("parsed_properties",
        from_json(col("event_data.event_properties"), Schemas.eventPropertiesSchema))
      // instant of the event; the raw string carries a +09:00 offset
      .withColumn("event_instant", to_timestamp(col("event_data.timestamp"), TimestampPattern))
      // KST wall-clock materialized under a UTC session (see scaladoc)
      .withColumn("kst_timestamp", col("event_instant") + expr("INTERVAL 9 HOURS"))
      .withColumn("utc_timestamp", col("kst_timestamp") - expr("INTERVAL 9 HOURS"))
      .withColumn("date", to_date(col("kst_timestamp")))
      .withColumn("year", year(col("kst_timestamp")))
      .withColumn("month", month(col("kst_timestamp")))
      .withColumn("day", dayofmonth(col("kst_timestamp")))
      .withColumn("hour", hour(col("kst_timestamp")))
      .withColumn("day_of_week", date_format(col("kst_timestamp"), "E"))

    parsed.select(
      col("event_data.event_id").as("event_id"),
      col("event_data.event_name").as("event_name"),
      col("event_data.user_id").as("user_id"),
      col("event_data.anonymous_id").as("anonymous_id"),
      col("event_data.session_id").as("session_id"),
      col("kst_timestamp"), col("utc_timestamp"), col("date"),
      col("year"), col("month"), col("day"), col("hour"), col("day_of_week"),
      col("parsed_context.page.name").as("page_name"),
      col("parsed_context.page.url").as("page_url"),
      col("parsed_context.user_segment").as("user_segment"),
      col("parsed_context.cooking_style").as("cooking_style"),
      col("parsed_context.ab_test.group").as("ab_test_group"),
      col("parsed_properties.recipe_id").cast(LongType).as("prop_recipe_id"),
      col("parsed_properties.list_type").as("prop_list_type"),
      col("parsed_properties.action").as("prop_action"),
      col("parsed_properties.search_keyword").as("prop_search_keyword"),
      col("parsed_properties.result_count").as("prop_result_count"),
      // schema-on-read array properties (q_silver_array_props round
      // trip); null for event types that don't carry them
      col("parsed_properties.selected_filters").as("prop_selected_filters"),
      col("parsed_properties.displayed_recipe_ids").as("prop_displayed_recipe_ids"),
      col("parsed_properties.targeting_tags").as("prop_targeting_tags"),
      // ads-serving properties (create_event_logs.py:865-874, :307-312):
      // position is categorical, personalization_score the generator's
      // one numeric DOUBLE property — both null for non-ad events
      col("parsed_properties.position").as("prop_ad_position"),
      col("parsed_properties.personalization_score")
        .as("prop_personalization_score"),
      col("source_file").as("data_source"))
      .withColumn("processed_at", current_timestamp())
      .withColumn("pipeline_version", lit(PipelineVersion))
  }
}

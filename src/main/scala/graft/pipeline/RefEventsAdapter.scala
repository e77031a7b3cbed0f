package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic adapter: driver testdata `events` rows → reference-shaped
  * raw JSON event lines (create_event_logs.py:950-959 envelope with
  * doubly-encoded `context` / `event_properties` payloads).
  *
  * Every derived field is a pure function of (event_id, ts, user_id,
  * event_type, props.k), so a DuckDB oracle can compute the expected
  * *parsed* output directly from the events table — the Spark side must
  * round-trip encode → double from_json → derive to match it. This turns
  * the whole Bronze→Silver parse path into an oracle-checkable query over
  * driver testdata (no synthesized inputs).
  *
  * Event-name mapping picks names that exercise the reference's
  * engagement/conversion lookup tables (silver_to_gold_processor.py:282-292).
  */
object RefEventsAdapter {

  /** events table → one `value: STRING` raw-JSON column (a staging file).
    *
    * Fans the input out to the session's full parallelism first: the
    * driver testdata is ONE small parquet file (one row group → one input
    * partition), which would otherwise serialize the entire JSON
    * encode→parse chain onto a single core of local[32] (measured 3-4×
    * slowdown on the adapter-based queries). The shuffle moves a few MB.
    * This is adapter-only plumbing — the production ingest path reads
    * many staging files and needs no such fan-out.
    */
  def toRawJson(events: DataFrame): DataFrame = {
    val fanned = events.repartition(
      events.sparkSession.sparkContext.defaultParallelism)
    val k = get_json_object(col("props"), "$.k").cast("int")
    val et = col("event_type")
    val eventName =
      when(et === "signup", "auth_success")
        .when(et === "purchase", "click_bookmark")
        .when(et === "click", "click_recipe")
        .when(et === "view", "view_recipe")
        .otherwise("view_page") // error
    // KST wall clock string with explicit +09:00 offset (ms precision)
    val kstWall = col("ts") + expr("INTERVAL 9 HOURS")
    val tsStr = concat(date_format(kstWall, "yyyy-MM-dd'T'HH:mm:ss.SSS"), lit("+09:00"))
    // page: error → both null (J4 guard false); view → url null (coalesce
    // path); others → both set
    val pageName = when(et === "error", lit(null).cast("string"))
      .otherwise(concat(lit("page_"), et))
    val pageUrl = when(et === "error" || et === "view", lit(null).cast("string"))
      .otherwise(concat(lit("https://r/"), et))

    val context = to_json(struct(
      struct(
        pageName.as("name"),
        pageUrl.as("url"),
        concat(lit("/"), et).as("path")).as("page"),
      when(col("user_id") % 3 === 0, "power")
        .when(col("user_id") % 3 === 1, "casual")
        .otherwise("new").as("user_segment"),
      when(k % 3 === 0, "high").when(k % 3 === 1, "mid")
        .otherwise("low").as("activity_level"),
      when(col("user_id") % 4 === 0, "korean")
        .when(col("user_id") % 4 === 1, "western")
        .when(col("user_id") % 4 === 2, "baking")
        .otherwise("vegan").as("cooking_style"),
      struct(
        lit("sc1").as("scenario"),
        when(col("user_id") % 2 === 0, "treatment").otherwise("control").as("group"),
        lit("2024-01-01").as("start_date"),
        lit("2024-12-31").as("end_date")).as("ab_test")))

    // Per-event-type ARRAY properties, mirroring the reference
    // generator's texture (search events carry selected_filters, list
    // views displayed_recipe_ids, ad-targeted events targeting_tags —
    // create_event_logs.py:297,674,722): variable length via slice of a
    // max-length array, deterministic in (k, user_id) so the DuckDB
    // oracle rebuilds every element arithmetically. to_json drops null
    // fields, so non-carrying event types have no key at all — the
    // parse must handle both absence and presence.
    val selectedFilters = when(et === "view",
      slice(array((0 until 3).map(j =>
        concat(lit("f"), ((k + lit(j)) % 8).cast("string"))): _*),
        lit(1), lit(1) + k % 3))
      .otherwise(lit(null).cast("array<string>"))
    val displayedRecipeIds = when(et === "click",
      slice(array((0 until 4).map(j =>
        (lit(2000) + (k * 5 + lit(j)) % 500).cast("string")): _*),
        lit(1), lit(1) + k % 4))
      .otherwise(lit(null).cast("array<string>"))
    val targetingTags = when(et === "signup",
      array(
        concat(lit("t"), (col("user_id") % 4).cast("string")),
        concat(lit("u"), (k % 5).cast("string")),
        concat(lit("v"), ((col("user_id") + k) % 7).cast("string"))))
      .otherwise(lit(null).cast("array<string>"))

    // Ads-serving texture (create_event_logs.py:865-874, :307-312):
    // views act as ad impressions and clicks as ad clicks, carrying a
    // categorical slot position and the AB-driven personalization score —
    // treatment users score high (0.70–0.95), control low (0.10–0.30),
    // exactly the generator's two uniform bands but deterministic in
    // (user_id, k). The score is the envelope's one numeric DOUBLE
    // property; (n)/100.0 is IEEE-exact-roundable on both engines, so the
    // DuckDB oracle recomputes bit-identical doubles arithmetically.
    val adPosition = when(et.isin("view", "click"),
      element_at(array(lit("top"), lit("middle"), lit("bottom"),
        lit("sidebar"), lit("recipe_detail")),
        ((k + col("user_id")) % 5).cast("int") + 1))
      .otherwise(lit(null).cast("string"))
    val personalizationScore = when(et.isin("view", "click"),
      when(col("user_id") % 2 === 0, (lit(70) + k % 26) / lit(100.0))
        .otherwise((lit(10) + k % 21) / lit(100.0)))
      .otherwise(lit(null).cast("double"))

    val properties = to_json(struct(
      pageName.as("page_name"),
      when(et.isin("click", "view", "purchase"), (lit(1000) + k).cast("string"))
        .otherwise(lit(null).cast("string")).as("recipe_id"),
      when(k % 2 === 0, "grid").otherwise("list").as("list_type"),
      when(et === "purchase", concat(lit("dur:"), (k * 3).cast("string")))
        .when(et === "click", lit("cl"))
        .otherwise(lit(null).cast("string")).as("action"),
      when(et === "view", concat(lit("kw"), (k % 10).cast("string")))
        .otherwise(lit(null).cast("string")).as("search_keyword"),
      when(et === "view", k).otherwise(lit(null).cast("int")).as("result_count"),
      selectedFilters.as("selected_filters"),
      displayedRecipeIds.as("displayed_recipe_ids"),
      targetingTags.as("targeting_tags"),
      adPosition.as("position"),
      personalizationScore.as("personalization_score")))

    fanned.select(to_json(struct(
      concat(lit("anon-"), col("user_id")).as("anonymous_id"),
      context.as("context"),
      col("event_id").cast("string").as("event_id"),
      eventName.as("event_name"),
      properties.as("event_properties"),
      concat(col("user_id"), lit("-"), k % 5).as("session_id"),
      tsStr.as("timestamp"),
      col("user_id").cast("string").as("user_id"))).as("value"))
  }

  /** Full adapter pipeline: events → raw JSON → bronze shape → silver.
    * `duplicate=true` unions the staging input with itself first, modelling
    * at-least-once delivery so `dropDuplicates(event_id)` is exercised
    * non-vacuously.
    */
  def toSilver(events: DataFrame, duplicate: Boolean = true): DataFrame = {
    val raw0 = toRawJson(events)
    val bronze0 = StagingToBronze.enrich(raw0, "events_adapter.jsonl", "2024-01-01")
    if (!duplicate) BronzeToSilver.transform(bronze0)
    else {
      // At-least-once modelling with the encode→parse chain run ONCE:
      // the duplicated copies are byte-identical by construction, so
      // unioning the PINNED parsed frame with itself feeds the dedup
      // exactly the rows the old parse(raw ∪ raw) did (current_timestamp
      // audit stamps are query-constant, so even those matched) while
      // the double JSON encode + double-nested parse runs one pass
      // instead of two (optimization guide §1.2). dropDuplicates still
      // drops half its input — the non-vacuity the flag exists for.
      val parsed0 = graft.runner.Pin(BronzeToSilver.parse(bronze0))
      parsed0.unionByName(parsed0).where(BronzeToSilver.Parsed).dropDuplicates("event_id")
    }
  }
}

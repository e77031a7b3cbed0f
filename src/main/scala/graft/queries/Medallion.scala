package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.pipeline._
import graft.runner.Pin

/** Medallion-pipeline operators as oracle-checkable queries over the
  * driver `events` testdata (SURVEY.md §2.1–2.4, §2.8).
  *
  * The Spark side re-encodes events as reference-shaped raw JSON
  * ([[RefEventsAdapter]]), then runs the real Staging→Bronze→Silver→Gold
  * transforms (double from_json, KST derivation, dedup, dims, 4-way left
  * join). The DuckDB oracle computes the same result directly from the
  * events table — so the whole encode→parse→derive round trip is what is
  * being verified.
  */
object Medallion {

  /** Shared oracle prelude: the deterministic silver twin of
    * [[RefEventsAdapter.toRawJson]] + [[BronzeToSilver.transform]].
    * Package-visible: [[GoldE2E]] extends it through the fact build.
    */
  private[queries] val silverCte: String =
    """WITH e AS (
      |  SELECT *,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |    date_trunc('milliseconds', ts) + INTERVAL 9 HOUR AS kst
      |  FROM events
      |), s AS (
      |  SELECT
      |    CAST(event_id AS VARCHAR) AS event_id,
      |    CASE event_type WHEN 'signup' THEN 'auth_success'
      |      WHEN 'purchase' THEN 'click_bookmark'
      |      WHEN 'click' THEN 'click_recipe'
      |      WHEN 'view' THEN 'view_recipe' ELSE 'view_page' END AS event_name,
      |    CAST(user_id AS VARCHAR) AS user_id,
      |    'anon-' || CAST(user_id AS VARCHAR) AS anonymous_id,
      |    CAST(user_id AS VARCHAR) || '-' || CAST(k % 5 AS VARCHAR) AS session_id,
      |    kst, ts,
      |    CASE WHEN event_type = 'error' THEN NULL
      |      ELSE 'page_' || event_type END AS page_name,
      |    CASE WHEN event_type IN ('error','view') THEN NULL
      |      ELSE 'https://r/' || event_type END AS page_url,
      |    CASE CAST(user_id % 3 AS INTEGER) WHEN 0 THEN 'power' WHEN 1 THEN 'casual'
      |      ELSE 'new' END AS user_segment,
      |    CASE CAST(user_id % 4 AS INTEGER) WHEN 0 THEN 'korean' WHEN 1 THEN 'western'
      |      WHEN 2 THEN 'baking' ELSE 'vegan' END AS cooking_style,
      |    CASE WHEN user_id % 2 = 0 THEN 'treatment' ELSE 'control' END AS ab_test_group,
      |    CASE WHEN event_type IN ('click','view','purchase')
      |      THEN CAST(1000 + k AS BIGINT) END AS prop_recipe_id,
      |    CASE WHEN k % 2 = 0 THEN 'grid' ELSE 'list' END AS prop_list_type,
      |    CASE WHEN event_type = 'purchase' THEN 'dur:' || CAST(k * 3 AS VARCHAR)
      |      WHEN event_type = 'click' THEN 'cl' END AS prop_action,
      |    CASE WHEN event_type = 'view' THEN 'kw' || CAST(k % 10 AS VARCHAR)
      |      END AS prop_search_keyword,
      |    CASE WHEN event_type = 'view' THEN k END AS prop_result_count,
      |    CASE WHEN event_type IN ('view','click') THEN
      |      ['top','middle','bottom','sidebar','recipe_detail'][CAST((k + user_id) % 5 AS INTEGER) + 1]
      |      END AS prop_ad_position,
      |    CASE WHEN event_type IN ('view','click') THEN
      |      CASE WHEN user_id % 2 = 0 THEN (70 + k % 26) / 100.0
      |           ELSE (10 + k % 21) / 100.0 END
      |      END AS prop_personalization_score
      |  FROM e
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S1/P1/P2/P5/P6/P7/A1/U1 + §2.8 from_json/to_timestamp/interval/date
    // functions — the full Bronze→Silver parse, dedup non-vacuous (input
    // is doubled; output has exactly one row per event_id).
    "q_silver_parse" -> { (s, dir) =>
      import s.implicits._
      val silver = RefEventsAdapter.toSilver(load(s, dir, "events"), duplicate = true)
      silver.select(
        $"event_id", $"event_name", $"user_id", $"anonymous_id", $"session_id",
        $"date".cast("string").as("date_s"),
        $"year".cast("long").as("yr"), $"month".cast("long").as("mo"),
        $"day".cast("long").as("dy"), $"hour".cast("long").as("hr"),
        $"day_of_week",
        $"page_name", $"page_url", $"user_segment", $"cooking_style",
        $"ab_test_group", $"prop_recipe_id",
        $"prop_list_type", $"prop_action", $"prop_search_keyword",
        $"prop_result_count".cast("long").as("prop_result_count"),
        unix_timestamp($"utc_timestamp").as("utc_unix"))
        .orderBy($"event_id")
    },

    // §2.8 schema-on-read arrays (VERDICT r12 #8): the per-event-type
    // event_properties ARRAYS (selected_filters on search views,
    // displayed_recipe_ids on list clicks, targeting_tags on targeted
    // signups — the texture the reference generator emits but its
    // silver ETL never projects) through the REAL silver parse, then a
    // posexplode_outer → ordered re-aggregation round trip: every
    // element must survive the double-encode → double-from_json chain
    // in position, and event types without the key must parse to null
    // (count 0), not empty. Scale: posexplode is a narrow map (rows ×
    // avg array length, never materialized wide), the re-agg shuffles
    // on event_id like every dedup in the pipeline.
    "q_silver_array_props" -> { (s, dir) =>
      import s.implicits._
      // read by the three rejoins: pinned to the columns they read
      val silver = Pin(RefEventsAdapter.toSilver(load(s, dir, "events"), duplicate = true)
        .select($"event_id", $"prop_selected_filters", $"prop_displayed_recipe_ids",
          $"prop_targeting_tags"))
      def rejoin(arr: String, outN: String, outCsv: String): DataFrame =
        silver.select($"event_id", posexplode_outer(col(arr)).as(Seq("p", "v")))
          .groupBy($"event_id")
          .agg(
            count($"v").as(outN),
            array_join(transform(array_sort(collect_list(struct($"p", $"v"))),
              x => x("v")), ",").as(outCsv))
      rejoin("prop_selected_filters", "n_filters", "filters_csv")
        .join(rejoin("prop_displayed_recipe_ids", "n_recipes", "recipes_csv"), "event_id")
        .join(rejoin("prop_targeting_tags", "n_tags", "tags_csv"), "event_id")
        .orderBy($"event_id")
    },

    // §2.8 numeric event-property (VERDICT r14 #5): the generator's ads
    // surface carries `position` (categorical slot) and
    // `personalization_score` (the envelope's one DOUBLE property,
    // create_event_logs.py:865-874 / :307-312). This gate drives both
    // through the REAL double-from_json silver parse — the score must
    // survive double → JSON string → double bit-exactly — then computes
    // score-bucketed CTR by ad position (views as impressions, clicks as
    // clicks). Doubles are never SUMMED raw (partial-aggregation order
    // would make the hash nondeterministic): the score aggregates as a
    // round(×100) integer, and CTR is a single deterministic IEEE
    // division of exact counts. Scale: one hash aggregate on a
    // bounded-cardinality (position × bucket) key — no skew, no window.
    "q_ads_ctr" -> { (s, dir) =>
      import s.implicits._
      val silver = RefEventsAdapter.toSilver(load(s, dir, "events"), duplicate = true)
      silver.where($"prop_ad_position".isNotNull)
        .groupBy($"prop_ad_position".as("ad_position"),
          floor($"prop_personalization_score" * 10).as("score_bucket"))
        .agg(
          sum(when($"event_name" === "view_recipe", 1L).otherwise(0L))
            .as("impressions"),
          sum(when($"event_name" === "click_recipe", 1L).otherwise(0L))
            .as("clicks"),
          sum(round($"prop_personalization_score" * 100).cast("long"))
            .as("score_pct_sum"))
        .withColumn("ctr",
          when($"impressions" > 0, $"clicks".cast("double") / $"impressions"))
        .orderBy($"ad_position", $"score_bucket")
    },

    // W1 — SCD-1 latest-per-user with row-dependent columns proving the
    // recency ordering, + deterministic SK assignment.
    "q_scd1_dim_user" -> { (s, dir) =>
      import s.implicits._
      val silver = RefEventsAdapter.toSilver(load(s, dir, "events"), duplicate = false)
      val w = Window.partitionBy("user_id")
        .orderBy(desc("kst_timestamp"), desc("event_id"))
      val skW = Window.orderBy("user_id", "anonymous_id")
      silver
        .withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .withColumn("user_sk", row_number().over(skW).cast("long"))
        .select($"user_sk", $"user_id", $"anonymous_id", $"user_segment",
          $"cooking_style", $"ab_test_group",
          $"prop_list_type".as("last_list_type"),
          $"date".cast("string").as("last_seen"))
        .orderBy($"user_sk")
    },

    // J1–J4 + A3/A6 + metric expressions — the Silver→Gold fact build,
    // aggregated per event_name. dim_user is built from signup events only
    // so the J1 miss path (SK 0) is exercised non-vacuously.
    "q_fact_build" -> { (s, dir) =>
      import s.implicits._
      // read by 4 dim builds + the fact join: pinned to the columns they
      // read (holding the whole parsed table thrashed the 8g heap,
      // BENCH_r05: this query 2.4→13.2 s)
      val silver = Pin(RefEventsAdapter.toSilver(load(s, dir, "events"))
        .select($"event_id", $"event_name", $"session_id", $"user_id", $"anonymous_id",
          $"user_segment", $"cooking_style", $"ab_test_group", $"kst_timestamp",
          $"page_name", $"page_url", $"prop_recipe_id", $"prop_action"))
      // dim_user deliberately excludes user_id % 5 == 0 so the J1 miss
      // path (coalesce → SK 0) is exercised non-vacuously; dim_recipe
      // holds the silver's recipe ids
      val dims = Dims.All.map { d =>
        d -> d.build(d.members(if (d ne Dims.User) silver else silver.where(
          $"event_name" === "auth_success" && $"user_id".cast("long") % 5 =!= 0)))
      }.toMap
      val (fact, dimEvent) = (SilverToGold.buildFact(silver, dims), dims(Dims.Event))
      fact
        .join(broadcast(dimEvent), fact("event_dim_key") === dimEvent("event_sk"), "left")
        .groupBy($"event_name")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(when($"user_dim_key" =!= 0, $"user_dim_key")).as("joined_users"),
          sum(when($"is_conversion", 1L).otherwise(0L)).as("conversions"),
          sum($"engagement_score").as("eng_sum"),
          sum($"session_duration_seconds").as("sess_sum"),
          sum(when($"user_dim_key" =!= 0, 1L).otherwise(0L)).as("user_joined"),
          sum(when($"recipe_dim_key" =!= 0, 1L).otherwise(0L)).as("recipe_joined"),
          sum(when($"page_dim_key" =!= 0, 1L).otherwise(0L)).as("page_joined"),
          sum(when($"event_dim_key" =!= 0, 1L).otherwise(0L)).as("event_joined"),
          min($"time_dim_key").as("time_key_min"),
          max($"time_dim_key").as("time_key_max"))
        .orderBy($"event_name")
    },

    // J5 + A4 + W2 + U1 — incremental dim upsert: existing dim = signup
    // users, fully built; anti-join finds the rest; SKs continue from the
    // high-water mark via a row_number over the new keys.
    "q_dim_upsert" -> { (s, dir) =>
      import s.implicits._
      // duplicate=false: dedup is already exercised by q_silver_parse;
      // this query is about the upsert composition (halves the parse cost)
      // read by both dim builds. Pinned whole: a projection here prunes
      // into the unpinned parse and measured 2.4× slower (sf0.1, 4 cores)
      val silver = Pin(RefEventsAdapter.toSilver(load(s, dir, "events"), duplicate = false))
      val existing = Dims.User.build(Dims.User.members(silver.where($"event_name" === "auth_success")))
      val appended = Dims.User.upsert(Dims.User.members(silver), existing)
      existing.withColumn("is_new", lit(false))
        .unionByName(appended.withColumn("is_new", lit(true)))
        .select($"user_sk", $"user_id", $"anonymous_id", $"is_new")
        .orderBy($"user_sk")
    },

    // ArrayType JSON payloads (the raw events carry array-valued
    // properties like selected_filters, SURVEY.md §1.2): encode → parse
    // with an array schema → explode → aggregate. Covers from_json with
    // ArrayType + explode over parsed arrays.
    "q_array_props" -> { (s, dir) =>
      import s.implicits._
      val k = get_json_object($"props", "$.k").cast("int")
      val json = to_json(struct(
        array(concat(lit("f"), k % 3), concat(lit("f"), k % 5)).as("selected_filters"),
        k.as("result_count")))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("selected_filters",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("result_count",
          org.apache.spark.sql.types.IntegerType)))
      load(s, dir, "events")
        .select($"user_id", from_json(json, schema).as("p"))
        .select($"user_id", $"p.result_count".as("k"),
          explode($"p.selected_filters").as("filter"))
        .groupBy($"filter")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("users"),
          sum($"k").cast("long").as("sum_k"))
        .orderBy($"filter")
    },

    // explode(sequence(...)) hour spine — dim_time generator.
    "q_dim_time" -> { (s, _) =>
      import s.implicits._
      Dims.dimTime(s, "2024-01-01 00:00:00", "2024-03-31 23:00:00")
        .select($"time_dim_key",
          $"date".cast("string").as("date_s"),
          $"year".cast("long").as("yr"), $"month".cast("long").as("mo"),
          $"day".cast("long").as("dy"), $"hour".cast("long").as("hr"),
          $"day_of_week", $"is_weekend")
        .orderBy($"time_dim_key")
    },

    // Append-only dim attribute refresh (Dims.refreshAttributes — the
    // scheduled master-sync job behind MicroBatch.refreshDimRecipeFromMaster
    // / refreshDimUserFromSilver): a mid-life dim where bulk-seeded rows
    // (partkey % 3 == 0) carry attributes and tick-appended rows carry
    // nulls, refreshed against a master export covering partkey % 2 == 0.
    // Master wins where matched (including backfilling the nulls), existing
    // survives where the master lacks the key, the master-only column
    // widens the schema, and every SK is untouched.
    "q_dim_refresh" -> { (s, dir) =>
      import s.implicits._
      val part = load(s, dir, "part")
      val w = Window.orderBy("p_partkey")
      val dim = part.select($"p_partkey",
          when($"p_partkey" % 3 === 0, $"p_name").as("part_name"))
        .withColumn("part_sk", row_number().over(w).cast("long"))
        .select("part_sk", "p_partkey", "part_name")
      val master = part.where($"p_partkey" % 2 === 0)
        .select($"p_partkey", $"p_name".as("part_name"),
          $"p_brand".as("part_brand"))
      Dims.refreshAttributes(dim, master, Seq("p_partkey"))
        .orderBy($"part_sk")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_silver_parse" ->
      s"""$silverCte
         |SELECT event_id, event_name, user_id, anonymous_id, session_id,
         |  strftime(kst, '%Y-%m-%d') AS date_s,
         |  CAST(year(kst) AS BIGINT) AS yr, CAST(month(kst) AS BIGINT) AS mo,
         |  CAST(day(kst) AS BIGINT) AS dy, CAST(hour(kst) AS BIGINT) AS hr,
         |  strftime(kst, '%a') AS day_of_week,
         |  page_name, page_url, user_segment, cooking_style, ab_test_group,
         |  prop_recipe_id, prop_list_type, prop_action, prop_search_keyword,
         |  CAST(prop_result_count AS BIGINT) AS prop_result_count,
         |  CAST(floor(epoch(date_trunc('second', kst - INTERVAL 9 HOUR))) AS BIGINT) AS utc_unix
         |FROM s
         |ORDER BY event_id""".stripMargin,

    "q_ads_ctr" ->
      s"""$silverCte
         |SELECT prop_ad_position AS ad_position,
         |  CAST(floor(prop_personalization_score * 10) AS BIGINT) AS score_bucket,
         |  CAST(SUM(CASE WHEN event_name = 'view_recipe' THEN 1 ELSE 0 END) AS BIGINT) AS impressions,
         |  CAST(SUM(CASE WHEN event_name = 'click_recipe' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
         |  CAST(SUM(CAST(round(prop_personalization_score * 100) AS BIGINT)) AS BIGINT) AS score_pct_sum,
         |  CASE WHEN SUM(CASE WHEN event_name = 'view_recipe' THEN 1 ELSE 0 END) > 0
         |    THEN CAST(SUM(CASE WHEN event_name = 'click_recipe' THEN 1 ELSE 0 END) AS DOUBLE)
         |         / SUM(CASE WHEN event_name = 'view_recipe' THEN 1 ELSE 0 END)
         |  END AS ctr
         |FROM s WHERE prop_ad_position IS NOT NULL
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    "q_scd1_dim_user" ->
      s"""$silverCte, latest AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |      ORDER BY kst DESC, event_id DESC) AS rn
         |  FROM s
         |)
         |SELECT CAST(row_number() OVER (ORDER BY user_id, anonymous_id) AS BIGINT) AS user_sk,
         |  user_id, anonymous_id, user_segment, cooking_style, ab_test_group,
         |  prop_list_type AS last_list_type,
         |  strftime(kst, '%Y-%m-%d') AS last_seen
         |FROM latest WHERE rn = 1
         |ORDER BY user_sk""".stripMargin,

    "q_fact_build" ->
      s"""$silverCte, signup_users AS (
         |  SELECT DISTINCT user_id FROM s
         |  WHERE event_name = 'auth_success' AND CAST(user_id AS BIGINT) % 5 <> 0
         |)
         |SELECT s.event_name,
         |  COUNT(*) AS n,
         |  COUNT(DISTINCT CASE WHEN su.user_id IS NOT NULL THEN s.user_id END) AS joined_users,
         |  CAST(SUM(CASE WHEN s.event_name IN ('auth_success','click_bookmark','create_comment')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS conversions,
         |  CAST(SUM(CASE s.event_name WHEN 'auth_success' THEN 10.0
         |      WHEN 'create_comment' THEN 9.0 WHEN 'click_bookmark' THEN 8.0
         |      WHEN 'click_recipe' THEN 7.0 WHEN 'search_recipe' THEN 5.0
         |      WHEN 'view_recipe' THEN 4.0 WHEN 'view_page' THEN 2.0
         |      ELSE 1.0 END) AS DOUBLE) AS eng_sum,
         |  CAST(SUM(CASE WHEN s.prop_action LIKE 'dur:%'
         |      THEN CAST(substr(s.prop_action, 5) AS BIGINT) ELSE 60 END) AS BIGINT) AS sess_sum,
         |  CAST(SUM(CASE WHEN su.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_joined,
         |  CAST(SUM(CASE WHEN s.prop_recipe_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS recipe_joined,
         |  CAST(SUM(CASE WHEN s.page_name IS NOT NULL OR s.page_url IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS page_joined,
         |  COUNT(*) AS event_joined,
         |  MIN(CAST(strftime(s.kst, '%Y%m%d%H') AS BIGINT)) AS time_key_min,
         |  MAX(CAST(strftime(s.kst, '%Y%m%d%H') AS BIGINT)) AS time_key_max
         |FROM s LEFT JOIN signup_users su ON s.user_id = su.user_id
         |GROUP BY s.event_name
         |ORDER BY s.event_name""".stripMargin,

    "q_dim_upsert" ->
      s"""$silverCte, users AS (
         |  SELECT user_id, anonymous_id,
         |    bool_or(event_name = 'auth_success') AS has_signup
         |  FROM s GROUP BY user_id, anonymous_id
         |), existing AS (
         |  SELECT CAST(row_number() OVER (ORDER BY user_id, anonymous_id) AS BIGINT) AS user_sk,
         |    user_id, anonymous_id, FALSE AS is_new
         |  FROM users WHERE has_signup
         |), mx AS (SELECT COALESCE(MAX(user_sk), 0) AS m FROM existing)
         |SELECT user_sk, user_id, anonymous_id, is_new FROM existing
         |UNION ALL
         |SELECT CAST(row_number() OVER (ORDER BY u.user_id, u.anonymous_id) + mx.m AS BIGINT),
         |  u.user_id, u.anonymous_id, TRUE
         |FROM users u, mx WHERE NOT has_signup
         |ORDER BY user_sk""".stripMargin,

    // Rebuilds every array element arithmetically (DuckDB list
    // comprehensions over range) — the Spark side must recover the same
    // elements in the same order from the container JSON alone.
    "q_silver_array_props" ->
      """WITH e AS (
        |  SELECT CAST(event_id AS VARCHAR) AS event_id, user_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events
        |)
        |SELECT event_id,
        |  CAST(CASE WHEN event_type = 'view' THEN 1 + k % 3 ELSE 0 END AS BIGINT) AS n_filters,
        |  CASE WHEN event_type = 'view' THEN
        |    array_to_string(['f' || CAST((k + j) % 8 AS VARCHAR)
        |                     for j in range(0, 1 + k % 3)], ',')
        |  ELSE '' END AS filters_csv,
        |  CAST(CASE WHEN event_type = 'click' THEN 1 + k % 4 ELSE 0 END AS BIGINT) AS n_recipes,
        |  CASE WHEN event_type = 'click' THEN
        |    array_to_string([CAST(2000 + (k * 5 + j) % 500 AS VARCHAR)
        |                     for j in range(0, 1 + k % 4)], ',')
        |  ELSE '' END AS recipes_csv,
        |  CAST(CASE WHEN event_type = 'signup' THEN 3 ELSE 0 END AS BIGINT) AS n_tags,
        |  CASE WHEN event_type = 'signup' THEN
        |    't' || CAST(user_id % 4 AS VARCHAR) || ',u' || CAST(k % 5 AS VARCHAR)
        |      || ',v' || CAST((user_id + k) % 7 AS VARCHAR)
        |  ELSE '' END AS tags_csv
        |FROM e ORDER BY event_id""".stripMargin,

    "q_array_props" ->
      """WITH e AS (
        |  SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events
        |), f AS (
        |  SELECT 'f' || CAST(k % 3 AS VARCHAR) AS filter, user_id, k FROM e
        |  UNION ALL
        |  SELECT 'f' || CAST(k % 5 AS VARCHAR) AS filter, user_id, k FROM e
        |)
        |SELECT filter, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
        |  CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM f GROUP BY filter ORDER BY filter""".stripMargin,

    "q_dim_time" ->
      """WITH spine AS (
        |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |    TIMESTAMP '2024-03-31 23:00:00', INTERVAL 1 HOUR)) AS ts
        |)
        |SELECT CAST(strftime(ts, '%Y%m%d%H') AS BIGINT) AS time_dim_key,
        |  strftime(ts, '%Y-%m-%d') AS date_s,
        |  CAST(year(ts) AS BIGINT) AS yr, CAST(month(ts) AS BIGINT) AS mo,
        |  CAST(day(ts) AS BIGINT) AS dy, CAST(hour(ts) AS BIGINT) AS hr,
        |  strftime(ts, '%a') AS day_of_week,
        |  strftime(ts, '%a') IN ('Sat','Sun') AS is_weekend
        |FROM spine
        |ORDER BY time_dim_key""".stripMargin,

    "q_dim_refresh" ->
      """WITH dim AS (
        |  SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT) AS part_sk,
        |    p_partkey,
        |    CASE WHEN p_partkey % 3 = 0 THEN p_name END AS part_name
        |  FROM part
        |), m AS (
        |  SELECT p_partkey, p_name AS m_name, p_brand AS m_brand
        |  FROM part WHERE p_partkey % 2 = 0
        |)
        |SELECT d.part_sk, d.p_partkey,
        |  CASE WHEN m.p_partkey IS NOT NULL THEN m.m_name ELSE d.part_name END AS part_name,
        |  m.m_brand AS part_brand
        |FROM dim d LEFT JOIN m ON d.p_partkey = m.p_partkey
        |ORDER BY part_sk""".stripMargin
  )
}

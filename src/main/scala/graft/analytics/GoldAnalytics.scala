package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The gold star schema as loaded DataFrames (fact + 5 dims). */
case class Gold(fact: DataFrame, dimUser: DataFrame, dimRecipe: DataFrame,
                dimEvent: DataFrame, dimPage: DataFrame, dimTime: DataFrame)

/** The reference's complete 21-query Trino analytics layer (the
  * `sql_queries` directory), re-expressed as DataFrame programs over the
  * gold star schema — a user of the reference can run every dashboard
  * query here unchanged in shape. Each function cites its source file.
  *
  * Event names differ per deployment, so funnel/ads queries take them as
  * parameters (defaults = the reference's names).
  *
  * Scale: every query is fact-scan + broadcast dim joins + bounded-key
  * aggregation; empty-frame windows only ever run over aggregated frames.
  */
object GoldAnalytics {

  private def r2(c: Column): Column = round(c, 2)

  /** fact ⋈ dim_time ⋈ dim_user with the universal `user_dim_key != 0`
    * guard — the base of nearly every reference query.
    */
  def base(g: Gold): DataFrame =
    g.fact.where(col("user_dim_key") =!= 0)
      .join(broadcast(g.dimTime), g.fact("time_dim_key") === g.dimTime("time_dim_key"))
      .drop(g.dimTime("time_dim_key"))
      .join(broadcast(g.dimUser), col("user_dim_key") === g.dimUser("user_sk"))

  private def rollup2(df: DataFrame, key: Seq[Column], aggs: Seq[Column],
                      segments: Seq[(String, Column)]): DataFrame =
    segments.map { case (segType, segCol) =>
      df.groupBy((key :+ segCol.as("segment_value")): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("segment_type", lit(segType))
    }.reduce(_ unionByName _)

  /** DAU.sql — 4-level daily rollup with COUNT(DISTINCT user_dim_key). */
  def dau(g: Gold): DataFrame =
    rollup2(base(g), Seq(col("date").as("event_date")),
      Seq(countDistinct(col("user_dim_key")).as("dau")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN")),
        "COOKING_STYLE" -> coalesce(col("cooking_style"), lit("UNKNOWN")),
        "AB_TEST_GROUP" -> coalesce(col("ab_test_group"), lit("UNKNOWN"))))
      .orderBy(col("event_date"), col("segment_type"), col("segment_value"))

  /** DAU.sql's weekend cut, shaped for the partitioned warehouse read
    * path: the date-kind restriction rides the TIME DIM as a selective
    * predicate (`day_of_week IN ('Sat','Sun')` — Catalyst's
    * PartitionPruning treats In/comparison/LIKE as selective; the bare
    * `is_weekend` boolean attribute is NOT and silently disables DPP)
    * and joins the fact on its PARTITION column `created_date`, so a
    * date-partitioned fact scan prunes to weekend partitions at RUNTIME
    * via dynamic partition pruning instead of reading every partition
    * and filtering post-scan — the 100-TB dashboard contract PlanSpec
    * asserts over a real bulk-built warehouse.
    */
  def weekendDau(g: Gold): DataFrame = {
    val weekendDates = g.dimTime
      .where(col("hour") === 0 && col("day_of_week").isin("Sat", "Sun"))
      .select(col("date").as("created_date"))
    g.fact.where(col("user_dim_key") =!= 0)
      .join(broadcast(weekendDates), Seq("created_date"))
      .groupBy(col("created_date").as("event_date"))
      .agg(countDistinct(col("user_dim_key")).as("dau"))
      .orderBy(col("event_date"))
  }

  /** WAU.sql — 3-level weekly rollup + LAG week-over-week growth. */
  def wau(g: Gold): DataFrame = {
    val weekly = rollup2(
      base(g).withColumn("week_start", date_trunc("week", col("date")))
        .withColumn("yr", year(col("date")))
        .withColumn("week_number", weekofyear(col("date"))),
      Seq(col("week_start"), col("yr").as("year"), col("week_number")),
      Seq(countDistinct(col("user_dim_key")).as("wau")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN")),
        "AB_TEST_GROUP" -> coalesce(col("ab_test_group"), lit("UNKNOWN"))))
    val w = Window.partitionBy("segment_type", "segment_value").orderBy("week_start")
    weekly
      .withColumn("prev_week_wau", lag("wau", 1).over(w))
      .withColumn("week_over_week_growth_pct",
        when(col("prev_week_wau") > 0,
          r2((col("wau") - col("prev_week_wau")) * 100.0 / col("prev_week_wau"))))
      .orderBy(col("week_start").desc, col("segment_type"), col("segment_value"))
  }

  /** ab_test_heatmap.sql — segment × group performance matrix. */
  def abTestHeatmap(g: Gold, minUsers: Long = 50): DataFrame = {
    val convRate = countDistinct(when(col("is_conversion"), col("user_dim_key"))) * 100.0 /
      countDistinct(col("user_dim_key"))
    base(g).where(col("ab_test_group").isin("treatment", "control"))
      .groupBy(col("user_segment"), col("ab_test_group"))
      .agg(
        countDistinct(col("user_dim_key")).as("total_users"),
        r2(convRate).as("conversion_rate"),
        r2(avg(col("engagement_score"))).as("engagement_score"),
        count(lit(1)).as("total_events"),
        r2(avg(col("session_duration_seconds")) / 60.0).as("avg_session_minutes"),
        when(convRate >= 10, "High").when(convRate >= 8, "Medium")
          .otherwise("Low").as("performance_tier"))
      .where(col("total_users") >= minUsers)
      .orderBy("user_segment", "ab_test_group")
  }

  /** ab_test_kpi_metric.sql — the stacked KPI card rows (pivot, scalar
    * subqueries, format_number/format, array_agg/array_join). The cards
    * are scalars over tiny frames, evaluated on the driver (the scalar-
    * subquery pattern, J10): the per-segment winners are pinned with
    * every winner-side scalar observed on the pin, and the window's users
    * and period come from one aggregate — three SQL executions in all.
    */
  def abTestKpiMetric(g: Gold, conversionEvent: String = "click_ads",
                      dateFrom: String = "2025-08-08", dateTo: String = "2025-08-22",
                      minUsers: Long = 100): DataFrame = {
    val spark = g.fact.sparkSession
    import spark.implicits._
    val inWindow = base(g)
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"), "left")
      .where(col("ab_test_group").isin("treatment", "control") &&
        col("date").between(lit(dateFrom).cast("date"), lit(dateTo).cast("date")))
    val segConv = inWindow.groupBy("user_segment", "ab_test_group")
      .agg((countDistinct(when(col("event_name") === conversionEvent, col("user_dim_key"))) * 100.0 /
        countDistinct(col("user_dim_key"))).as("ad_click_conv_rate"),
        countDistinct(col("user_dim_key")).as("users"))
      .where(col("users") >= minUsers)
    val pivoted = segConv.groupBy("user_segment")
      .pivot("ab_test_group", Seq("treatment", "control"))
      .agg(first(col("ad_click_conv_rate")))
      .withColumnRenamed("treatment", "treatment_rate")
      .withColumnRenamed("control", "control_rate")
    val gap = abs(col("treatment_rate") - col("control_rate"))
    def segmentsWon(winner: String) =
      collect_list(when(col("winner") === winner, col("user_segment"))).as(winner)
    val (_, w) = graft.runner.Pin.observed(
      pivoted.withColumn("winner", when(gap < 0.1, "tie")
        .when(col("treatment_rate") > col("control_rate"), "Treatment")
        .otherwise("Control")),
      count(lit(1)).as("nSeg"), count(when(col("winner") === "Treatment", 1)).as("tWins"),
      count(when(gap >= 0.1, 1)).as("signif"), segmentsWon("Treatment"),
      segmentsWon("Control"))
    val (nSeg, tWins) = (w("nSeg").asInstanceOf[Long], w("tWins").asInstanceOf[Long])
    val winRate = if (nSeg > 0) tWins * 100.0 / nSeg else 0.0
    val window = inWindow.agg(countDistinct(col("user_dim_key")),
      min(col("date")).cast("string"), max(col("date")).cast("string")).head()
    val testUsers = window.getLong(0)
    val totalUsers = g.dimUser.agg(countDistinct(col("user_sk"))).head().getLong(0)
    val period =
      if (window.isNullAt(1)) "no data"
      else s"${window.getString(1)} ~ ${window.getString(2)}"
    def segList(winner: String): String = {
      val segs = w(winner).asInstanceOf[scala.collection.Seq[String]].sorted
      if (segs.isEmpty) "none" else segs.mkString(", ")
    }
    Seq(
      ("treatment_win_rate", f"$winRate%.1f", "%"),
      ("total_test_users",
        f"$testUsers%,d (${if (totalUsers > 0) testUsers * 100.0 / totalUsers else 0.0}%.1f%%)",
        "users"),
      ("significant_segments", w("signif").toString, "count"),
      ("test_period", period, ""),
      ("treatment_winning_segments", segList("Treatment"), ""),
      ("control_winning_segments", segList("Control"), "")
    ).toDF("metric_name", "metric_value", "unit")
  }

  /** click_ads_funnel.sql — MAX(CASE) per-user funnel → staged counts
    * with conversion/drop-off vs the previous step.
    */
  def clickAdsFunnel(g: Gold, steps: Seq[(String, String)] = Seq(
    "1. Visit Site" -> "view_page", "2. Search Recipe" -> "search_recipe",
    "3. Click Recipe" -> "click_recipe", "4. View Ads" -> "view_ads",
    "5. Click Ads" -> "click_ads")): DataFrame = {
    val withEvent = g.fact.where(col("user_dim_key") =!= 0)
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
    val flags = withEvent.groupBy("user_dim_key")
      .agg(steps.zipWithIndex.map { case ((_, ev), i) =>
        max(when(col("event_name") === ev, 1).otherwise(0)).as(s"s$i")
      }.head, steps.zipWithIndex.tail.map { case ((_, ev), i) =>
        max(when(col("event_name") === ev, 1).otherwise(0)).as(s"s$i")
      }: _*)
    // one row, read by each step's select: pinned, not cached, so nothing
    // outlives the caller in the session's cache manager
    val counts = graft.runner.Pin(flags.agg(
      steps.indices.map(i => sum(col(s"s$i")).cast("long").as(s"u$i")).head,
      steps.indices.tail.map(i => sum(col(s"s$i")).cast("long").as(s"u$i")): _*))
    steps.zipWithIndex.map { case ((label, _), i) =>
      val users = col(s"u$i")
      val prev = if (i == 0) lit(null).cast("long") else col(s"u${i - 1}")
      counts.select(
        lit(label).as("funnel_step"), users.as("users"),
        (if (i == 0) lit(100.0)
         else when(prev > 0, r2(users * 100.0 / prev)).otherwise(0.0)).as("conversion_rate_pct"),
        (if (i == 0) lit(0.0)
         else when(prev > 0, r2((prev - users) * 100.0 / prev)).otherwise(0.0)).as("drop_off_rate_pct"))
    }.reduce(_ unionByName _)
  }

  /** ctr_advertisement.sql — CTR metrics per segment × group. */
  def ctrAdvertisement(g: Gold, viewEvent: String = "view_ads",
                       clickEvent: String = "click_ads"): DataFrame =
    g.fact.where(col("user_dim_key") =!= 0)
      .join(broadcast(g.dimUser), col("user_dim_key") === g.dimUser("user_sk"))
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
      .groupBy(coalesce(col("user_segment"), lit("UNKNOWN")).as("user_segment"),
        coalesce(col("ab_test_group"), lit("UNKNOWN")).as("ab_test_group"))
      .agg(
        countDistinct(col("user_dim_key")).as("total_users"),
        sum(when(col("event_name") === viewEvent, 1).otherwise(0)).as("total_ad_views"),
        sum(when(col("event_name") === clickEvent, 1).otherwise(0)).as("total_ad_clicks"),
        countDistinct(when(col("event_name") === viewEvent, col("user_dim_key"))).as("users_viewed_ads"),
        countDistinct(when(col("event_name") === clickEvent, col("user_dim_key"))).as("users_clicked_ads"))
      .withColumn("ctr_pct", when(col("total_ad_views") > 0,
        r2(col("total_ad_clicks") * 100.0 / col("total_ad_views"))).otherwise(0.0))
      .withColumn("ad_exposure_rate_pct",
        r2(col("users_viewed_ads") * 100.0 / col("total_users")))
      .withColumn("ad_conversion_rate_pct", when(col("users_viewed_ads") > 0,
        r2(col("users_clicked_ads") * 100.0 / col("users_viewed_ads"))).otherwise(0.0))
      .where(col("total_ad_views") > 0)
      .orderBy(col("ctr_pct").desc)

  /** daily_ab_test.sql — daily A/B performance trend. */
  def dailyAbTest(g: Gold): DataFrame =
    base(g).groupBy(col("date").as("event_date"),
        coalesce(col("ab_test_group"), lit("UNKNOWN")).as("ab_test_group"))
      .agg(
        countDistinct(col("user_dim_key")).as("daily_active_users"),
        count(lit(1)).as("daily_events"),
        r2(countDistinct(when(col("is_conversion"), col("user_dim_key"))) * 100.0 /
          countDistinct(col("user_dim_key"))).as("daily_user_conversion_rate_pct"),
        r2(avg(col("engagement_score"))).as("daily_avg_engagement_score"),
        r2(avg(col("session_duration_seconds")) / 60.0).as("daily_avg_session_minutes"))
      .orderBy(col("event_date").desc, col("ab_test_group"))

  private val dayRemap: Column = {
    val m = Map("Mon" -> "1-Mon", "Tue" -> "2-Tue", "Wed" -> "3-Wed",
      "Thu" -> "4-Thu", "Fri" -> "5-Fri", "Sat" -> "6-Sat", "Sun" -> "7-Sun")
    m.foldLeft(col("day_of_week")) { case (acc, (k, v)) =>
      when(col("day_of_week") === k, v).otherwise(acc)
    }
  }

  /** daily_engagement_score.sql — day-name-remapped 2-level rollup. */
  def dailyEngagementScore(g: Gold): DataFrame =
    rollup2(base(g).withColumn("dow", dayRemap),
      Seq(col("dow").as("day_of_week")),
      Seq(r2(avg(col("engagement_score"))).as("avg_engagement_score"),
        count(lit(1)).as("total_events")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN"))))
      .orderBy("day_of_week", "segment_type", "segment_value")

  /** daily_events.sql — daily per-event counts + windowed share %. */
  def dailyEvents(g: Gold): DataFrame = {
    val agg = base(g)
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
      .groupBy(col("date").as("event_date"), col("event_name"))
      .agg(count(lit(1)).as("event_count"),
        countDistinct(col("user_dim_key")).as("unique_users"))
    agg.withColumn("daily_event_percentage",
        r2(col("event_count") * 100.0 /
          sum(col("event_count")).over(Window.partitionBy("event_date"))))
      .orderBy(col("event_date").desc, col("event_count").desc)
  }

  /** daily_search_to_recipe_click.sql — left join of two aggregated CTEs. */
  def dailySearchToRecipeClick(g: Gold, searchEvent: String = "search_recipe",
                               clickEvent: String = "click_recipe"): DataFrame = {
    val withEvent = base(g)
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
    def daily(ev: String, cnt: String, usr: String) =
      withEvent.where(col("event_name") === ev)
        .groupBy(col("date"), col("user_segment"))
        .agg(count(lit(1)).as(cnt), countDistinct(col("user_dim_key")).as(usr))
    val s = daily(searchEvent, "search_count", "search_users")
    val v = daily(clickEvent, "view_count", "view_users")
      .withColumnRenamed("date", "v_date").withColumnRenamed("user_segment", "v_seg")
    s.join(v, s("date") === col("v_date") && s("user_segment") === col("v_seg"), "left")
      .select(s("date"),
        coalesce(s("user_segment"), lit("UNKNOWN")).as("user_segment"),
        col("search_count"),
        coalesce(col("view_count"), lit(0L)).as("view_count"),
        when(col("search_count") > 0,
          r2(coalesce(col("view_count"), lit(0L)) * 100.0 / col("search_count")))
          .otherwise(0.0).as("conversion_rate_pct"))
      .orderBy("date", "user_segment")
  }

  /** event_distribution.sql — 2-level rollup by event_name. */
  def eventDistribution(g: Gold): DataFrame =
    rollup2(base(g).join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk")),
      Seq(col("event_name")),
      Seq(count(lit(1)).as("event_count"),
        countDistinct(col("user_dim_key")).as("unique_users"),
        r2(avg(col("engagement_score"))).as("avg_engagement_score")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN"))))
      .orderBy(col("event_name"), col("segment_type"), col("event_count").desc)

  /** events_per_time.sql — 2-level rollup by hour of day. */
  def eventsPerTime(g: Gold): DataFrame =
    rollup2(base(g), Seq(col("hour")),
      Seq(count(lit(1)).as("event_count"),
        countDistinct(col("user_dim_key")).as("unique_users")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN"))))
      .orderBy("hour", "segment_type", "segment_value")

  /** interactions_per_dish_type.sql — 2-level rollup over the recipe dim. */
  def interactionsPerDishType(g: Gold): DataFrame =
    rollup2(
      g.fact.where(col("recipe_dim_key") =!= 0)
        .join(broadcast(g.dimRecipe), col("recipe_dim_key") === g.dimRecipe("recipe_sk"))
        .join(broadcast(g.dimUser), col("user_dim_key") === g.dimUser("user_sk")),
      Seq(col("dish_type")),
      Seq(count(lit(1)).as("total_interactions"),
        countDistinct(col("user_dim_key")).as("unique_users"),
        r2(avg(col("engagement_score"))).as("avg_engagement")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN"))))
      .orderBy(col("dish_type"), col("segment_type"), col("total_interactions").desc)

  /** lift.sql — treatment-vs-control lift with winner + chart color. */
  def lift(g: Gold, conversionEvent: String = "click_ads", minUsers: Long = 100): DataFrame = {
    val stats = base(g)
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
      .where(col("ab_test_group").isin("treatment", "control"))
      .groupBy("user_segment", "ab_test_group")
      .agg(countDistinct(col("user_dim_key")).as("total_users"),
        r2(countDistinct(when(col("event_name") === conversionEvent, col("user_dim_key"))) * 100.0 /
          countDistinct(col("user_dim_key"))).as("avg_conversion"),
        r2(avg(col("engagement_score"))).as("avg_engagement"))
      .where(col("total_users") >= minUsers)
    val t = stats.where(col("ab_test_group") === "treatment").alias("t")
    val c = stats.where(col("ab_test_group") === "control").alias("c")
    // both sides are per-segment aggregates (cardinality = user segments,
    // dozens at most) — pin the self-join broadcast rather than letting a
    // stats-blind planner sort-merge two tiny frames
    t.join(broadcast(c), col("t.user_segment") === col("c.user_segment"))
      .select(
        col("t.user_segment").as("user_segment"),
        col("t.avg_conversion").as("treatment_conversion"),
        col("c.avg_conversion").as("control_conversion"),
        r2(col("t.avg_conversion") - col("c.avg_conversion")).as("absolute_lift"),
        round((col("t.avg_conversion") - col("c.avg_conversion")) /
          nullif(col("c.avg_conversion"), lit(0.0)) * 100, 1).as("relative_lift_pct"),
        round(col("t.avg_engagement") - col("c.avg_engagement"), 3).as("engagement_diff"),
        when(abs(col("t.avg_conversion") - col("c.avg_conversion")) < 0.1, "tie")
          .when(col("t.avg_conversion") > col("c.avg_conversion"), "treatment_wins")
          .otherwise("control_wins").as("winner"),
        when(abs(col("t.avg_conversion") - col("c.avg_conversion")) >= 0.3, "very_significant")
          .when(abs(col("t.avg_conversion") - col("c.avg_conversion")) >= 0.1, "significant")
          .otherwise("not_significant").as("significance_level"),
        col("t.total_users").as("treatment_users"),
        col("c.total_users").as("control_users"))
      .withColumn("result_color",
        when(col("winner") === "treatment_wins", "#2ca02c")
          .when(col("winner") === "control_wins", "#d62728").otherwise("#7f7f7f"))
      .orderBy(col("relative_lift_pct").desc)
  }

  /** new_data_load_date.sql — latest load instant in KST (T3).
    * `created_at` (= kst_timestamp) already HOLDS the KST wall clock
    * under this repo's UTC-session convention (BronzeToSilver adds the
    * +9h offset when parsing), so the reference's
    * `created_at AT TIME ZONE 'Asia/Seoul'` is the identity here —
    * re-shifting with from_utc_timestamp would double-apply the offset.
    */
  def newDataLoadDate(g: Gold): DataFrame =
    g.fact.orderBy(col("created_at").desc).limit(1)
      .select(col("created_at").as("kst_time"))

  /** pages_views.sql — 2-level rollup by page_name. */
  def pagesViews(g: Gold): DataFrame =
    rollup2(
      g.fact.where(col("page_dim_key") =!= 0)
        .join(broadcast(g.dimPage), col("page_dim_key") === g.dimPage("page_sk"))
        .join(broadcast(g.dimUser), col("user_dim_key") === g.dimUser("user_sk")),
      Seq(col("page_name")),
      Seq(count(lit(1)).as("page_views"),
        countDistinct(col("user_dim_key")).as("unique_visitors")),
      Seq("TOTAL" -> lit("ALL"),
        "USER_SEGMENT" -> coalesce(col("user_segment"), lit("UNKNOWN"))))
      .orderBy(col("page_name"), col("segment_type"), col("page_views").desc)

  /** time_x_day_events_heatmap.sql — hour × weekday heatmap with global
    * min/max normalization (W6) over the aggregated frame.
    */
  def timeXDayEventsHeatmap(g: Gold): DataFrame = {
    val fullDayRemap = {
      val m = Map("Mon" -> "1-Monday", "Tue" -> "2-Tuesday", "Wed" -> "3-Wednesday",
        "Thu" -> "4-Thursday", "Fri" -> "5-Friday", "Sat" -> "6-Saturday", "Sun" -> "7-Sunday")
      m.foldLeft(col("day_of_week")) { case (acc, (k, v)) =>
        when(col("day_of_week") === k, v).otherwise(acc)
      }
    }
    val agg = g.fact.where(col("user_dim_key") =!= 0)
      .join(broadcast(g.dimTime), g.fact("time_dim_key") === g.dimTime("time_dim_key"))
      .groupBy(col("hour"), fullDayRemap.as("day_of_week_ordered"))
      .agg(count(lit(1)).as("event_count"),
        countDistinct(col("user_dim_key")).as("unique_users"),
        r2(avg(col("engagement_score"))).as("avg_engagement_score"))
    val w = Window.partitionBy()
    agg
      .withColumn("normalized_intensity",
        when(max(col("event_count")).over(w) === min(col("event_count")).over(w),
          lit(null).cast("double"))
          .otherwise(r2((col("event_count") - min(col("event_count")).over(w)) * 100.0 /
            (max(col("event_count")).over(w) - min(col("event_count")).over(w)))))
      .orderBy("day_of_week_ordered", "hour")
  }

  /** top_10_clicked_recipe.sql / top_10_bookmarked_recipe.sql — top-k. */
  def topRecipesByEvent(g: Gold, eventName: String, k: Int = 10): DataFrame =
    g.fact.join(broadcast(g.dimRecipe), col("recipe_dim_key") === g.dimRecipe("recipe_sk"))
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
      .where(col("event_name") === eventName)
      .groupBy(col("recipe_name"))
      .agg(count(lit(1)).as("view_count"))
      .orderBy(col("view_count").desc, col("recipe_name"))
      .limit(k)

  /** top_10_interactions_per_events.sql — detail rows semi-joined against
    * a top-10 subquery (J9).
    */
  def top10InteractionsPerEvents(g: Gold): DataFrame = {
    val withDims = g.fact.where(col("recipe_dim_key") =!= 0)
      .join(broadcast(g.dimRecipe), col("recipe_dim_key") === g.dimRecipe("recipe_sk"), "left")
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"), "left")
    val top10 = withDims.groupBy("recipe_name")
      .agg(count(lit(1)).as("total_interactions"))
      .orderBy(col("total_interactions").desc, col("recipe_name")).limit(10)
      .select("recipe_name")
    withDims.join(top10, Seq("recipe_name"), "left_semi")
      .groupBy(
        coalesce(col("recipe_name"), lit("Unknown Recipe")).as("recipe_name"),
        coalesce(col("dish_type"), lit("Unknown")).as("dish_type"),
        coalesce(col("event_name"), lit("Unknown Event")).as("event_name"))
      .agg(count(lit(1)).as("interaction_count"),
        countDistinct(col("user_dim_key")).as("unique_users"))
      .orderBy(col("recipe_name"), col("interaction_count").desc)
  }

  /** Register the star schema + every analytics query as temp views, so
    * `spark.sql("SELECT * FROM dau")` works exactly like the reference's
    * Trino dashboards querying gold_analytics tables.
    */
  def registerViews(g: Gold): Unit = {
    g.fact.createOrReplaceTempView("fact_user_events")
    g.dimUser.createOrReplaceTempView("dim_user")
    g.dimRecipe.createOrReplaceTempView("dim_recipe")
    g.dimEvent.createOrReplaceTempView("dim_event")
    g.dimPage.createOrReplaceTempView("dim_page")
    g.dimTime.createOrReplaceTempView("dim_time")
    Seq(
      "dau" -> dau(g), "wau" -> wau(g),
      "ab_test_heatmap" -> abTestHeatmap(g),
      "click_ads_funnel" -> clickAdsFunnel(g),
      "ctr_advertisement" -> ctrAdvertisement(g),
      "daily_ab_test" -> dailyAbTest(g),
      "daily_engagement_score" -> dailyEngagementScore(g),
      "daily_events" -> dailyEvents(g),
      "daily_search_to_recipe_click" -> dailySearchToRecipeClick(g),
      "event_distribution" -> eventDistribution(g),
      "events_per_time" -> eventsPerTime(g),
      "interactions_per_dish_type" -> interactionsPerDishType(g),
      "lift" -> lift(g),
      "new_data_load_date" -> newDataLoadDate(g),
      "pages_views" -> pagesViews(g),
      "time_x_day_events_heatmap" -> timeXDayEventsHeatmap(g),
      "top_10_clicked_recipe" -> topRecipesByEvent(g, "click_recipe"),
      "top_10_bookmarked_recipe" -> topRecipesByEvent(g, "click_bookmark"),
      "top_10_interactions_per_events" -> top10InteractionsPerEvents(g),
      "treatment_vs_control" -> treatmentVsControl(g)
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  /** treatment_vs_control.sql — per segment × group performance + color. */
  def treatmentVsControl(g: Gold, conversionEvent: String = "click_ads",
                         minUsers: Long = 100): DataFrame =
    base(g)
      .join(broadcast(g.dimEvent), col("event_dim_key") === g.dimEvent("event_sk"))
      .where(col("ab_test_group").isin("treatment", "control"))
      .groupBy("user_segment", "ab_test_group")
      .agg(countDistinct(col("user_dim_key")).as("total_users"),
        r2(countDistinct(when(col("event_name") === conversionEvent, col("user_dim_key"))) * 100.0 /
          countDistinct(col("user_dim_key"))).as("ad_click_conversion_rate"),
        r2(avg(col("engagement_score"))).as("avg_engagement_score"))
      .where(col("total_users") >= minUsers)
      .withColumn("chart_color",
        when(col("ab_test_group") === "treatment", "#1f77b4").otherwise("#ff7f0e"))
      .orderBy("user_segment", "ab_test_group")
}

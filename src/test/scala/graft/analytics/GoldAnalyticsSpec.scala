package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Dims, RefEventsAdapter, Warehouse}
import graft.runner.{Bulk, TickProbe}

/** Runs the full 21-query analytics layer over a gold warehouse built by
  * the bulk pipeline from sf0.001 events, with shape + invariant checks
  * per query (share % sums to 100, funnels are monotone, rollup levels
  * are complete, top-k is bounded, lift pivots are symmetric, ...).
  */
class GoldAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gold: Gold = {
    val wh = tmpDir("gold_wh")
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    Bulk.run(spark, RefEventsAdapter.toRawJson(events), wh, "2024-01-01")
    Gold(
      fact = Warehouse.read(spark, s"$wh/fact_user_events").cache(),
      dimUser = Warehouse.read(spark, s"$wh/dim_user"),
      dimRecipe = Warehouse.read(spark, s"$wh/dim_recipe"),
      dimEvent = Warehouse.read(spark, s"$wh/dim_event"),
      dimPage = Warehouse.read(spark, s"$wh/dim_page"),
      dimTime = Dims.dimTime(spark, "2024-01-01 00:00:00", "2024-12-31 23:00:00"))
  }

  // our adapter's event names for the parameterized funnel/ads queries
  private val View = "view_recipe"
  private val Click = "click_recipe"
  private val Convert = "click_bookmark"

  test("dau: all four rollup levels present, TOTAL >= any segment slice") {
    val d = GoldAnalytics.dau(gold).cache()
    assert(d.select("segment_type").distinct().count() == 4)
    val byDate = d.groupBy("event_date")
      .agg(max(when($"segment_type" === "TOTAL", $"dau")).as("total"),
        max(when($"segment_type" =!= "TOTAL", $"dau")).as("seg"))
    assert(byDate.where($"seg" > $"total").count() == 0)
  }

  test("wau: growth pct defined from second week on, null on first") {
    val w = GoldAnalytics.wau(gold).where($"segment_type" === "TOTAL").cache()
    assert(w.count() >= 2)
    assert(w.where($"prev_week_wau".isNull).count() == 1)
    assert(w.where($"prev_week_wau".isNotNull && $"week_over_week_growth_pct".isNull)
      .count() == 0)
  }

  test("ab_test_heatmap: one row per segment×group above the user floor") {
    val h = GoldAnalytics.abTestHeatmap(gold, minUsers = 2).cache()
    assert(h.count() > 0)
    assert(h.groupBy("user_segment", "ab_test_group").count()
      .where($"count" > 1).count() == 0)
    assert(h.where($"conversion_rate" < 0 || $"conversion_rate" > 100).count() == 0)
  }

  test("ab_test_kpi_metric: six KPI cards with populated values") {
    val g = gold // built outside the probe
    val (k, p) = TickProbe.during(spark)(GoldAnalytics.abTestKpiMetric(g,
      conversionEvent = Convert, dateFrom = "2024-01-01", dateTo = "2024-12-31", minUsers = 2))
    // the winners pin (every winner-side card observed on it), the
    // window's users and period, and the user dim's size
    assert(p.executions <= 3, s"${p.executions} SQL executions: ${p.trail.mkString(", ")}")
    k.cache()
    assert(k.count() == 6)
    assert(k.where($"metric_value".isNull || $"metric_value" === "").count() == 0)
  }

  test("click_ads_funnel: user counts never grow down the funnel") {
    val g = gold
    spark.catalog.clearCache()
    val f = try {
      val rows = GoldAnalytics.clickAdsFunnel(g, steps = Seq(
        "1. Visit" -> "view_page", "2. View" -> View, "3. Click" -> Click,
        "4. Convert" -> Convert)).collect()
      // the funnel leaves nothing cached once its rows are collected
      assert(spark.sharedState.cacheManager.isEmpty)
      rows
    } finally g.fact.cache()
    assert(f.length == 4)
    val users = f.sortBy(_.getAs[String]("funnel_step")).map(_.getAs[Long]("users"))
    // step 1 is the entry population; later steps are unordered events so
    // only check they stay within the population
    assert(users.tail.forall(_ <= users.sum))
    assert(f.forall { r =>
      val c = r.getAs[Double]("conversion_rate_pct")
      c >= 0 && c <= 100
    })
  }

  test("ctr_advertisement: rates bounded, only exposed segments returned") {
    val c = GoldAnalytics.ctrAdvertisement(gold, viewEvent = View, clickEvent = Click).cache()
    assert(c.count() > 0)
    assert(c.where($"total_ad_views" <= 0).count() == 0)
    assert(c.where($"ad_exposure_rate_pct" > 100).count() == 0)
  }

  test("daily_ab_test: every (date, group) distinct, metrics bounded") {
    val d = GoldAnalytics.dailyAbTest(gold).cache()
    assert(d.groupBy("event_date", "ab_test_group").count().where($"count" > 1).count() == 0)
    assert(d.where($"daily_user_conversion_rate_pct" > 100).count() == 0)
  }

  test("daily_engagement_score: remapped day names sort Mon..Sun") {
    val d = GoldAnalytics.dailyEngagementScore(gold)
      .where($"segment_type" === "TOTAL")
      .select("day_of_week").as[String].collect()
    assert(d.length == 7 && d.sorted.sameElements(d))
    assert(d.head == "1-Mon" && d.last == "7-Sun")
  }

  test("daily_events: share percentages sum to ~100 per day") {
    val d = GoldAnalytics.dailyEvents(gold)
      .groupBy("event_date").agg(sum("daily_event_percentage").as("s"))
    assert(d.where(abs($"s" - 100.0) > 0.5).count() == 0)
  }

  test("daily_search_to_recipe_click: left join keeps all search days") {
    val d = GoldAnalytics.dailySearchToRecipeClick(gold,
      searchEvent = View, clickEvent = Click).cache()
    assert(d.count() > 0)
    assert(d.where($"search_count" <= 0).count() == 0)
    assert(d.where($"conversion_rate_pct" < 0).count() == 0)
  }

  test("event_distribution + events_per_time + pages_views: rollup totals consistent") {
    Seq(
      GoldAnalytics.eventDistribution(gold).groupBy("segment_type")
        .agg(sum("event_count").as("n")),
      GoldAnalytics.eventsPerTime(gold).groupBy("segment_type")
        .agg(sum("event_count").as("n")),
      GoldAnalytics.pagesViews(gold).groupBy("segment_type")
        .agg(sum("page_views").as("n"))
    ).foreach { df =>
      val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // every segment level partitions the same fact rows as TOTAL
      m.filterKeys(_ != "TOTAL").values.foreach(v => assert(v == m("TOTAL")))
    }
  }

  test("interactions_per_dish_type: all dish types from the recipe dim") {
    val d = GoldAnalytics.interactionsPerDishType(gold).cache()
    assert(d.count() > 0)
    assert(d.select("dish_type").distinct().count() <= 5)
  }

  test("lift: symmetric pivot with winner + color assigned") {
    val l = GoldAnalytics.lift(gold, conversionEvent = Convert, minUsers = 2).cache()
    assert(l.count() > 0)
    assert(l.where($"winner".isNull || $"result_color".isNull).count() == 0)
    assert(l.where($"treatment_users" < 2 || $"control_users" < 2).count() == 0)
  }

  test("new_data_load_date: single latest row, KST wall clock NOT re-shifted") {
    val n = GoldAnalytics.newDataLoadDate(gold).collect()
    assert(n.length == 1 && n(0).getTimestamp(0) != null)
    // created_at already holds the KST wall clock — the query must return
    // it unchanged (a from_utc_timestamp here would double-apply +9h)
    val expected = gold.fact.agg(max($"created_at")).head().getTimestamp(0)
    assert(n(0).getTimestamp(0) == expected)
    // and that wall clock is exactly event-utc + 9h (ms-truncated by the
    // adapter's JSON round trip)
    val maxUtcMs = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .agg(max(date_trunc("millisecond", $"ts"))).head().getTimestamp(0)
    assert(n(0).getTimestamp(0).getTime == maxUtcMs.getTime + 9L * 3600 * 1000)
  }

  test("time_x_day heatmap: normalized intensity spans [0, 100]") {
    val h = GoldAnalytics.timeXDayEventsHeatmap(gold).cache()
    assert(h.where($"normalized_intensity" < 0 || $"normalized_intensity" > 100).count() == 0)
    val mm = h.agg(min("normalized_intensity"), max("normalized_intensity")).head()
    assert(mm.getDouble(0) == 0.0 && mm.getDouble(1) == 100.0)
  }

  test("top recipes (clicked/bookmarked) bounded and ordered") {
    Seq(Click, Convert).foreach { ev =>
      val t = GoldAnalytics.topRecipesByEvent(gold, ev).cache()
      assert(t.count() <= 10 && t.count() > 0)
      val counts = t.select("view_count").as[Long].collect()
      assert(counts.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("top10 interactions: only recipes from the top-10 subquery appear") {
    val t = GoldAnalytics.top10InteractionsPerEvents(gold).cache()
    assert(t.count() > 0)
    assert(t.select("recipe_name").distinct().count() <= 10)
  }

  test("registered SQL views serve the star schema and every query") {
    GoldAnalytics.registerViews(gold)
    assert(spark.sql("SELECT COUNT(*) FROM fact_user_events").head().getLong(0) == 1000L)
    assert(spark.sql(
      """SELECT COUNT(DISTINCT f.user_dim_key)
        |FROM fact_user_events f JOIN dim_user u ON f.user_dim_key = u.user_sk
        |WHERE f.user_dim_key != 0""".stripMargin).head().getLong(0) > 0)
    assert(spark.sql("SELECT * FROM dau").count() > 0)
    assert(spark.sql("SELECT * FROM top_10_clicked_recipe").count() > 0)
  }

  test("treatment_vs_control: both groups per surviving segment") {
    val t = GoldAnalytics.treatmentVsControl(gold, conversionEvent = Convert,
      minUsers = 2).cache()
    assert(t.count() > 0)
    val perSeg = t.groupBy("user_segment").count()
    assert(perSeg.where($"count" =!= 2).count() == 0)
  }
}

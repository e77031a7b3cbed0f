package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.runner.Pin

/** The reference's analytics layer (the 21 Trino queries' operator shapes,
  * SURVEY.md §2.3–2.7) re-expressed as DataFrame programs over the driver
  * `events`/`documents` testdata, each with a DuckDB oracle twin.
  *
  * Segments are derived deterministically from user_id/props so both
  * engines compute identical inputs:
  *   user_segment = user_id%3, cooking_style = user_id%4, ab_grp = user_id%2.
  *
  * Scale notes: every query is a pure groupBy/window/join plan — one
  * shuffle per aggregate on bounded-cardinality keys, window partitions by
  * date/segment (never a single global partition over raw events; W6-style
  * empty-frame windows run over the *aggregated* frame, whose cardinality
  * is hours×days, not rows).
  */
object Analytics {

  /** events + derived segment columns (the Spark twin of the oracle CTE). */
  private def enriched(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
    e.withColumn("d", to_date(col("ts")))
      .withColumn("user_segment",
        when(col("user_id") % 3 === 0, "power")
          .when(col("user_id") % 3 === 1, "casual").otherwise("new"))
      .withColumn("cooking_style",
        when(col("user_id") % 4 === 0, "korean")
          .when(col("user_id") % 4 === 1, "western")
          .when(col("user_id") % 4 === 2, "baking").otherwise("vegan"))
      .withColumn("ab_grp",
        when(col("user_id") % 2 === 0, "treatment").otherwise("control"))
  }

  /** Oracle twin of [[enriched]]. */
  private val enrichedCte =
    """WITH e AS (
      |  SELECT *, CAST(ts AS DATE) AS d,
      |    CASE CAST(user_id % 3 AS INTEGER) WHEN 0 THEN 'power'
      |      WHEN 1 THEN 'casual' ELSE 'new' END AS user_segment,
      |    CASE CAST(user_id % 4 AS INTEGER) WHEN 0 THEN 'korean'
      |      WHEN 1 THEN 'western' WHEN 2 THEN 'baking' ELSE 'vegan' END AS cooking_style,
      |    CASE WHEN user_id % 2 = 0 THEN 'treatment' ELSE 'control' END AS ab_grp
      |  FROM events
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A5 + A13 + U1 + T1 — the DAU shape (DAU.sql:4-54): the same
    // countDistinct aggregate at four grouping levels, stacked with
    // literal segment_type columns via unionByName.
    "q_dau_rollup" -> { (s, dir) =>
      import s.implicits._
      // pin only the columns the four levels need — pinning the full
      // frame would hold every column in memory and defeat scan pruning
      val e = Pin(enriched(s, dir)
        .select($"d", $"user_id", $"user_segment", $"cooking_style", $"ab_grp"))
      def level(segType: String, segCol: org.apache.spark.sql.Column) =
        e.groupBy($"d", segCol.as("segment_value"))
          .agg(countDistinct($"user_id").as("dau"), count(lit(1)).as("n_events"))
          .withColumn("segment_type", lit(segType))
      level("TOTAL", lit("ALL"))
        .unionByName(level("USER_SEGMENT", $"user_segment"))
        .unionByName(level("COOKING_STYLE", $"cooking_style"))
        .unionByName(level("AB_TEST_GROUP", $"ab_grp"))
        .select($"d".cast("string").as("date_s"), $"segment_type",
          $"segment_value", $"dau", $"n_events")
        .orderBy($"date_s", $"segment_type", $"segment_value")
    },

    // GROUPING SETS — the single-scan twin of q_dau_rollup: Catalyst's
    // Expand emits one row per grouping set from ONE pass over events,
    // where the UNION ALL shape above re-scans and re-aggregates the
    // table per level (4 scans at 100 TB; the cache that hides it on a
    // test box doesn't exist for a cold 100-TB table). grouping_id()
    // disambiguates levels — with grouping columns (d, user_segment,
    // cooking_style, ab_grp), d is always grouped so gid ∈ {7,3,5,6}
    // for the TOTAL/segment/style/ab levels respectively.
    "q_grouping_sets" -> { (s, dir) =>
      import s.implicits._
      enriched(s, dir)
        .groupingSets(
          Seq(Seq($"d"), Seq($"d", $"user_segment"),
            Seq($"d", $"cooking_style"), Seq($"d", $"ab_grp")),
          $"d", $"user_segment", $"cooking_style", $"ab_grp")
        .agg(countDistinct($"user_id").as("dau"),
          count(lit(1)).as("n_events"), grouping_id().as("gid"))
        .select($"d".cast("string").as("date_s"),
          when($"gid" === 7, "TOTAL").when($"gid" === 3, "USER_SEGMENT")
            .when($"gid" === 5, "COOKING_STYLE").otherwise("AB_TEST_GROUP")
            .as("segment_type"),
          when($"gid" === 7, "ALL").when($"gid" === 3, $"user_segment")
            .when($"gid" === 5, $"cooking_style").otherwise($"ab_grp")
            .as("segment_value"),
          $"dau", $"n_events")
        .orderBy($"date_s", $"segment_type", $"segment_value")
    },

    // CUBE — the full 2^k grouping power set in ONE Expand pass (the
    // q_grouping_sets machinery at its limit): every (segment, ab_grp)
    // combination plus each one-dimension margin plus the grand total,
    // distinguished by grouping_id. Same scale shape as grouping sets:
    // one scan, Expand factor 4, partial aggregation before the single
    // shuffle — where the UNION ALL twin would re-scan 4×.
    "q_cube" -> { (s, dir) =>
      import s.implicits._
      enriched(s, dir)
        .cube($"user_segment", $"ab_grp")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          grouping_id().as("gid"))
        .select(coalesce($"user_segment", lit("ALL")).as("segment"),
          coalesce($"ab_grp", lit("ALL")).as("ab_group"),
          $"gid", $"n_events", $"n_users")
        .orderBy($"gid", $"segment", $"ab_group")
    },

    // SLIDING event-time windows (1 h span, 15 min slide) — the overlap
    // variant of q_hourly_window's tumbling buckets. Spark's window()
    // plans an Expand of span/slide = 4 rows per event ahead of the
    // partial aggregation; that amplification is the documented cost of
    // exact overlapping distinct-counts (a sum-mergeable metric could
    // instead aggregate 15-min tumbling partials and roll 4 of them into
    // each sliding window — but countDistinct partials don't merge by
    // sum, so the exact form pays the Expand).
    "q_sliding_window" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .groupBy(window($"ts", "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"))
        .select(unix_micros($"window.start").as("ws_us"),
          $"n_events", $"n_users")
        .orderBy($"ws_us")
    },

    // W4 — weekly actives + LAG WoW growth per segment (WAU.sql:56-61).
    "q_wau_wow" -> { (s, dir) =>
      import s.implicits._
      val weekly = enriched(s, dir)
        .withColumn("week_start", date_trunc("week", $"ts").cast("date"))
        .groupBy($"user_segment", $"week_start")
        .agg(countDistinct($"user_id").as("wau"))
      val w = Window.partitionBy("user_segment").orderBy("week_start")
      weekly
        .withColumn("prev_wau", lag($"wau", 1).over(w))
        .withColumn("wow_pct", ($"wau" - $"prev_wau") * 100.0 / $"prev_wau")
        .select($"user_segment", $"week_start".cast("string").as("week_s"),
          $"wau", $"prev_wau", $"wow_pct")
        .orderBy($"user_segment", $"week_s")
    },

    // W5 — share-of-day %: windowed SUM over the aggregated frame
    // (daily_events.sql:9).
    "q_daily_share" -> { (s, dir) =>
      import s.implicits._
      val agg = enriched(s, dir)
        .groupBy($"d", $"event_type").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("d")
      agg.withColumn("day_total", sum($"cnt").over(w))
        .withColumn("share_pct", $"cnt" * 100.0 / $"day_total")
        .select($"d".cast("string").as("date_s"), $"event_type", $"cnt",
          $"day_total", $"share_pct")
        .orderBy($"date_s", $"event_type")
    },

    // W6 — global MIN/MAX OVER () normalization of an hour×weekday heatmap
    // (time_x_day_events_heatmap.sql:33-36). The empty-frame window runs
    // over the 7×24-row aggregate, not the raw events.
    "q_heatmap_norm" -> { (s, dir) =>
      import s.implicits._
      val agg = enriched(s, dir)
        .groupBy(date_format($"ts", "E").as("dow"), hour($"ts").cast("long").as("hr"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy()
      agg.withColumn("mn", min($"cnt").over(w))
        .withColumn("mx", max($"cnt").over(w))
        .withColumn("norm_0_100",
          when($"mx" === $"mn", lit(null).cast("double"))
            .otherwise(($"cnt" - $"mn") * 100.0 / ($"mx" - $"mn")))
        .select($"dow", $"hr", $"cnt", $"norm_0_100")
        .orderBy($"dow", $"hr")
    },

    // A7 — MAX(CASE) per-user funnel flags, then staged counts with
    // pct-of-previous (click_ads_funnel.sql:4-25 shape).
    "q_funnel" -> { (s, dir) =>
      import s.implicits._
      val flags = enriched(s, dir).groupBy($"user_id").agg(
        max(when($"event_type" === "view", 1).otherwise(0)).as("v"),
        max(when($"event_type" === "click", 1).otherwise(0)).as("c"),
        max(when($"event_type" === "purchase", 1).otherwise(0)).as("p"))
      val tot = flags.agg(
        count(lit(1)).as("n_all"),
        sum($"v").as("n_v"),
        sum(when($"v" === 1 && $"c" === 1, 1).otherwise(0)).as("n_vc"),
        sum(when($"v" === 1 && $"c" === 1 && $"p" === 1, 1).otherwise(0)).as("n_vcp"))
      tot.select(lit(1L).as("stage_no"), lit("all_users").as("stage"),
          $"n_all".as("users"), lit(null).cast("double").as("pct_of_prev"))
        .unionByName(tot.select(lit(2L).as("stage_no"), lit("viewed").as("stage"),
          $"n_v".as("users"), ($"n_v" * 100.0 / $"n_all").as("pct_of_prev")))
        .unionByName(tot.select(lit(3L).as("stage_no"), lit("viewed_clicked").as("stage"),
          $"n_vc".as("users"), ($"n_vc" * 100.0 / $"n_v").as("pct_of_prev")))
        .unionByName(tot.select(lit(4L).as("stage_no"), lit("full_funnel").as("stage"),
          $"n_vcp".as("users"), ($"n_vcp" * 100.0 / $"n_vc").as("pct_of_prev")))
        .orderBy($"stage_no")
    },

    // A10 — pivot to columns (ab_test_kpi_metric.sql:22-29): explicit value
    // list keeps the plan a single pass (no value-discovery job).
    "q_pivot" -> { (s, dir) =>
      import s.implicits._
      enriched(s, dir)
        .groupBy($"event_type")
        .pivot("ab_grp", Seq("control", "treatment"))
        .agg(count(lit(1)))
        .withColumn("t_over_c", $"treatment" * 1.0 / $"control")
        .orderBy($"event_type")
    },

    // A6 — conditional distinct-count (ab_test_heatmap.sql:9).
    "q_cond_distinct" -> { (s, dir) =>
      import s.implicits._
      enriched(s, dir).groupBy($"d")
        .agg(
          countDistinct($"user_id").as("active_users"),
          countDistinct(when($"event_type" === "purchase", $"user_id")).as("buyers"),
          countDistinct(when($"event_type" === "signup", $"user_id")).as("signups"))
        .select($"d".cast("string").as("date_s"), $"active_users", $"buyers", $"signups")
        .orderBy($"date_s")
    },

    // A9 — HAVING gate on an aggregate (lift.sql:22).
    "q_having" -> { (s, dir) =>
      import s.implicits._
      enriched(s, dir).groupBy($"user_id")
        .agg(count(lit(1)).as("n"), countDistinct($"d").as("active_days"))
        .where($"n" >= 70)
        .orderBy($"user_id")
    },

    // A11 + A12 — collect_list/array_join + MIN/MAX over table
    // (ab_test_kpi_metric.sql:98,111) — sorted for determinism.
    "q_collect_list" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "documents").groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          array_join(array_sort(collect_set($"source")), ", ").as("sources"),
          concat(min($"n_chars"), lit("~"), max($"n_chars")).as("chars_range"))
        .orderBy($"lang")
    },

    // J7 — self-join of an aggregate with itself: treatment vs control
    // lift per segment with min-sample HAVING gates (lift.sql:15-57).
    "q_lift" -> { (s, dir) =>
      import s.implicits._
      val stats = enriched(s, dir)
        .groupBy($"user_segment", $"ab_grp")
        .agg(
          countDistinct($"user_id").as("users"),
          countDistinct(when($"event_type" === "purchase", $"user_id")).as("buyers"))
        .withColumn("rate", $"buyers" * 1.0 / $"users")
        .where($"users" >= 2)
      val t = stats.where($"ab_grp" === "treatment").alias("t")
      val c = stats.where($"ab_grp" === "control").alias("c")
      t.join(c, col("t.user_segment") === col("c.user_segment"))
        .select(
          col("t.user_segment").as("user_segment"),
          col("t.rate").as("t_rate"), col("c.rate").as("c_rate"),
          (abs(col("t.rate") - col("c.rate")) * 100.0).as("abs_diff_pct"),
          ((col("t.rate") - col("c.rate")) * 100.0 /
            nullif(col("c.rate"), lit(0.0))).as("lift_pct"),
          when(col("t.rate") > col("c.rate"), "treatment")
            .when(col("c.rate") > col("t.rate"), "control")
            .otherwise("tie").as("winner"))
        .orderBy($"user_segment")
    },

    // J10 — scalar subquery: global total as a broadcast 1-row cross join
    // (ab_test_kpi_metric.sql:70).
    "q_scalar_subquery" -> { (s, dir) =>
      import s.implicits._
      val e = enriched(s, dir)
      val total = e.agg(count(lit(1)).as("total"))
      e.groupBy($"event_type").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .withColumn("share_pct", $"n" * 100.0 / $"total")
        .orderBy($"event_type")
    },

    // J8 — left join of two aggregated CTEs on a shared grain, with real
    // null rows on the right (daily_search_to_recipe_click.sql:40): daily
    // purchase stats ⋈ daily high-value signup stats; the value cutoff
    // makes some days miss.
    "q_left_join_aggs" -> { (s, dir) =>
      import s.implicits._
      val e = enriched(s, dir)
      val purchases = e.where($"event_type" === "purchase")
        .groupBy($"d").agg(
          count(lit(1)).as("purchases"),
          sum($"value".cast("decimal(18,4)")).cast("double").as("purchase_rev"))
      val bigSignups = e.where($"event_type" === "signup" && $"value" > 180.0)
        .groupBy($"d").agg(count(lit(1)).as("big_signups"))
      purchases.join(bigSignups, Seq("d"), "left")
        .select($"d".cast("string").as("date_s"), $"purchases", $"purchase_rev",
          $"big_signups", coalesce($"big_signups", lit(0L)).as("big_signups_filled"))
        .orderBy($"date_s")
    },

    // Per-group top-N: rank within partition then filter — unlike global
    // top-k (TakeOrderedAndProject), this shuffles once on the group key
    // and never sorts globally.
    "q_topn_per_group" -> { (s, dir) =>
      import s.implicits._
      val daily = enriched(s, dir)
        .groupBy($"event_type", $"d").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy(desc("cnt"), asc("d"))
      daily.withColumn("rnk", row_number().over(w).cast("long"))
        .where($"rnk" <= 3)
        .select($"event_type", $"rnk", $"d".cast("string").as("date_s"), $"cnt")
        .orderBy($"event_type", $"rnk")
    },

    // Tumbling event-time windows via the window() function — the batch
    // twin of the streaming hourly rollup (same grouping the watermark
    // closes incrementally in streaming/StreamingIngest.runHourlyCounts).
    "q_hourly_window" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"), countDistinct($"user_id").as("users"))
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm").as("hour_start"),
          $"event_type", $"n_events", $"users")
        .orderBy($"hour_start", $"event_type")
    },

    // AS-OF JOIN — the temporal operator Spark has no native form of
    // (last-touch attribution: every click/view/error/signup event joins
    // the SAME user's most recent purchase at-or-before its timestamp).
    // Deliberately NOT a range join: the scalable composition is
    // union-tag + ONE per-user window — purchases sort ahead of
    // same-instant events (ts asc, marker-first, event_id asc) and
    // last(_, ignoreNulls) carries the latest purchase struct forward.
    // One shuffle on user_id, one sort within partitions, zero interval
    // explosion — the plan that survives a 100-TB clickstream, where the
    // naive l.ts >= m.ts theta-join is quadratic per user. Equal-ts
    // purchase ties resolve to the max event_id on both engines (the
    // sort order here; an explicit dedup in the oracle, whose ASOF JOIN
    // would otherwise pick an arbitrary equal-ts row).
    "q_asof_join" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
        .orderBy($"ts".asc, $"is_m".desc, $"event_id".asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      load(s, dir, "events")
        .select($"event_id", $"event_type", $"user_id", $"ts", $"value",
          ($"event_type" === "purchase").as("is_m"))
        .withColumn("m", last(
          when($"is_m", struct(
            $"event_id".as("pid"),
            unix_micros($"ts").as("pus"),
            $"value".as("pval"))),
          ignoreNulls = true).over(w))
        .where(!$"is_m")
        .select($"event_id", $"event_type", $"user_id",
          unix_micros($"ts").as("ts_us"),
          $"m.pid".as("purchase_event_id"),
          $"m.pus".as("purchase_ts_us"),
          $"m.pval".as("purchase_value"))
        .orderBy($"event_id")
    },

    // RANGE JOIN (interval containment) — the other temporal join Spark
    // has no native form of: every purchase opens a 30-minute attribution
    // window [ts, ts+30m), and each window aggregates the OTHER events
    // that fall inside it (any user — a pure temporal range join, not the
    // per-user as-of above). A naive `p.ts BETWEEN w.lo AND w.hi` join
    // plans as BroadcastNestedLoopJoin — O(events × windows), dead at
    // 100 TB. The scalable composition buckets time by the window span:
    // each point lands in exactly ONE bucket (ts div 30m) and each window
    // explodes to the ≤2 buckets it overlaps, so the candidate join is a
    // plain shuffled equi-join on the bucket key with a residual
    // containment filter — each true (point, window) pair meets exactly
    // once (in the point's bucket), no dedup needed. AQE handles bucket
    // skew (a flash-sale minute) like any other shuffle key. Empty
    // windows are kept via a left join back to the window list, matching
    // the oracle's LEFT-JOIN-then-GROUP shape. Sum is exact decimal then
    // one cast to double (the moneySum idiom) so engines agree bit-wise.
    "q_range_join" -> { (s, dir) =>
      import s.implicits._
      val bwUs = 1800000000L // bucket width == window span (30 min, µs)
      val ev = load(s, dir, "events")
        .select($"event_id", $"user_id", $"event_type",
          unix_micros($"ts").as("ts_us"), $"value")
      val windows = ev.where($"event_type" === "purchase")
        .select($"event_id".as("window_id"), $"ts_us".as("lo_us"),
          ($"ts_us" + bwUs).as("hi_us"))
      val points = ev.where($"event_type" =!= "purchase")
        .select($"user_id", $"ts_us", $"value",
          expr(s"ts_us div $bwUs").as("b"))
      val pairs = windows
        .withColumn("b", explode(sequence(
          expr(s"lo_us div $bwUs"), expr(s"(hi_us - 1) div $bwUs"))))
        // the hint IS the scale contract: the exploded window list is
        // fact-sized (2 rows per purchase), and Catalyst's post-explode
        // size estimate undershoots the broadcast threshold — at the 10×
        // tier it was building a 4M-row driver-side HashedRelation per
        // action (the scale-bench offender: 18.6 s vs 4.2 s shuffled).
        // Shuffle-hash on the bucket key is the plan the composition is
        // designed around; both sides exchange once at O(rows).
        .hint("shuffle_hash")
        .join(points, Seq("b"))
        .where($"ts_us" >= $"lo_us" && $"ts_us" < $"hi_us")
      val agg = pairs.groupBy($"window_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          sum($"value".cast("decimal(18,4)")).cast("double").as("sum_value"))
      windows.select($"window_id", $"lo_us")
        .join(agg, Seq("window_id"), "left")
        .select($"window_id", $"lo_us",
          coalesce($"n_events", lit(0L)).as("n_events"),
          coalesce($"n_users", lit(0L)).as("n_users"),
          coalesce($"sum_value", lit(0.0)).as("sum_value"))
        .orderBy($"window_id")
    },

    // SKEW-SALTED aggregation (Scale.saltedCount/saltedCountDistinct,
    // §4): event_type has single-digit cardinality, so a plain
    // groupBy(event_type).agg(countDistinct(user)) funnels the whole
    // table through a handful of reducers at 100 TB. The salted pair —
    // phase-1 partials on (key, salt), phase-2 merge; distinct via a
    // (key, value)-keyed dedup shuffle — produces the identical result
    // with no hot reducer. The oracle is the plain GROUP BY: same
    // numbers, different (scale-safe) plan.
    "q_salted_agg" -> { (s, dir) =>
      import s.implicits._
      val ev = load(s, dir, "events")
      graft.pipeline.Scale.saltedCount(ev, $"event_type")
        .join(graft.pipeline.Scale.saltedCountDistinct(ev, $"event_type", $"user_id"), Seq("k"))
        .select($"k".as("event_type"), $"cnt".as("n_events"),
          $"n_distinct".as("n_users"))
        .orderBy($"event_type")
    },

    // Z-ORDER value — oracle-gates the exact bit math behind
    // Scale.zorderWrite's layout clustering (ScaleSpec proves the file
    // pruning; this pins the Morton curve itself): both key dimensions
    // reduced to a known 0..255 range, normalized and bit-interleaved
    // per event. The oracle recomputes the identical interleave from
    // DuckDB's bit operators; floor() is explicit there because DuckDB's
    // double→BIGINT cast rounds where Spark's truncates. Pure narrow
    // map — no shuffle until the presentation sort.
    "q_zorder_value" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .withColumn("a", $"user_id" % 256)
        .withColumn("b", expr("(unix_micros(ts) div 86400000000) % 256"))
        .withColumn("z", graft.pipeline.Scale.zvalue($"a", 0, 255, $"b", 0, 255))
        .select($"event_id", $"a", $"b", $"z")
        .orderBy($"event_id")
    },

    // 3-column Morton interleave (the common lakehouse OPTIMIZE ZORDER
    // ask is 3 keys): same normalization, bit i of dim j at position
    // 3i + j. Gates Scale.zvalueN's N-ary generalization with an
    // independent DuckDB recomputation.
    "q_zorder3_value" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .withColumn("a", $"user_id" % 256)
        .withColumn("b", expr("(unix_micros(ts) div 86400000000) % 256"))
        .withColumn("c", $"event_id" % 256)
        .withColumn("z", graft.pipeline.Scale.zvalueN(Seq(
          (col("a"), 0L, 255L), (col("b"), 0L, 255L), (col("c"), 0L, 255L))))
        .select($"event_id", $"a", $"b", $"c", $"z")
        .orderBy($"event_id")
    },

    // INCREMENTAL ROLLUP MAINTENANCE — partition-scoped aggregate
    // recompute (pipeline.IncrementalRollup) exercised end-to-end: the
    // events stream arrives in three date-tercile ticks with ~10% of
    // each tick's rows LATE (delivered one tick after their date
    // tercile), the fact sink grows by appends, and after every tick
    // only the AFFECTED date partitions of the daily-KPI rollup are
    // recomputed and dynamic-partition-overwritten. Late data makes an
    // old date affected again, so its partition is recomputed — tick 2
    // must splice updated tercile-1 dates against untouched tercile-0
    // partitions. The oracle is the FULL daily aggregate over all
    // events: splice-by-overwrite must converge to exactly the table a
    // full rebuild produces (the partition-local agg contract).
    "q_incr_rollup" -> { (s, dir) =>
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_incr_rollup").toString
      val factPath = s"$base/fact"
      val ev = load(s, dir, "events")
        .withColumn("event_date", to_date($"ts").cast("string"))
      val dates = ev.select($"event_date").distinct().orderBy($"event_date")
        .as[String].collect() // bounded: distinct calendar dates
      val tickFrame = s.createDataFrame(
        dates.zipWithIndex.map { case (d, i) => (d, i * 3 / dates.length) }.toSeq
      ).toDF("event_date", "base_tick")
      // pinned once: each of the three ticks reads this frame (the batch
      // append write, which also observes the affected dates) — three
      // full events-scan + broadcast-join re-runs without the checkpoint
      // (guide §1.2). The pin holds events-cardinality × 5 narrow columns
      // on executor storage (MEMORY_AND_DISK, spillable): ~50 B/row, so
      // ~5 GB per 10⁸ events — bounded, but size it consciously at scale.
      // The repartition matters twice: the events fixture is ONE row
      // group, so the unrepartitioned lineage ran every batch write on a
      // single core (guide §2.5 input skew — repartition right after the
      // read), and clustering by event_date makes each partitioned
      // append write few files per date instead of tasks × dates. The
      // user_id salt term (VERDICT r16 #4) caps files per date per append
      // at 2 while keeping a hot date off a single task at scale —
      // date-only clustering serialized each date through one task.
      val ticked = Pin(ev.join(broadcast(tickFrame), Seq("event_date"))
        .withColumn("tick", least(
          $"base_tick" + when($"event_id" % 10 === 0, 1).otherwise(0), lit(2)))
        .select($"event_date", $"event_type", $"user_id", $"value", $"tick")
        .repartition($"event_date", pmod(xxhash64($"user_id"), lit(2))))
      def agg(fact: DataFrame): DataFrame = fact
        .groupBy($"event_date", $"event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          sum($"value".cast("decimal(18,4)")).cast("double").as("sum_value"))
      (0 to 2).foreach { t =>
        val batch = ticked.where($"tick" === t)
          .select($"event_date", $"event_type", $"user_id", $"value")
        // the dates the append touched, observed on the append itself
        val (_, m) = Pin.observing(batch, collect_set($"event_date").as("dates"))(
          _.write.mode("append").partitionBy("event_date").parquet(factPath))
        val affected = m("dates").asInstanceOf[scala.collection.Seq[String]].toSeq.sorted
        graft.pipeline.IncrementalRollup.update(
          s, factPath, s"$base/rollup", "event_date", affected, agg)
      }
      // materialize before the temp warehouse disappears (partition
      // values come back DATE-inferred — cast to match the oracle)
      val out = Pin(s.read.parquet(s"$base/rollup")
        .select($"event_date".cast("string").as("event_date"),
          $"event_type", $"n_events", $"n_users", $"sum_value")
        .orderBy($"event_date", $"event_type"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      out
    },

    // Percentile aggregates (beyond the reference's AVG-only metrics):
    // exact interpolated percentiles — both engines implement the same
    // (1-f)*lo + f*hi definition over identical doubles. The scale note:
    // exact percentile sorts per group; for 100 TB you'd switch to
    // percentile_approx (t-digest sketch, constant memory) the same way
    // q_approx_dau swaps countDistinct for HLL.
    "q_percentiles" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          expr("percentile(value, 0.99)").as("p99"),
          min($"value").as("v_min"), max($"value").as("v_max"))
        .orderBy($"event_type")
    },

    // True RANGE-frame rolling window (W-surface not otherwise
    // exercised): 7-day rolling event volume per segment. The frame is
    // RANGE over epoch-day — a ROWS frame would silently count the last
    // 7 ROWS and break on date gaps. Runs over the aggregated daily
    // frame (segments × dates cardinality), never raw events.
    "q_rolling_7d" -> { (s, dir) =>
      import s.implicits._
      val daily = enriched(s, dir)
        .groupBy($"user_segment", $"d")
        .agg(count(lit(1)).as("n_events"))
        .withColumn("epoch_day", datediff($"d", lit("1970-01-01")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_segment").orderBy($"epoch_day")
        .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
      daily.withColumn("n_7d", sum($"n_events").over(w))
        .select($"user_segment", $"d".cast("string").as("date_s"),
          $"n_events", $"n_7d")
        .orderBy($"user_segment", $"date_s")
    },

    // Cohort retention matrix — the growth-analytics shape the 21
    // dashboards stop short of: users cohorted by first-seen date, then
    // day-offset activity vs cohort size. first-seen is one user-keyed
    // shuffle; the activity join keys on user_id (never broadcastable at
    // a 10⁸-user deployment — documented shuffle join); everything after
    // is bounded at cohorts × 8 offsets.
    "q_retention" -> { (s, dir) =>
      import s.implicits._
      val e = enriched(s, dir)
      val firstSeen = e.groupBy($"user_id").agg(min($"d").as("cohort_d"))
      val act = e.join(firstSeen, "user_id")
        .withColumn("day_offset", datediff($"d", $"cohort_d").cast("long"))
        .where($"day_offset" <= 7)
      val cohortSize = firstSeen.groupBy($"cohort_d")
        .agg(countDistinct($"user_id").as("cohort_n"))
      act.groupBy($"cohort_d", $"day_offset")
        .agg(countDistinct($"user_id").as("active_n"))
        .join(cohortSize, "cohort_d")
        .select($"cohort_d".cast("string").as("cohort_date"), $"day_offset",
          $"active_n", $"cohort_n",
          ($"active_n" * 1.0 / $"cohort_n").as("retention"))
        .orderBy($"cohort_date", $"day_offset")
    },

    // The t-digest swap q_percentiles documents: exact interpolated
    // percentiles need each group's full sorted value set in one task;
    // approx_percentile is a mergeable constant-memory quantile sketch —
    // the plan that survives a group outgrowing an executor. Output pins
    // the exact p50/p99 (bit-stable cross-engine, as q_percentiles
    // proves) plus booleans asserting each engine's OWN sketch lands
    // inside a rank band around the true quantile — the booleans,
    // not the sketches, are the cross-engine contract (q_approx_dau
    // pattern; Spark and DuckDB sketch with different algorithms).
    // Both engines merge sketch partials in nondeterministic order, so a
    // sketch value can wobble slightly between runs; the a99 band's lower
    // edge carries extra margin (0.90-rank, not 0.94) so an excursion
    // near the edge can't flip the pinned boolean intermittently
    // (ADVICE r6 — the a50 band keeps ±0.05: p50 sits in the value
    // distribution's dense region where the sketch is tightest).
    "q_approx_percentiles" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(value, array(0.45, 0.5, 0.55, 0.90, 0.99))").as("ex"),
          expr("approx_percentile(value, 0.5, 10000)").as("a50"),
          expr("approx_percentile(value, 0.99, 10000)").as("a99"),
          max($"value").as("v_max"))
        .select($"event_type", $"n",
          element_at($"ex", 2).as("p50"),
          element_at($"ex", 5).as("p99"),
          ($"a50" >= element_at($"ex", 1) && $"a50" <= element_at($"ex", 3))
            .as("a50_in_band"),
          ($"a99" >= element_at($"ex", 4) && $"a99" <= $"v_max").as("a99_in_band"))
        .orderBy($"event_type")
    },

    // A5 at 100 TB: exact COUNT(DISTINCT) needs the full value set per
    // group; HyperLogLog needs constant memory. Output pins the exact
    // count and asserts the sketch lands within 5% — each engine checks
    // its own sketch implementation against the same exact value, so
    // the boolean (not the sketch) is the cross-engine contract.
    "q_approx_dau" -> { (s, dir) =>
      import s.implicits._
      enriched(s, dir).groupBy($"d")
        .agg(
          countDistinct($"user_id").as("exact_dau"),
          approx_count_distinct($"user_id", 0.02).as("approx"))
        .select($"d".cast("string").as("date_s"), $"exact_dau",
          (abs($"approx" - $"exact_dau") * 1.0 / $"exact_dau" <= 0.05).as("sketch_within_5pct"))
        .orderBy($"date_s")
    },

    // Gap-based sessionization: per-user event stream → sessions split
    // on >30-min inactivity (lag + cumulative-sum windows), then
    // per-session aggregates. The window partitions by user — parallel
    // across users, never a global sort.
    "q_sessionize" -> { (s, dir) =>
      import s.implicits._
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sessions = load(s, dir, "events")
        .withColumn("prev_ts", lag($"ts", 1).over(byUser))
        .withColumn("new_session",
          when($"prev_ts".isNull ||
            unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1L).otherwise(0L))
        .withColumn("session_idx", sum($"new_session").over(
          Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sessions.groupBy($"user_id", $"session_idx")
        .agg(
          count(lit(1)).as("n_events"),
          (unix_timestamp(max($"ts")) - unix_timestamp(min($"ts"))).as("duration_sec"),
          countDistinct($"event_type").as("n_event_types"))
        .orderBy($"user_id", $"session_idx")
    },

    // The NATIVE gap-session operator — Spark's session_window() as the
    // API-surface twin of the composed lag+cumsum q_sessionize. Two
    // deliberate semantic differences, mirrored exactly in the oracle:
    // the native operator merges events strictly WITHIN the gap (a
    // session's range is [start, last + gap), so an exactly-30-min gap
    // starts a new session where the lag path's `> 1800` keeps it), and
    // it compares at full microsecond precision (the lag path second-
    // truncates through unix_timestamp). Execution is a per-user sorted
    // merge — parallel across users, no global sort.
    "q_session_window" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"event_type").as("n_event_types"))
        .select($"user_id", unix_micros($"w.start").as("session_start_us"),
          $"n_events", $"n_event_types")
        .orderBy($"user_id", $"session_start_us")
    },

    // T3 — latest row: ORDER BY ts DESC LIMIT 1 with a deterministic
    // tiebreak (new_data_load_date.sql:28-30).
    "q_latest" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .orderBy($"ts".desc, $"event_id".desc).limit(1)
        .select($"event_id", $"event_type", $"user_id",
          unix_timestamp($"ts").as("ts_unix"))
    },

    // Rank-function family (the W-surface beyond row_number/lag:
    // ntile, percent_rank, cume_dist, first_value) — value deciles per
    // event type with distribution positions. The window orders by the
    // unique (value, event_id) key so every rank function is
    // deterministic; percent_rank/cume_dist divide identical integers
    // on both engines. Emitted at per-decile grain (type × 10 rows),
    // aggregated from the windowed frame — the window partitions by
    // event_type (parallel; at 100 TB a per-type partition is the
    // bucketedRunningSum decomposition's job, same as every other
    // ordered sweep here).
    "q_rank_family" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
      load(s, dir, "events")
        .select($"event_type", $"value", $"event_id")
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("fv", first_value($"value").over(w))
        .groupBy($"event_type", $"decile")
        .agg(count(lit(1)).as("n"),
          min($"value".cast("decimal(18,4)")).cast("double").as("min_v"),
          max($"value".cast("decimal(18,4)")).cast("double").as("max_v"),
          max($"pr").as("max_pr"), max($"cd").as("max_cd"),
          min($"fv".cast("decimal(18,4)")).cast("double").as("type_min_v"))
        .orderBy($"event_type", $"decile")
    },

    // ORDERED funnel with step deadlines — strict event-sequence
    // progression (view, then a click within 24 h strictly after it,
    // then a purchase within 24 h strictly after that), which the
    // reference's MAX(CASE) funnel can't express: that shape counts a
    // user who purchased BEFORE ever viewing, and has no step-latency
    // bound (without the deadline every multi-event user eventually
    // saturates every stage and the gate stops discriminating). Three
    // user-keyed min-aggregates, each gated on the previous stage's
    // timestamp via an equi-join on user_id — all shuffles on user_id
    // and Catalyst reuses the partitioning across stages; counts and
    // double ratios are engine-identical. Linear at any scale.
    "q_ordered_funnel" -> { (s, dir) =>
      import s.implicits._
      val e = load(s, dir, "events").select($"user_id", $"event_type", $"ts")
      val v = e.where($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("v_ts"))
      val c = e.where($"event_type" === "click").join(v, "user_id")
        .where($"ts" > $"v_ts" &&
          $"ts" <= $"v_ts" + expr("INTERVAL 24 HOURS"))
        .groupBy($"user_id").agg(min($"ts").as("c_ts"))
      val p = e.where($"event_type" === "purchase").join(c, "user_id")
        .where($"ts" > $"c_ts" &&
          $"ts" <= $"c_ts" + expr("INTERVAL 24 HOURS"))
        .groupBy($"user_id").agg(min($"ts").as("p_ts"))
      // 1-row stage counts combined in-plan (the q_scalar_subquery
      // broadcast pattern — whitelisted 1-row BNLJ, no driver actions)
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
        .select($"n_view", $"n_click_after_view", $"n_purchase_after_click",
          ($"n_click_after_view" * 100.0 / $"n_view").as("view_to_click_pct"),
          ($"n_purchase_after_click" * 100.0 / $"n_click_after_view")
            .as("click_to_purchase_pct"))
    },

    // Peak concurrency via sweep-line (interval-overlap aggregation —
    // the ops-dashboard "max simultaneous open sessions" number): each
    // event opens a 5-minute presence interval; +1/-1 boundary deltas,
    // a day-partitioned running sum, then max per day. Determinism:
    // the window orders by (t, delta) so closes sort before opens at
    // the same instant (adjacent intervals never overlap), and the
    // default RANGE frame gives all order-key ties the same cumulative
    // value on both engines. Scale: the window partitions by day —
    // bounded, parallel across days; within one hot day the sweep is a
    // single ordered pass, and the documented 1000×-day upgrade is the
    // same two-phase prefix sum the SK assigner uses (per-partition
    // partials + offsets), not a different algorithm.
    "q_peak_concurrency" -> { (s, dir) =>
      import s.implicits._
      val e = load(s, dir, "events").withColumn("d", to_date($"ts"))
      val deltas = e.select($"d", $"ts".as("t"), lit(1L).as("delta"))
        .unionByName(e.select($"d",
          ($"ts" + expr("INTERVAL 5 MINUTES")).as("t"), lit(-1L).as("delta")))
      val w = Window.partitionBy($"d").orderBy($"t", $"delta")
      deltas.withColumn("open_now", sum($"delta").over(w))
        .groupBy($"d")
        .agg(max($"open_now").as("peak_concurrent"),
          count(lit(1)).as("n_boundaries"))
        .select($"d".cast("string").as("date_s"),
          $"peak_concurrent", $"n_boundaries")
        .orderBy($"date_s")
    },

    // The 100-TB twin of q_peak_concurrency: same sweep, but the
    // running sum goes through Scale.bucketedRunningSum (two-phase
    // prefix sum chunked by EPOCH-hour — absolute, so the bucket stays
    // monotonic in t even for end boundaries that spill past midnight
    // while keeping the start day's group; hour-of-day would wrap to 0
    // and mis-order them) so no task ever holds a whole day — the
    // upgrade the simple form's doc promises, gated against the SAME
    // oracle to prove the decomposition changes nothing.
    "q_peak_concurrency_scaled" -> { (s, dir) =>
      import s.implicits._
      val e = load(s, dir, "events").withColumn("d", to_date($"ts"))
      val deltas = e.select($"d", $"ts".as("t"), lit(1L).as("delta"))
        .unionByName(e.select($"d",
          ($"ts" + expr("INTERVAL 5 MINUTES")).as("t"), lit(-1L).as("delta")))
      graft.pipeline.Scale.bucketedRunningSum(
          deltas, groupCol = $"d",
          bucketCol = floor(unix_timestamp($"t") / 3600),
          orderCols = Seq($"t", $"delta"), valueCol = $"delta",
          outCol = "open_now")
        .groupBy($"d")
        .agg(max($"open_now").as("peak_concurrent"),
          count(lit(1)).as("n_boundaries"))
        .select($"d".cast("string").as("date_s"),
          $"peak_concurrent", $"n_boundaries")
        .orderBy($"date_s")
    },

    // Statistical aggregate family (corr / covar / stddev — the surface
    // a metrics layer adds next after AVG): per-event-type second-moment
    // stats between value and a bounded user bucket. Cross-engine float
    // determinism via the moment decomposition: every SUM is an EXACT
    // decimal/bigint (order-independent), each moment is cast to double
    // ONCE, and mean/stddev/corr are derived from those doubles with the
    // identical expression tree on both engines — no engine-native
    // corr()/stddev() whose partial-merge order could flip low bits.
    // One shuffle on the 5-key groupBy with partial aggregation; the
    // derivation is a narrow post-agg projection. Scales linearly.
    "q_stats_moments" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .select($"event_type",
          $"value".cast("decimal(18,4)").as("x"),
          ($"user_id" % 100).as("y"))
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"x").cast("double").as("sx"),
          sum($"x" * $"x").cast("double").as("sx2"),
          sum($"y").cast("double").as("sy"),
          sum($"y" * $"y").cast("double").as("sy2"),
          sum($"x" * $"y").cast("double").as("sxy"))
        .select($"event_type", $"n",
          ($"sx" / $"n").as("mean_v"),
          sqrt(($"sx2" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("stddev_v"),
          (($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1)).as("covar_vy"),
          (($"n" * $"sxy" - $"sx" * $"sy") /
            (sqrt($"n" * $"sx2" - $"sx" * $"sx") *
              sqrt($"n" * $"sy2" - $"sy" * $"sy"))).as("corr_vy"))
        .orderBy($"event_type")
    },

    // Fixed-width histogram binning (width_bucket surface): integer
    // bucket = floor(value/50) over identical input doubles, so bucket
    // assignment is bit-deterministic on both engines and the output is
    // pure integer counts. Partial-aggregated single shuffle on
    // (event_type, bucket) — the standard distribution dashboard at any
    // scale. Buckets carry their numeric range for the UI.
    "q_histogram" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "events")
        .select($"event_type",
          floor($"value" / 50.0).cast("int").as("bucket"))
        .groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("n"))
        .select($"event_type", $"bucket",
          ($"bucket" * 50).cast("double").as("lo"),
          (($"bucket" + 1) * 50).cast("double").as("hi"),
          $"n")
        .orderBy($"event_type", $"bucket")
    },

    // Session path mining (product-analytics surface the reference's
    // funnel queries stop short of): consecutive event-type transitions
    // within each user-day, counted corpus-wide. The sequence order is
    // the deterministic total order (ts, event_id) so lag() agrees
    // across engines even on equal timestamps. One window shuffle keyed
    // (user_id, d) — user-bounded partitions, never global — then a
    // 25-key transition aggregate. The 100-TB shape: both shuffles key
    // on high-cardinality/bounded keys; nothing collects.
    "q_event_bigrams" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"d").orderBy($"ts", $"event_id")
      load(s, dir, "events")
        .withColumn("d", to_date($"ts"))
        .withColumn("prev_event", lag($"event_type", 1).over(w))
        .where($"prev_event".isNotNull)
        .groupBy($"prev_event", $"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"prev_event", $"event_type")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_dau_rollup" ->
      s"""$enrichedCte, lv AS (
         |  SELECT d, 'TOTAL' AS segment_type, 'ALL' AS segment_value,
         |    COUNT(DISTINCT user_id) AS dau, COUNT(*) AS n_events FROM e GROUP BY d
         |  UNION ALL
         |  SELECT d, 'USER_SEGMENT', user_segment,
         |    COUNT(DISTINCT user_id), COUNT(*) FROM e GROUP BY d, user_segment
         |  UNION ALL
         |  SELECT d, 'COOKING_STYLE', cooking_style,
         |    COUNT(DISTINCT user_id), COUNT(*) FROM e GROUP BY d, cooking_style
         |  UNION ALL
         |  SELECT d, 'AB_TEST_GROUP', ab_grp,
         |    COUNT(DISTINCT user_id), COUNT(*) FROM e GROUP BY d, ab_grp
         |)
         |SELECT strftime(d, '%Y-%m-%d') AS date_s, segment_type, segment_value,
         |  dau, n_events
         |FROM lv ORDER BY date_s, segment_type, segment_value""".stripMargin,

    "q_wau_wow" ->
      s"""$enrichedCte, weekly AS (
         |  SELECT user_segment, CAST(date_trunc('week', ts) AS DATE) AS week_start,
         |    COUNT(DISTINCT user_id) AS wau
         |  FROM e GROUP BY 1, 2
         |)
         |SELECT user_segment, strftime(week_start, '%Y-%m-%d') AS week_s, wau,
         |  lag(wau, 1) OVER (PARTITION BY user_segment ORDER BY week_start) AS prev_wau,
         |  (wau - lag(wau, 1) OVER (PARTITION BY user_segment ORDER BY week_start)) * 100.0
         |    / lag(wau, 1) OVER (PARTITION BY user_segment ORDER BY week_start) AS wow_pct
         |FROM weekly ORDER BY user_segment, week_s""".stripMargin,

    "q_daily_share" ->
      s"""$enrichedCte, agg AS (
         |  SELECT d, event_type, COUNT(*) AS cnt FROM e GROUP BY d, event_type
         |)
         |SELECT strftime(d, '%Y-%m-%d') AS date_s, event_type, cnt,
         |  CAST(SUM(cnt) OVER (PARTITION BY d) AS BIGINT) AS day_total,
         |  cnt * 100.0 / SUM(cnt) OVER (PARTITION BY d) AS share_pct
         |FROM agg ORDER BY date_s, event_type""".stripMargin,

    "q_heatmap_norm" ->
      s"""$enrichedCte, agg AS (
         |  SELECT strftime(ts, '%a') AS dow, CAST(hour(ts) AS BIGINT) AS hr,
         |    COUNT(*) AS cnt
         |  FROM e GROUP BY 1, 2
         |)
         |SELECT dow, hr, cnt,
         |  CASE WHEN MAX(cnt) OVER () = MIN(cnt) OVER () THEN NULL
         |    ELSE (cnt - MIN(cnt) OVER ()) * 100.0
         |      / (MAX(cnt) OVER () - MIN(cnt) OVER ()) END AS norm_0_100
         |FROM agg ORDER BY dow, hr""".stripMargin,

    "q_funnel" ->
      s"""$enrichedCte, flags AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
         |  FROM e GROUP BY user_id
         |), tot AS (
         |  SELECT COUNT(*) AS n_all, SUM(v) AS n_v,
         |    SUM(CASE WHEN v = 1 AND c = 1 THEN 1 ELSE 0 END) AS n_vc,
         |    SUM(CASE WHEN v = 1 AND c = 1 AND p = 1 THEN 1 ELSE 0 END) AS n_vcp
         |  FROM flags
         |)
         |SELECT CAST(1 AS BIGINT) AS stage_no, 'all_users' AS stage,
         |  CAST(n_all AS BIGINT) AS users, CAST(NULL AS DOUBLE) AS pct_of_prev FROM tot
         |UNION ALL SELECT 2, 'viewed', CAST(n_v AS BIGINT), n_v * 100.0 / n_all FROM tot
         |UNION ALL SELECT 3, 'viewed_clicked', CAST(n_vc AS BIGINT), n_vc * 100.0 / n_v FROM tot
         |UNION ALL SELECT 4, 'full_funnel', CAST(n_vcp AS BIGINT), n_vcp * 100.0 / n_vc FROM tot
         |ORDER BY stage_no""".stripMargin,

    "q_pivot" ->
      s"""$enrichedCte
         |SELECT event_type,
         |  COUNT(CASE WHEN ab_grp = 'control' THEN 1 END) AS control,
         |  COUNT(CASE WHEN ab_grp = 'treatment' THEN 1 END) AS treatment,
         |  COUNT(CASE WHEN ab_grp = 'treatment' THEN 1 END) * 1.0
         |    / COUNT(CASE WHEN ab_grp = 'control' THEN 1 END) AS t_over_c
         |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_cond_distinct" ->
      s"""$enrichedCte
         |SELECT strftime(d, '%Y-%m-%d') AS date_s,
         |  COUNT(DISTINCT user_id) AS active_users,
         |  COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS buyers,
         |  COUNT(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS signups
         |FROM e GROUP BY d ORDER BY date_s""".stripMargin,

    "q_having" ->
      s"""$enrichedCte
         |SELECT user_id, COUNT(*) AS n, COUNT(DISTINCT d) AS active_days
         |FROM e GROUP BY user_id HAVING COUNT(*) >= 70
         |ORDER BY user_id""".stripMargin,

    "q_collect_list" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  array_to_string(list_sort(list(DISTINCT source)), ', ') AS sources,
        |  CAST(MIN(n_chars) AS VARCHAR) || '~' || CAST(MAX(n_chars) AS VARCHAR) AS chars_range
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_lift" ->
      s"""$enrichedCte, stats AS (
         |  SELECT user_segment, ab_grp, COUNT(DISTINCT user_id) AS users,
         |    COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS buyers
         |  FROM e GROUP BY user_segment, ab_grp
         |  HAVING COUNT(DISTINCT user_id) >= 2
         |), rated AS (SELECT *, buyers * 1.0 / users AS rate FROM stats)
         |SELECT t.user_segment AS user_segment, t.rate AS t_rate, c.rate AS c_rate,
         |  ABS(t.rate - c.rate) * 100.0 AS abs_diff_pct,
         |  (t.rate - c.rate) * 100.0 / NULLIF(c.rate, 0.0) AS lift_pct,
         |  CASE WHEN t.rate > c.rate THEN 'treatment'
         |    WHEN c.rate > t.rate THEN 'control' ELSE 'tie' END AS winner
         |FROM rated t JOIN rated c ON t.user_segment = c.user_segment
         |WHERE t.ab_grp = 'treatment' AND c.ab_grp = 'control'
         |ORDER BY user_segment""".stripMargin,

    "q_scalar_subquery" ->
      s"""$enrichedCte
         |SELECT event_type, COUNT(*) AS n,
         |  (SELECT COUNT(*) FROM e) AS total,
         |  COUNT(*) * 100.0 / (SELECT COUNT(*) FROM e) AS share_pct
         |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_left_join_aggs" ->
      s"""$enrichedCte, purchases AS (
         |  SELECT d, COUNT(*) AS purchases,
         |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS purchase_rev
         |  FROM e WHERE event_type = 'purchase' GROUP BY d
         |), big_signups AS (
         |  SELECT d, COUNT(*) AS big_signups
         |  FROM e WHERE event_type = 'signup' AND value > 180.0 GROUP BY d
         |)
         |SELECT strftime(p.d, '%Y-%m-%d') AS date_s, p.purchases, p.purchase_rev,
         |  b.big_signups, COALESCE(b.big_signups, 0) AS big_signups_filled
         |FROM purchases p LEFT JOIN big_signups b ON p.d = b.d
         |ORDER BY date_s""".stripMargin,

    "q_topn_per_group" ->
      s"""$enrichedCte, daily AS (
         |  SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY event_type, d
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY cnt DESC, d ASC) AS rnk FROM daily
         |)
         |SELECT event_type, CAST(rnk AS BIGINT) AS rnk,
         |  strftime(d, '%Y-%m-%d') AS date_s, cnt
         |FROM ranked WHERE rnk <= 3
         |ORDER BY event_type, rnk""".stripMargin,

    "q_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
        |  event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS users
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    // DuckDB has a native ASOF JOIN — the ideal oracle for the windowed
    // composition: same match rule (greatest purchase ts <= event ts per
    // user), with equal-ts purchases pre-deduped to the max event_id so
    // both engines resolve ties identically (ASOF alone picks an
    // arbitrary row among equal-ts matches).
    "q_asof_join" ->
      """WITH m0 AS (
        |  SELECT user_id, ts, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, ts
        |                       ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT user_id AS mu, ts AS mts, event_id AS m_event_id,
        |    value AS m_value
        |  FROM m0 WHERE rn = 1
        |)
        |SELECT l.event_id, l.event_type, l.user_id,
        |  epoch_us(CAST(l.ts AS TIMESTAMP)) AS ts_us,
        |  m.m_event_id AS purchase_event_id,
        |  epoch_us(CAST(m.mts AS TIMESTAMP)) AS purchase_ts_us,
        |  m.m_value AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') l
        |ASOF LEFT JOIN m ON l.user_id = m.mu AND l.ts >= m.mts
        |ORDER BY l.event_id""".stripMargin,

    // DuckDB plans the containment predicate as its native IEJoin — an
    // independent range-join implementation checking the bucketed
    // composition. Window bounds computed in epoch-µs on both engines.
    "q_range_join" ->
      """WITH w AS (
        |  SELECT event_id AS window_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS lo_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS hi_us
        |  FROM events WHERE event_type = 'purchase'
        |), p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |  FROM events WHERE event_type <> 'purchase'
        |)
        |SELECT w.window_id, w.lo_us,
        |  COUNT(p.ts_us) AS n_events,
        |  COUNT(DISTINCT p.user_id) AS n_users,
        |  COALESCE(CAST(SUM(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE), 0.0)
        |    AS sum_value
        |FROM w LEFT JOIN p ON p.ts_us >= w.lo_us AND p.ts_us < w.hi_us
        |GROUP BY 1, 2
        |ORDER BY window_id""".stripMargin,

    "q_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_zorder_value" -> {
      // the 16-bit Morton interleave, spelled out in DuckDB bit ops
      val zTerms = (0 until 16).map(i =>
        s"(((na >> $i) & 1) << ${2 * i}) | (((nb >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH x AS (
         |  SELECT event_id,
         |    CAST(user_id % 256 AS BIGINT) AS a,
         |    CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 256
         |      AS BIGINT) AS b
         |  FROM events
         |), n AS (
         |  SELECT event_id, a, b,
         |    CAST(floor((a * 65535) / 255.0) AS BIGINT) AS na,
         |    CAST(floor((b * 65535) / 255.0) AS BIGINT) AS nb
         |  FROM x
         |)
         |SELECT event_id, a, b, ($zTerms) AS z
         |FROM n ORDER BY event_id""".stripMargin
    },

    "q_zorder3_value" -> {
      // the 3-dim 16-bit Morton interleave: bit i of dim j at 3i + j
      val zTerms = (0 until 16).map(i =>
        s"(((na >> $i) & 1) << ${3 * i}) | (((nb >> $i) & 1) << ${3 * i + 1})" +
          s" | (((nc >> $i) & 1) << ${3 * i + 2})")
        .mkString(" | ")
      s"""WITH x AS (
         |  SELECT event_id,
         |    CAST(user_id % 256 AS BIGINT) AS a,
         |    CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 256
         |      AS BIGINT) AS b,
         |    CAST(event_id % 256 AS BIGINT) AS c
         |  FROM events
         |), n AS (
         |  SELECT event_id, a, b, c,
         |    CAST(floor((a * 65535) / 255.0) AS BIGINT) AS na,
         |    CAST(floor((b * 65535) / 255.0) AS BIGINT) AS nb,
         |    CAST(floor((c * 65535) / 255.0) AS BIGINT) AS nc
         |  FROM x
         |)
         |SELECT event_id, a, b, c, ($zTerms) AS z
         |FROM n ORDER BY event_id""".stripMargin
    },

    // full rebuild — the incremental splice must converge to exactly this
    "q_incr_rollup" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
        |  event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY event_date, event_type""".stripMargin,

    // DuckDB's CUBE + multi-arg GROUPING() use the same bit order as
    // Spark's grouping_id (first listed column = most significant bit).
    "q_cube" ->
      s"""$enrichedCte
         |SELECT COALESCE(user_segment, 'ALL') AS segment,
         |  COALESCE(ab_grp, 'ALL') AS ab_group,
         |  CAST(GROUPING(user_segment, ab_grp) AS BIGINT) AS gid,
         |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
         |FROM e
         |GROUP BY CUBE (user_segment, ab_grp)
         |ORDER BY gid, segment, ab_group""".stripMargin,

    // DuckDB's native GROUPING SETS + GROUPING() mirror the Spark
    // Expand plan level-for-level.
    "q_grouping_sets" ->
      s"""$enrichedCte
         |SELECT strftime(d, '%Y-%m-%d') AS date_s,
         |  CASE WHEN GROUPING(user_segment) = 0 THEN 'USER_SEGMENT'
         |    WHEN GROUPING(cooking_style) = 0 THEN 'COOKING_STYLE'
         |    WHEN GROUPING(ab_grp) = 0 THEN 'AB_TEST_GROUP'
         |    ELSE 'TOTAL' END AS segment_type,
         |  COALESCE(CASE WHEN GROUPING(user_segment) = 0 THEN user_segment
         |    WHEN GROUPING(cooking_style) = 0 THEN cooking_style
         |    WHEN GROUPING(ab_grp) = 0 THEN ab_grp END, 'ALL') AS segment_value,
         |  COUNT(DISTINCT user_id) AS dau, COUNT(*) AS n_events
         |FROM e
         |GROUP BY GROUPING SETS ((d), (d, user_segment),
         |  (d, cooking_style), (d, ab_grp))
         |ORDER BY date_s, segment_type, segment_value""".stripMargin,

    // Every event lands in exactly the 4 slide-grid windows
    // [grid(ts) - k*15min, +1h) for k in 0..3 — same epoch-aligned grid
    // Spark's window() uses.
    "q_sliding_window" ->
      """WITH p AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id FROM events
        |), x AS (
        |  SELECT (us // 900000000) * 900000000
        |      - CAST(k AS BIGINT) * 900000000 AS ws_us,
        |    user_id
        |  FROM p CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k)
        |)
        |SELECT ws_us, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM x GROUP BY 1 ORDER BY ws_us""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90,
        |  quantile_cont(value, 0.99) AS p99,
        |  MIN(value) AS v_min, MAX(value) AS v_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_rolling_7d" ->
      s"""$enrichedCte, daily AS (
         |  SELECT user_segment, d, COUNT(*) AS n_events
         |  FROM e GROUP BY user_segment, d
         |)
         |SELECT user_segment, strftime(d, '%Y-%m-%d') AS date_s, n_events,
         |  CAST(SUM(n_events) OVER (PARTITION BY user_segment
         |    ORDER BY CAST(d - DATE '1970-01-01' AS BIGINT)
         |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
         |FROM daily ORDER BY user_segment, date_s""".stripMargin,

    "q_retention" ->
      s"""$enrichedCte, fs AS (
         |  SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id
         |), act AS (
         |  SELECT e.user_id, fs.cohort_d,
         |    CAST(e.d - fs.cohort_d AS BIGINT) AS day_offset
         |  FROM e JOIN fs ON e.user_id = fs.user_id
         |  WHERE e.d - fs.cohort_d <= 7
         |), cs AS (
         |  SELECT cohort_d, COUNT(DISTINCT user_id) AS cohort_n
         |  FROM fs GROUP BY cohort_d
         |), ra AS (
         |  SELECT cohort_d, day_offset, COUNT(DISTINCT user_id) AS active_n
         |  FROM act GROUP BY cohort_d, day_offset
         |)
         |SELECT strftime(ra.cohort_d, '%Y-%m-%d') AS cohort_date,
         |  ra.day_offset, ra.active_n, cs.cohort_n,
         |  ra.active_n * 1.0 / cs.cohort_n AS retention
         |FROM ra JOIN cs ON ra.cohort_d = cs.cohort_d
         |ORDER BY cohort_date, ra.day_offset""".stripMargin,

    "q_approx_percentiles" ->
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.99) AS p99,
        |  approx_quantile(value, 0.5)
        |    BETWEEN quantile_cont(value, 0.45) AND quantile_cont(value, 0.55)
        |    AS a50_in_band,
        |  approx_quantile(value, 0.99)
        |    BETWEEN quantile_cont(value, 0.90) AND MAX(value) AS a99_in_band
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_dau" ->
      s"""$enrichedCte
         |SELECT strftime(d, '%Y-%m-%d') AS date_s,
         |  COUNT(DISTINCT user_id) AS exact_dau,
         |  abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id)) * 1.0
         |    / COUNT(DISTINCT user_id) <= 0.05 AS sketch_within_5pct
         |FROM e GROUP BY d ORDER BY date_s""".stripMargin,

    "q_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
        |         - CAST(floor(epoch(date_trunc('second', lag(ts) OVER w))) AS BIGINT) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM marked
        |)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  CAST(floor(epoch(date_trunc('second', MAX(ts)))) AS BIGINT)
        |    - CAST(floor(epoch(date_trunc('second', MIN(ts)))) AS BIGINT) AS duration_sec,
        |  COUNT(DISTINCT event_type) AS n_event_types
        |FROM numbered
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // Strict-gap (>= 1800s splits), microsecond-precision twin of the
    // native session_window semantics; equal-ts events merge under any
    // order, so ts alone is a sufficient window order.
    "q_session_window" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP))
        |         - epoch_us(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id, epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS session_start_us,
        |  COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_event_types
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "q_latest" ->
      """SELECT event_id, event_type, user_id,
        |  CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS ts_unix
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin,

    "q_rank_family" ->
      """WITH ranked AS (
        |  SELECT event_type, value, event_id,
        |    CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd,
        |    first_value(value) OVER w AS fv
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |)
        |SELECT event_type, decile, COUNT(*) AS n,
        |  CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_v,
        |  CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_v,
        |  MAX(pr) AS max_pr, MAX(cd) AS max_cd,
        |  CAST(MIN(CAST(fv AS DECIMAL(18,4))) AS DOUBLE) AS type_min_v
        |FROM ranked GROUP BY event_type, decile
        |ORDER BY event_type, decile""".stripMargin,

    "q_ordered_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), c AS (
        |  SELECT e.user_id, MIN(e.ts) AS c_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |    AND e.ts <= v.v_ts + INTERVAL 24 HOUR
        |  GROUP BY e.user_id
        |), p AS (
        |  SELECT e.user_id, MIN(e.ts) AS p_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |    AND e.ts <= c.c_ts + INTERVAL 24 HOUR
        |  GROUP BY e.user_id
        |)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_click_after_view,
        |  (SELECT COUNT(*) FROM p) AS n_purchase_after_click,
        |  (SELECT COUNT(*) FROM c) * 100.0 / (SELECT COUNT(*) FROM v)
        |    AS view_to_click_pct,
        |  (SELECT COUNT(*) FROM p) * 100.0 / (SELECT COUNT(*) FROM c)
        |    AS click_to_purchase_pct""".stripMargin,

    // Same sweep: boundary deltas keep the START day's partition (a
    // presence interval crossing midnight stays in its opening day's
    // sweep), ties share the RANGE-frame cumulative on both engines.
    "q_peak_concurrency" ->
      """WITH deltas AS (
        |  SELECT CAST(ts AS DATE) AS d, ts AS t, CAST(1 AS BIGINT) AS delta
        |  FROM events
        |  UNION ALL
        |  SELECT CAST(ts AS DATE) AS d, ts + INTERVAL 5 MINUTE AS t,
        |    CAST(-1 AS BIGINT) AS delta
        |  FROM events
        |), swept AS (
        |  SELECT d, SUM(delta) OVER (PARTITION BY d ORDER BY t, delta) AS open_now
        |  FROM deltas
        |)
        |SELECT strftime(d, '%Y-%m-%d') AS date_s,
        |  CAST(MAX(open_now) AS BIGINT) AS peak_concurrent, COUNT(*) AS n_boundaries
        |FROM swept GROUP BY d ORDER BY date_s""".stripMargin,

    // The scaled twin must produce byte-identical output — same oracle.
    "q_peak_concurrency_scaled" ->
      """WITH deltas AS (
        |  SELECT CAST(ts AS DATE) AS d, ts AS t, CAST(1 AS BIGINT) AS delta
        |  FROM events
        |  UNION ALL
        |  SELECT CAST(ts AS DATE) AS d, ts + INTERVAL 5 MINUTE AS t,
        |    CAST(-1 AS BIGINT) AS delta
        |  FROM events
        |), swept AS (
        |  SELECT d, SUM(delta) OVER (PARTITION BY d ORDER BY t, delta) AS open_now
        |  FROM deltas
        |)
        |SELECT strftime(d, '%Y-%m-%d') AS date_s,
        |  CAST(MAX(open_now) AS BIGINT) AS peak_concurrent, COUNT(*) AS n_boundaries
        |FROM swept GROUP BY d ORDER BY date_s""".stripMargin,

    // Moments as exact decimal/bigint sums, ONE cast to double each,
    // then the same double-expression tree as the Spark side.
    "q_stats_moments" ->
      """WITH m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(x * x) AS DOUBLE) AS sx2,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(y * y) AS DOUBLE) AS sy2,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy
        |  FROM (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS x,
        |          user_id % 100 AS y FROM events)
        |  GROUP BY event_type
        |)
        |SELECT event_type, n,
        |  sx / n AS mean_v,
        |  sqrt((sx2 - sx * sx / n) / (n - 1)) AS stddev_v,
        |  (sxy - sx * sy / n) / (n - 1) AS covar_vy,
        |  (n * sxy - sx * sy)
        |    / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS corr_vy
        |FROM m ORDER BY event_type""".stripMargin,

    "q_histogram" ->
      """SELECT event_type, CAST(floor(value / 50.0) AS INTEGER) AS bucket,
        |  CAST(CAST(floor(value / 50.0) AS INTEGER) * 50 AS DOUBLE) AS lo,
        |  CAST((CAST(floor(value / 50.0) AS INTEGER) + 1) * 50 AS DOUBLE) AS hi,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2, 3, 4 ORDER BY event_type, bucket""".stripMargin,

    "q_event_bigrams" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS prev_event
        |  FROM events
        |)
        |SELECT prev_event, event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM seq WHERE prev_event IS NOT NULL
        |GROUP BY prev_event, event_type
        |ORDER BY prev_event, event_type""".stripMargin
  )
}

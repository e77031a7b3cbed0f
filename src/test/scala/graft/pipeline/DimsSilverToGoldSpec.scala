package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Dim builds + fact build invariants (SURVEY.md §5 operational checks:
  * SK uniqueness, SCD-1 recency, join success, no-fanout).
  */
class DimsSilverToGoldSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Minimal silver-shaped frame for dim/fact tests. */
  private def silver(): DataFrame = Seq(
    // (event_id, event_name, user_id, anon, session, kst, page_name, page_url, seg, style, grp, recipe, action)
    ("e1", "search_recipe", "u1", "a1", "s1", ts("2025-09-15 10:00:00"), "search", "https://r/s", "power", "korean", "t", Some(1L), Some("dur:45")),
    ("e2", "click_recipe", "u1", "a1", "s1", ts("2025-09-15 11:00:00"), "detail", "https://r/d", "casual", "korean", "t", Some(2L), Some("cl")),
    ("e3", "auth_success", "u2", "a2", "s2", ts("2025-09-15 09:00:00"), null, "https://r/x", "new", "vegan", "c", None, None),
    ("e4", "view_page", "u3", "a3", "s3", ts("2025-09-15 08:00:00"), null, null, "new", "baking", "c", Some(99L), Some("badformat"))
  ).toDF("event_id", "event_name", "user_id", "anonymous_id", "session_id",
    "kst_timestamp", "page_name", "page_url", "user_segment", "cooking_style",
    "ab_test_group", "prop_recipe_id", "prop_action")

  /** `d`'s full build over `rows`. */
  private def full(d: Dims.Dim, rows: DataFrame): DataFrame = d.build(d.members(rows))

  test("SCD-1 dim_user keeps the latest row per user, SKs dense & unique") {
    val du = full(Dims.User, silver())
    assert(du.count() == 3)
    // u1's latest event (e2, 11:00) carries segment 'casual'
    assert(du.where($"user_id" === "u1").select("user_segment").head().getString(0) == "casual")
    val sks = du.select("user_sk").as[Long].collect().sorted
    assert(sks.sameElements(Array(1L, 2L, 3L)))
  }

  test("dim upsert: existing SKs preserved, new users continue from high-water mark") {
    val s = silver()
    val existing = full(Dims.User, s.where($"user_id" === "u1"))
    val appended = Dims.User.upsert(Dims.User.members(s), existing)
    assert(appended.count() == 2) // u2, u3 are new
    val newSks = appended.select("user_sk").as[Long].collect().sorted
    assert(newSks.forall(_ > 1L) && newSks.distinct.length == 2)
    // re-running the upsert with the updated dim adds nothing (idempotent)
    val dimAfter = existing.unionByName(appended)
    assert(Dims.User.upsert(Dims.User.members(s), dimAfter).count() == 0)
  }

  test("dim_user upsert is null-safe: null anonymous_id never re-inserts") {
    val s = Seq(
      ("e1", "u1", null.asInstanceOf[String], "power", "korean", "t",
        ts("2025-09-15 10:00:00")))
      .toDF("event_id", "user_id", "anonymous_id", "user_segment",
        "cooking_style", "ab_test_group", "kst_timestamp")
    val existing = full(Dims.User, s)
    assert(existing.count() == 1)
    // plain-equality anti-join would treat ('u1', null) as new forever
    assert(Dims.User.upsert(Dims.User.members(s), existing).count() == 0)
  }

  test("latest-per-user plans no aggregate: one row per user is already distinct") {
    val plan = Dims.latestPerUser(silver()).queryExecution.optimizedPlan
    val aggregates = plan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggregates.isEmpty, s"latestPerUser plans an aggregate:\n$plan")
  }

  test("dim_time spine: hourly grain, correct weekend flags") {
    val dt = Dims.dimTime(spark, "2025-09-13 00:00:00", "2025-09-15 23:00:00")
    assert(dt.count() == 72)
    assert(dt.where($"is_weekend").count() == 48) // Sat 13th + Sun 14th
    assert(dt.select("time_dim_key").distinct().count() == 72)
  }

  /** The fact build's dims over [[silver]]: (user, recipe, event, page);
    * dim_user lacks u3.
    */
  private def dims(s: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    full(Dims.User, s.where($"user_id".isin("u1", "u2"))),
    s.where($"prop_recipe_id".isNotNull)
      .select($"prop_recipe_id".cast("string").as("recipe_id")).distinct()
      .withColumn("recipe_sk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("recipe_id")).cast("long")),
    full(Dims.Event, s), full(Dims.Page, s))

  test("fact build: no fanout, SK-0 defaults on misses, metric expressions") {
    val s = silver()
    val (du, dr, de, dp) = dims(s)
    val fact = SilverToGold.buildFact(s,
      Map(Dims.User -> du, Dims.Recipe -> dr, Dims.Event -> de, Dims.Page -> dp)).cache()

    assert(fact.count() == 4) // left joins on unique dim keys never fan out
    // u3 not in dim_user → SK 0
    assert(fact.where($"event_id" === "e4").select("user_dim_key").head().getLong(0) == 0L)
    // e4 has both page fields null → guard false → page SK 0
    assert(fact.where($"event_id" === "e4").select("page_dim_key").head().getLong(0) == 0L)
    // e3 has null page_name but non-null url → coalesce join succeeds
    assert(fact.where($"event_id" === "e3").select("page_dim_key").head().getLong(0) != 0L)
    // engagement chain + conversion set + session seconds
    def one(id: String, c: String) = fact.where($"event_id" === id).select(c).head()
    assert(one("e3", "engagement_score").getDouble(0) == 10.0)
    assert(one("e1", "engagement_score").getDouble(0) == 5.0)
    assert(one("e3", "is_conversion").getBoolean(0))
    assert(!one("e1", "is_conversion").getBoolean(0))
    assert(one("e1", "session_duration_seconds").getLong(0) == 45L)
    assert(one("e2", "session_duration_seconds").getLong(0) == 60L) // "cl" → default
    assert(one("e4", "session_duration_seconds").getLong(0) == 60L) // "badformat" → default
  }

  test("A3 join success: gold's report counts joins, appended keys and SK-0 rows") {
    val s = silver()
    val wh = tmpDir("a3")
    val (du, dr, de, dp) = dims(s)
    Seq("dim_user" -> du, "dim_recipe" -> dr, "dim_event" -> de, "dim_page" -> dp)
      .foreach { case (n, d) => d.write.parquet(s"$wh/$n") }
    val r = new graft.runner.MicroBatch(spark, "", wh)
      .goldFromSilverBatch(s, Seq((2025, 9, 15)))
    assert(r.fact == 4L)
    // rows that joined the stored dims: u3 is the one user dim_user lacks
    assert(r.fact - r.dimMissed("dim_user") == 3L)
    assert(r.fact - r.dimMissed("dim_event") == 4L)
    // the tick appends u3 before it writes the fact, so only rows with no
    // key keep SK 0: e3 has no recipe, e4 neither page field
    assert(r.dimAppended("dim_user") == 1L)
    assert(r.skZero == Map("dim_user" -> 0L, "dim_event" -> 0L,
      "dim_recipe" -> 1L, "dim_page" -> 1L))
  }

  test("refreshAttributes: null-safe keys, master wins incl. genuine nulls, schema widens") {
    val dim = Seq(
      (1L, "u1", Some("a1"), Some("stale")),
      (2L, "u2", None, Some("frozen")), // null anonymous_id must still refresh
      (3L, "u3", Some("a3"), None)      // appended row, attrs pending backfill
    ).toDF("user_sk", "user_id", "anonymous_id", "seg")
    val master = Seq(
      ("u1", Some("a1"), None, Some("extra1")), // matched, genuinely-null seg WINS
      ("u2", None, Some("fresh"), None),        // matched via null-safe key
      ("u9", Some("a9"), Some("x"), None)       // master key absent from dim: ignored
    ).toDF("user_id", "anonymous_id", "seg", "bonus")

    val out = Dims.refreshAttributes(dim, master, Seq("user_id", "anonymous_id"))
      .orderBy("user_sk")
    assert(out.columns.toSeq == Seq("user_sk", "user_id", "anonymous_id", "seg", "bonus"))
    val rows = out.collect()
    assert(rows.length == 3) // one row out per row in; absent master keys add nothing
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // SKs untouched
    assert(rows(0).isNullAt(3) && rows(0).getString(4) == "extra1") // master's null won
    assert(rows(1).getString(3) == "fresh") // null-keyed row refreshed
    assert(rows(2).isNullAt(3) && rows(2).isNullAt(4)) // unmatched keeps existing
  }
}

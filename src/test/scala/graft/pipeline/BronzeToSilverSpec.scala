package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bronze→Silver parse semantics on hand-written raw events: the
  * double-nested JSON parse, KST wall-clock derivation, dedup, and
  * malformed-input behavior (reference fixtures: bronze_to_silver_iceberg
  * .py:121-193).
  */
class BronzeToSilverSpec extends SparkSpec {
  import spark.implicits._

  private def rawEvent(eventId: String,
                       ts: String = "2025-09-15T14:30:05.123+09:00",
                       name: String = "search_recipe",
                       context: String =
                         """{\"page\":{\"name\":\"search\",\"url\":\"https://r/s\",\"path\":\"/s\"},""" +
                           """\"user_segment\":\"power\",\"cooking_style\":\"korean\",""" +
                           """\"ab_test\":{\"scenario\":\"sc1\",\"group\":\"treatment\"}}""",
                       props: String =
                         """{\"recipe_id\":\"123\",\"action\":\"dur:45\",\"result_count\":7}"""): String =
    s"""{"event_id":"$eventId","event_name":"$name","user_id":"u1","anonymous_id":"a1",""" +
      s""""session_id":"s1","timestamp":"$ts","context":"$context","event_properties":"$props"}"""

  private def toBronze(lines: Seq[String]) =
    StagingToBronze.enrich(lines.toDF("value"), "test.jsonl", "2025-09-15")

  test("double-nested parse extracts envelope, context, and properties") {
    val silver = BronzeToSilver.transform(toBronze(Seq(rawEvent("e1")))).collect()(0)
    assert(silver.getAs[String]("event_id") == "e1")
    assert(silver.getAs[String]("page_name") == "search")
    assert(silver.getAs[String]("user_segment") == "power")
    assert(silver.getAs[String]("ab_test_group") == "treatment")
    assert(silver.getAs[Long]("prop_recipe_id") == 123L)
    assert(silver.getAs[Int]("prop_result_count") == 7)
  }

  test("ads numeric properties round-trip the double-from_json parse") {
    // personalization_score is the envelope's one DOUBLE property
    // (create_event_logs.py:307-312) — it must survive double → JSON
    // string → double bit-exactly, and absent keys must parse to null
    val withAds = rawEvent("a1", props =
      """{\"position\":\"sidebar\",\"personalization_score\":0.73}""")
    val withoutAds = rawEvent("a2")
    val silver = BronzeToSilver.transform(toBronze(Seq(withAds, withoutAds)))
      .select("event_id", "prop_ad_position", "prop_personalization_score")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(silver("a1").getString(1) == "sidebar")
    assert(silver("a1").getDouble(2) == 0.73)
    assert(silver("a2").isNullAt(1) && silver("a2").isNullAt(2))
  }

  test("KST wall-clock semantics under a UTC session") {
    // 14:30 KST on 2025-09-15 = 05:30 UTC; all derived components must be KST
    val silver = BronzeToSilver.transform(toBronze(Seq(rawEvent("e1")))).collect()(0)
    assert(silver.getAs[java.sql.Date]("date").toString == "2025-09-15")
    assert(silver.getAs[Int]("hour") == 14)
    assert(silver.getAs[String]("day_of_week") == "Mon")
    val kst = silver.getAs[java.sql.Timestamp]("kst_timestamp")
    val utc = silver.getAs[java.sql.Timestamp]("utc_timestamp")
    assert(kst.getTime - utc.getTime == 9L * 3600 * 1000)
    // the UTC instant is the raw timestamp minus the +09:00 offset
    assert(utc.toInstant.toString == "2025-09-15T05:30:05.123Z")
  }

  test("dropDuplicates(event_id) keeps exactly one row per event") {
    val lines = Seq(rawEvent("e1"), rawEvent("e1"), rawEvent("e2"), rawEvent("e2"), rawEvent("e3"))
    val silver = BronzeToSilver.transform(toBronze(lines))
    assert(silver.count() == 3)
    assert(silver.select("event_id").distinct().count() == 3)
    // reference SLO shape: integrity = deduped/raw (README.md:138)
    val integrity = silver.count().toDouble / lines.size
    assert(integrity == 0.6)
  }

  test("malformed JSON yields null fields, never a crash") {
    val lines = Seq(rawEvent("good"), "not json at all", """{"event_id":"half"""")
    val silver = BronzeToSilver.parse(toBronze(lines))
    assert(silver.count() == 3)
    val bad = silver.where(col("event_id").isNull)
    assert(bad.count() == 2)
    assert(silver.where(col("event_id") === "good").count() == 1)
  }

  test("a bulk pass reports lines, parse failures and silver rows") {
    val lines = Seq(rawEvent("e1"), rawEvent("e1"), rawEvent("e2"), "garbage")
    val r = graft.runner.Bulk.run(spark, lines.toDF("value"), tmpDir("parse_quality"),
      "2025-09-15")
    assert(r.bronze == 4L)
    assert(r.unparseable == 1L)
    // e1 and e2: the unparseable line is counted, never written
    assert(r.silver == 2L)
  }

  test("null/absent nested payloads project as nulls") {
    val e = s"""{"event_id":"e9","event_name":"view_page","user_id":"u2",""" +
      s""""anonymous_id":"a2","session_id":"s2","timestamp":"2025-09-15T01:00:00.000+09:00"}"""
    val row = BronzeToSilver.transform(toBronze(Seq(e))).collect()(0)
    assert(row.getAs[String]("page_name") == null)
    assert(row.getAs[Any]("prop_recipe_id") == null)
    assert(row.getAs[String]("user_segment") == null)
  }
}

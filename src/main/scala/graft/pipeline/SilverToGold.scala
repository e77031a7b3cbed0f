package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Silver → Gold fact build: the 4 left joins (J1–J4) with their distinct
  * null-handling variants, plus the metric expressions (engagement-score
  * when-chain, conversion isin, session seconds via split).
  *
  * Reference semantics: silver_to_gold_processor.py:237-383.
  *
  * Scale notes: all four dims are small relative to the fact stream
  * (README.md:268-275 — 15..17,520 rows at reference scale; ≤ millions at
  * 100 TB), so each join is pinned to a broadcast hash join — the silver
  * stream is never shuffled. A missed join yields SK 0 via coalesce, so
  * the fact row count always equals the silver row count (left joins on
  * unique dim keys never fan out).
  */
object SilverToGold {

  val ConversionEvents = Seq("auth_success", "click_bookmark", "create_comment")

  /** Engagement-score lookup chain (silver_to_gold_processor.py:285-292). */
  def engagementScore(eventName: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(eventName === "auth_success", 10.0)
      .when(eventName === "create_comment", 9.0)
      .when(eventName === "click_bookmark", 8.0)
      .when(eventName === "click_recipe", 7.0)
      .when(eventName === "search_recipe", 5.0)
      .when(eventName === "view_recipe", 4.0)
      .when(eventName === "view_page", 2.0)
      .otherwise(1.0)

  /** Session seconds: `prop_action` is "verb:seconds"; element 2 of the
    * split when present, else 60 (silver_to_gold_processor.py:278-280).
    */
  def sessionSeconds(propAction: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(propAction.isNotNull && (size(split(propAction, ":")) >= 2),
      coalesce(split(propAction, ":").getItem(1).cast("bigint"), lit(60L)))
      .otherwise(60L)

  /** One of the fact's dim joins (J1–J4, declared with their dims in
    * [[Dims]]): the dim's SK and natural key, and the condition over a
    * silver row's and a dim row's columns.
    */
  final case class DimJoin(sk: String, naturals: Seq[String],
                           on: (String => Column, String => Column) => Column) {
    def matched(n: String): String = s"__${sk}_$n"

    /** `rows` left-joined (broadcast) to `dim`, adding the SK as `as`
      * (null where the join missed) and the matched naturals as
      * [[matched]] columns.
      */
    def leftJoin(rows: DataFrame, dim: DataFrame, as: String = sk): DataFrame = {
      val d = dim.select(col(sk).as(as) +: naturals.map(n => col(n).as(matched(n))): _*)
      rows.join(broadcast(d), on(rows(_), n => d(matched(n))), "left")
    }
  }

  /** Pure transform: silver + the catalog's four dims (`dim` gives each
    * one's rows) → fact rows.
    */
  def buildFact(silver: DataFrame, dim: Dims.Dim => DataFrame): DataFrame =
    factOf(Dims.All.foldLeft(silver)((rows, d) => d.join.leftJoin(rows, dim(d))))

  /** Fact rows from silver rows carrying the four SKs (a null is SK 0). */
  def factOf(joined: DataFrame): DataFrame =
    joined.select(
      col("event_id"),
      coalesce(col(Dims.User.join.sk), lit(0L)).as("user_dim_key"),
      date_format(col("kst_timestamp"), "yyyyMMddHH").cast("bigint").as("time_dim_key"),
      coalesce(col(Dims.Recipe.join.sk), lit(0L)).as("recipe_dim_key"),
      coalesce(col(Dims.Page.join.sk), lit(0L)).as("page_dim_key"),
      coalesce(col(Dims.Event.join.sk), lit(0L)).as("event_dim_key"),
      lit(1).as("event_count"),
      sessionSeconds(col("prop_action")).as("session_duration_seconds"),
      lit(30L).as("page_view_duration_seconds"),
      col("event_name").isin(ConversionEvents: _*).as("is_conversion"),
      lit(1.0).as("conversion_value"),
      engagementScore(col("event_name")).as("engagement_score"),
      col("session_id"),
      col("anonymous_id"),
      col("kst_timestamp").as("created_at"),
      col("kst_timestamp").as("updated_at"))

  /** A3 — join success (silver_to_gold_processor.py:299-310), as metrics
    * a fact write observes: per dim, the fact rows left at SK 0 (no key,
    * or a key the dim lacked).
    */
  val SkZero: Seq[Column] = Seq("user", "recipe", "page", "event").map(d =>
    count(when(col(s"${d}_dim_key") === 0L, 1)).as(s"dim_$d"))
}

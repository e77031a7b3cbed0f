package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Registry gates for the stateful streaming operators (VERDICT r9 #5):
  * StreamDedup / Sessionize / StreamTopK were ScalaTest-pinned but never
  * touched the driver's hash gate. Each entry here drains a deterministic
  * fixture (derived from the sf tables) through the REAL Structured
  * Streaming path — AvailableNow drains, parquet sinks, checkpoints,
  * event-time watermarks — reads the sink back, and outputs a frame the
  * DuckDB oracle recomputes relationally. The q_incr_rollup pattern,
  * extended to streaming state.
  *
  * Determinism notes (what makes an exact hash possible):
  *  - stream_dedup: duplicates are staged byte-identical, so ANY
  *    representative is the same row; the 90-day watermark delay exceeds
  *    the fixture's 30-day span, so no state eviction can re-admit a
  *    duplicate mid-drain.
  *  - sessionize: sealed-session output equals the batch gaps-and-islands
  *    sessionization for ANY admissible arrival order (Sessionize.scala's
  *    seal-on-watermark contract); two far-future sentinel drains push
  *    the watermark past every real session's seal point, exactly the
  *    SessionizeSpec pattern. Fixture timestamps are second-truncated on
  *    both sides so ms-vs-µs rounding can't shift a gap comparison.
  *  - stream_topk: Misra-Gries sketch CONTENTS are arrival-order-
  *    dependent, so the anchors are the order-INDEPENDENT guarantees
  *    (capture above n/(K+1), bounded underestimation, ≤K counters) as
  *    in-query contract booleans the oracle pins TRUE, plus the exact
  *    per-lang token totals as the hash anchor.
  *
  * Like the q_gold_* entries, each drained sink is memoized per
  * (session, sfDir) ([[DirMemo]]) — the registry functions may be invoked
  * repeatedly (bench double-runs, PlanSpec sweeps) and the drain is the
  * expensive, already-side-effect-idempotent part.
  */
object StreamingParity {

  /** Events fixture columns shared by dedup and sessionize. */
  private def eventsFixture(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("event_id").cast("long").as("event_id"),
        date_trunc("second", col("ts")).cast("timestamp").as("ts"),
        col("user_id").cast("long").as("user_id"),
        col("event_type").cast("string").as("event_type"),
        col("value").cast("double").as("value"))

  /** Sentinel users live far outside the real user_id range (≤ thousands
    * at every sf); their watermark-pushing events are excluded from output.
    */
  private val SentinelUser = 900000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Watermarked streaming dedup under the hash gate: the fixture is the
    // events table staged TWICE byte-identical (the at-least-once
    // redelivery regime), drained through dropDuplicatesWithinWatermark
    // into a parquet sink. Exactly one row per event_id must survive —
    // the oracle is simply the events table (event_id is unique there;
    // doubled input + broken dedup = doubled rows = row-count FAIL).
    "q_stream_dedup_parity" -> { (s, dir) =>
      val base = DirMemo(s, dir, "sdedup") { b =>
        val ev = eventsFixture(s, dir)
        ev.write.mode("append").parquet(s"$b/src")
        ev.write.mode("append").parquet(s"$b/src")
        graft.streaming.StreamDedup.run(s, s"$b/src", s"$b/out", s"$b/ckpt",
          watermarkDelay = "90 days")
      }
      s.read.parquet(s"$base/out")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_s"))
        .orderBy(col("event_id"))
    },

    // Stateful streaming sessionization under the hash gate: the full
    // events table drained through flatMapGroupsWithState (30-min gap,
    // 1-h watermark delay), then two far-future sentinel drains seal
    // every real session (watermark advances at batch END; timeouts fire
    // on the NEXT batch — the SessionizeSpec cadence). The oracle is the
    // batch gaps-and-islands sessionization over the same second-
    // truncated timestamps.
    "q_stream_sessionize_parity" -> { (s, dir) =>
      val base = DirMemo(s, dir, "ssess") { b =>
        val src = s"$b/src"
        val ev = eventsFixture(s, dir).select(col("user_id"), col("ts"), col("event_type"))
        ev.write.mode("append").parquet(src)
        graft.streaming.Sessionize.run(s, src, s"$b/out", s"$b/ckpt")
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        def sentinel(plusDays: Int, uid: Long): Unit =
          s.range(1).select(lit(uid).as("user_id"),
              (lit(maxTs) + expr(s"INTERVAL $plusDays DAYS")).cast("timestamp").as("ts"),
              lit("sentinel").as("event_type"))
            .write.mode("append").parquet(src)
        sentinel(30, SentinelUser)
        graft.streaming.Sessionize.run(s, src, s"$b/out", s"$b/ckpt")
        sentinel(60, SentinelUser + 1)
        graft.streaming.Sessionize.run(s, src, s"$b/out", s"$b/ckpt")
      }
      s.read.parquet(s"$base/out")
        .where(col("user_id") < SentinelUser)
        .select(col("user_id"),
          unix_timestamp(col("start_ts")).as("start_s"),
          unix_timestamp(col("end_ts")).as("end_s"),
          col("n_events"), col("duration_sec"))
        .orderBy(col("user_id"), col("start_s"))
    },

    // Watermarked stream-stream interval join under the hash gate: the
    // click/purchase events drained through the REAL two-sided stateful
    // join (both sides buffered in state, time-range condition deriving
    // the per-side state watermarks). One AvailableNow drain of the
    // static fixture = one micro-batch, so every qualifying pair is
    // admissible and the emitted match set equals the batch interval
    // join exactly — which is what the oracle recomputes.
    "q_stream_join_parity" -> { (s, dir) =>
      val base = DirMemo(s, dir, "sjoin") { b =>
        eventsFixture(s, dir)
          .where(col("event_type").isin("click", "purchase"))
          .write.mode("append").parquet(s"$b/src")
        graft.streaming.StreamJoin.run(s, s"$b/src", s"$b/out", s"$b/ckpt")
      }
      s.read.parquet(s"$base/out")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          unix_timestamp(col("click_ts")).as("click_s"),
          unix_timestamp(col("purchase_ts")).as("purchase_s"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    },

    // Continuous per-lang heavy hitters under the hash gate: documents
    // drained through the flatMapGroupsWithState Misra-Gries sketch, the
    // final sketch per lang checked against the order-independent MG
    // guarantees computed relationally IN-QUERY: (a) every token with
    // true count > n/(K+1) is in the sketch, (b) every estimate is in
    // [true − n/(K+1), true], (c) ≤ K counters per lang, (d) the
    // sketch's running total equals the true token count. Hash anchors:
    // per-lang token totals and heavy-token counts; the oracle pins the
    // booleans TRUE.
    "q_stream_topk_parity" -> { (s, dir) =>
      val base = DirMemo(s, dir, "stopk") { b =>
        load(s, dir, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("text"), col("lang"))
          .write.mode("append").parquet(s"$b/src")
        graft.streaming.StreamTopK.run(s, s"$b/src", s"$b/out", s"$b/ckpt")
      }
      val k = graft.streaming.StreamTopK.K
      val sketch = graft.streaming.StreamTopK.finalSketch(s, s"$base/out")
      val toks = s.read.parquet(s"$base/src")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
      val truth = toks.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val tot = truth.groupBy(col("lang")).agg(sum(col("cnt")).as("n_tok"))
      val sk = sketch.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_counters"), max(col("n_seen")).as("sk_seen"))
      truth.join(tot, Seq("lang"))
        .join(sketch.select(col("lang"), col("tok"), col("est")),
          Seq("lang", "tok"), "left")
        .groupBy(col("lang"))
        .agg(
          max(col("n_tok")).as("n_tok"),
          sum(when(col("cnt") * (k + 1) > col("n_tok"), 1L).otherwise(0L))
            .as("n_heavy"),
          sum(when(col("cnt") * (k + 1) > col("n_tok") && col("est").isNull,
            1L).otherwise(0L)).as("missed_heavy"),
          sum(when(col("est").isNotNull &&
            (col("est") > col("cnt") ||
              col("est").cast("double") <
                col("cnt").cast("double") - col("n_tok").cast("double") / (k + 1)),
            1L).otherwise(0L)).as("bound_viol"))
        .join(sk, Seq("lang"))
        .select(col("lang"), col("n_tok"), col("n_heavy"),
          (col("missed_heavy") === 0L).as("heavy_ok"),
          (col("bound_viol") === 0L).as("bounds_ok"),
          (col("n_counters") <= k).as("sketch_size_ok"),
          (col("sk_seen") === col("n_tok")).as("n_seen_ok"))
        .orderBy(col("lang"))
    },

    // Stream-STATIC dim enrichment + watermarked daily windows under the
    // hash gate (the fifth canonical streaming shape; the quartet covers
    // dedup / FMGWS sessionize / stream-stream join / FMGWS top-k). The
    // static per-user dim (cohort + event count) is built batch-side and
    // persisted; the stream inner-joins it (stateless — only the window
    // aggregate holds state) and appends each (day, cohort) rollup once
    // the watermark closes the window. Two far-future sentinel drains
    // close every real window — the sentinel user is absent from the
    // dim, so its rows advance the watermark but the inner join drops
    // them before aggregation (never in the sink). Oracle: the same dim
    // + join + date_trunc('day') rollup, relationally.
    "q_stream_enrich_parity" -> { (s, dir) =>
      val base = DirMemo(s, dir, "senrich") { b =>
        val ev = eventsFixture(s, dir)
        ev.write.mode("append").parquet(s"$b/src")
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("u_events"))
          .withColumn("cohort", pmod(col("user_id"), lit(7L)))
          .write.mode("overwrite").parquet(s"$b/dim")
        val dim = s.read.parquet(s"$b/dim")
        def drain(): Unit = graft.streaming.StreamEnrich.run(
          s, s"$b/src", dim, s"$b/out", s"$b/ckpt")
        drain()
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        def sentinel(plusDays: Int): Unit =
          s.range(1).select(lit(-1L).as("event_id"),
              (lit(maxTs) + expr(s"INTERVAL $plusDays DAYS"))
                .cast("timestamp").as("ts"),
              lit(SentinelUser).as("user_id"),
              lit("sentinel").as("event_type"), lit(0.0).as("value"))
            .write.mode("append").parquet(s"$b/src")
        sentinel(30); drain()
        sentinel(60); drain()
      }
      s.read.parquet(s"$base/out")
        .select(unix_timestamp(col("day_start")).as("day_s"), col("cohort"),
          col("n_events"), col("sum_u_events"))
        .orderBy(col("day_s"), col("cohort"))
    },

    // Arbitrary-stateful timeout-emission gate (VERDICT r11 #5): per-user
    // activity bursts (45-min inactivity gap) whose sealed record carries
    // cumulative STATE — exact decimal-snapped value total in 1e-4 units
    // and the (ts, event_id)-argmax last event type. After the single
    // real-data drain nothing is sealed (the watermark trails the data);
    // every output row of the two sentinel drains is produced on the
    // `state.hasTimedOut` branch, and the state evicts via
    // `state.remove()` — the FMGWS emission path the other gates never
    // drive. Oracle: batch gaps-and-islands with the same gap, payload
    // recomputed relationally.
    "q_stream_state_parity" -> { (s, dir) =>
      val base = DirMemo(s, dir, "sstate") { b =>
        val ev = eventsFixture(s, dir).select(
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          (col("value").cast("decimal(18,4)") * 10000).cast("long").as("value_q"))
        ev.write.mode("append").parquet(s"$b/src")
        def drain(): Unit =
          graft.streaming.StreamState.run(s, s"$b/src", s"$b/out", s"$b/ckpt")
        drain()
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        def sentinel(plusDays: Int, uid: Long): Unit =
          s.range(1).select(lit(uid).as("user_id"),
              (lit(maxTs) + expr(s"INTERVAL $plusDays DAYS"))
                .cast("timestamp").as("ts"),
              lit("sentinel").as("event_type"), lit(-1L).as("event_id"),
              lit(0L).as("value_q"))
            .write.mode("append").parquet(s"$b/src")
        sentinel(30, SentinelUser); drain()
        sentinel(60, SentinelUser + 1); drain()
      }
      s.read.parquet(s"$base/out")
        .where(col("user_id") < SentinelUser)
        .select(col("user_id"),
          unix_timestamp(col("start_ts")).as("start_s"),
          unix_timestamp(col("end_ts")).as("end_s"),
          col("n_events"), col("value_q"), col("last_event_type"))
        .orderBy(col("user_id"), col("start_s"))
    })

  val oracles: Map[String, String] = Map(
    // Dedup of a byte-identical doubled staging = the events table itself
    // (event_id is unique in the fixture tables).
    "q_stream_dedup_parity" ->
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |  CAST(user_id AS BIGINT) AS user_id,
        |  event_type,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s
        |FROM events ORDER BY event_id""".stripMargin,

    // Batch gaps-and-islands sessionization: a new session starts when
    // the same-user gap exceeds 30 minutes (the engine's `t <= last +
    // gap` join rule = `diff > 1800` split rule on sorted events).
    "q_stream_sessionize_parity" ->
      """WITH ev AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
        |  FROM events
        |), d AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t)
        |), g AS (
        |  SELECT user_id, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d
        |)
        |SELECT user_id,
        |  MIN(t) AS start_s, MAX(t) AS end_s,
        |  COUNT(*) AS n_events,
        |  MAX(t) - MIN(t) AS duration_sec
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_s""".stripMargin,

    // The batch interval join over the same second-truncated fixture.
    "q_stream_join_parity" ->
      """WITH ev AS (
        |  SELECT CAST(event_id AS BIGINT) AS event_id,
        |    date_trunc('second', ts) AS ts,
        |    CAST(user_id AS BIGINT) AS user_id, event_type
        |  FROM events
        |), c AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM ev WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
        |  FROM ev WHERE event_type = 'purchase'
        |)
        |SELECT c.user_id AS user_id, click_id, purchase_id,
        |  CAST(epoch(click_ts) AS BIGINT) AS click_s,
        |  CAST(epoch(purchase_ts) AS BIGINT) AS purchase_s
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND purchase_ts >= click_ts
        |  AND purchase_ts <= click_ts + INTERVAL 30 MINUTE
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,

    // Exact per-lang token totals + heavy-token counts; the MG-guarantee
    // booleans are engine-side contracts the oracle pins TRUE.
    "q_stream_topk_parity" ->
      """WITH toks AS (
        |  SELECT lang, t AS tok FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE length(t) > 0
        |), truth AS (
        |  SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY lang, tok
        |), tot AS (
        |  SELECT lang, SUM(cnt) AS n_tok FROM truth GROUP BY lang
        |)
        |SELECT t.lang AS lang, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(COUNT(CASE WHEN cnt * 17 > n_tok THEN 1 END) AS BIGINT) AS n_heavy,
        |  TRUE AS heavy_ok, TRUE AS bounds_ok,
        |  TRUE AS sketch_size_ok, TRUE AS n_seen_ok
        |FROM truth t JOIN tot USING (lang)
        |GROUP BY t.lang, n_tok ORDER BY lang""".stripMargin,

    // The same per-user dim + inner join + daily rollup, relationally
    // (second-truncated fixture; day windows align to UTC epoch days on
    // both engines).
    "q_stream_enrich_parity" ->
      """WITH ev AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    date_trunc('second', ts) AS ts
        |  FROM events
        |), dim AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS u_events,
        |    user_id % 7 AS cohort
        |  FROM ev GROUP BY user_id
        |)
        |SELECT CAST(epoch(date_trunc('day', ev.ts)) AS BIGINT) AS day_s,
        |  dim.cohort AS cohort, COUNT(*) AS n_events,
        |  CAST(SUM(dim.u_events) AS BIGINT) AS sum_u_events
        |FROM ev JOIN dim ON ev.user_id = dim.user_id
        |GROUP BY 1, 2 ORDER BY day_s, cohort""".stripMargin,

    // Batch gaps-and-islands with the 45-min burst gap; value total from
    // the same per-row decimal(18,4) snap, last event type via the
    // (t, event_id)-ordered window (event_id is unique, so the order is
    // total and the argmax deterministic on both engines).
    "q_stream_state_parity" ->
      """WITH ev AS (
        |  SELECT CAST(user_id AS BIGINT) AS user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
        |    CAST(event_id AS BIGINT) AS event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS value_q
        |  FROM events
        |), d AS (
        |  SELECT *, CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 2700
        |         THEN 1 ELSE 0 END AS new_b
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |), g AS (
        |  SELECT *, SUM(new_b) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bid
        |  FROM d
        |), lt AS (
        |  SELECT *, last_value(event_type) OVER (
        |    PARTITION BY user_id, bid ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
        |  FROM g
        |)
        |SELECT user_id, MIN(t) AS start_s, MAX(t) AS end_s,
        |  COUNT(*) AS n_events, CAST(SUM(value_q) AS BIGINT) AS value_q,
        |  MAX(last_type) AS last_event_type
        |FROM lt GROUP BY user_id, bid
        |ORDER BY user_id, start_s""".stripMargin)
}

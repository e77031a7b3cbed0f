package graft.queries

import java.sql.Timestamp

import graft.SparkSpec

/** Temporal operators on hand-built `events` tables with edge inputs the
  * generated testdata lacks.
  */
class TemporalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("q_resample_ffill: an all-null hour fills from the last non-null value, as the oracle does") {
    val dir = tmpDir("ffill_nulls")
    def at(h: Int) = Timestamp.valueOf(f"2025-09-15 $h%02d:10:00")
    // user 1: hour 0 only null, 1 = 5.0, 2 no event, 3 only null,
    // 4 = max(7.0, null); user 2 has only null values
    Seq[(Long, Timestamp, Long, Option[Double])](
      (1L, at(0), 1L, None), (2L, at(1), 1L, Some(5.0)), (3L, at(3), 1L, None),
      (4L, at(4), 1L, Some(7.0)), (5L, at(4), 1L, None),
      (6L, at(10), 2L, None), (7L, at(12), 2L, None))
      .toDF("event_id", "ts", "user_id", "value")
      .write.parquet(s"$dir/events.parquet")

    val got = TemporalOps.queries("q_resample_ffill")(spark, dir)
      .as[(Long, Long, Option[Double], Boolean)].collect().toSeq
    val h0 = at(0).toInstant.getEpochSecond / 3600 * 3600
    def hr(h: Int) = h0 + h * 3600L
    // DuckDB's last_value(h.v IGNORE NULLS), filled = h.v IS NULL
    assert(got == Seq(
      (1L, hr(0), None, true), (1L, hr(1), Some(5.0), false), (1L, hr(2), Some(5.0), true),
      (1L, hr(3), Some(5.0), true), (1L, hr(4), Some(7.0), false),
      (2L, hr(10), None, true), (2L, hr(11), None, true), (2L, hr(12), None, true)))
  }
}

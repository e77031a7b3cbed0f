package graft.runner

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one way main code materializes a frame for reuse: an eager
  * `localCheckpoint`, which runs the plan once, keeps the rows in
  * executor memory and re-roots every later read on them (a `LogicalRDD`
  * leaf that keeps the plan's output partitioning). Anything a caller
  * needs to know about the pinned rows — a count, an emptiness probe, a
  * key set — is a `Dataset.observe` metric of the pinning job itself, so
  * it costs no job of its own. No other main file calls
  * `localCheckpoint` (PinSpec checks this).
  */
object Pin {
  /** `df`, materialized. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `df`, materialized, with the values of `metrics` over its rows,
    * aggregated in the same job.
    */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) =
    if (metrics.isEmpty) (apply(df), Map.empty)
    else {
      val obs = Observation()
      val pinned = apply(df.observe(obs, metrics.head, metrics.tail: _*))
      (pinned, obs.get)
    }
}

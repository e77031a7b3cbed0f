package graft.runner

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The one way main code materializes a frame for reuse: an eager
  * `localCheckpoint`, which runs the plan once, keeps the rows in
  * executor memory and re-roots every later read on them (a `LogicalRDD`
  * leaf that keeps the plan's output partitioning). Anything a caller
  * needs to know about the pinned rows — a count, an emptiness probe, a
  * key set — is a `Dataset.observe` metric of the pinning job itself, so
  * it costs no job of its own; a write's counts are metrics of the
  * writing job ([[observing]]). No other main file calls
  * `localCheckpoint` (PinSpec checks this).
  */
object Pin {
  /** A row count, as a metric (`n`). */
  val Rows: Column = count(lit(1)).as("n")

  /** `df`, materialized. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `df`, materialized, with the values of `metrics` over its rows,
    * aggregated in the same job.
    */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) =
    if (metrics.isEmpty) (apply(df), Map.empty)
    else observing(df, metrics: _*)(apply)

  /** `df`, materialized, with its row count observed in the same job. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (pinned, m) = observed(df, Rows)
    (pinned, m("n").asInstanceOf[Long])
  }

  /** Runs `action` over `df` — a write of it, or a pin of a frame built
    * on it — and returns its result with the values of `metrics` over
    * `df`'s rows, aggregated in the job the action runs. The action must
    * run `df`'s plan (the values are those of the first run).
    */
  def observing[T](df: DataFrame, metrics: Column*)(action: DataFrame => T): (T, Map[String, Any]) = {
    val obs = Observation()
    val r = action(df.observe(obs, metrics.head, metrics.tail: _*))
    (r, obs.get)
  }
}

package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.functions.HeavyHitters

/** Continuous per-group heavy hitters — the streaming twin of the
  * `heavy_hitters` Misra-Gries aggregate: a per-group sketch of ≤ k
  * counters lives in `flatMapGroupsWithState` state, every micro-batch
  * folds its tokens in, and the group's full current sketch is emitted
  * after each batch (stamped with the group's running item total, so
  * the latest emission per group is identifiable downstream).
  *
  * Scale contract: state is O(k) per group FOREVER — no watermark is
  * needed because the sketch, not eviction, bounds memory; that is what
  * makes a continuous 100-TB vocabulary monitor feasible where exact
  * streaming counts (state = one row per distinct token) are not. The
  * Misra-Gries guarantees (capture above N/(k+1), under-estimation,
  * bounded error) hold for ANY arrival order and any batch split — the
  * sketch is the same fold the batch aggregate runs, so StreamTopKSpec
  * pins the identical invariants across drains.
  */
object StreamTopK {

  case class Tok(lang: String, tok: String)
  case class Hit(lang: String, tok: String, est: Long, n_seen: Long)
  /** Persisted sketch: counters plus the group's item total. */
  case class Sketch(counts: Map[String, Long], nSeen: Long)

  val K = 16

  private def updateState(lang: String, toks: Iterator[Tok],
                          state: GroupState[Sketch]): Iterator[Hit] = {
    val prev = state.getOption.getOrElse(Sketch(Map.empty, 0L))
    val buf = new HeavyHitters.Buffer(mutable.HashMap.from(prev.counts))
    var n = prev.nSeen
    toks.foreach { t => buf.addOne(t.tok, K); n += 1 }
    state.update(Sketch(buf.counts.toMap, n))
    val total = n
    buf.counts.iterator.map { case (tok, est) => Hit(lang, tok, est, total) }
  }

  /** One AvailableNow drain of the parquet document stream at `docsDir`:
    * tokens grouped by lang through the stateful sketch, each batch's
    * emissions appended to `outDir`. Rows with the max n_seen per lang
    * are the final sketch.
    */
  def run(spark: SparkSession, docsDir: String, outDir: String,
          ckptDir: String): Unit = {
    import spark.implicits._
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING")
      .parquet(docsDir)
    val toks = docs
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
      .as[Tok]
    val hits = toks.groupByKey(_.lang)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(updateState)
    val q = hits.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The final sketch per lang: the emission rows carrying each lang's
    * maximum n_seen.
    */
  def finalSketch(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val all = spark.read.parquet(outDir)
    val last = all.groupBy($"lang").agg(max($"n_seen").as("n_seen"))
    all.join(last, Seq("lang", "n_seen"))
  }
}

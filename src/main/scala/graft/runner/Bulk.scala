package graft.runner

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._

/** EP2 — bulk backfill (bulk_runner.py:86-110): whole-corpus rebuild in
  * one pass — staging→bronze→silver (full re-partition by true event
  * date), all dims overwritten, full fact rebuild.
  *
  * Used by [[graft.Bench]] as the end-to-end medallion benchmark: the
  * reference's published envelope is a ~1M-event bulk pass on a single
  * node in minutes (BASELINE.md).
  */
object Bulk {

  /** Full medallion pass from raw JSON lines. Writes partitioned parquet
    * into `warehouse` and reports the rows each layer wrote, each counted
    * by its writing job (on a fresh warehouse, the table sizes), with the
    * parse failures, each dim's rows and the fact rows left at SK 0.
    *
    * `recipeMasterPath`: parquet master file for dim_recipe
    * (create_dims.py:107-135 reads it from S3). When absent, a
    * deterministic fixture master is generated from the silver's recipe
    * ids first — either way dim_recipe is built by READING a master
    * parquet, the reference's actual path.
    */
  def run(spark: SparkSession, rawLines: DataFrame, warehouse: String,
          ingestionDate: String,
          recipeMasterPath: Option[String] = None,
          tableSuffix: String = "",
          seedBlooms: Boolean = false): RunReport = {
    // each stage below ends in its writes, so the split is an honest
    // decomposition a slow run can be diagnosed from (staging parse +
    // bronze write vs silver shuffle vs dim builds vs fact join)
    val stage = new StageTimer
    val sfx = tableSuffix
    def written(df: DataFrame, metrics: Column*)(write: DataFrame => Unit): Map[String, Long] =
      RunReport.counts(Pin.observing(df, metrics: _*)(write)._2)

    val bronzeN = stage("bronze") {
      written(StagingToBronze.enrich(rawLines, "bulk.jsonl", ingestionDate), Pin.Rows)(
        Warehouse.writeBronze(_, s"$warehouse/bronze_events$sfx",
          batchId = ingestionDate.replace("-", "") + "0000"))("n")
    }

    val (silverN, parseM) = stage("silver") {
      // dedup FUSED into the clustering exchange: the parsed silver is
      // shuffled ONCE by (year, month, day, salt(event_id)) — byte-
      // identical redeliveries co-locate there — instead of once for
      // dropDuplicates(event_id) and again for the clustered write
      // (guide §2.4; plan went 2 Exchange → 1 over the full silver).
      Pin.observing(BronzeToSilver.parse(Warehouse.read(spark, s"$warehouse/bronze_events$sfx")),
        BronzeToSilver.Unparseable)(
        Warehouse.writeSilverDedupClustered(_, s"$warehouse/user_events_silver$sfx"))
    }

    // NOT cached: this is a parquet read-back, and the five consumers
    // below each prune to a handful of columns (only the fact build reads
    // wide). A deserialized cache of the full silver (~1M rows at the
    // bulk-bench scale, 10⁸+ in production) pins row objects in the heap
    // while 32 executor threads work — at the pinned 8g default that was
    // a 1.9× GC-thrash regression (BENCH_r05 medallion_e2e_1m 92→177 s);
    // pruned columnar re-scans are cheaper than the cache at every scale.
    val silverAll = Warehouse.read(spark, s"$warehouse/user_events_silver$sfx")
    // dim_recipe's members come from its master (create_dims.py:107-135),
    // the other dims' from silver
    def members(d: Dims.Dim): DataFrame =
      if (d ne Dims.Recipe) d.members(silverAll)
      else Dims.recipeMasterAttrs(spark.read.parquet(recipeMasterPath.getOrElse {
        val p = s"$warehouse/recipe_master$sfx.parquet"
        Dims.writeRecipeMasterFixture(silverAll.select(col("prop_recipe_id").as("recipe_id")), p)
        p
      }))
    val dims = stage("dims") {
      // The four dim builds are independent multi-action chains (scans of
      // pruned silver columns, sort + zipWithIndex passes, a master-
      // fixture write + read-back, four dim writes); build AND write them
      // concurrently so one build's task tail back-fills cores another
      // leaves idle (guide §2.6) — serially this stage was pure
      // round-trip latency stacked end to end.
      Par.all(Dims.All.map(d => () => d.name ->
        written(d.build(members(d)), Pin.Rows)(Warehouse.writeDim(_, d.path(warehouse, sfx)))("n")): _*)
        .toMap
    }

    val fact = stage("fact") {
      written(SilverToGold.buildFact(silverAll, d => Warehouse.read(spark, d.path(warehouse, sfx))),
        Pin.Rows +: SilverToGold.SkZero: _*)(
        Warehouse.writeFactClustered(_, s"$warehouse/fact_user_events$sfx"))
    }

    // Optionally seed the micro-batch anti-join bloom sidecars (one
    // aggregate pass per sink; `trusted` because a full rebuild, by
    // definition, covers every row of the partitions it wrote). A bulk
    // load that skips this stays correct — later ticks fall back to the
    // exact anti-join on the uncovered partitions and new date partitions
    // become covered as ticks create them ([[BloomSidecar]]).
    if (seedBlooms) {
      new BloomSidecar(spark, s"$warehouse/user_events_silver$sfx").addBatch(
        silverAll.select(concat(lit("year="), col("year"), lit("/month="),
          col("month"), lit("/day="), col("day")).as("part"), col("event_id")),
        trusted = true)
      new BloomSidecar(spark, s"$warehouse/fact_user_events$sfx").addBatch(
        Warehouse.read(spark, s"$warehouse/fact_user_events$sfx")
          .select(concat(lit("created_date="), col("created_date")).as("part"),
            col("event_id")),
        trusted = true)
    }

    RunReport(stage.splits, bronze = bronzeN, silver = silverN, fact = fact("n"),
      unparseable = parseM("unparseable").asInstanceOf[Long],
      dimAppended = dims, skZero = fact - "n")
  }
}

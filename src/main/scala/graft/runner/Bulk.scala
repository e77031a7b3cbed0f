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
    val dims = stage("dims") {
      // The four dim builds are independent multi-action chains (scans of
      // pruned silver columns, window/zipWithIndex passes, a master-
      // fixture write + read-back, four dim writes); build AND write them
      // concurrently so one build's task tail back-fills cores another
      // leaves idle (guide §2.6) — serially this stage was pure
      // round-trip latency stacked end to end.
      def dim(name: String, df: => DataFrame): () => (String, Long) = () =>
        name -> written(df, Pin.Rows)(Warehouse.writeDim(_, s"$warehouse/$name$sfx"))("n")
      Par.all(
        // dim_user on the scalable SK path: same (user_sk, user_id)
        // mapping as the window variant, but per-partition-offset
        // assignment — a bulk user dim is the one dim that can reach
        // 10⁸ rows at 100 TB
        dim("dim_user", Dims.dimUserScalable(silverAll)),
        dim("dim_event", Dims.dimEvent(silverAll)),
        dim("dim_page", Dims.dimPage(silverAll)),
        dim("dim_recipe", {
          val masterPath = recipeMasterPath.getOrElse {
            val p = s"$warehouse/recipe_master$sfx.parquet"
            Dims.writeRecipeMasterFixture(
              silverAll.select(col("prop_recipe_id").as("recipe_id")), p)
            p
          }
          Dims.dimRecipeFromMaster(spark.read.parquet(masterPath))
        })).toMap
    }

    val fact = stage("fact") {
      written(SilverToGold.buildFact(
          silverAll,
          Warehouse.read(spark, s"$warehouse/dim_user$sfx"),
          Warehouse.read(spark, s"$warehouse/dim_recipe$sfx"),
          Warehouse.read(spark, s"$warehouse/dim_event$sfx"),
          Warehouse.read(spark, s"$warehouse/dim_page$sfx")),
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

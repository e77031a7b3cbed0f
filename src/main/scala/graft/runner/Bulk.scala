package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * into `warehouse` and returns (bronze, silver, fact) row counts.
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
          seedBlooms: Boolean = false,
          stageSink: Option[scala.collection.mutable.Buffer[(String, Double)]] = None)
      : (Long, Long, Long) = {
    // per-stage wall attribution (VERDICT r11 #3): each stage below ends
    // in a write/count ACTION, so the split is an honest decomposition a
    // slow run can be diagnosed from (staging parse+bronze write vs
    // silver shuffle vs dim builds vs fact join vs count read-backs)
    def stage[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      stageSink.foreach(_ += name -> (System.nanoTime() - t0) / 1e9)
      r
    }
    val sfx = tableSuffix
    stage("bronze") {
      val bronze = StagingToBronze.enrich(rawLines, "bulk.jsonl", ingestionDate)
      Warehouse.writeBronze(bronze, s"$warehouse/bronze_events$sfx",
        batchId = ingestionDate.replace("-", "") + "0000")
    }

    stage("silver") {
      // dedup FUSED into the clustering exchange: the parsed silver is
      // shuffled ONCE by (year, month, day, salt(event_id)) — byte-
      // identical redeliveries co-locate there — instead of once for
      // dropDuplicates(event_id) and again for the clustered write
      // (guide §2.4; plan went 2 Exchange → 1 over the full silver).
      val parsed = BronzeToSilver.parse(
        Warehouse.read(spark, s"$warehouse/bronze_events$sfx"))
      Warehouse.writeSilverDedupClustered(parsed, s"$warehouse/user_events_silver$sfx")
    }

    // NOT cached: this is a parquet read-back, and the five consumers
    // below each prune to a handful of columns (only the fact build reads
    // wide). A deserialized cache of the full silver (~1M rows at the
    // bulk-bench scale, 10⁸+ in production) pins row objects in the heap
    // while 32 executor threads work — at the pinned 8g default that was
    // a 1.9× GC-thrash regression (BENCH_r05 medallion_e2e_1m 92→177 s);
    // pruned columnar re-scans are cheaper than the cache at every scale.
    val silverAll = Warehouse.read(spark, s"$warehouse/user_events_silver$sfx")
    stage("dims") {
      // The four dim builds are independent multi-action chains (scans of
      // pruned silver columns, window/zipWithIndex passes, a master-
      // fixture write + read-back, four dim writes); build AND write them
      // concurrently so one build's task tail back-fills cores another
      // leaves idle (guide §2.6) — serially this stage was pure
      // round-trip latency stacked end to end.
      Par.all(
        // dim_user on the scalable SK path: same (user_sk, user_id)
        // mapping as the window variant, but per-partition-offset
        // assignment — a bulk user dim is the one dim that can reach
        // 10⁸ rows at 100 TB
        () => Warehouse.writeDim(Dims.dimUserScalable(silverAll),
          s"$warehouse/dim_user$sfx"),
        // bulk rebuild: the W3 fast path (monotonically_increasing_id) —
        // no global window; downstream joins only by natural key
        () => Warehouse.writeDim(
          Dims.dimFromColumnsFast(silverAll, Seq("event_name"), "event_sk"),
          s"$warehouse/dim_event$sfx"),
        () => Warehouse.writeDim(Dims.dimPage(silverAll), s"$warehouse/dim_page$sfx"),
        () => {
          val masterPath = recipeMasterPath.getOrElse {
            val p = s"$warehouse/recipe_master$sfx.parquet"
            Dims.writeRecipeMasterFixture(
              silverAll.select(col("prop_recipe_id").as("recipe_id")), p)
            p
          }
          Warehouse.writeDim(
            Dims.dimRecipeFromMaster(spark.read.parquet(masterPath)),
            s"$warehouse/dim_recipe$sfx")
        })
    }

    stage("fact") {
      val fact = SilverToGold.buildFact(
        silverAll,
        Warehouse.read(spark, s"$warehouse/dim_user$sfx"),
        Warehouse.read(spark, s"$warehouse/dim_recipe$sfx"),
        Warehouse.read(spark, s"$warehouse/dim_event$sfx"),
        Warehouse.read(spark, s"$warehouse/dim_page$sfx"))
      Warehouse.writeFactClustered(fact, s"$warehouse/fact_user_events$sfx")
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

    // three independent metadata-cheap count read-backs — concurrent for
    // the same serial-latency reason as the dims stage
    stage("counts") {
      val Seq(bronzeN, silverN, factN) = Par.all(
        () => Warehouse.read(spark, s"$warehouse/bronze_events$sfx").count(),
        () => silverAll.count(),
        () => Warehouse.read(spark, s"$warehouse/fact_user_events$sfx").count())
      (bronzeN, silverN, factN)
    }
  }
}

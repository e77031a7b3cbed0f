package graft.runner

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline._

/** EP1 — the 15-minute micro-batch loop (SURVEY.md §3):
  * interval → staging path → staging→bronze → bronze→silver →
  * dim upsert → silver→gold, in one SparkSession (the reference runs
  * three spark-submits per tick via Airflow; same data semantics, no
  * process-spawn overhead).
  *
  * Idempotency (fixes the reference's acknowledged APPEND gap,
  * README.md:190-192):
  *   - bronze is partitioned by (ingestion_date, batch_id) where batch_id
  *     is the interval stamp — dynamic partition overwrite makes a re-run
  *     replace exactly its own batch partition, no merge read needed.
  *   - silver/fact are event-time partitioned (late events land in their
  *     true partition), so several intervals share a partition; a batch
  *     anti-joins against the affected partitions' existing event_ids and
  *     APPENDS only the remainder — re-runs and redeliveries add nothing
  *     (same convergence as a merge-overwrite, but the write is O(batch),
  *     not a rewrite of the whole affected partition 96×/day).
  * The only cross-batch state is the four dims' SK high-water marks,
  * re-read from their own sinks (replay_silver_to_gold.py:239-243) —
  * all four dims (user/event/page/recipe) are persisted and upserted
  * incrementally, so SKs are stable across ticks and fact partitions
  * written at any tick remain joinable against the current dims.
  *
  * At 100 TB each tick touches only its own batch/date partitions;
  * nothing here scans or rewrites the full table.
  */
class MicroBatch(spark: SparkSession, stagingBase: String, warehouse: String,
                 tableSuffix: String = "",
                 bloomExpectedItems: Long = 1L << 20,
                 maintainRollup: Boolean = false,
                 stageSink: Option[scala.collection.mutable.Buffer[(String, Double)]] = None,
                 mediaStagingBase: Option[String] = None) {

  /** Per-stage wall attribution (VERDICT r12 #6): when a sink is
    * supplied, each named tick stage appends (name, seconds) — the bench
    * artifact then attributes a slow tick to a stage instead of one
    * opaque number. Appends accumulate across ticks/micro-batches; the
    * bench sums by name.
    */
  private def stage[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    stageSink.foreach(_ += name -> (System.nanoTime() - t0) / 1e9)
    r
  }

  val bronzePath = s"$warehouse/bronze_events$tableSuffix"
  val mediaCatalogPath = s"$warehouse/media_catalog$tableSuffix"
  val silverPath = s"$warehouse/user_events_silver$tableSuffix"
  val factPath = s"$warehouse/fact_user_events$tableSuffix"
  val rollupDailyPath = s"$warehouse/agg_daily_events$tableSuffix"
  val dimUserPath = s"$warehouse/dim_user$tableSuffix"
  val dimEventPath = s"$warehouse/dim_event$tableSuffix"
  val dimPagePath = s"$warehouse/dim_page$tableSuffix"
  val dimRecipePath = s"$warehouse/dim_recipe$tableSuffix"

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val batchFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmm")

  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    try spark.read.parquet(path)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  private val dimUserSchema = StructType(Seq(
    StructField("user_sk", LongType), StructField("user_id", StringType),
    StructField("anonymous_id", StringType), StructField("user_segment", StringType),
    StructField("cooking_style", StringType), StructField("ab_test_group", StringType)))

  private val dimEventSchema = StructType(Seq(
    StructField("event_sk", LongType), StructField("event_name", StringType)))
  private val dimPageSchema = StructType(Seq(
    StructField("page_sk", LongType), StructField("page_name", StringType),
    StructField("page_url", StringType)))
  private val dimRecipeSchema = StructType(Seq(
    StructField("recipe_sk", LongType), StructField("recipe_id", StringType)))

  /** Incremental upsert of one persisted dim: append new natural keys from
    * this batch with SKs above the stored high-water mark. Existing rows
    * are never renumbered, so fact partitions written by earlier ticks
    * remain joinable against the current dim — and no tick ever scans the
    * full silver table to rebuild a dim.
    */
  private def upsertDim(path: String, schema: StructType, idCols: Seq[String],
                        sk: String, candidates: DataFrame): DataFrame = {
    val existing = readOrEmpty(path, schema)
    // Null-fill through limit(0)-union so appended rows carry the sink's
    // FULL on-disk schema: a bulk-seeded dim can hold attribute columns
    // beyond (sk, naturals) — e.g. dim_recipe's master attributes — and a
    // narrower appended file would win parquet's single-footer schema
    // inference (mergeSchema is off) and silently drop those columns.
    // Newly observed naturals get null attributes until the next master
    // refresh ([[refreshDimRecipeFromMaster]] / [[refreshDimUserFromSilver]]
    // backfill them out-of-band without renumbering SKs). The per-tick
    // new-key set is tiny; checkpoint it so the append write and the
    // isEmpty probe don't recompute the anti-join.
    val appended = existing.limit(0)
      .unionByName(Dims.dimUpsert(candidates, existing, idCols, sk),
        allowMissingColumns = true)
      .localCheckpoint(true)
    appendOnly(path, appended)
  }

  /** Append-only dim sink (replay_silver_to_gold.py:265): write ONLY this
    * tick's new rows — never rewrite the merged dim. At a 100-TB
    * clickstream's ~10^8-row dim_user the old read-union-overwrite was a
    * full-dim rewrite 96×/day; an append touches bytes proportional to
    * the tick's new keys. Empty appends are skipped outright so a
    * no-new-keys tick leaves the sink byte-identical. Returns a fresh
    * read of the sink (the post-append dim state for the fact join) —
    * one lazy scan, same cost the join would pay anyway.
    */
  private def appendOnly(path: String, appended: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // skip empty appends (a no-new-keys tick leaves the sink untouched
    // byte-for-byte) — but always CREATE the sink on first touch, so a
    // fresh warehouse exposes every dim path after one tick even when a
    // dim saw no candidates yet (the pre-append-only contract)
    if (!appended.isEmpty || !fs.exists(p))
      appended.write.mode("append").parquet(path)
    readOrEmpty(path, appended.schema)
  }

  // `bloomExpectedItems` sizes the per-partition sidecar blooms: a
  // deployment whose day partitions run ~10^9 rows should raise it (or
  // accept the saturation fallback to the exact anti-join — see
  // [[BloomSidecar.covered]]).
  private[runner] val silverBloom =
    new BloomSidecar(spark, silverPath, bloomExpectedItems)
  private[runner] val factBloom =
    new BloomSidecar(spark, factPath, bloomExpectedItems)

  /** Anti-join `batch` against the affected partitions' existing
    * `event_id`s, via the sink's bloom sidecar when every affected
    * partition is covered: bloom-NEGATIVE rows are definitely absent and
    * skip the existing-data scan entirely; bloom-POSITIVE rows
    * (redeliveries, crash replays, false positives — normally none to a
    * handful) are exactly verified with one broadcast semi-join probe, so
    * an over-approximating bloom can cost work but never correctness. On
    * a clean tick the positive set is empty and AQE collapses the probe
    * to an empty relation — the affected day partitions are NOT read at
    * all, which is the 100-TB point (a day partition there is 10²–10³ GB;
    * the plain path re-reads its event_id column every tick). Falls back
    * to the plain anti-join when any affected partition predates the
    * sidecar ([[BloomSidecar]] coverage contract).
    */
  private[runner] def antiJoinExisting(batch: DataFrame, existingIds: => DataFrame,
                                       sidecar: BloomSidecar,
                                       partDirs: Seq[String]): DataFrame =
    if (sidecar.covered(partDirs)) {
      // native codegen'd probe (graft.functions.BloomMightContain): the
      // serialized blooms ride the expression tree to the tasks, keeping
      // the batch scan inside whole-stage codegen — no UDF boundary.
      // loadMerged collapses however many affected partitions to (at
      // best) ONE probe term — the union only over-approximates, which
      // the exact verify of positives already tolerates.
      val probe = graft.functions.BloomMightContain.any(
        col("event_id"), sidecar.loadMerged(partDirs))
      // Evaluate the probe ONCE: the flag column is pinned with the
      // batch, and the positive/negative splits plus the emptiness check
      // below are memory filters over the pinned frame. The unflagged
      // form ran the probe three times (the emptiness action, then both
      // union branches), each run paying the multi-MB serialized-bloom
      // task binary on top of the scan (guide §1.2).
      val flagged = batch.withColumn("__bloom_pos", probe).localCheckpoint(true)
      val pos = flagged.where(col("__bloom_pos")).drop("__bloom_pos")
      // the ids among the positives that are REALLY present — ⊆ pos, so
      // bounded by redeliveries + false positives; checkpointed so the
      // append and emptiness probes downstream don't re-run the scan.
      // The empty-positives short-circuit is explicit, not left to AQE's
      // empty-broadcast collapse: on a clean tick the existing
      // partitions are DETERMINISTICALLY never read — BloomSidecarSpec
      // pins that with an instrumented scan.
      val present =
        if (pos.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("event_id", StringType))))
        else existingIds
          .join(broadcast(pos.select("event_id").distinct()), Seq("event_id"), "left_semi")
          .distinct().localCheckpoint(true)
      flagged.where(!col("__bloom_pos")).drop("__bloom_pos")
        .unionByName(pos.join(broadcast(present), Seq("event_id"), "left_anti"))
    } else batch.join(existingIds, Seq("event_id"), "left_anti")

  /** Hive-style partition directory names, matching what partitionBy
    * writes (int partition values render unpadded).
    */
  private def silverPartDirs(keys: Seq[(Int, Int, Int)]): Seq[String] =
    keys.map { case (y, m, d) => s"year=$y/month=$m/day=$d" }

  private val silverPartCol =
    concat(lit("year="), col("year"), lit("/month="), col("month"),
      lit("/day="), col("day"))

  /** Static partition predicate over a batch's affected (year,month,day)
    * set — package-visible so the spec can assert a tick's silver scans
    * carry PartitionFilters built from exactly this predicate.
    */
  private[runner] def affectedFilterOf(keys: Seq[(Int, Int, Int)]): org.apache.spark.sql.Column =
    if (keys.isEmpty) lit(false)
    else keys.map { case (y, m, d) =>
      col("year") === y && col("month") === m && col("day") === d
    }.reduce(_ || _)

  /** One 15-minute tick. Returns (bronzeRows, silverRows, factRowsTotal). */
  def runInterval(start: LocalDateTime): (Long, Long, Long) = {
    val path = StagingToBronze.stagingPathFor(stagingBase, start)
    val ingestionDate = start.toLocalDate.format(dateFmt)
    val batchId = start.format(batchFmt)

    // --- mixed-media route-and-catalog, bronze-adjacent (VERDICT r14
    // #8): when a media staging base is configured, the tick also drains
    // the interval's raw media objects — one binaryFile scan, one narrow
    // routeMedia pass (≤12-byte magic sniff dispatching six container
    // parsers; corrupt payloads drop before any decoder runs) — and
    // publishes ONLY the routed metadata (kind, dims, geometry) to the
    // media catalog sink. Idempotent exactly like bronze: partitioned by
    // (ingestion_date, batch_id) with a scoped dynamic-partition
    // overwrite, so a re-run replaces its own batch partition. Payload
    // bytes never reach the catalog and never shuffle (routeMedia is a
    // single mapPartitions over the scan — the multimodal PlanSpec
    // contract), which is what lets this stage ride a 15-minute tick at
    // 100 TB of media: cost is one streamed read of the interval's
    // objects, output is O(objects) rows of metadata.
    mediaStagingBase.foreach { mb =>
      stage("media_route") {
        val dir = StagingToBronze.stagingPathFor(mb, start)
          .stripSuffix("/*.json")
        val files =
          try spark.read.format("binaryFile").load(s"$dir/*.bin")
          catch { case _: org.apache.spark.sql.AnalysisException => null }
        if (files != null) {
          val media = files.select(
            regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
              .cast("long").as("media_id"),
            col("content").as("payload"))
          val routed = Multimodal.routeMedia(media)
            .withColumn("ingestion_date", to_date(lit(ingestionDate)))
            .withColumn("batch_id", lit(batchId))
          IncrementalRollup.withDynamicPartitionOverwrite(spark) {
            routed.write.mode("overwrite")
              .partitionBy("ingestion_date", "batch_id")
              .parquet(mediaCatalogPath)
          }
        }
      }
    }

    // --- staging → bronze (S1/S2/P1/P2; S10 empty-input short-circuit —
    // the media stage above already drained, so a media-only interval
    // still publishes its catalog partition)
    val raw =
      try StagingToBronze.readStaging(spark, path)
      catch { case _: org.apache.spark.sql.AnalysisException => return (0L, 0L, 0L) }
    if (raw.isEmpty) return (0L, 0L, 0L)
    stage("bronze") {
      val bronze = StagingToBronze.enrich(raw, path, ingestionDate)
        .withColumn("batch_id", lit(batchId))
      // scoped, not leaked: the tick needs dynamic mode only for its own
      // batch-partition replace — the session's setting is restored so a
      // later full-table overwrite elsewhere stays a full overwrite
      IncrementalRollup.withDynamicPartitionOverwrite(spark) {
        bronze.write.mode("overwrite")
          .partitionBy("ingestion_date", "batch_id").parquet(bronzePath)
      }
    }

    // --- bronze → silver: read back only this batch's partition (P3)
    val bronzeBatch = spark.read.parquet(bronzePath)
      .where(col("ingestion_date") === lit(ingestionDate) && col("batch_id") === lit(batchId))

    // merge with affected event-date partitions, dedup by event_id.
    // The affected set is tiny (a 15-min batch touches 1-2 event dates),
    // so collect it and filter STATICALLY — the existing-silver scan then
    // carries PartitionFilters instead of relying on runtime DPP.
    // The parsed batch is pinned ONCE (localCheckpoint): downstream the
    // affected-keys collect, the bloom probe split, the positive-set
    // emptiness check and the append checkpoint each run an action over
    // it — unpinned, every one of those re-ran the triple from_json
    // parse + dedup shuffle of the whole batch (3-4 redundant parse
    // passes per tick; optimization guide §1.2 "don't compute things you
    // throw away"). Per-tick cardinality, same bound as silverTodo below.
    val (silverNew, affectedKeys) = stage("silver_parse") {
      val pinned = BronzeToSilver.transform(bronzeBatch).localCheckpoint(true)
      val keys = pinned.select("year", "month", "day").distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      (pinned, keys)
    }
    val affectedFilter = affectedFilterOf(affectedKeys)
    // Anti-join APPEND, not merge-overwrite: the batch (already deduped by
    // event_id in BronzeToSilver.transform) drops rows whose event_id is
    // already in the affected partitions, and appends only the remainder.
    // Convergence is identical to the old union+dropDuplicates+overwrite —
    // redeliveries and re-runs add nothing — but the write is O(batch
    // rows), not O(affected partitions): at a 100-TB clickstream a day
    // partition is ~10²-10³ GB and the old path rewrote it up to 96×/day.
    // (Small appended files are the documented Scale.compact concern.)
    stage("silver_append") {
      val silverExisting = readOrEmpty(silverPath, silverNew.schema).where(affectedFilter)
      val silverAppend = antiJoinExisting(silverNew,
          silverExisting.select("event_id"), silverBloom, silverPartDirs(affectedKeys))
        // materialize before appending to the path the anti-join reads
        .localCheckpoint(true)
      if (!silverAppend.isEmpty) {
        // sidecar BEFORE data: a crash between the two leaves a bloom that
        // over-approximates the partition — safe (see BloomSidecar)
        silverBloom.addBatch(
          silverAppend.select(silverPartCol.as("part"), col("event_id")))
        silverAppend.write.mode("append")
          .partitionBy("year", "month", "day").parquet(silverPath)
      }
    }
    // readOrEmpty: a batch whose rows ALL failed parsing appends nothing,
    // and on a fresh warehouse the sink won't exist yet
    val silverBatch = readOrEmpty(silverPath, silverNew.schema).where(affectedFilter)

    val factTotal = goldFromSilverBatch(silverBatch, affectedKeys)

    // bronzeBatch reads the partition just written — no staging re-read;
    // the two counts are independent read-backs, submitted concurrently
    stage("counts") {
      val Seq(bronzeN, silverN) =
        Par.all(() => bronzeBatch.count(), () => silverBatch.count())
      (bronzeN, silverN, factTotal)
    }
  }

  /** The gold stage for one batch of silver rows: incremental dim
    * upserts from the batch ONLY (never a full-silver rebuild — SKs are
    * append-only above each dim's persisted high-water mark, so every
    * batch's fact partitions share one stable numbering) followed by an
    * append of the batch's still-missing fact rows. Shared by the batch
    * tick ([[runInterval]]) and the Structured Streaming twin
    * (StreamingIngest.runGold's foreachBatch). Returns total fact rows
    * present for the affected dates after the append.
    */
  def goldFromSilverBatch(silverBatch: DataFrame,
                          affectedKeys: Seq[(Int, Int, Int)]): Long = {
    // The whole gold stage processes only the rows that still NEED a fact
    // row: anti-join the batch against the affected fact partitions'
    // event_ids. For a normal tick that's exactly the new rows; after a
    // mid-tick crash (silver written, gold not) the missing rows are
    // selected again and healed; a full re-run selects nothing and every
    // sink stays untouched. Dims upsert from the same todo set — a row
    // whose fact exists was processed by a completed tick, so its dim
    // keys are already present (facts are written after dims).
    val factDates = affectedKeys.map { case (y, m, d) =>
      java.sql.Date.valueOf(java.time.LocalDate.of(y, m, d)) }
    val factAffected = (df: DataFrame) =>
      df.where(if (factDates.isEmpty) lit(false)
               else col("created_date").isin(factDates.toSeq: _*))
    val factIdSchema = StructType(Seq(
      StructField("event_id", StringType), StructField("created_date", DateType)))
    // Bloom-sidecar fast path: on a covered, clean tick this never reads
    // the affected fact partitions at all — O(batch) bloom probes instead
    // of an O(day) event_id column scan ([[antiJoinExisting]]); uncovered
    // (pre-sidecar / bulk-seeded-without-blooms) partitions keep the
    // plain anti-join, identical semantics either way.
    val silverTodo = stage("gold_todo") {
      antiJoinExisting(silverBatch,
          factAffected(readOrEmpty(factPath, factIdSchema)).select("event_id"),
          factBloom, factDates.map(d => s"created_date=$d"))
        // per-tick cardinality; feeds 4 dim upserts + the fact build
        .localCheckpoint(true)
    }

    // dim_user keys on (user_id, anonymous_id) alone — attributes ride
    // along and must not fork a new SK when they change — so it keeps its
    // dedicated upsert (J5 + A4 + W2).
    // The four dim upserts are independent (distinct sinks, distinct
    // candidate columns) but each one is a CHAIN of small driver actions
    // (high-water agg, anti-join checkpoint, emptiness probe, append) —
    // run serially the tick pays every action's scheduler latency
    // end-to-end while the executors idle. Submit them concurrently
    // (guide §2.6 "overlap independent jobs"); the fact build below
    // still waits for all four (facts are written after dims).
    val Seq(dimUser, dimEvent, dimPage, dimRecipe) = stage("gold_dims") {
      Par.all(
        () => {
          val existingUser = readOrEmpty(dimUserPath, dimUserSchema)
          appendOnly(dimUserPath,
            existingUser.limit(0)
              .unionByName(Dims.dimUserUpsert(silverTodo, existingUser),
                allowMissingColumns = true)
              .localCheckpoint(true))
        },
        () => upsertDim(dimEventPath, dimEventSchema,
          Seq("event_name"), "event_sk",
          silverTodo.where(col("event_name").isNotNull).select("event_name")),
        () => upsertDim(dimPagePath, dimPageSchema,
          Seq("page_name", "page_url"), "page_sk",
          silverTodo.where(col("page_name").isNotNull || col("page_url").isNotNull)
            .select("page_name", "page_url")),
        () => upsertDim(dimRecipePath, dimRecipeSchema,
          Seq("recipe_id"), "recipe_sk",
          silverTodo.where(col("prop_recipe_id").isNotNull)
            .select(col("prop_recipe_id").cast("string").as("recipe_id"))))
    }

    // silver → gold, append-only: every todo row lacks a fact row by
    // construction, so the build's output appends directly. Existing fact
    // rows are never rebuilt — safe because dims are append-only (SK
    // mappings never change), so a rebuild would produce identical rows.
    // created_at = kst_timestamp and silver's (year,month,day) derive from
    // the same timestamp, so the affected fact dates ARE the affected
    // silver keys.
    val factNew = stage("gold_fact") {
      val built = SilverToGold
        .buildFact(silverTodo, dimUser, dimRecipe, dimEvent, dimPage)
        .withColumn("created_date", to_date(col("created_at")))
        // one execution of the dim joins for the emptiness probe + write
        .localCheckpoint(true)
      if (!built.isEmpty) {
        // sidecar BEFORE data — same over-approximation-only crash contract
        factBloom.addBatch(built.select(
          concat(lit("created_date="), col("created_date")).as("part"), col("event_id")))
        built.write.mode("append").partitionBy("created_date").parquet(factPath)
      }
      built
    }
    // Maintained gold rollup (VERDICT r9 wiring): the reference's gold
    // stage recomputes its daily aggregates every tick
    // (replay_silver_to_gold.py:448-483, full-history scans); here only
    // the tick's AFFECTED created_date partitions of the daily-KPI
    // rollup are recomputed from fact and dynamic-partition-overwritten
    // — O(affected dates) per tick, converging to exactly the table a
    // full rebuild produces (the IncrementalRollupSpec splice contract).
    if (maintainRollup && factDates.nonEmpty) stage("gold_rollup") {
      IncrementalRollup.update(spark, factPath, rollupDailyPath,
        "created_date", factDates.map(_.toString), dailyRollupAgg)
    }
    stage("gold_count") {
      factAffected(readOrEmpty(factPath, factNew.schema)).count()
    }
  }

  /** Partition-local daily KPI rollup over the fact — grouping keys
    * include the partition column (the [[IncrementalRollup]] contract:
    * a date's rollup rows depend only on that date's fact rows, which
    * is what makes splice-by-overwrite equal a full recompute). Sums
    * snap to decimal so the maintained table is bit-equal to a rebuild
    * regardless of merge order.
    */
  def dailyRollupAgg(fact: DataFrame): DataFrame =
    fact.groupBy(col("created_date"), col("event_dim_key"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_dim_key")).as("n_users"),
        sum(when(col("is_conversion"), 1L).otherwise(0L)).as("n_conversions"),
        sum(col("engagement_score").cast("decimal(18,4)"))
          .cast("double").as("sum_engagement"))

  /** Run a sequence of 15-min intervals in order (the DAG's catchup loop). */
  def runRange(start: LocalDateTime, ticks: Int): Seq[(Long, Long, Long)] =
    (0 until ticks).map(i => runInterval(start.plusMinutes(15L * i)))

  /** Highest interval stamp already present in the bronze sink (None when
    * the sink doesn't exist) — the catch-up high-water mark, recovered
    * from the sink itself rather than scheduler state (the stateless
    * pattern of replay_silver_to_gold.py:239-243). Partition-column-only
    * read; partition type inference turns the numeric stamp into a long,
    * hence the cast back.
    */
  def lastProcessedInterval(): Option[LocalDateTime] =
    try {
      val stamps = spark.read.parquet(bronzePath)
        .select(col("batch_id").cast("string")).distinct()
        .collect().map(_.getString(0))
      if (stamps.isEmpty) None
      else Some(LocalDateTime.parse(stamps.max, batchFmt))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Missed-tick recovery with the reference DAG's ordering guarantees
    * (catchup=True + max_active_runs=1, replay_september_15min_dag.py:
    * 43-56): re-run the sink's high-water interval itself, then every
    * later 15-minute interval strictly in order, up to but excluding
    * `until`. Starting AT (not after) the high-water mark matters: bronze
    * is written before silver/fact within a tick, so a crash mid-tick
    * leaves the bronze marker without the downstream writes — re-running
    * that one interval heals it, and ticks are idempotent so the re-run
    * converges when nothing was lost. A fresh warehouse seeds from
    * `default`.
    */
  def catchUp(default: LocalDateTime, until: LocalDateTime): Seq[(Long, Long, Long)] = {
    val first = lastProcessedInterval().getOrElse(default)
    val ticks = java.time.Duration.between(first, until).toMinutes / 15
    // Skip intervals with no staging files via a driver-side glob probe
    // (µs on any FS) instead of a full runInterval whose empty-read
    // short-circuit still costs a Spark read attempt — a catch-up far past
    // a bulk seed would otherwise pay tens of thousands of no-op ticks.
    // The high-water tick itself always re-runs (mid-tick crash healing).
    val hconf = spark.sparkContext.hadoopConfiguration
    def stagingExists(t: LocalDateTime): Boolean = {
      val glob = new org.apache.hadoop.fs.Path(
        StagingToBronze.stagingPathFor(stagingBase, t))
      val hits = glob.getFileSystem(hconf).globStatus(glob)
      hits != null && hits.nonEmpty
    }
    (0L until math.max(ticks, 0L)).iterator
      .map(i => (i, first.plusMinutes(15 * i)))
      .collect { case (i, t) if i == 0L || stagingExists(t) => runInterval(t) }
      .toSeq
  }

  /** Rewrite a dim sink with a refreshed frame that READS the same path:
    * stage to a sibling temp dir, then swap via FS rename — no
    * read-while-overwrite hazard and no requirement that the dim fit in
    * the block manager (the localCheckpoint alternative). The refreshed
    * dim is written as one overwrite (dims are orders of magnitude
    * smaller than facts; this is a scheduled job, not a per-tick path).
    */
  private def swapOverwrite(path: String, refreshed: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "__refresh_tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refreshed.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"refresh swap failed: $tmp -> $p")
  }

  /** Master-sync job for the append-only dim_recipe (the reference's
    * create_dims.py:107-135 gives every bulk rebuild the master's
    * attributes; incrementally-appended naturals carry nulls until this
    * runs — VERDICT r5 gap #1). Backfills/overwrites attribute columns
    * from the master parquet by natural key; SKs and row count are
    * untouched, so facts written by any earlier tick stay joinable.
    * Scheduled out-of-band (e.g. after each master export), never
    * per-tick.
    */
  def refreshDimRecipeFromMaster(masterPath: String): Unit = {
    val dim = spark.read.parquet(dimRecipePath)
    val attrs = Dims.recipeMasterAttrs(spark.read.parquet(masterPath))
    swapOverwrite(dimRecipePath,
      Dims.refreshAttributes(dim, attrs, Seq("recipe_id")))
  }

  /** SCD-1 attribute re-sync for the append-only dim_user. Incremental
    * ticks freeze a user's attributes (user_segment, cooking_style,
    * ab_test_group) at first appearance; the reference's full rebuild
    * takes the LATEST record per user every day (create_dims.py:67-74).
    * This job restores that semantics on demand: one latest-per-user pass
    * over the silver table (full scan — which is exactly what the
    * reference's daily rebuild pays), attributes overwritten by
    * (user_id, anonymous_id), SKs untouched.
    */
  def refreshDimUserFromSilver(): Unit = {
    val dim = spark.read.parquet(dimUserPath)
    val attrs = Dims.latestPerUser(spark.read.parquet(silverPath))
    swapOverwrite(dimUserPath,
      Dims.refreshAttributes(dim, attrs, Seq("user_id", "anonymous_id")))
  }

  /** Scheduled small-file compaction of the append-only event sinks —
    * the reference's `rewrite_data_files` binpack maintenance
    * (README.md:231-242: avg 3.74 MB/file before compaction there). The
    * 15-minute loop appends O(batch-partition) files per tick forever;
    * this job rewrites silver and fact so each partition holds few
    * right-sized files, and re-seeds each sink's bloom sidecar FROM THE
    * REWRITTEN ROWS — the one maintenance step allowed to rebuild blooms,
    * because a full rewrite by definition covers every row it publishes
    * (the [[BloomSidecar]] overwrite-invalidation contract; data and
    * blooms swap in together below, so no serving state ever
    * under-approximates). Rows per partition are unchanged — pure
    * re-bucketing. Run like the reference runs rewrite_data_files: on
    * the maintenance schedule, never per-tick.
    */
  def compactSinks(maxRecordsPerFile: Long = 1000000L): Unit = {
    // the two sinks are independent directories with independent
    // sidecars — overlap their rewrite chains (guide §2.6, the same Par
    // pattern as the tick's dim upserts) instead of stacking their
    // read+rewrite+bloom-seed+swap latency end to end
    Par.all(
      () => compactSink(silverPath, Seq("year", "month", "day"), silverPartCol,
        maxRecordsPerFile),
      () => compactSink(factPath, Seq("created_date"),
        concat(lit("created_date="), col("created_date")), maxRecordsPerFile))
    ()
  }

  private def compactSink(path: String, partitionCols: Seq[String],
                          partExpr: org.apache.spark.sql.Column,
                          maxRecordsPerFile: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    fs.delete(tmp, true) // debris from a crashed previous attempt
    Scale.compact(spark.read.parquet(path), tmp.toString, partitionCols,
      maxRecordsPerFile)
    // Seed the rewritten sink's sidecar while it is still private: the
    // usual bloom-BEFORE-data ordering protects a live sink mid-append;
    // here data + blooms publish atomically in the swap below, and the
    // next tick's fast path keeps working (no false negatives — the
    // blooms are built from exactly the rows being published).
    new BloomSidecar(spark, tmp.toString, bloomExpectedItems).addBatch(
      spark.read.parquet(tmp.toString)
        .select(partExpr.as("part"), col("event_id")),
      trusted = true)
    // same crash window as swapOverwrite (delete→rename): acceptable for
    // a scheduled maintenance job, not a per-tick path
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"compaction swap failed: $tmp -> $p")
  }
}

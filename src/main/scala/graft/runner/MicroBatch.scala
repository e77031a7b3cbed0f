package graft.runner

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline._

/** EP1 — the 15-minute micro-batch loop (SURVEY.md §3): staging →
  * bronze → silver → dims → fact, in one SparkSession (the reference runs
  * three spark-submits per tick via Airflow).
  *
  * Idempotency (fixes the reference's APPEND gap, README.md:190-192):
  * bronze is partitioned by (ingestion_date, batch_id), so a per-write
  * dynamic partition overwrite replaces exactly the batch's partition.
  * Silver/fact are event-time partitioned; a batch marks which of its
  * event_ids the affected partitions already hold and APPENDS only the
  * rest, so re-runs and redeliveries add nothing and the write is
  * O(batch). The only cross-batch state is the four dims' SK high-water
  * marks, re-read from their own sinks (replay_silver_to_gold.py:239-243).
  *
  * A steady-state tick on covered partitions (every affected partition
  * carries a bloom sidecar) reads only its own batch. Its action chain:
  *   1. bronze write, its row count observed on the write;
  *   2. parse + dedup pinned, the affected (year, month, day) keys and
  *      the row count observed on the pin;
  *   3. silver bloom probe pinned; only positives (redeliveries) are
  *      verified against the stored ids;
  *   4. silver bloom add + append, concurrently with gold's todo pin;
  *   5. the rest of gold ([[goldFromSilverBatch]]) on this batch's rows:
  *      no dim upsert unless a row misses a dim, and the fact append, its
  *      row count observed on the write.
  * Every read uses a schema the tick already knows, so no read runs a
  * schema-inference job; MicroBatchSpec pins the tick's job budget.
  * Each tick returns a [[RunReport]] of what those jobs observed.
  */
class MicroBatch(spark: SparkSession, stagingBase: String, warehouse: String,
                 tableSuffix: String = "",
                 maintainRollup: Boolean = false,
                 mediaStagingBase: Option[String] = None) {
  import MicroBatch._

  val bronzePath = s"$warehouse/bronze_events$tableSuffix"
  val mediaCatalogPath = s"$warehouse/media_catalog$tableSuffix"
  val silverPath = s"$warehouse/user_events_silver$tableSuffix"
  val factPath = s"$warehouse/fact_user_events$tableSuffix"
  val rollupDailyPath = s"$warehouse/agg_daily_events$tableSuffix"
  val dimUserPath = pathOf(Dims.User)
  val dimEventPath = pathOf(Dims.Event)
  val dimPagePath = pathOf(Dims.Page)
  val dimRecipePath = pathOf(Dims.Recipe)

  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val batchFmt = DateTimeFormatter.ofPattern("yyyyMMddHHmm")

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The sink at `path` read with a known schema: no schema-inference
    * job. Only a missing path reads as empty (a local relation, so joins
    * against it fold away in planning); other failures propagate.
    */
  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    if (exists(path)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.List.of[Row](), schema)

  private def pathOf(d: Dims.Dim): String = d.path(warehouse, tableSuffix)

  /** `rows` left-joined to the four dims as stored, with miss flags. */
  private def joinStoredDims(rows: DataFrame): DataFrame =
    Dims.All.foldLeft(rows) { (acc, d) =>
      d.join.leftJoin(acc, readOrEmpty(pathOf(d), d.schema)).withColumn(d.missed, d.missFlag)
        .drop(d.join.naturals.map(d.join.matched): _*)
    }

  /** Upserts the dims some `todo` row missed (`m`: the miss counts),
    * concurrently, and fills the missed SKs from the rows they appended;
    * also returns the keys appended per dim.
    */
  private def upsertMissed(todo: DataFrame, m: Map[String, Any]): (DataFrame, Map[String, Long]) = {
    // a dim whose sink does not exist yet upserts too, creating the sink
    val upserts = Dims.All.filter(d => m(d.missed) != 0L || !exists(pathOf(d)))
    val appended = Par.all(upserts.map(d => () => d -> upsertDim(d, todo)): _*)
    val rows = appended.collect { case (d, (fresh, n)) if n > 0L => d -> fresh }
      .foldLeft(todo) { case (rows, (d, fresh)) =>
        // keep a stored SK beside an appended one (only J4 matches both:
        // ("", url), (null, url)), as a join against the whole dim would
        val (sk, added) = (col(d.join.sk), col(s"__new_${d.join.sk}"))
        d.join.leftJoin(rows, fresh, s"__new_${d.join.sk}")
          .withColumn(d.join.sk, explode(when(added.isNull, array(sk))
            .when(sk.isNull, array(added)).otherwise(array(sk, added))))
          .drop(s"__new_${d.join.sk}" +: d.join.naturals.map(d.join.matched): _*)
      }
      .drop(Dims.All.map(_.missed): _*)
    (rows, appended.map { case (d, (_, n)) => d.name -> n }.toMap)
  }

  /** Append-only dim sink (replay_silver_to_gold.py:265): append the
    * missed keys the sink lacks, numbered from its high-water mark, and
    * return them pinned, with their count. SKs are never renumbered, so
    * older fact partitions stay joinable. An empty append is skipped (the
    * sink stays byte-identical) unless the sink does not exist yet.
    */
  private def upsertDim(d: Dims.Dim, rows: DataFrame): (DataFrame, Long) = {
    val (appended, n) = Pin.counted(d.upsert(d.candidates(rows), readOrEmpty(pathOf(d), d.schema)))
    if (n > 0L || !exists(pathOf(d))) {
      // Null-filled to the sink's full schema: a bulk-seeded dim_recipe
      // holds the master's attributes, and a narrower appended file could
      // win parquet's single-footer schema inference.
      // [[refreshDimRecipeFromMaster]] backfills the nulls later.
      appended.select(d.stored.map(f =>
          if (appended.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
        .write.mode("append").parquet(pathOf(d))
    }
    (appended, n)
  }

  // a day partition past the sidecar's capacity falls back to the exact
  // anti-join ([[BloomSidecar.covered]])
  private[runner] val silverBloom = new BloomSidecar(spark, silverPath)
  private[runner] val factBloom = new BloomSidecar(spark, factPath)

  /** `batch` plus a boolean [[Present]] column (is the row's event_id
    * among `existingIds`, the affected partitions' stored ids), pinned,
    * with `metrics` over the marked rows observed in the pinning job.
    *
    * On covered partitions one pinned bloom probe flags the positives;
    * only they (redeliveries, crash replays, false positives) are verified
    * against the stored ids, so a clean tick never reads the existing
    * partitions — at 100 TB a day partition is 10²–10³ GB. Uncovered
    * partitions ([[BloomSidecar]] coverage contract) take the exact mark.
    */
  private[runner] def markExisting(batch: DataFrame, existingIds: => DataFrame,
                                   sidecar: BloomSidecar, partDirs: Seq[String],
                                   metrics: Column*): (DataFrame, Map[String, Any]) = {
    // semi/anti joins against the stored ids: neither fans out, so the
    // ids need no distinct
    def mark(rows: DataFrame, stored: DataFrame): DataFrame = {
      val cols = batch.columns.map(col)
      rows.join(stored, Seq("event_id"), "left_anti").select(cols :+ lit(false).as(Present): _*)
        .unionByName(rows.join(stored, Seq("event_id"), "left_semi")
          .select(cols :+ lit(true).as(Present): _*))
    }
    if (sidecar.covered(partDirs)) {
      // native codegen'd probe over the blooms merged to one term, pinned so
      // it runs once. [[Present]] holds the bloom flag, an upper bound that
      // is exact when nothing probes positive — when `metrics` are kept.
      val probe = graft.functions.BloomMightContain.any(
        col("event_id"), sidecar.loadMerged(partDirs))
      val (flagged, m) = Pin.observed(batch.withColumn(Present, probe),
        count(when(col(Present), 1)).as("__pos") +: metrics: _*)
      if (m("__pos") == 0L) (flagged, m)
      else {
        val pos = flagged.where(col(Present)).drop(Present)
        val present = existingIds.join(broadcast(pos.select("event_id")), Seq("event_id"), "left_semi")
        Pin.observed(mark(flagged.drop(Present), broadcast(present)), metrics: _*)
      }
    } else Pin.observed(mark(batch, existingIds.join(batch.select("event_id"),
      Seq("event_id"), "left_semi")), metrics: _*)
  }

  /** Hive-style partition directory names, as partitionBy writes them. */
  private def silverPartDirs(keys: Seq[(Int, Int, Int)]): Seq[String] =
    keys.map { case (y, m, d) => s"year=$y/month=$m/day=$d" }

  private val silverPartCol =
    concat(lit("year="), col("year"), lit("/month="), col("month"),
      lit("/day="), col("day"))

  /** Static partition predicate over a batch's affected (year,month,day)
    * set — package-visible so the spec can assert a tick's silver scans
    * carry PartitionFilters built from exactly this predicate.
    */
  private[runner] def affectedFilterOf(keys: Seq[(Int, Int, Int)]): Column =
    if (keys.isEmpty) lit(false)
    else keys.map { case (y, m, d) =>
      col("year") === y && col("month") === m && col("day") === d
    }.reduce(_ || _)

  /** One 15-minute tick. Its report counts the rows it added, each by
    * the job that wrote them: bronze lines, silver rows appended, fact
    * rows appended. A fully redelivered batch adds no silver or fact row;
    * J4's double match can append more fact rows than the batch had new
    * ones.
    */
  def runInterval(start: LocalDateTime): RunReport = {
    val stage = new StageTimer
    val path = StagingToBronze.stagingPathFor(stagingBase, start)
    val ingestionDate = start.toLocalDate.format(dateFmt)
    val batchId = start.format(batchFmt)

    // --- mixed-media route-and-catalog (VERDICT r14 #8): with a media
    // staging base, the tick drains the interval's raw media objects (one
    // binaryFile scan, one narrow routeMedia pass; corrupt payloads drop
    // before any decoder) and publishes ONLY the routed metadata to the
    // catalog, partitioned and overwritten like bronze. Payload bytes
    // never reach the catalog and never shuffle (multimodal PlanSpec).
    mediaStagingBase.foreach { mb =>
      stage("media_route") {
        val dir = StagingToBronze.stagingPathFor(mb, start)
          .stripSuffix("/*.json")
        val files =
          try spark.read.format("binaryFile").load(s"$dir/*.bin")
          catch { case _: AnalysisException => null }
        if (files != null) {
          val media = files.select(
            regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
              .cast("long").as("media_id"),
            col("content").as("payload"))
          Warehouse.overwritePartitions(Multimodal.routeMedia(media)
              .withColumn("ingestion_date", to_date(lit(ingestionDate)))
              .withColumn("batch_id", lit(batchId)))
            .partitionBy("ingestion_date", "batch_id")
            .parquet(mediaCatalogPath)
        }
      }
    }

    // --- staging → bronze (S1/S2/P1/P2). The line count is observed on
    // the write itself; zero lines is the S10 empty-input short-circuit
    // (the media stage above already drained, so a media-only interval
    // still publishes its catalog partition).
    val raw =
      try StagingToBronze.readStaging(spark, path)
      catch { case _: AnalysisException => return RunReport(stage.splits) }
    val bronzeN = stage("bronze") {
      Pin.observing(StagingToBronze.enrich(raw, path, ingestionDate)
          .withColumn("batch_id", lit(batchId)), Pin.Rows)(
        Warehouse.overwritePartitions(_).partitionBy("ingestion_date", "batch_id")
          .parquet(bronzePath))._2("n").asInstanceOf[Long]
    }
    if (bronzeN == 0L) return RunReport(stage.splits)

    // --- bronze → silver: read back only this batch's partition (P3),
    // by its directory, so the read lists one partition, not the table
    val bronzeBatch = spark.read
      .schema(StructType(Schemas.bronzeSchema.filterNot(_.name == "ingestion_date")))
      .parquet(s"$bronzePath/ingestion_date=$ingestionDate/batch_id=$batchId")

    // The parsed batch is pinned ONCE; every later step reads it. The
    // affected (year, month, day) set (1-2 dates) is observed on the pin
    // and filters the stored-id reads STATICALLY (PartitionFilters); the
    // parse failures are observed below the filter that drops them.
    val ((silverNew, m), parseM) = stage("silver_parse") {
      Pin.observing(BronzeToSilver.parse(bronzeBatch), BronzeToSilver.Unparseable)(parsed =>
        Pin.observed(parsed.where(BronzeToSilver.Parsed).dropDuplicates("event_id"),
          Pin.Rows, AffectedKeys))
    }
    val (affectedKeys, parsedN) = (keysOf(m), m("n").asInstanceOf[Long])

    // Mark-then-APPEND, not merge-overwrite: same convergence as a
    // union+dropDuplicates+overwrite, but O(batch rows), not a rewrite of
    // the day partition up to 96×/day.
    val (marked, heldN) = stage("silver_append") {
      val (marked, m) = markExisting(silverNew,
        readOrEmpty(silverPath, silverNew.schema).where(affectedFilterOf(affectedKeys))
          .select("event_id"),
        silverBloom, silverPartDirs(affectedKeys), count(when(col(Present), 1)).as("held"))
      (marked, m("held").asInstanceOf[Long])
    }

    // Gold reads this batch's rows only; rows silver already held carry
    // [[Stored]] (see [[goldFromSilverBatch]]). The silver append and
    // gold's fact marking only read the pinned batch, so they overlap; the
    // fact append waits for both, so silver is still written first.
    val (_, todo) = Par.both(
      stage("silver_append") {
        if (heldN < parsedN) {
          // sidecar BEFORE data: a crash in between only over-approximates
          val append = marked.where(!col(Present)).drop(Present)
          silverBloom.addBatch(append.select(silverPartCol.as("part"), col("event_id")))
          append.write.mode("append").partitionBy("year", "month", "day").parquet(silverPath)
        }
      },
      goldTodo(if (heldN == 0L) marked.drop(Present)
               else marked.withColumnRenamed(Present, Stored), affectedKeys, stage))
    appendGold(todo, affectedKeys, stage).copy(stages = stage.splits,
      bronze = bronzeN, silver = parsedN - heldN,
      unparseable = parseM("unparseable").asInstanceOf[Long], held = heldN)
  }

  /** The gold stage for one batch of silver rows: append-only dim
    * upserts from the batch ONLY, then the batch's still-missing fact
    * rows. Shared by [[runInterval]] (the rows it just parsed) and
    * StreamingIngest.runGold (each micro-batch of stored silver rows).
    * Its action chain:
    *   1. the batch joined to the four dims as stored, fact-bloom probed
    *      and pinned (positives verified against the stored fact ids, as
    *      in [[markExisting]]), with the rows fact lacks and each dim's
    *      misses among them counted on the pin;
    *   2. concurrently: the fact bloom add, and per dim that missed an
    *      upsert pinned (high-water mark in-plan), then appended;
    *   3. the fact append from the pin, missed SKs filled from the
    *      appended rows;
    *   4. with `maintainRollup`, the affected dates' rollup partitions.
    *
    * Rows flagged [[Stored]] were already in silver before this batch.
    * Any of them that fact lacks are rebuilt from the row silver stores,
    * not from the batch's copy, so healing converges on silver's
    * payload. Healing contract: a crash anywhere in a tick is healed by
    * re-running the crashed interval — `catchUp`'s high-water re-run, or
    * the streaming query's replay of the uncommitted micro-batch.
    */
  def goldFromSilverBatch(silverBatch: DataFrame,
                          affectedKeys: Seq[(Int, Int, Int)]): RunReport = {
    val stage = new StageTimer
    appendGold(goldTodo(silverBatch, affectedKeys, stage), affectedKeys, stage)
      .copy(stages = stage.splits)
  }

  /** Gold's todo: the rows of `silverBatch` fact lacks, joined to the
    * dims in the pin that marks them; `todo` and each dim's misses counted.
    */
  private def goldTodo(silverBatch: DataFrame, affectedKeys: Seq[(Int, Int, Int)],
                       stage: StageTimer): (DataFrame, Map[String, Any]) = {
    val factDates = affectedKeys.map { case (y, m, d) => dateOf(y, m, d) }
    val heals = silverBatch.columns.contains(Stored)
    def counts(todo: Column): Seq[Column] = count(when(todo, 1)).as("todo") +:
      Dims.All.map(d => count(when(todo && col(d.missed), 1)).as(d.missed))
    stage("gold_todo") {
      val (marked, m) = markExisting(joinStoredDims(silverBatch),
        readOrEmpty(factPath, FactIdSchema).where(factFilterOf(factDates)).select("event_id"),
        factBloom, factDates.map(d => s"created_date=$d"),
        counts(!col(Present)) ++
          (if (heals) Seq(count(when(col(Stored) && !col(Present), 1)).as("heal")) else Nil): _*)
      val missing = marked.where(!col(Present)).drop(Present)
      if (!heals) (missing, m)
      else if (m("heal") == 0L) (missing.drop(Stored), m)
      else Pin.observed(missing.where(!col(Stored)).drop(Stored)
          .unionByName(joinStoredDims(readOrEmpty(silverPath, silverBatch.drop(Stored).schema)
            .where(affectedFilterOf(affectedKeys))
            .join(broadcast(missing.where(col(Stored)).select("event_id")),
              Seq("event_id"), "left_semi"))),
        counts(lit(true)): _*)
    }
  }

  /** Gold's dims, fact and rollup for a todo with counts `m`; reports the
    * fact rows appended and the per-dim counts.
    */
  private def appendGold(todoAndCounts: (DataFrame, Map[String, Any]),
                         affectedKeys: Seq[(Int, Int, Int)], stage: StageTimer): RunReport = {
    val (todo, m) = todoAndCounts
    val factDates = affectedKeys.map { case (y, m, d) => dateOf(y, m, d) }
    val missed = Dims.All.map(d => d.name -> m(d.missed).asInstanceOf[Long]).toMap

    // Only rows that still NEED a fact row: a full re-run writes nothing.
    // A row whose fact exists was processed by a completed tick, so its
    // dim keys are present too (facts are written after dims).
    val gold = if (m("todo") == 0L) RunReport(dimMissed = missed) else {
      // The dims' upserts and the fact bloom add overlap (guide §2.6);
      // the fact append waits for both — dims and sidecar BEFORE data.
      val ((rows, appended), _) = Par.both(
        stage("gold_dims")(upsertMissed(todo, m)),
        stage("gold_fact") {
          factBloom.addBatch(todo.select(
            concat(lit("created_date="), to_date(col("kst_timestamp"))).as("part"),
            col("event_id")))
        })

      // append-only; created_at = kst_timestamp, so the affected fact
      // dates ARE the affected silver keys
      val f = stage("gold_fact") {
        Pin.observing(SilverToGold.factOf(rows)
            .withColumn("created_date", to_date(col("created_at"))),
          Pin.Rows +: SilverToGold.SkZero: _*)(
          _.write.mode("append").partitionBy("created_date").parquet(factPath))._2
      }
      RunReport(fact = f("n").asInstanceOf[Long], dimMissed = missed,
        dimAppended = appended, skZero = RunReport.counts(f - "n"))
    }
    // Maintained daily rollup: only the AFFECTED dates are recomputed and
    // overwritten, converging to a full rebuild (IncrementalRollupSpec).
    if (maintainRollup && factDates.nonEmpty) stage("gold_rollup") {
      IncrementalRollup.update(spark, factPath, rollupDailyPath,
        "created_date", factDates.map(_.toString), dailyRollupAgg)
    }
    gold
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
  def runRange(start: LocalDateTime, ticks: Int): Seq[RunReport] =
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
  def catchUp(default: LocalDateTime, until: LocalDateTime): Seq[RunReport] = {
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
      Dims.refreshAttributes(dim, attrs, Dims.Recipe.join.naturals))
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
      Dims.refreshAttributes(dim, attrs, Dims.User.join.naturals))
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
    new BloomSidecar(spark, tmp.toString).addBatch(
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

object MicroBatch {
  /** Marker columns: whether a row's event_id is already in the sink
    * being marked against, and whether silver held it before this batch.
    */
  private[runner] val Present = "__present"
  private[runner] val Stored = "__stored"

  private[runner] val FactIdSchema = StructType(Seq(
    StructField("event_id", StringType), StructField("created_date", DateType)))

  /** The distinct (year, month, day) partition keys of silver rows, as an
    * observable aggregate (rows without a parsed date have no key).
    */
  private[graft] val AffectedKeys: Column =
    collect_set(when(col("year").isNotNull && col("month").isNotNull && col("day").isNotNull,
      struct(col("year"), col("month"), col("day")))).as("keys")

  private[graft] def keysOf(m: Map[String, Any]): Seq[(Int, Int, Int)] =
    m("keys").asInstanceOf[scala.collection.Seq[Row]]
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted

  private def dateOf(y: Int, m: Int, d: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(y, m, d))

  private def factFilterOf(dates: Seq[java.sql.Date]): Column =
    if (dates.isEmpty) lit(false) else col("created_date").isin(dates: _*)
}

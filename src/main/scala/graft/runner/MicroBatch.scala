package graft.runner

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Observation, Row, SparkSession}
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
  *   4. silver bloom add + append, concurrently with gold's fact marking;
  *   5. the rest of gold ([[goldFromSilverBatch]]) on this batch's rows;
  *   6. the silver and fact row counts of the affected partitions, run
  *      concurrently (bronze's count came from step 1).
  * Every read uses a schema the tick already knows, so no read runs a
  * schema-inference job; MicroBatchSpec pins the tick's job budget.
  */
class MicroBatch(spark: SparkSession, stagingBase: String, warehouse: String,
                 tableSuffix: String = "",
                 bloomExpectedItems: Long = 1L << 20,
                 maintainRollup: Boolean = false,
                 stageSink: Option[scala.collection.mutable.Buffer[(String, Double)]] = None,
                 mediaStagingBase: Option[String] = None) {
  import MicroBatch._

  /** Per-stage wall attribution: with a sink, each named stage appends
    * (name, seconds); the bench sums by name.
    */
  private def stage[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    // stages of one tick can overlap (see runInterval)
    stageSink.foreach(s => s.synchronized(s += name -> (System.nanoTime() - t0) / 1e9))
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

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The sink at `path` read with a known schema: no schema-inference
    * job. Only a missing path reads as empty; other failures propagate.
    */
  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    if (exists(path)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** A dim sink's full on-disk schema (one schema-inference job), or
    * `narrow` when the sink holds no data file yet.
    */
  private def onDiskSchema(path: String, narrow: StructType): StructType =
    if (!exists(path)) narrow
    else try spark.read.parquet(path).schema
    catch { case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => narrow }

  /** A persisted dim: sink, SK, natural key, attributes that ride along,
    * and how gold's todo rows yield its candidates.
    */
  private case class TickDim(path: String, sk: String, naturals: Seq[String],
                             candidates: DataFrame => DataFrame, attrs: Seq[String] = Nil) {
    val schema = StructType(StructField(sk, LongType) +:
      (naturals ++ attrs).map(StructField(_, StringType)))
  }

  /** In the order the fact build takes them: user, event, page, recipe. */
  private val tickDims = Seq(
    TickDim(dimUserPath, "user_sk", Dims.UserKeys, Dims.latestPerUser(_), Dims.UserAttrs),
    TickDim(dimEventPath, "event_sk", Seq("event_name"),
      _.where(col("event_name").isNotNull).select("event_name")),
    TickDim(dimPagePath, "page_sk", Seq("page_name", "page_url"),
      _.where(col("page_name").isNotNull || col("page_url").isNotNull)
        .select("page_name", "page_url")),
    TickDim(dimRecipePath, "recipe_sk", Seq("recipe_id"),
      _.where(col("prop_recipe_id").isNotNull)
        .select(col("prop_recipe_id").cast("string").as("recipe_id"))))

  /** Append-only dim sink (replay_silver_to_gold.py:265): append `n` new
    * rows and return the dim's state after it, for the fact join. SKs are
    * never renumbered, so older fact partitions stay joinable. An empty
    * append is skipped (the sink stays byte-identical) unless the sink
    * does not exist yet.
    */
  private def appendDim(path: String, schema: StructType, existing: DataFrame,
                        appended: DataFrame, n: Long): DataFrame =
    if (n == 0L && exists(path)) existing
    else {
      // Null-fill to the sink's FULL on-disk schema: a bulk-seeded dim can
      // hold more columns (dim_recipe's master attributes), and a narrower
      // appended file would win parquet's single-footer schema inference.
      // [[refreshDimRecipeFromMaster]] backfills the nulls later.
      val full = onDiskSchema(path, schema)
      appended.select(full.map(f =>
          if (appended.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
        .write.mode("append").parquet(path)
      readOrEmpty(path, schema)
    }

  /** The four dims' upserts as ONE query: candidates and stored rows are
    * stacked under a dim tag (columns padded to common widths), so the
    * distinct, anti-join, numbering and high-water marks run once, and
    * one pin observes each dim's new-key count. Returns each dim's state
    * after its append, in [[tickDims]] order.
    */
  private def upsertDims(todo: DataFrame): Seq[DataFrame] = {
    def padded(prefix: String, width: Int) = (0 until width).map(j => s"__$prefix$j")
    val keys = padded("k", tickDims.map(_.naturals.size).max)
    val attrs = padded("a", tickDims.map(_.attrs.size).max)
    def stacked(i: Int, d: TickDim, df: DataFrame, extra: Column*): DataFrame = {
      def cols(names: Seq[String], to: Seq[String]) = to.indices.map(j =>
        names.lift(j).map(col).getOrElse(lit(null).cast(StringType)).as(to(j)))
      df.select((lit(i).as("__dim") +: cols(d.naturals, keys)) ++ cols(d.attrs, attrs) ++ extra: _*)
    }
    val dims = tickDims.zip(tickDims.map(d => readOrEmpty(d.path, d.schema))).zipWithIndex
    val (appended, m) = pinObserved(
      Dims.dimUpsert(
        dims.map { case ((d, _), i) => stacked(i, d, d.candidates(todo)) }.reduce(_ unionByName _),
        dims.map { case ((d, ex), i) => stacked(i, d, ex, col(d.sk).as("__sk")) }.reduce(_ unionByName _),
        keys, "__sk", attrs, by = Seq("__dim")),
      dims.map { case (_, i) => count(when(col("__dim") === i, 1)).as(s"n$i") }: _*)
    Par.all(dims.map { case ((d, ex), i) => () =>
      appendDim(d.path, d.schema, ex, appended.where(col("__dim") === i).select(
        col("__sk").as(d.sk) +: (d.naturals.zip(keys) ++ d.attrs.zip(attrs))
          .map { case (n, k) => col(k).as(n) }: _*),
        m(s"n$i").asInstanceOf[Long])
    }: _*)
  }

  // `bloomExpectedItems` sizes the per-partition sidecar blooms: a
  // deployment whose day partitions run ~10^9 rows should raise it (or
  // accept the saturation fallback to the exact anti-join — see
  // [[BloomSidecar.covered]]).
  private[runner] val silverBloom =
    new BloomSidecar(spark, silverPath, bloomExpectedItems)
  private[runner] val factBloom =
    new BloomSidecar(spark, factPath, bloomExpectedItems)

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
      val (flagged, m) = pinObserved(batch.withColumn(Present, probe),
        count(when(col(Present), 1)).as("__pos") +: metrics: _*)
      if (m("__pos") == 0L) (flagged, m)
      else {
        val pos = flagged.where(col(Present)).drop(Present)
        val present = existingIds.join(broadcast(pos.select("event_id")), Seq("event_id"), "left_semi")
        pinObserved(mark(flagged.drop(Present), broadcast(present)), metrics: _*)
      }
    } else pinObserved(mark(batch, existingIds.join(batch.select("event_id"),
      Seq("event_id"), "left_semi")), metrics: _*)
  }

  /** Rows of `batch` whose `event_id` the affected partitions lack. */
  private[runner] def antiJoinExisting(batch: DataFrame, existingIds: => DataFrame,
                                       sidecar: BloomSidecar,
                                       partDirs: Seq[String]): DataFrame =
    markExisting(batch, existingIds, sidecar, partDirs)._1
      .where(!col(Present)).drop(Present)

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

  /** One 15-minute tick. Returns (bronzeRows, silverRows, factRows): the
    * batch's bronze rows, and the silver and fact rows of the partitions
    * the batch touched, after the tick.
    */
  def runInterval(start: LocalDateTime): (Long, Long, Long) = {
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
      catch { case _: AnalysisException => return (0L, 0L, 0L) }
    val bronzeN = stage("bronze") {
      val obs = Observation()
      Warehouse.overwritePartitions(StagingToBronze.enrich(raw, path, ingestionDate)
          .withColumn("batch_id", lit(batchId))
          .observe(obs, count(lit(1)).as("n")))
        .partitionBy("ingestion_date", "batch_id").parquet(bronzePath)
      obs.get("n").asInstanceOf[Long]
    }
    if (bronzeN == 0L) return (0L, 0L, 0L)

    // --- bronze → silver: read back only this batch's partition (P3),
    // by its directory, so the read lists one partition, not the table
    val bronzeBatch = spark.read
      .schema(StructType(Schemas.bronzeSchema.filterNot(_.name == "ingestion_date")))
      .parquet(s"$bronzePath/ingestion_date=$ingestionDate/batch_id=$batchId")

    // The parsed batch is pinned ONCE; every later step reads it. The
    // affected (year, month, day) set (1-2 dates) is observed on the pin
    // and filters the stored-id reads STATICALLY (PartitionFilters).
    val (silverNew, affectedKeys, parsedN) = stage("silver_parse") {
      val (pinned, m) = pinObserved(BronzeToSilver.transform(bronzeBatch),
        count(lit(1)).as("n"), AffectedKeys)
      (pinned, keysOf(m), m("n").asInstanceOf[Long])
    }
    val affectedFilter = affectedFilterOf(affectedKeys)

    // Mark-then-APPEND, not merge-overwrite: same convergence as a
    // union+dropDuplicates+overwrite, but O(batch rows), not a rewrite of
    // the day partition up to 96×/day.
    val (marked, heldN) = stage("silver_append") {
      val (marked, m) = markExisting(silverNew,
        readOrEmpty(silverPath, silverNew.schema).where(affectedFilter).select("event_id"),
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
               else marked.withColumnRenamed(Present, Stored), affectedKeys))
    appendGold(todo, affectedKeys)

    // the two read-back counts are independent, so they run concurrently
    stage("counts") {
      val factDates = affectedKeys.map { case (y, m, d) => dateOf(y, m, d) }
      val Seq(silverN, factN) = Par.all(
        () => readOrEmpty(silverPath, silverNew.schema).where(affectedFilter).count(),
        () => stage("gold_count") {
          readOrEmpty(factPath, FactIdSchema).where(factFilterOf(factDates)).count()
        })
      (bronzeN, silverN, factN)
    }
  }

  /** The gold stage for one batch of silver rows: append-only dim
    * upserts from the batch ONLY, then the batch's still-missing fact
    * rows. Shared by [[runInterval]] (the rows it just parsed) and
    * StreamingIngest.runGold (each micro-batch of stored silver rows).
    * Its action chain:
    *   1. fact bloom probe pinned over the batch (positives verified
    *      against the stored fact ids, as in [[markExisting]]), the count
    *      of rows fact lacks observed on the pin;
    *   2. concurrently: the four dim upserts (one pinned query for all of
    *      them, high-water marks joined in-plan, new-key counts observed;
    *      then the appends that are non-empty), and the fact bloom add;
    *   3. the fact append, built straight from the dim joins;
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
                          affectedKeys: Seq[(Int, Int, Int)]): Unit =
    appendGold(goldTodo(silverBatch, affectedKeys), affectedKeys)

  /** Gold's todo: the rows of `silverBatch` fact lacks, and their count. */
  private def goldTodo(silverBatch: DataFrame,
                       affectedKeys: Seq[(Int, Int, Int)]): (DataFrame, Long) = {
    val factDates = affectedKeys.map { case (y, m, d) => dateOf(y, m, d) }
    val heals = silverBatch.columns.contains(Stored)
    stage("gold_todo") {
      val (marked, m) = markExisting(silverBatch,
        readOrEmpty(factPath, FactIdSchema).where(factFilterOf(factDates)).select("event_id"),
        factBloom, factDates.map(d => s"created_date=$d"),
        count(when(!col(Present), 1)).as("todo") +:
          (if (heals) Seq(count(when(col(Stored) && !col(Present), 1)).as("heal")) else Nil): _*)
      val missing = marked.where(!col(Present)).drop(Present)
      val todo =
        if (!heals) missing
        else if (m("heal") == 0L) missing.drop(Stored)
        else missing.where(!col(Stored)).drop(Stored)
          .unionByName(readOrEmpty(silverPath, missing.drop(Stored).schema)
            .where(affectedFilterOf(affectedKeys))
            .join(broadcast(missing.where(col(Stored)).select("event_id")),
              Seq("event_id"), "left_semi"))
          .localCheckpoint(true)
      (todo, m("todo").asInstanceOf[Long])
    }
  }

  /** Gold's dims, fact and rollup for a todo of `todoN` rows. */
  private def appendGold(todoAndN: (DataFrame, Long), affectedKeys: Seq[(Int, Int, Int)]): Unit = {
    val (todo, todoN) = todoAndN
    val factDates = affectedKeys.map { case (y, m, d) => dateOf(y, m, d) }

    // Only rows that still NEED a fact row: a full re-run writes nothing.
    // A row whose fact exists was processed by a completed tick, so its
    // dim keys are present too (facts are written after dims).
    if (todoN > 0) {
      // The dim upserts and the fact bloom add (keyed from todo: the dim
      // joins are left joins on unique keys) overlap (guide §2.6); the fact
      // append waits for both — dims and sidecar BEFORE data.
      val (dims, _) = Par.both(
        stage("gold_dims")(upsertDims(todo)),
        stage("gold_fact") {
          factBloom.addBatch(todo.select(
            concat(lit("created_date="), to_date(col("kst_timestamp"))).as("part"),
            col("event_id")))
        })
      val Seq(dimUser, dimEvent, dimPage, dimRecipe) = dims

      // append-only, built once in the write; created_at = kst_timestamp,
      // so the affected fact dates ARE the affected silver keys
      stage("gold_fact") {
        SilverToGold.buildFact(todo, dimUser, dimRecipe, dimEvent, dimPage)
          .withColumn("created_date", to_date(col("created_at")))
          .write.mode("append").partitionBy("created_date").parquet(factPath)
      }
    }
    // Maintained daily rollup: only the AFFECTED dates are recomputed and
    // overwritten, converging to a full rebuild (IncrementalRollupSpec).
    if (maintainRollup && factDates.nonEmpty) stage("gold_rollup") {
      IncrementalRollup.update(spark, factPath, rollupDailyPath,
        "created_date", factDates.map(_.toString), dailyRollupAgg)
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

object MicroBatch {
  /** Marker columns: whether a row's event_id is already in the sink
    * being marked against, and whether silver held it before this batch.
    */
  private[runner] val Present = "__present"
  private[runner] val Stored = "__stored"

  private[runner] val FactIdSchema = StructType(Seq(
    StructField("event_id", StringType), StructField("created_date", DateType)))

  /** Materialize `df` (localCheckpoint) and return it with the values of
    * `metrics`, aggregated in the same job by `Dataset.observe`: a count
    * or an emptiness probe of a pinned frame costs no job of its own.
    */
  private[graft] def pinObserved(df: DataFrame, metrics: Column*): (DataFrame, Map[String, Any]) =
    if (metrics.isEmpty) (df.localCheckpoint(true), Map.empty)
    else {
      val obs = Observation()
      val pinned = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint(true)
      (pinned, obs.get)
    }

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

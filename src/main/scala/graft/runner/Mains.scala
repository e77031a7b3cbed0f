package graft.runner

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

/** CLI twins of the reference's spark-submit jobs (bulk_runner.py and the
  * replay DAG tasks): a user launches these exactly like the originals.
  */
object RunnerSession {
  /** Local worker threads and shuffle partitions: `SPARK_GRAFT_CPUS`,
    * else the JVM's available processors.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // No session-global partitionOverwriteMode: every dynamic-overwrite
      // sink sets it as a write option (Warehouse.overwritePartitions), so
      // a full-table overwrite in these sessions keeps Spark's static
      // default (ADVICE r9: the global config re-introduced the VERDICT r8
      // #1 leak in every CLI entrypoint).
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(s)
    s
  }
}

/** Per-job environment switch — the reference's `--test-mode` flag
  * (staging_to_bronze_iceberg.py:30-42 flips DB, warehouse path, and
  * table suffix). Test mode redirects every sink to a parallel
  * `<warehouse>_test_warehouse` root AND suffixes each table dir with
  * `_test`, so a test run can never touch production tables.
  */
object RunnerEnv {
  val TestFlag = "--test-mode"
  /** (positional args with the flag removed, testMode). */
  def split(args: Array[String]): (Array[String], Boolean) =
    (args.filterNot(_ == TestFlag), args.contains(TestFlag))
  def warehouse(base: String, testMode: Boolean): String =
    if (testMode) s"${base}_test_warehouse" else base
  def tableSuffix(testMode: Boolean): String = if (testMode) "_test" else ""
}

/** Bulk backfill: `runMain graft.runner.BulkMain <rawJsonlPath> <warehouse>
  * [ingestionDate] [--test-mode]` — EP2 (bulk_runner.py:86-110).
  */
object BulkMain {
  def main(args: Array[String]): Unit = {
    val (a, testMode) = RunnerEnv.split(args)
    require(a.length >= 2,
      "usage: BulkMain <rawJsonlPath> <warehouse> [ingestionDate] [--test-mode]")
    val rawPath = a(0)
    val warehouse = RunnerEnv.warehouse(a(1), testMode)
    val date = a.lift(2).getOrElse(java.time.LocalDate.now().toString)
    val spark = RunnerSession.build("graft-bulk")
    val raw = spark.read.text(rawPath)
    val r = Bulk.run(spark, raw, warehouse, date,
      tableSuffix = RunnerEnv.tableSuffix(testMode))
    println(s"bulk complete: bronze=${r.bronze} silver=${r.silver} fact=${r.fact}")
    spark.stop()
  }
}

/** The "tick every 15 minutes until stopped" daemon loop, factored so a
  * spec can drive simulated ticks through the exact loop body the daemon
  * runs (clock and sleep are injected; the production main passes wall
  * clock + Thread.sleep). Each iteration is a full [[MicroBatch.catchUp]]
  * — not a single runInterval — so a daemon that was down for hours (or
  * a tick that overran its quarter) heals itself on the next wake, with
  * the DAG's catchup=True + max_active_runs=1 ordering guarantees
  * (dags/replay_september_15min_dag.py:43-56).
  */
object ReplayLoop {
  /** Floor to the enclosing 15-minute boundary. */
  def floorToQuarter(t: LocalDateTime): LocalDateTime =
    t.withSecond(0).withNano(0).withMinute(t.getMinute / 15 * 15)

  /** One daemon iteration: process every COMPLETE 15-min interval before
    * `now` (the current in-progress quarter is excluded — its staging file
    * is still being written), then report when to wake next.
    */
  def iterate(mb: MicroBatch, default: LocalDateTime,
              now: LocalDateTime): LocalDateTime = {
    mb.catchUp(default, floorToQuarter(now))
    floorToQuarter(now).plusMinutes(15)
  }

  /** Run [[iterate]] until stopped (or `maxIters`, for bounded test runs).
    * `sleepUntil` receives the next quarter boundary after the iteration's
    * `now` — a tick that overruns its quarter is followed immediately by a
    * catch-up of everything it missed.
    */
  def run(mb: MicroBatch, default: LocalDateTime,
          clock: () => LocalDateTime, sleepUntil: LocalDateTime => Unit,
          maxIters: Long = Long.MaxValue): Unit = {
    var i = 0L
    while (i < maxIters) {
      val wake = iterate(mb, default, clock())
      i += 1
      if (i < maxIters) sleepUntil(wake)
    }
  }
}

/** Long-running scheduler entry point: `runMain graft.runner.ReplayLoopMain
  * <stagingBase> <warehouse> <defaultStartIsoMinute> [maxTicks]
  * [--test-mode]` — ticks every 15 minutes until stopped (maxTicks bounds
  * it for supervised runs). The in-process twin of the reference's Airflow
  * schedule_interval='*&#47;15 * * * *' deployment.
  */
object ReplayLoopMain {
  def main(args: Array[String]): Unit = {
    val (a, testMode) = RunnerEnv.split(args)
    require(a.length >= 3,
      "usage: ReplayLoopMain <stagingBase> <warehouse> " +
        "<defaultStartIsoMinute> [maxTicks] [--test-mode]")
    val staging = a(0)
    val warehouse = RunnerEnv.warehouse(a(1), testMode)
    val default = LocalDateTime.parse(a(2), DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    val maxTicks = a.lift(3).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = RunnerSession.build("graft-replay-loop")
    val mb = new MicroBatch(spark, staging, warehouse,
      RunnerEnv.tableSuffix(testMode))
    ReplayLoop.run(mb, default,
      () => LocalDateTime.now(),
      wake => {
        val ms = java.time.Duration.between(LocalDateTime.now(), wake).toMillis
        if (ms > 0) Thread.sleep(ms)
      },
      maxTicks)
    spark.stop()
  }
}

/** Scheduled dim-attribute re-sync: `runMain graft.runner.RefreshMain
  * <warehouse> <recipeMasterPath|-> [--test-mode]` — the out-of-band
  * master-sync job the append-only dim sinks defer to
  * ([[MicroBatch.refreshDimRecipeFromMaster]] backfills tick-appended
  * dim_recipe rows from the master export; pass `-` to skip it when no
  * new master landed). Always re-syncs dim_user's SCD-1 attributes from
  * the silver table ([[MicroBatch.refreshDimUserFromSilver]]) — the
  * reference's daily create_dims rebuild semantics, without renumbering
  * a single SK. Run it like the reference runs create_dims: on the daily
  * schedule, never per-tick.
  */
object RefreshMain {
  def main(args: Array[String]): Unit = {
    val (a, testMode) = RunnerEnv.split(args)
    require(a.length >= 1,
      "usage: RefreshMain <warehouse> [recipeMasterPath|-] [--test-mode]")
    val warehouse = RunnerEnv.warehouse(a(0), testMode)
    val spark = RunnerSession.build("graft-refresh")
    val mb = new MicroBatch(spark, stagingBase = "", warehouse,
      RunnerEnv.tableSuffix(testMode))
    a.lift(1).filter(_ != "-").foreach { master =>
      mb.refreshDimRecipeFromMaster(master)
      println(s"dim_recipe attributes refreshed from $master")
    }
    mb.refreshDimUserFromSilver()
    println("dim_user SCD-1 attributes refreshed from silver")
    spark.stop()
  }
}

/** Scheduled small-file compaction: `runMain graft.runner.CompactMain
  * <warehouse> [maxRecordsPerFile] [--test-mode]` — the in-process twin
  * of the reference's Iceberg `rewrite_data_files` binpack maintenance
  * (README.md:231-242). The 15-minute tick loop appends small files
  * forever; this job rewrites the silver and fact sinks to few
  * right-sized files per partition and re-seeds their bloom sidecars
  * from the rewritten rows, so the next tick's covered fast path keeps
  * working ([[MicroBatch.compactSinks]]). Run on the maintenance
  * schedule (the reference runs it daily), never per-tick.
  */
object CompactMain {
  def main(args: Array[String]): Unit = {
    val (a, testMode) = RunnerEnv.split(args)
    require(a.length >= 1,
      "usage: CompactMain <warehouse> [maxRecordsPerFile] [--test-mode]")
    val warehouse = RunnerEnv.warehouse(a(0), testMode)
    val maxRecords = a.lift(1).map(_.toLong).getOrElse(1000000L)
    val spark = RunnerSession.build("graft-compact")
    val mb = new MicroBatch(spark, stagingBase = "", warehouse,
      RunnerEnv.tableSuffix(testMode))
    mb.compactSinks(maxRecords)
    println(s"compaction complete: ${mb.silverPath}, ${mb.factPath}")
    spark.stop()
  }
}

/** Incremental replay: `runMain graft.runner.ReplayMain <stagingBase>
  * <warehouse> <startIsoMinute> <ticks|catchup:untilIsoMinute>
  * [--test-mode]` — EP1, the 15-minute loop
  * (dags/replay_september_15min_dag.py semantics, in-process). The
  * `catchup:` form recovers missed ticks: it resumes after the bronze
  * sink's high-water interval (or seeds from <startIsoMinute> on a fresh
  * warehouse) and processes every 15-min tick up to the given instant,
  * in order — the DAG's catchup=True + max_active_runs=1 guarantees.
  */
object ReplayMain {
  def main(args: Array[String]): Unit = {
    val (a, testMode) = RunnerEnv.split(args)
    require(a.length == 4,
      "usage: ReplayMain <stagingBase> <warehouse> <startIsoMinute> " +
        "<ticks|catchup:untilIsoMinute> [--test-mode]")
    val Array(staging, warehouseBase, startStr, ticksStr) = a
    val warehouse = RunnerEnv.warehouse(warehouseBase, testMode)
    val start = LocalDateTime.parse(startStr, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    val spark = RunnerSession.build("graft-replay")
    val mb = new MicroBatch(spark, staging, warehouse,
      RunnerEnv.tableSuffix(testMode))
    if (ticksStr.startsWith("catchup:")) {
      val until = LocalDateTime.parse(ticksStr.stripPrefix("catchup:"),
        DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      mb.catchUp(start, until).zipWithIndex.foreach { case (r, i) =>
        println(s"catchup tick $i: bronze=${r.bronze} silver_added=${r.silver} fact_added=${r.fact}")
      }
    } else {
      mb.runRange(start, ticksStr.toInt).zipWithIndex.foreach { case (r, i) =>
        println(s"tick $i (${start.plusMinutes(15L * i)}): " +
          s"bronze=${r.bronze} silver_added=${r.silver} fact_added=${r.fact}")
      }
    }
    spark.stop()
  }
}

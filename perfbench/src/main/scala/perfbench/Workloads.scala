package perfbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Gold, GoldAnalytics}
import graft.pipeline.{Dims, StagingToBronze, Warehouse}
import graft.runner.MicroBatch

/** The workloads. Each stages its inputs from the seed in set-up, then
  * drives public entry points of graft from one closed-loop client for at
  * least `seconds`, timing every call from outside.
  */
object Workloads {
  val names: Seq[String] = Seq("tick_replay", "operator_queries")

  // Input sizes and mix shares. A tick carries the reference's replay
  // rate of ~10k events per 15-minute interval.
  val TickEvents = 10000
  val LateShare = 0.02
  val RedeliverShare = 0.05
  val WarmTicks = 1
  val SetUps = 3
  val MaxTicks = 5
  private val Sep1 = LocalDateTime.of(2024, 9, 1, 0, 0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One operation of a workload: its calls' wall times and, when it was
    * traced, their stats.
    */
  final case class Op(walls: Seq[Double], stats: Seq[CallStats], traced: Boolean) {
    def wall: Double = walls.sum
  }

  /** The closed-loop client: it calls the program through [[call]], one
    * call at a time, and groups calls into operations. With tracing on,
    * the first operation runs untraced (it carries the JVM's warm-up),
    * odd-numbered ones traced and the other even-numbered ones untraced,
    * so a traced run states its own overhead between warm operations.
    */
  final class Client(c: Collector, trace: Boolean) {
    val ops = ArrayBuffer[Op]()
    val failures = ArrayBuffer[String]()
    var attempted = 0
    private var walls = ArrayBuffer[Double]()
    private var stats = ArrayBuffer[CallStats]()
    private var gc0 = 0L

    def beginOp(traced: Boolean = trace && ops.size % 2 == 1): Unit = {
      if (traced) c.attach() else c.detach()
      walls = ArrayBuffer(); stats = ArrayBuffer()
    }
    def endOp(): Op = {
      val op = Op(walls.toSeq, stats.toSeq, c.isAttached)
      c.detach(); ops += op; op
    }
    def call[T](name: String)(f: => T): T = {
      attempted += 1
      val (r, wall, st) = c.call(name)(f)
      walls += wall; st.foreach(stats += _)
      r
    }
    def attempt(what: String)(f: => Unit): Unit =
      try f catch { case e: Exception => failures += s"$what threw $e" }
    /** A correctness gate; it counts as an attempted operation. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }
    /** Operations a run makes at least; a traced run needs one traced and
      * one warm untraced operation besides the first.
      */
    def minOps(untraced: Int, traced: Int = 3): Int = if (trace) traced else untraced
    /** Adds planning time the listener cannot see to the last traced call. */
    def addPlanMs(ms: => Double): Unit = if (stats.nonEmpty) {
      val last = stats.last
      stats(stats.size - 1) = last.copy(planMs = last.planMs + ms)
    }
    def startMeasure(): Unit = { Env.resetHeapPeak(); gc0 = Env.gcMs() }
    def jvm: Map[String, Double] =
      Map("jvm.heap_peak_mb" -> Env.heapPeakMb(), "jvm.gc_ms" -> (Env.gcMs() - gc0).toDouble)

    def tracedOps: Seq[Op] = ops.filter(_.traced).toSeq
    /** Operations the end-to-end metrics use: the untraced ones. */
    def plainOps: Seq[Op] = ops.filterNot(_.traced).toSeq
    /** Traced over untraced median wall time of `of`, minus one; the
      * first operation is left out.
      */
    def overhead(of: Seq[Op]): Double = {
      val t = of.filter(_.traced).map(_.wall)
      val u = of.drop(1).filterNot(_.traced).map(_.wall)
      if (t.isEmpty || u.isEmpty) 0.0 else median(t) / median(u) - 1
    }
  }

  /** Per-operation layer metrics, the median over the traced operations. */
  def layerMetrics(ops: Seq[Op], cores: Int): Map[String, Double] = {
    def med(f: Op => Double) = median(ops.map(f))
    def sum(op: Op)(f: CallStats => Double) = op.stats.map(f).sum
    def write(sink: String)(op: Op) = sum(op)(_.writeS.getOrElse(sink, 0.0))
    Map(
      "spark.jobs" -> med(sum(_)(_.jobs)),
      "spark.tasks" -> med(sum(_)(_.tasks)),
      "spark.driver_gap_s" -> med(sum(_)(_.driverGapS)),
      "driver.actions" -> med(sum(_)(_.actions)),
      "driver.plan_ms" -> med(sum(_)(_.planMs)),
      "spark.shuffle_write_bytes" -> med(sum(_)(_.shuffleWriteBytes.toDouble)),
      "spark.spill_bytes" -> med(sum(_)(_.spillBytes.toDouble)),
      "spark.task_gc_ms" -> med(sum(_)(_.taskGcMs.toDouble)),
      "spark.executor_busy_share" -> med(op =>
        sum(op)(_.taskMs.toDouble) / (math.max(op.wall, 1e-9) * 1000 * cores)),
      "pipeline.bronze_write_s" -> med(write("bronze")),
      "pipeline.silver_write_s" -> med(write("silver")),
      "pipeline.dims_write_s" -> med(write("dims")),
      "pipeline.fact_write_s" -> med(write("fact")),
      "pipeline.bloom_write_s" -> med(write("bloom")),
      "trace.split_error_ms" -> (if (ops.isEmpty) 0.0
        else ops.flatMap(_.stats).map(_.splitError).max * 1000))
  }

  /** File count and bytes of the parquet files under each sink. */
  def storageMetrics(wh: File, events: Long): Map[String, Double] = {
    val per = Option(wh.listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      val fs = org.apache.commons.io.FileUtils.listFiles(d, Array("parquet"), true)
      d.getName -> scala.jdk.CollectionConverters.CollectionHasAsScala(fs).asScala.toSeq
    }.toMap
    def files(sink: String) = per.getOrElse(sink, Nil).size.toDouble
    Map("storage.fact_files" -> files("fact_user_events"),
      "storage.silver_files" -> files("user_events_silver"),
      "storage.bytes_per_event" ->
        per.values.flatten.map(_.length).sum.toDouble / math.max(events, 1L))
  }

  def splits(ops: Seq[Op]): Seq[Map[String, Any]] = ops.flatMap(_.stats).map(s =>
    Map("call" -> s.name, "wall_s" -> s.wallS, "split_s" -> s.split))

  def samples(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map(o =>
    Map("s" -> o.wall, "traced" -> o.traced))

  def run(name: String, spark: SparkSession, c: Collector, seed: Long,
          seconds: Double, trace: Boolean, work: File): Outcome = name match {
    case "tick_replay" => tickReplay(spark, c, seed, seconds, trace, work)
    case "operator_queries" => operatorQueries(spark, c, seed, seconds, trace, work)
  }

  private def cores(spark: SparkSession) = spark.sparkContext.defaultParallelism

  private def staged(s: Gen.Staged): Map[String, Any] = Map(
    "lines" -> s.lines, "distinct_events" -> s.distinct, "bytes" -> s.bytes,
    "late_event_share" -> s.lateEvents.toDouble / math.max(s.distinct, 1L),
    "redelivered_line_share" -> s.redeliveredLines.toDouble / math.max(s.lines, 1L))

  /** The reference's daily dashboard query, traced once over a built
    * warehouse: DAU over the newest date partition only. The scan ratio is
    * the share of the fact table one fact scan of it reads (the
    * reference's 3.16% measure). Here it is set by the replay's layout:
    * every tick lands in one day, so the newest partition holds all but
    * the late events. It moves only if partition pruning stops working.
    */
  private def dailyQuery(spark: SparkSession, cl: Client, wh: File): Map[String, Double] = {
    def read(t: String) = Warehouse.read(spark, new File(wh, t).getPath)
    val fact = read("fact_user_events")
    val factRows = fact.count()
    val newest = fact.agg(max(col("created_date"))).head().getDate(0)
    val gold = Gold(fact.where(col("created_date") === lit(newest)),
      read("dim_user"), read("dim_recipe"), read("dim_event"), read("dim_page"),
      Dims.dimTime(spark, "2024-07-31 00:00:00", "2024-09-30 23:00:00"))
    cl.beginOp(traced = true)
    val rows = cl.call("GoldAnalytics.dau(newest day)")(GoldAnalytics.dau(gold).collect())
    val st = cl.endOp().stats.head
    cl.check(rows.nonEmpty, "the daily DAU is empty")
    Map("analytics.plan_ms" -> st.planMs, "analytics.jobs" -> st.jobs.toDouble,
      "analytics.scan_bytes" -> st.scanBytes.toDouble,
      "analytics.shuffle_bytes" -> st.shuffleWriteBytes.toDouble,
      "analytics.rows_scanned_per_row_out" -> st.scanRows.toDouble / math.max(rows.length, 1),
      "analytics.daily_scan_ratio" ->
        st.factScanRows.toDouble / math.max(st.factScans, 1) / math.max(factRows, 1L))
  }

  // ---------------------------------------------------------------- ticks

  /** Consecutive 15-minute ticks, one at a time (the DAG's
    * `max_active_runs=1`), into a warehouse that an untimed warm-up tick
    * built, then one compaction. Each interval carries late events dated
    * the previous day and byte-identical redeliveries of the previous
    * interval, so ticks append to more than one partition and take the
    * bloom-positive verify path. Set-up (staging every interval, then the
    * warm-up tick into an empty warehouse) runs [[SetUps]] times in fresh
    * directories; its median is reported and the last warehouse is used.
    */
  def tickReplay(spark: SparkSession, c: Collector, seed: Long, seconds: Double,
                 trace: Boolean, work: File): Outcome = {
    val ticks = WarmTicks + MaxTicks
    def start(i: Int) = Sep1.plusMinutes(15L * i)
    def setUp(dir: File): (IndexedSeq[Gen.Staged], MicroBatch) = {
      val staging = new File(dir, "staging")
      val g = new Gen(seed)
      var prev = IndexedSeq.empty[String]
      val ts = (0 until ticks).map { i =>
        val tick = StagingToBronze.stagingPathFor(staging.getPath, start(i)).stripSuffix("/*.json")
        val (st, lines) = Gen.stageTick(g, new File(tick, "events.json"), start(i), TickEvents,
          LateShare, RedeliverShare, prev)
        prev = lines
        st
      }
      val mb = new MicroBatch(spark, staging.getPath, new File(dir, "wh").getPath)
      (0 until WarmTicks).foreach(i => mb.runInterval(start(i)))
      (ts, mb)
    }
    val setups = (0 until SetUps).map { k =>
      org.apache.commons.io.FileUtils.deleteQuietly(new File(work, s"setup${k - 1}"))
      timed(setUp(new File(work, s"setup$k")))
    }
    val (tickIns, mb) = setups.last._1
    val wh = new File(work, s"setup${SetUps - 1}/wh")
    val setupS = median(setups.map(_._2))
    val cl = new Client(c, trace)
    cl.startMeasure()
    val t0 = System.nanoTime()
    var i = WarmTicks
    while (i < ticks && (cl.ops.size < cl.minOps(3, 5) || (System.nanoTime() - t0) / 1e9 < seconds)) {
      cl.beginOp()
      cl.attempt(s"tick $i")(cl.call("MicroBatch.runInterval")(mb.runInterval(start(i))))
      cl.endOp()
      i += 1
    }
    val tickOps = cl.ops.toSeq
    cl.beginOp(traced = trace)
    cl.attempt("compaction")(cl.call("MicroBatch.compactSinks")(mb.compactSinks()))
    val compact = cl.endOp()
    val jvm = cl.jvm

    // gates: every staged line in bronze, every staged distinct event
    // exactly once in silver and fact, and unique surrogate keys in every dim
    val expected = tickIns.take(i).map(_.distinct).sum
    val bronzeLines = tickIns.take(i).map(_.lines).sum
    def table(t: String) = spark.read.parquet(new File(wh, t).getPath)
    val bronzeRows = table("bronze_events").count()
    cl.check(bronzeRows == bronzeLines, s"bronze_events holds $bronzeRows rows, staged $bronzeLines")
    val rows = Seq("user_events_silver", "fact_user_events").map { t =>
      val r = table(t).agg(count(lit(1)), countDistinct(col("event_id"))).head()
      cl.check(r.getLong(0) == expected && r.getLong(1) == expected,
        s"$t holds ${r.getLong(0)} rows / ${r.getLong(1)} ids, expected $expected once each")
      t -> r.getLong(0)
    }.toMap
    Seq("dim_user" -> "user_sk", "dim_event" -> "event_sk", "dim_page" -> "page_sk",
      "dim_recipe" -> "recipe_sk").foreach { case (t, sk) =>
      val r = table(t).agg(count(lit(1)), countDistinct(col(sk))).head()
      cl.check(r.getLong(0) == r.getLong(1), s"$t has duplicate $sk values")
    }
    // the reference's bronze→silver retention, counted in the warehouse
    val retained = rows("user_events_silver").toDouble / math.max(bronzeRows, 1L)

    val daily = if (trace) dailyQuery(spark, cl, wh) else Map.empty[String, Double]

    val timedIns = tickIns.slice(WarmTicks, i)
    val plain = tickOps.filterNot(_.traced)
    val p50 = median(plain.map(_.wall))
    val lines = timedIns.map(_.lines).sum
    val rate = lines / (tickOps.map(_.wall).sum + compact.wall)
    val e2e = Map("setup_s" -> setupS, "latency_p50_s" -> p50, "throughput_per_s" -> rate)
    val layers = if (!trace) Map.empty[String, Double]
      else layerMetrics(tickOps.filter(_.traced), cores(spark)) ++
        storageMetrics(wh, expected) ++ jvm ++ daily ++
        Map("runner.compact_s" -> compact.wall,
          "pipeline.silver_retained_ratio" -> retained,
          "trace.overhead_share" -> cl.overhead(tickOps))
    Outcome(e2e, layers, cl.attempted, cl.failures.toSeq, Map(
      "input" -> Map("warm_ticks" -> staged(tickIns.take(WarmTicks).reduce(_ + _)),
        "timed_ticks" -> staged(timedIns.reduce(_ + _)), "ticks_run" -> timedIns.size),
      "named_metrics" -> (Map("tick_p50_s" -> p50, "replay_events_per_s" -> rate,
        "runner.compact_s" -> compact.wall,
        "pipeline.silver_retained_ratio" -> retained,
        "reference_silver_retained_ratio" -> 0.9931) ++ daily.get("analytics.daily_scan_ratio")
        .map(r => Map("analytics.daily_scan_ratio" -> r, "reference_daily_scan_ratio" -> 0.0316))
        .getOrElse(Map())),
      "samples" -> Map("tick_s" -> samples(tickOps), "setup_s" -> setups.map(_._2)),
      "splits" -> splits(cl.tracedOps)))
  }

  // ---------------------------------------------------------------- operators

  // sf0.1's table sizes
  val Documents = 5000
  val Vectors = 2000
  val Events = 100000
  val OperatorQueries: Seq[String] = Seq("q_dup_clusters", "q_minhash_lsh",
    "q_embed_dup_clusters", "q_pagerank", "q_ann_ivfpq")

  /** The iterative operator queries over seeded tables shaped like
    * sf0.1's, each driven to the `noop` sink; one suite runs them in a
    * fixed order. A query's planning time is that of every execution it
    * runs plus the analysis of the Dataset it returns, which no execution
    * reports: the write plans a new command over it.
    */
  def operatorQueries(spark: SparkSession, c: Collector, seed: Long, seconds: Double,
                      trace: Boolean, work: File): Outcome = {
    import spark.implicits._
    val dir = new File(work, "tables")
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    // set-up is generating and writing the tables; repeated, median reported
    val setups = (0 until SetUps).map { _ => timed {
      val g = new Gen(seed)
      val docs = Gen.documents(g, Documents, 250, 8)
      val vecs = Gen.embeddings(g, Vectors, 64, 10)
      write(docs.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
      write(vecs.toDF("vec_id", "embedding", "label"), "embeddings")
      write(Gen.eventRows(g, Events, LocalDateTime.of(2024, 1, 1, 0, 0))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), "events")
      (docs, vecs)
    } }
    val (docs, vecs) = setups.last._1
    // the similarity graphs the two cluster queries walk, for the artifact
    val shape = Map("documents" -> Shape.documents(docs.map(_._2)),
      "embeddings" -> Shape.vectors(vecs.map(_._2), 0.3))
    val qs = OperatorQueries.map(n => n -> graft.SparkEntry.queries(n))
    val cl = new Client(c, trace)
    cl.startMeasure()
    val t0 = System.nanoTime()
    while (cl.ops.size < cl.minOps(1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      cl.beginOp()
      qs.foreach { case (n, q) =>
        cl.attempt(n) {
          val obs = Observation(n)
          var df: org.apache.spark.sql.DataFrame = null
          cl.call(n) {
            df = q(spark, dir.getPath)
            df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
          }
          cl.addPlanMs(c.unreportedPlanMs(df.queryExecution))
          cl.check(obs.get("rows").asInstanceOf[Long] > 0, s"$n returned no rows")
        }
      }
      cl.endOp()
      // each suite starts from an empty cache, as a new caller would
      spark.catalog.clearCache()
    }
    val jvm = cl.jvm
    val p50 = median(cl.plainOps.flatMap(_.walls))
    val suite = median(cl.plainOps.map(_.wall))
    val e2e = Map("setup_s" -> median(setups.map(_._2)), "latency_p50_s" -> p50,
      "throughput_per_s" -> qs.size / suite)
    val traced = cl.tracedOps
    def perSuite(f: CallStats => Double) = median(traced.map(_.stats.map(f).sum))
    val layers = if (!trace) Map.empty[String, Double]
      else layerMetrics(traced, cores(spark)) ++ jvm ++ Map(
        "queries.plan_ms" -> perSuite(_.planMs),
        "queries.plan_share" -> median(traced.map(o =>
          o.stats.map(_.planMs).sum / 1000 / math.max(o.wall, 1e-9))),
        "queries.jobs" -> perSuite(_.jobs.toDouble),
        "queries.driver_gap_s" -> perSuite(_.driverGapS),
        "trace.overhead_share" -> cl.overhead(cl.ops.toSeq))
    Outcome(e2e, layers, cl.attempted, cl.failures.toSeq, Map(
      "input" -> Map("documents" -> Documents, "near_dup_documents" -> 250,
        "exact_dup_documents" -> 8, "embeddings" -> Vectors, "events" -> Events),
      "shape" -> shape,
      "named_metrics" -> Map("operator_suite_s" -> suite),
      "samples" -> Map("setup_s" -> setups.map(_._2), "suite_s" -> cl.ops.map(o =>
        Map("s" -> o.wall, "traced" -> o.traced, "query_s" -> qs.map(_._1).zip(o.walls).toMap,
          "query_jobs" -> qs.map(_._1).zip(o.stats.map(_.jobs)).toMap))),
      "splits" -> splits(traced)))
  }
}

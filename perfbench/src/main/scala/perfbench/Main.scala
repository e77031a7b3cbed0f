package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload run hands back to [[Main]]. `e2e` holds the
  * end-to-end metrics (measured with the collector detached), `layers`
  * the per-layer metrics of the layers the workload runs (from the traced
  * operations of a `--trace 1` run; empty otherwise) and `extra` the
  * artifact-only detail.
  */
final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                         attempted: Int, failures: Seq[String],
                         extra: Map[String, Any])

/** Host and JVM state, recorded at the start and end of every run. */
object Env {
  final case class Snap(loadavg1: Double, stealJiffies: Long, totalJiffies: Long)

  def snap(): Snap = {
    val load = try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
    val cpu = try scala.io.Source.fromFile("/proc/stat").getLines().next()
        .split("\\s+").drop(1).map(_.toLong)
      catch { case _: Exception => Array.empty[Long] }
    Snap(load, if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --artifact <file> [--rev <git revision>] [--sources <digest>]`
  *
  * One JVM, one `local[nproc]` session, one closed-loop client. Prints
  * the artifact as one JSON line, then the result line
  * `{"correct", "attempted", "failed", "metrics": {name: value}}` last, and
  * exits 1 when any output was wrong.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (one of ${Workloads.names.mkString(", ")})")

    val cores = Runtime.getRuntime.availableProcessors()
    val env0 = Env.snap()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val collector = new Collector(spark)
    val out = try Workloads.run(workload, spark, collector, seed, seconds, trace, work)
    finally collector.detach()
    val spanFile = new File(opt("artifact").stripSuffix(".json") + ".spans.jsonl")
    val nSpans = if (trace) collector.writeSpans(spanFile) else 0
    val env1 = Env.snap()
    spark.stop()

    val dTotal = math.max(1L, env1.totalJiffies - env0.totalJiffies)
    val stealShare = (env1.stealJiffies - env0.stealJiffies).toDouble / dTotal
    // Recorded, never acted on: a run is not retried when contended. On a
    // virtual machine other tenants show up as steal; the start load also
    // carries the decay of a previous run (up to about the core count), so
    // only a load well above it means something else is running here.
    val contended = stealShare > 0.02 || env0.loadavg1 > 2 * cores
    val metrics = if (trace) out.layers else out.e2e
    val correct = out.failures.isEmpty
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failures.size,
      "failed_share" -> out.failures.size.toDouble / math.max(out.attempted, 1),
      "failures" -> out.failures.take(20),
      "metrics" -> metrics, "e2e" -> out.e2e, "layers" -> out.layers,
      "env" -> Map("cpus" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "git_rev" -> opts.getOrElse("rev", "none"),
        "sources_sha256" -> opts.getOrElse("sources", "none"),
        "loadavg_start" -> env0.loadavg1, "loadavg_end" -> env1.loadavg1,
        "steal_share" -> stealShare, "contended" -> contended,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "session_s" -> sessionS),
      "spans" -> (if (trace) Map("file" -> spanFile.getPath, "count" -> nSpans) else null),
      "note" -> ("Medians within this one run; nothing is retried or min-merged. " +
        "No BENCH_* artifact of the repository is a baseline for these numbers.")
    ) ++ out.extra
    val artifactFile = new File(opt("artifact"))
    artifactFile.getParentFile.mkdirs()
    val aj = Json.write(artifact)
    java.nio.file.Files.write(artifactFile.toPath, aj.getBytes("UTF-8"))
    println(aj)
    println(Json.write(Map(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failures.size,
      "metrics" -> metrics)))
    if (!correct) {
      out.failures.take(20).foreach(f => System.err.println(s"[perfbench] wrong output: $f"))
      sys.exit(1)
    }
  }
}

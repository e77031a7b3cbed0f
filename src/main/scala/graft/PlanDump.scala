package graft

/** Optimization-round evidence helper: dump `.explain("formatted")` for
  * named registry queries to `plans/<tag>/<name>_<suffix>.txt` (the
  * judge checks plan claims against these files; it cannot run Spark).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    val spark = runner.RunnerSession.build("graft.PlanDump")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Pipeline-internal frames (not registry queries) whose plan shape is
    // an optimization claim: the bulk silver write, unfused (dedup
    // exchange + clustering exchange) vs fused (one exchange).
    def bulkSilverFrame(fused: Boolean): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      val events = Tables.load(spark, sfDir, "events")
      val raw = graft.pipeline.RefEventsAdapter.toRawJson(events)
      val bronze = graft.pipeline.StagingToBronze.enrich(raw, "bulk.jsonl", "2024-01-01")
      val parsed = graft.pipeline.BronzeToSilver.parse(bronze)
      if (!fused)
        graft.pipeline.BronzeToSilver.transform(bronze)
          .repartition(col("year"), col("month"), col("day"),
            pmod(xxhash64(col("event_id")), lit(2)))
      else graft.pipeline.Warehouse.dedupClusteredFrame(parsed)
    }
    val pseudo: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "bulk_silver_write_unfused" -> (() => bulkSilverFrame(fused = false)),
      "bulk_silver_write_fused" -> (() => bulkSilverFrame(fused = true)))
    names.foreach { n =>
      try {
        val df = pseudo.get(n).map(_())
          .getOrElse(SparkEntry.queries(n)(spark, sfDir))
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      } catch {
        case e: Exception =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scratch diagnostic attributing the 1M-tier corpus_assign cost
  * (Test scope; run via `sbt "Test/runMain graft.queries.AnnAssignProbe
  * <rep> <cells> <sfDir>"`). Times, over the rep×-replicated corpus:
  * scan-only, argmax-only (drop v), argmax+v, and the localCheckpoint
  * materialization the tier build actually pays.
  */
object AnnAssignProbe {
  def main(args: Array[String]): Unit = {
    val rep = args(0).toInt; val cells = args(1).toInt; val sf = args(2)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.driver.memory", "8g")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val corpus = VectorOps.scaledCorpus(spark, sf, rep)._1.cache()
    val n = corpus.count()
    val cents = corpus.limit(cells)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
    val packed = cents.agg(
      array_sort(collect_list(struct(col("cell"), col("cv")))).as("es"))
    def assignPlan = corpus.crossJoin(broadcast(packed))
      .select(col("vec_id"), col("v"),
        graft.functions.NearestCell(col("v"), col("es")).as("cell"))
    val tScan = sec { exec(corpus.select(col("vec_id"), col("v"))) }
    val tArgmax = sec { exec(assignPlan.select(col("vec_id"), col("cell"))) }
    val tArgmaxV = sec { exec(assignPlan) }
    val tCkpt = sec { assignPlan.localCheckpoint(true) }
    println(f"PROBE n=$n cells=$cells scan=$tScan%.1f argmax=$tArgmax%.1f " +
      f"argmax_v=$tArgmaxV%.1f ckpt=$tCkpt%.1f " +
      f"unpacks=${graft.functions.NearestCell.unpackCount.get()}")
    spark.stop()
  }
}

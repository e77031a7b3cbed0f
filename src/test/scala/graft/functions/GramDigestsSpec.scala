package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native GramDigests expression: bit-parity with the composed
  * transform+md5+conv chain it replaced in q_substring_dup, codegen
  * placement, and edge semantics.
  */
class GramDigestsSpec extends SparkSpec {
  import spark.implicits._

  private val k = 40

  /** The pre-fusion q_substring_dup gram chain, kept as parity oracle. */
  private def composed(text: org.apache.spark.sql.Column) =
    transform(sequence(lit(1), length(text) - (k - 1)),
      i => conv(substring(md5(text.substr(i, lit(k))), 1, 15), 16, 10)
        .cast("long"))

  test("matches the composed md5/conv chain exactly on the real documents table") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .where(length($"text") >= k)
    val bad = docs.select(
        GramDigests($"text", k).as("native"),
        composed($"text").as("hof"))
      .where($"native" =!= $"hof")
      .count()
    assert(bad == 0, s"$bad docs diverged from the composed chain")
  }

  test("runs inside whole-stage codegen; short/empty text yields empty array") {
    val df = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(GramDigests($"text", k).as("g"))
    assert("""\*\(\d+\) Project \[gramdigests""".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined)
    val edge = Seq("", "short", "x" * (k - 1)).toDF("text")
      .select(GramDigests($"text", k).as("g"))
      .collect()
    assert(edge.forall(_.getSeq[Long](0).isEmpty))
  }
}

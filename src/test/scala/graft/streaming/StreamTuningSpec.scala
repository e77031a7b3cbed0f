package graft.streaming

import graft.SparkSpec

class StreamTuningSpec extends SparkSpec {

  test("statePartitions rejects a malformed setting, naming it") {
    assume(!sys.env.contains("SPARK_GRAFT_STREAM_STATE_PARTS"),
      "the environment override shadows the session conf")
    val key = "spark.graft.stream.statePartitions"
    try {
      Seq("abc", "0", "-3", "").foreach { bad =>
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](StreamTuning.statePartitions(spark))
        assert(e.getMessage.contains(key), e.getMessage)
      }
      spark.conf.set(key, "6")
      assert(StreamTuning.statePartitions(spark) == 6)
    } finally spark.conf.unset(key)
    assert(StreamTuning.statePartitions(spark) ==
      math.max(1, spark.sparkContext.defaultParallelism / 4))
  }

  test("the environment variable's parse names the variable") {
    val e = intercept[IllegalArgumentException](
      StreamTuning.parseParts("SPARK_GRAFT_STREAM_STATE_PARTS", "eight"))
    assert(e.getMessage.contains("SPARK_GRAFT_STREAM_STATE_PARTS"), e.getMessage)
    assert(StreamTuning.parseParts("SPARK_GRAFT_STREAM_STATE_PARTS", " 8 ") == 8)
  }
}

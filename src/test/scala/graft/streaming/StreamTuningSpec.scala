package graft.streaming

import graft.SparkSpec

class StreamTuningSpec extends SparkSpec {

  test("statePartitions is defaultParallelism / 4, at least 1") {
    assert(StreamTuning.statePartitions(spark) ==
      math.max(1, spark.sparkContext.defaultParallelism / 4))
  }
}

package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted count equals plain count on a skewed key distribution") {
    // 90% of rows on one hot key
    val df = spark.range(10000)
      .select(when($"id" % 10 === 0, concat(lit("cold_"), $"id" % 7))
        .otherwise("hot").as("k"))
    val plain = df.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedCount(df, $"k").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(plain("hot") == 9000L)
  }

  test("salt assignment is stable across physical layouts (stage-retry determinism)") {
    // A recomputed map task must emit the SAME (key, salt) partials its
    // reducers already consumed, whatever partition layout the retry
    // lands on — i.e. the salt is a pure function of row content, never
    // of spark_partition_id()/monotonically_increasing_id(). Simulate a
    // retry's layout change with two different repartitions of one input
    // and pin identical phase-1 salt assignment per row.
    val base = spark.range(1000)
      .select(($"id" % 5).cast("string").as("k"), ($"id" * 31 % 997).as("v"))
    def phase1(numParts: Int): Map[(String, Long), Long] = {
      val df = base.repartition(numParts)
      df.groupBy($"k", pmod(xxhash64(df.columns.map(col): _*), lit(16)).as("salt"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val a = phase1(2)
    val b = phase1(13)
    assert(a == b, "phase-1 (key, salt) partials differ across layouts")
    // and the hot key really is spread over multiple salt buckets
    assert(a.keys.count(_._1 == "0") > 1)
  }

  test("bucketed running sum equals the single-window prefix sum, incl. ties") {
    // Real events + synthetic TIES (several rows sharing one (t, delta))
    // and a cross-midnight boundary: the two-phase form must agree with
    // the naive group-window everywhere, and its plan must contain no
    // window partitioned by the group alone (the whole point).
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("d", to_date($"ts"))
    val deltas = e.select($"d", $"ts".as("t"), lit(1L).as("delta"))
      .unionByName(e.select($"d",
        ($"ts" + expr("INTERVAL 5 MINUTES")).as("t"), lit(-1L).as("delta")))
      // duplicate a slice so (t, delta) ties exist
      .unionByName(e.limit(50).select($"d", $"ts".as("t"), lit(1L).as("delta")))
    val naiveW = Window.partitionBy($"d").orderBy($"t", $"delta")
    val naive = deltas.withColumn("open_now", sum($"delta").over(naiveW))
      .groupBy($"d", $"t", $"delta")
      .agg(count(lit(1)).as("n"), sum($"open_now").as("s"))
    val bucketed = Scale.bucketedRunningSum(
        deltas, groupCol = $"d",
        bucketCol = floor(unix_timestamp($"t") / 3600),
        orderCols = Seq($"t", $"delta"), valueCol = $"delta",
        outCol = "open_now")
      .groupBy($"d", $"t", $"delta")
      .agg(count(lit(1)).as("n"), sum($"open_now").as("s"))
    assert(naive.count() > 0)
    assert(naive.except(bucketed).count() == 0 &&
      bucketed.except(naive).count() == 0,
      "two-phase prefix sum diverges from the single-window form")
    // no single-task-per-group window in the scaled plan
    val opt = Scale.bucketedRunningSum(deltas, $"d",
        floor(unix_timestamp($"t") / 3600),
        Seq($"t", $"delta"), $"delta", "open_now")
      .queryExecution.optimizedPlan
    // group-only windows are OK only over an aggregated (bounded
    // groups × buckets) frame — the offsets pass; a group-only window
    // directly over raw rows would be the naive single-task sweep
    val badWindows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.size == 1 && w.child.find(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]
        ).isEmpty => w
    }
    assert(badWindows.isEmpty,
      s"scaled form still plans a group-only window over raw rows: $badWindows")
  }

  test("bucketed running sum keeps NULL group/bucket keys (null-safe offset join)") {
    // Window partitioning treats NULL as an ordinary key value; the
    // phase-2 offset join must not drop those rows the way a plain
    // inner equi-join would.
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (Some("g1"), 1L, 1L), (Some("g1"), 2L, 2L),
      (None, 1L, 5L), (None, 2L, 7L), (None, 3L, 11L)
    ).toDF("g", "t", "v")
    val naive = df.withColumn("rs",
        sum($"v").over(Window.partitionBy($"g").orderBy($"t")))
      .select($"g", $"t", $"rs")
    val scaled = Scale.bucketedRunningSum(df, $"g", floor($"t" / 2),
        Seq($"t"), $"v", "rs")
      .select($"g", $"t", $"rs")
    assert(scaled.count() == df.count(), "null-keyed rows were dropped")
    assert(naive.except(scaled).count() == 0 && scaled.except(naive).count() == 0)
  }

  test("AQE splits a skewed shuffle join at runtime (skew=true in the final plan)") {
    // The runtime half of the skew story (Scale.salted* is the static
    // half for aggregations): a 90%-hot key in a sort-merge join must
    // be SPLIT by adaptive execution into multiple tasks instead of one
    // straggler reading the whole hot partition. Thresholds are scaled
    // down so test-sized data trips the same code path a hot day
    // partition trips at 100 TB.
    val keep = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.forceOptimizeSkewedJoin",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      val left = spark.range(200000)
        .select(when($"id" % 10 < 9, 0L).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = left.join(right, "k")
      // execute THIS dataframe (count() would plan a separate query and
      // leave j's adaptive plan unfinalized), then read the final plan
      val n = j.collect().length
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"),
        "AQE did not mark the hot-key join skewed:\n" + plan)
      // semantics unchanged: same count as the broadcast plan
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      assert(n == left.join(broadcast(right), "k").count())
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("z-order layout prunes file scans on BOTH key dimensions") {
    // 256×256 grid of (a, b) keys, arrival order deliberately hostile
    // (row id ≡ neither key): a linear (b, a) sort would cluster files
    // only on b, so any a-predicate touches every file. Z-order must
    // keep per-file min/max rectangles tight on both.
    val n = 65536
    val df = spark.range(n).select(
      (($"id" * 40503L) % n % 256).as("a"), // Fibonacci-ish scramble
      (($"id" * 40503L) % n / 256).cast("long").as("b"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    Scale.zorderWrite(df, Seq("a", "b"), dir, files = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq
    assert(files.size >= 12, s"range partitioning produced ${files.size} files")
    // per-file zone maps, as a reader would get from parquet footers
    val zones = files.map { f =>
      val r = spark.read.parquet(f).agg(
        min($"a"), max($"a"), min($"b"), max($"b")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // nothing lost in the rewrite
    val total = files.map(f => spark.read.parquet(f).count()).sum
    assert(total == n)
    def touchedA(lo: Long, hi: Long) = zones.count(z => z._1 <= hi && z._2 >= lo)
    def touchedB(lo: Long, hi: Long) = zones.count(z => z._3 <= hi && z._4 >= lo)
    // a narrow range on EITHER dimension must skip most files — the
    // property a single-column sort cannot give for the other column.
    // Ideal is 4 of 16; range boundaries rarely align exactly with
    // z-box edges, so one straddling file can widen its rectangle on
    // each dimension — allow the documented smear (files/2 + 1), same
    // tolerance philosophy as the 3-column test below.
    assert(touchedA(96, 103) <= files.size / 2 + 1,
      s"a-range touches ${touchedA(96, 103)} of ${files.size} files")
    assert(touchedB(96, 103) <= files.size / 2 + 1,
      s"b-range touches ${touchedB(96, 103)} of ${files.size} files")
  }

  test("3-column z-order prunes file scans on ALL THREE key dimensions") {
    // 32x32x32 key cube, scrambled arrival order — a lexicographic
    // (c, b, a) sort clusters only c; z-order must keep per-file
    // min/max boxes tight on every axis.
    val n = 32768
    val df = spark.range(n).select(
      (($"id" * 40503L) % n % 32).as("a"),
      (($"id" * 40503L) % n / 32 % 32).cast("long").as("b"),
      (($"id" * 40503L) % n / 1024).cast("long").as("c"))
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder3").toString
    // 64 files over a 32^3 cube -> each file holds ~one 8x8x8 z-box, so
    // a width-8 slab aligned inside one quarter of a dimension should
    // hit ~1/4 of the files (sample-based range boundaries smear a bit)
    Scale.zorderWrite(df, Seq("a", "b", "c"), dir, files = 64)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath).toSeq
    assert(files.size >= 48, s"range partitioning produced ${files.size} files")
    val zones = files.map { f =>
      val r = spark.read.parquet(f).agg(
        min($"a"), max($"a"), min($"b"), max($"b"),
        min($"c"), max($"c")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }
    assert(files.map(f => spark.read.parquet(f).count()).sum == n)
    def touched(lo: Long, hi: Long, zl: Int): Int = zones.count { z =>
      val (zlo, zhi) = zl match {
        case 0 => (z._1, z._2); case 1 => (z._3, z._4); case _ => (z._5, z._6)
      }
      zlo <= hi && zhi >= lo
    }
    // A quarter-aligned width-8 slab must prune on EVERY dimension
    // (lexicographic sort gives 100% touch on the non-leading dims).
    // Ideal is 1/4 touched; sampled range boundaries rarely align with
    // z-box edges and a straddling file widens its extent most in the
    // LOWEST interleave lane (dim 0 — its quarter flips between
    // adjacent boxes), so per-dim tolerance is 3/5 and the mean across
    // dims must stay under 45%.
    val touch = Seq(0, 1, 2).map(d => touched(16, 23, d))
    touch.zipWithIndex.foreach { case (t, d) =>
      assert(t <= files.size * 3 / 5,
        s"dim $d slab touches $t of ${files.size} files")
    }
    assert(touch.sum * 100 / (3 * files.size) <= 45,
      s"mean slab touch ${touch.sum}/${3 * files.size} exceeds 45%")
  }

  test("salted distinct-count equals countDistinct") {
    val df = spark.range(5000)
      .select(($"id" % 3).cast("string").as("k"), ($"id" % 97).as("v"))
    val expected = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Scale.saltedCountDistinct(df, $"k", $"v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    spark.range(10000).select($"id".as("k"), ($"id" * 2).as("va"))
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("graft_bucket_a")
    spark.range(5000).select($"id".as("k"), ($"id" * 3).as("vb"))
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("graft_bucket_b")
    // disable broadcast so the co-location (not a broadcast) is what
    // eliminates the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join still shuffles:\n" + plan)
      assert(joined.count() == 5000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("scalable SKs are dense, unique, deterministic, and window-identical") {
    val df = spark.range(20000)
      .select(concat(lit("u"), format_string("%06d", ($"id" * 7919) % 20000)).as("k"))
      .distinct()
    val scalable = Dims.withSequentialSk(df, Seq("k"), "sk").select("sk", "k").cache()
    val n = scalable.count()
    // dense 1..n, unique
    assert(scalable.select("sk").distinct().count() == n)
    assert(scalable.agg(min("sk"), max("sk")).head() ==
      org.apache.spark.sql.Row(1L, n))
    // identical mapping to the global-window variant (SK = sort rank)
    val window = df.where($"k".isNotNull).distinct()
      .withColumn("sk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("k")).cast("long"))
      .select("sk", "k")
    assert(scalable.except(window).count() == 0)
    assert(window.except(scalable).count() == 0)
    // deterministic across runs
    val again = Dims.withSequentialSk(df, Seq("k"), "sk").select("sk", "k")
    assert(scalable.except(again).count() == 0)
    // and the SQL stage of the assignment never funnels the dim through a
    // single partition: range exchange + local sort, no global window
    val plan = Dims.sortedForSk(df, Seq("k")).queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), "single-partition exchange:\n" + plan)
    assert(!plan.contains("Window"), "window in scalable SK plan:\n" + plan)
    assert(plan.contains("rangepartitioning"), "expected range partitioning:\n" + plan)
  }

  test("Bulk.run is memory-bounded at ~1M events under the pinned default heap") {
    // The r5 regression class as a failing check: a deserialized cache of
    // the full silver (or any other O(corpus) driver/heap structure) in
    // Bulk.run OOMs or thrashes this test long before it hurts the bench.
    // ~1M rows from the sf0.001 events replicated; the test JVM runs the
    // pinned default heap from build.sbt's javaOptions (Test/fork).
    val wh = tmpDir("bulk1m")
    val events0 = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val replicate = 1000
    val events = events0
      .crossJoin(spark.range(replicate).select($"id".as("rep")))
      .withColumn("event_id", $"event_id" * replicate + $"rep")
      .drop("rep")
    val raw = RefEventsAdapter.toRawJson(events)
    val (bronzeN, silverN, factN) = graft.runner.Bulk.run(spark, raw, wh, "2024-01-01").rows
    assert(bronzeN >= silverN && silverN > 0 && factN == silverN,
      s"bulk counts off: bronze=$bronzeN silver=$silverN fact=$factN")
    assert(silverN > 500000L, s"replication produced only $silverN silver rows")
  }

  test("compaction bounds file count and preserves data + partitioning") {
    val out = tmpDir("compact")
    val df = spark.range(2000)
      .select(($"id" % 3).cast("int").as("p"), $"id".as("v"))
      .repartition(50) // simulate the 2,880-append small-file mess
    Scale.compact(df, out, Seq("p"), maxRecordsPerFile = 500)
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("p="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    // ~667 rows per partition at <=500 records/file → 2 files each, not 50
    assert(files.length <= 6, s"${files.length} files after compaction")
    val back = spark.read.parquet(out)
    assert(back.count() == 2000)
    assert(back.select(sum("v")).head().getLong(0) == (0L until 2000L).sum)
  }
}

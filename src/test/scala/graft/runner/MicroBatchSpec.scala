package graft.runner

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Dims, RefEventsAdapter, Warehouse}
import graft.streaming.StreamingIngest

/** End-to-end micro-batch runner semantics: interval→path binding,
  * 3-stage flow, idempotent re-runs (the reference's acknowledged gap),
  * cross-batch dim upsert, partition pruning on the resulting tables,
  * and the Structured-Streaming twin.
  */
class MicroBatchSpec extends SparkSpec {
  import spark.implicits._

  private def writeStagingFile(base: String, y: Int, m: Int, d: Int, h: Int,
                               min: Int, lines: Seq[String]): Unit = {
    val dir = Paths.get(f"$base/year=$y%04d/month=$m%02d/day=$d%02d/hour=$h%02d/minute=$min%02d")
    Files.createDirectories(dir)
    Files.write(dir.resolve("events.json"), lines.mkString("\n").getBytes)
  }

  private def raw(id: String, user: String, tsKst: String, name: String = "view_recipe") =
    s"""{"event_id":"$id","event_name":"$name","user_id":"$user","anonymous_id":"a-$user",""" +
      s""""session_id":"s1","timestamp":"$tsKst","context":"{}","event_properties":"{}"}"""

  test("two ticks then a re-run: counts converge (idempotent), dims upsert once") {
    val staging = tmpDir("staging")
    val wh = tmpDir("wh")
    // tick 1: 2 events (one duplicated at-least-once), user u1
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("e1", "u1", "2025-09-15T10:01:00.000+09:00"),
      raw("e1", "u1", "2025-09-15T10:01:00.000+09:00"),
      raw("e2", "u1", "2025-09-15T10:05:00.000+09:00")))
    // tick 2: same silver date partition, new user u2 + late event from tick 1's window
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      raw("e3", "u2", "2025-09-15T10:16:00.000+09:00", "auth_success"),
      raw("e2", "u1", "2025-09-15T10:05:00.000+09:00"))) // redelivered dup

    val mb = new MicroBatch(spark, staging, wh)
    val t1 = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    assert(t1.rows == ((3L, 2L, 2L))) // 3 raw lines, 2 deduped, 2 fact rows

    val t2 = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    // 2 lines; only e3 is new (the e2 redelivery is deduped across batches)
    assert(t2.rows == ((2L, 1L, 1L)))
    // the report says why: one row silver already held, none unparseable;
    // u2 missed dim_user and was appended, and every fact row joined
    assert(t2.held == 1L && t2.unparseable == 0L)
    assert(t2.dimMissed("dim_user") == 1L && t2.dimAppended("dim_user") == 1L)
    assert(t2.skZero("dim_user") == 0L && t2.skZero("dim_event") == 0L)
    // silver/fact totals now 3: e1, e2, e3
    assert(Warehouse.read(spark, mb.silverPath).count() == 3)
    assert(Warehouse.read(spark, mb.factPath).count() == 3)

    // dim upsert across batches: u1 from tick1 keeps SK, u2 appended
    val dim = Warehouse.read(spark, mb.dimUserPath)
    assert(dim.count() == 2)
    assert(dim.select("user_sk").distinct().count() == 2)

    // re-run tick 2: nothing changes (idempotent dynamic overwrite + merge)
    val t2again = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    assert(t2again.rows == ((2L, 0L, 0L)) && t2again.held == 2L)
    assert(Warehouse.read(spark, mb.silverPath).count() == 3)
    assert(Warehouse.read(spark, mb.factPath).count() == 3)
    assert(Warehouse.read(spark, mb.dimUserPath).count() == 2)

    // empty interval short-circuits
    assert(mb.runInterval(LocalDateTime.of(2025, 9, 15, 11, 0)).rows == ((0L, 0L, 0L)))
  }

  test("unparseable lines are counted by their tick, never written to silver or fact") {
    val staging = tmpDir("staging_garbage")
    val wh = tmpDir("wh_garbage")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("g1", "u1", "2025-09-15T10:01:00.000+09:00"), "not json at all"))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      raw("g2", "u1", "2025-09-15T10:16:00.000+09:00"), """{"event_id":"half"""))
    val mb = new MicroBatch(spark, staging, wh)
    // each tick: 2 bronze lines, 1 parse failure, 1 silver and 1 fact row
    Seq(0, 15).foreach { min =>
      val t = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, min))
      assert(t.rows == ((2L, 1L, 1L)) && t.unparseable == 1L, s"tick $min: $t")
    }
    val silver = Warehouse.read(spark, mb.silverPath).select("event_id").as[String]
    assert(silver.collect().toSeq.sorted == Seq("g1", "g2"))
    val fact = Warehouse.read(spark, mb.factPath).select("event_id").as[String]
    assert(fact.collect().toSeq.sorted == Seq("g1", "g2"))
  }

  test("dim SKs stay stable across ticks; old fact partitions stay joinable") {
    val staging = tmpDir("staging5")
    val wh = tmpDir("wh5")
    // tick 1 (event date 15): two event names, a page, a recipe
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("d1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe"),
      raw("d2", "u2", "2025-09-15T10:02:00.000+09:00", "auth_success")))
    // tick 2 (event date 16): a lexicographically EARLIER event name shows
    // up — under a full rebuild it would renumber every later SK
    writeStagingFile(staging, 2025, 9, 16, 10, 0, Seq(
      raw("d3", "u3", "2025-09-16T10:01:00.000+09:00", "click_recipe")))

    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    val before = spark.read.parquet(mb.dimEventPath)
      .select("event_sk", "event_name").as[(Long, String)].collect().toMap
    mb.runInterval(LocalDateTime.of(2025, 9, 16, 10, 0))
    val after = spark.read.parquet(mb.dimEventPath)
      .select("event_sk", "event_name").as[(Long, String)].collect().toMap

    // existing names keep their SKs; the new name is appended above the
    // high-water mark
    before.foreach { case (sk, name) => assert(after(sk) == name) }
    assert(after.size == before.size + 1)
    assert(after.keys.max > before.keys.max)
    assert(after.values.toSet.contains("click_recipe"))

    // fact rows written at tick 1 resolve through the CURRENT dim_event:
    // with a tick-2 full rebuild view_recipe's SK would have shifted and
    // d1 would resolve to the wrong name
    val fact = spark.read.parquet(mb.factPath)
    val dimE = spark.read.parquet(mb.dimEventPath)
    val resolved = fact.join(dimE, fact("event_dim_key") === dimE("event_sk"))
      .select("event_id", "event_name").as[(String, String)].collect().toMap
    assert(resolved("d1") == "view_recipe")
    assert(resolved("d2") == "auth_success")
    assert(resolved("d3") == "click_recipe")

    // same stability for dim_page and dim_recipe (persisted, append-only)
    assert(spark.read.parquet(mb.dimPagePath).select("page_sk").distinct().count() ==
      spark.read.parquet(mb.dimPagePath).count())
    assert(spark.read.parquet(mb.dimRecipePath).select("recipe_sk").distinct().count() ==
      spark.read.parquet(mb.dimRecipePath).count())
  }

  test("every incremental sink is append-only: earlier ticks' files stay byte-identical") {
    val staging = tmpDir("staging12")
    val wh = tmpDir("wh12")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("b1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe"),
      raw("b2", "u2", "2025-09-15T10:02:00.000+09:00", "auth_success")))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      raw("b3", "u3", "2025-09-15T10:16:00.000+09:00", "click_recipe"),
      raw("b4", "u1", "2025-09-15T10:17:00.000+09:00", "view_recipe"))) // no new dim keys from u1/view_recipe

    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))

    // recursive (silver/fact are partitioned dirs): relative path → content hash
    def snapshot(dir: String): Map[String, Long] = {
      val root = Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        // skip metadata subtrees (any underscore-prefixed path component:
        // _SUCCESS, the _bloom sidecar — whose files ROLL by design, the
        // append-only contract covers data files only)
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
        .map { p =>
          root.relativize(p).toString -> java.util.Arrays.hashCode(Files.readAllBytes(p)).toLong
        }.toMap
      finally walk.close()
    }
    // silver + fact are append-only too (anti-join against existing
    // event_ids), not just the dims
    val dims = (Seq(mb.dimUserPath, mb.dimEventPath, mb.dimPagePath, mb.dimRecipePath,
        mb.silverPath, mb.factPath))
      .filter(p => new java.io.File(p).exists())
    val before = dims.map(p => p -> snapshot(p)).toMap

    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))

    // every data file written by tick 1 still exists with identical bytes —
    // tick 2 only ADDED files for its new keys (never a full-dim rewrite)
    dims.foreach { p =>
      val after = snapshot(p)
      before(p).foreach { case (name, h) =>
        assert(after.contains(name), s"$p/$name was rewritten or removed by a later tick")
        assert(after(name) == h, s"$p/$name content changed after a later tick")
      }
    }
    // and the upsert semantics still hold: u3/click_recipe appended once
    assert(spark.read.parquet(mb.dimUserPath).count() == 3)
    val ev = spark.read.parquet(mb.dimEventPath)
    assert(ev.count() == 3 && ev.select("event_sk").distinct().count() == 3)

    // an idempotent re-run with NO new keys leaves every dim file set
    // untouched (empty appends are skipped outright)
    val full = dims.map(p => p -> snapshot(p)).toMap
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    dims.foreach { p =>
      assert(snapshot(p) == full(p), s"$p changed on a no-new-keys re-run")
    }
  }

  test("a tick's silver reads prune to the batch's affected partitions") {
    val staging = tmpDir("staging6")
    val wh = tmpDir("wh6")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("g1", "u1", "2025-09-15T10:01:00.000+09:00")))
    writeStagingFile(staging, 2025, 9, 16, 10, 0, Seq(
      raw("g2", "u2", "2025-09-16T10:01:00.000+09:00")))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    mb.runInterval(LocalDateTime.of(2025, 9, 16, 10, 0))

    // the exact predicate runInterval builds for a day-16 batch statically
    // prunes the silver scan to that partition
    val pruned = spark.read.parquet(mb.silverPath)
      .where(mb.affectedFilterOf(Seq((2025, 9, 16))))
    assert(Warehouse.hasPartitionFilters(pruned))
    assert(pruned.count() == 1)
    assert(pruned.select("event_id").as[String].head() == "g2")
  }

  test("the gold stage's fact-missing anti-join prunes to the affected date partitions") {
    val staging = tmpDir("staging15")
    val wh = tmpDir("wh15")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("f1", "u1", "2025-09-15T10:01:00.000+09:00")))
    writeStagingFile(staging, 2025, 9, 16, 10, 0, Seq(
      raw("f2", "u2", "2025-09-16T10:01:00.000+09:00")))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    mb.runInterval(LocalDateTime.of(2025, 9, 16, 10, 0))

    // the exact read shape goldFromSilverBatch builds for a day-16 batch:
    // created_date IN (affected dates) must reach the scan as a
    // PartitionFilter — at 100 TB this is what keeps the crash-heal
    // anti-join bounded to the tick's partitions instead of a full-fact scan
    val pruned = spark.read.parquet(mb.factPath)
      .where(col("created_date").isin(java.sql.Date.valueOf("2025-09-16")))
    assert(Warehouse.hasPartitionFilters(pruned))
    assert(pruned.count() == 1)
    assert(pruned.select("event_id").as[String].head() == "f2")
  }

  test("catchUp resumes after the sink's high-water interval, in order") {
    val staging = tmpDir("staging7")
    val wh = tmpDir("wh7")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("c1", "u1", "2025-09-15T10:01:00.000+09:00")))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      raw("c2", "u1", "2025-09-15T10:16:00.000+09:00")))
    writeStagingFile(staging, 2025, 9, 15, 10, 30, Seq(
      raw("c3", "u2", "2025-09-15T10:31:00.000+09:00")))

    val mb = new MicroBatch(spark, staging, wh)
    // fresh warehouse: no high-water mark yet
    assert(mb.lastProcessedInterval().isEmpty)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    assert(mb.lastProcessedInterval().contains(LocalDateTime.of(2025, 9, 15, 10, 0)))

    // the scheduler missed 10:15 and 10:30 — catch up to (excl.) 10:45.
    // The high-water interval (10:00) re-runs first: bronze lands before
    // silver/fact within a tick, so the last recorded interval may be
    // partial and re-running it (idempotent) heals a mid-tick crash.
    val res = mb.catchUp(LocalDateTime.of(2025, 9, 15, 10, 0),
      LocalDateTime.of(2025, 9, 15, 10, 45))
    assert(res.length == 3)
    assert(Warehouse.read(spark, mb.silverPath).count() == 3)
    assert(mb.lastProcessedInterval().contains(LocalDateTime.of(2025, 9, 15, 10, 30)))
    // caught up: only the (idempotent) high-water re-run remains, and it
    // changes nothing
    assert(mb.catchUp(LocalDateTime.of(2025, 9, 15, 10, 0),
      LocalDateTime.of(2025, 9, 15, 10, 45)).length == 1)
    assert(Warehouse.read(spark, mb.silverPath).count() == 3)
    assert(Warehouse.read(spark, mb.factPath).count() == 3)
  }

  test("catchUp skips intervals with no staging files (driver-side glob probe)") {
    val staging = tmpDir("staging11")
    val wh = tmpDir("wh11")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("s1", "u1", "2025-09-15T10:01:00.000+09:00")))
    // three days of dead air, then one more interval with data
    writeStagingFile(staging, 2025, 9, 18, 10, 0, Seq(
      raw("s2", "u2", "2025-09-18T10:01:00.000+09:00")))

    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    // 3 days ≈ 288 15-min ticks between the high-water mark and `until`;
    // only the (idempotent) high-water re-run and the one interval that
    // actually has staging may execute Spark work
    val res = mb.catchUp(LocalDateTime.of(2025, 9, 15, 10, 0),
      LocalDateTime.of(2025, 9, 18, 10, 15))
    assert(res.length == 2)
    assert(Warehouse.read(spark, mb.silverPath).count() == 2)
    assert(mb.lastProcessedInterval().contains(LocalDateTime.of(2025, 9, 18, 10, 0)))
  }

  test("bulk-seeded warehouse hands off to incremental ticks (dim_recipe attrs)") {
    val staging = tmpDir("staging10")
    val wh = tmpDir("wh10")
    // EP2 bulk seed: master-built dim_recipe carries 9 attribute columns
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    graft.runner.Bulk.run(spark, RefEventsAdapter.toRawJson(events), wh, "2024-01-01")
    val before = spark.read.parquet(s"$wh/dim_recipe")
    assert(before.columns.length == 9)
    val nBefore = before.count()

    // EP1 incremental tick on the same warehouse must not break on the
    // wider dim schema; new recipe ids append with null attributes
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      s"""{"event_id":"h1","event_name":"click_recipe","user_id":"u1","anonymous_id":"a-u1",""" +
        s""""session_id":"s1","timestamp":"2025-09-15T10:01:00.000+09:00","context":"{}",""" +
        s""""event_properties":"{\\"recipe_id\\":\\"999999\\"}"}"""))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    val after = spark.read.parquet(mb.dimRecipePath)
    assert(after.columns.length == 9)
    assert(after.count() == nBefore + 1)
    val newRow = after.where($"recipe_id" === "999999")
    assert(newRow.count() == 1)
    assert(newRow.select("recipe_name").head().isNullAt(0)) // unknown until master refresh
    // bulk-assigned rows keep their attributes
    assert(after.where($"recipe_id" =!= "999999" && $"recipe_name".isNull).count() == 0)
  }

  test("master refresh backfills appended dim_recipe attributes; SKs and facts unchanged") {
    val staging = tmpDir("staging16")
    val wh = tmpDir("wh16")
    // bulk seed, then a tick appends recipe 999999 with null attributes
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    graft.runner.Bulk.run(spark, RefEventsAdapter.toRawJson(events), wh, "2024-01-01")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      s"""{"event_id":"h1","event_name":"click_recipe","user_id":"u1","anonymous_id":"a-u1",""" +
        s""""session_id":"s1","timestamp":"2025-09-15T10:01:00.000+09:00","context":"{}",""" +
        s""""event_properties":"{\\"recipe_id\\":\\"999999\\"}"}"""))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))

    // materialize all "before" state: the swap replaces the files this
    // frame references, so it must not be re-executed after the refresh
    val before = spark.read.parquet(mb.dimRecipePath)
    val nBefore = before.count()
    val skBefore = before.select($"recipe_id", $"recipe_sk")
      .as[(String, Long)].collect().toMap
    assert(before.where($"recipe_id" === "999999")
      .select("recipe_name").head().isNullAt(0))
    val factBefore = spark.read.parquet(mb.factPath)
      .select($"event_id".cast("string"), $"recipe_dim_key")
      .as[(String, Long)].collect().toMap

    // next master export now contains the incrementally-observed natural
    // key → the scheduled refresh backfills its attributes in place
    val masterV2 = s"$wh/recipe_master_v2.parquet"
    Dims.writeRecipeMasterFixture(before.select($"recipe_id"), masterV2)
    mb.refreshDimRecipeFromMaster(masterV2)

    val after = spark.read.parquet(mb.dimRecipePath)
    // appended row acquired the master's attributes (fixture attrs are a
    // deterministic function of the id — create_dims.py:107-135 shape)
    val row = after.where($"recipe_id" === "999999")
    assert(row.select("recipe_name").head().getString(0) == "recipe_999999")
    assert(row.select("dish_type").head().getString(0) != null)
    // one row out per row in, every SK untouched
    assert(after.count() == nBefore)
    val skAfter = after.select($"recipe_id", $"recipe_sk")
      .as[(String, Long)].collect().toMap
    assert(skAfter == skBefore)
    // bulk-assigned attributes unchanged (same deterministic master)
    assert(after.where($"recipe_name".isNull).count() == 0)
    // earlier fact partitions untouched and still joinable: the tick's
    // fact row for h1 carries the SAME recipe_dim_key the refreshed dim
    // serves for 999999
    val factAfter = spark.read.parquet(mb.factPath)
      .select($"event_id".cast("string"), $"recipe_dim_key")
      .as[(String, Long)].collect().toMap
    assert(factAfter == factBefore)
    assert(factAfter("h1") == skAfter("999999"))
  }

  test("dim_user SCD-1 refresh: latest attributes win over first-appearance freeze") {
    val staging = tmpDir("staging17")
    val wh = tmpDir("wh17")
    def rawSeg(id: String, ts: String, seg: String) =
      s"""{"event_id":"$id","event_name":"view_recipe","user_id":"u1","anonymous_id":"a-u1",""" +
        s""""session_id":"s1","timestamp":"$ts",""" +
        s""""context":"{\\"user_segment\\":\\"$seg\\"}","event_properties":"{}"}"""
    writeStagingFile(staging, 2025, 9, 15, 10, 0,
      Seq(rawSeg("e1", "2025-09-15T10:01:00.000+09:00", "foodie")))
    writeStagingFile(staging, 2025, 9, 15, 10, 15,
      Seq(rawSeg("e2", "2025-09-15T10:16:00.000+09:00", "casual")))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))

    // append-only ticks froze the segment at first appearance (the
    // documented incremental-vs-bulk SCD-1 divergence)
    val frozen = spark.read.parquet(mb.dimUserPath)
    assert(frozen.count() == 1)
    assert(frozen.select("user_segment").head().getString(0) == "foodie")
    val skBefore = frozen.select("user_sk").head().getLong(0)

    // scheduled re-sync restores the reference's latest-per-user semantics
    mb.refreshDimUserFromSilver()
    val refreshed = spark.read.parquet(mb.dimUserPath)
    assert(refreshed.count() == 1)
    assert(refreshed.select("user_segment").head().getString(0) == "casual")
    assert(refreshed.select("user_sk").head().getLong(0) == skBefore)
  }

  test("mid-tick crash heals: missing fact rows are rebuilt, sinks stay append-only") {
    val staging = tmpDir("staging14")
    val wh = tmpDir("wh14")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("h1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe")))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      raw("h2", "u2", "2025-09-15T10:16:00.000+09:00", "auth_success"),
      raw("h3", "u1", "2025-09-15T10:17:00.000+09:00", "click_recipe")))

    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    def factFiles(): Set[java.nio.file.Path] = {
      val walk = java.nio.file.Files.walk(Paths.get(mb.factPath))
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val tick1Files = factFiles()
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    assert(spark.read.parquet(mb.factPath).count() == 3)

    // simulate a crash between the silver append and the gold stage of
    // tick 2: silver + dims persisted, tick 2's fact files lost
    (factFiles() -- tick1Files).foreach(java.nio.file.Files.delete)
    assert(spark.read.parquet(mb.factPath).count() == 1)
    val dimSnapshot = spark.read.parquet(mb.dimEventPath)
      .select("event_sk", "event_name").as[(Long, String)].collect().toSet

    // the re-run's gold stage selects exactly the fact-missing silver rows
    // and appends them; tick-1 fact files are untouched, dims unchanged
    val healed = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    // silver held both rows; the two lost fact rows are appended again
    assert(healed.rows == ((2L, 0L, 2L)), s"re-run returned $healed")
    val fact = spark.read.parquet(mb.factPath)
    assert(fact.count() == 3)
    assert(tick1Files.subsetOf(factFiles()))
    assert(spark.read.parquet(mb.dimEventPath)
      .select("event_sk", "event_name").as[(Long, String)].collect().toSet == dimSnapshot)
    // healed facts resolve through the stable dims
    val dimE = spark.read.parquet(mb.dimEventPath)
    val resolved = fact.join(dimE, fact("event_dim_key") === dimE("event_sk"))
      .select("event_id", "event_name").as[(String, String)].collect().toMap
    assert(resolved == Map("h1" -> "view_recipe", "h2" -> "auth_success",
      "h3" -> "click_recipe"))
  }

  test("ReplayLoop daemon body: two simulated wall-clock ticks, correct sleep targets") {
    val staging = tmpDir("staging13")
    val wh = tmpDir("wh13")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("L1", "u1", "2025-09-15T10:01:00.000+09:00")))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      raw("L2", "u2", "2025-09-15T10:16:00.000+09:00")))

    val mb = new MicroBatch(spark, staging, wh)
    // simulated wall clock: first wake at 10:16 (the 10:00 interval is
    // complete, 10:15 is still in progress), second at 10:31
    val clock = Iterator(
      LocalDateTime.of(2025, 9, 15, 10, 16, 42),
      LocalDateTime.of(2025, 9, 15, 10, 31, 3))
    val sleeps = scala.collection.mutable.ArrayBuffer[LocalDateTime]()
    ReplayLoop.run(mb, LocalDateTime.of(2025, 9, 15, 10, 0),
      () => clock.next(), sleeps += _, maxIters = 2)

    // tick 1 processed only the complete 10:00 interval; tick 2 picked up
    // 10:15 via catch-up — both events are in silver exactly once
    assert(Warehouse.read(spark, mb.silverPath).count() == 2)
    assert(mb.lastProcessedInterval().contains(LocalDateTime.of(2025, 9, 15, 10, 15)))
    // the loop slept to the next quarter boundary after the FIRST wake
    // only (the final iteration exits without sleeping)
    assert(sleeps.toSeq == Seq(LocalDateTime.of(2025, 9, 15, 10, 30)))
    // boundary math: exact quarter floors to itself, next wake +15
    assert(ReplayLoop.floorToQuarter(LocalDateTime.of(2025, 9, 15, 10, 29, 59)) ==
      LocalDateTime.of(2025, 9, 15, 10, 15))
    assert(ReplayLoop.floorToQuarter(LocalDateTime.of(2025, 9, 15, 10, 30)) ==
      LocalDateTime.of(2025, 9, 15, 10, 30))
  }

  test("scheduled compaction: bounded files, identical rows, bloom fast path survives") {
    val staging = tmpDir("staging_c")
    val wh = tmpDir("wh_c")
    // four ticks appending into the SAME silver date partition — the
    // small-file growth the reference fixes with rewrite_data_files
    for (i <- 0 until 4)
      writeStagingFile(staging, 2025, 9, 15, 10, 15 * i, Seq(
        raw(s"c$i-1", s"u$i", f"2025-09-15T10:${15 * i + 1}%02d:00.000+09:00"),
        raw(s"c$i-2", s"u$i", f"2025-09-15T10:${15 * i + 2}%02d:00.000+09:00")))
    val mb = new MicroBatch(spark, staging, wh)
    for (i <- 0 until 4) mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15 * i))

    def parquetFiles(root: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory && f.getName != "_bloom") f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(root)).map(_.getPath).filter(_.endsWith(".parquet"))
    }
    def rows(path: String): Seq[String] = {
      val df = Warehouse.read(spark, path)
      df.select(df.columns.sorted.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    }
    val silverBefore = rows(mb.silverPath)
    val factBefore = rows(mb.factPath)
    val filesBefore = parquetFiles(mb.silverPath).size
    assert(filesBefore >= 4, s"expected one file per tick, saw $filesBefore")

    mb.compactSinks()

    // one date partition → one right-sized file; rows byte-for-byte equal
    assert(parquetFiles(mb.silverPath).size <= 2)
    assert(parquetFiles(mb.factPath).size <= 2)
    assert(rows(mb.silverPath) == silverBefore)
    assert(rows(mb.factPath) == factBefore)

    // the re-seeded sidecars still cover the rewritten partitions, and
    // the next tick's fast path stays CORRECT: a redelivery of a
    // pre-compaction row must still dedup (no false negative in the
    // rebuilt blooms), a new row must still append
    assert(mb.silverBloom.covered(Seq("year=2025/month=9/day=15")))
    assert(mb.factBloom.covered(Seq("created_date=2025-09-15")))
    writeStagingFile(staging, 2025, 9, 15, 11, 0, Seq(
      raw("c0-1", "u0", "2025-09-15T10:01:00.000+09:00"), // pre-compaction redelivery
      raw("cnew", "u9", "2025-09-15T11:01:00.000+09:00")))
    val t = mb.runInterval(LocalDateTime.of(2025, 9, 15, 11, 0))
    assert(t.rows == ((2L, 1L, 1L)), s"tick after compaction: $t")
    assert(Warehouse.read(spark, mb.silverPath).count() == 9)
    assert(Warehouse.read(spark, mb.factPath).count() == 9)
  }

  test("test-mode table suffix isolates sinks from the production paths") {
    val staging = tmpDir("staging8")
    val wh = tmpDir("wh8")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("t1", "u1", "2025-09-15T10:01:00.000+09:00")))
    val mbTest = new MicroBatch(spark, staging, wh, RunnerEnv.tableSuffix(testMode = true))
    mbTest.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    assert(mbTest.silverPath.endsWith("_test"))
    assert(Warehouse.read(spark, mbTest.silverPath).count() == 1)
    // the production-path sinks were never created
    val prod = new MicroBatch(spark, staging, wh)
    assert(!new java.io.File(prod.silverPath).exists())
    assert(!new java.io.File(prod.factPath).exists())
    assert(RunnerEnv.warehouse("/w", testMode = true) == "/w_test_warehouse")
    assert(RunnerEnv.split(Array("a", "--test-mode", "b"))._1.sameElements(Array("a", "b")))
  }

  test("partitioned silver scan prunes by event date") {
    val staging = tmpDir("staging2")
    val wh = tmpDir("wh2")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("p1", "u1", "2025-09-15T10:01:00.000+09:00"),
      raw("p2", "u1", "2025-09-16T01:01:00.000+09:00"))) // different event date
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))

    val pruned = Warehouse.read(spark, mb.silverPath)
      .where($"year" === 2025 && $"month" === 9 && $"day" === 15)
    assert(Warehouse.hasPartitionFilters(pruned))
    assert(pruned.count() == 1)
    assert(Warehouse.read(spark, mb.silverPath).count() == 2)
  }

  test("streaming hourly windowed aggregation closes windows by watermark") {
    val staging = tmpDir("staging4")
    val wh = tmpDir("wh4")
    // two hours of events, then a much later event to push the watermark
    Files.write(Paths.get(s"$staging/a.jsonl"), Seq(
      raw("w1", "u1", "2025-09-15T10:05:00.000+09:00"),
      raw("w2", "u2", "2025-09-15T10:45:00.000+09:00"),
      raw("w3", "u1", "2025-09-15T11:10:00.000+09:00")).mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_b", "2025-09-15")
    StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_s")
    StreamingIngest.runHourlyCounts(spark, s"$wh/silver", s"$wh/hourly", s"$wh/ckpt_h")
    // first drain: watermark hasn't passed any window end yet → no output
    // (append mode only emits closed windows); push it with a later file
    Files.write(Paths.get(s"$staging/b.jsonl"),
      Seq(raw("w4", "u1", "2025-09-15T16:00:00.000+09:00")).mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_b", "2025-09-15")
    StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_s")
    StreamingIngest.runHourlyCounts(spark, s"$wh/silver", s"$wh/hourly", s"$wh/ckpt_h")
    StreamingIngest.runHourlyCounts(spark, s"$wh/silver", s"$wh/hourly", s"$wh/ckpt_h")
    val hourly = spark.read.parquet(s"$wh/hourly")
    // the 10:00 KST window (2 events) must be closed and emitted
    assert(hourly.where($"n_events" === 2).count() == 1)
    assert(hourly.count() >= 2) // 10:00 and 11:00 windows closed
  }

  test("foreachBatch streaming gold: same incremental stage, SKs stable across drains") {
    val staging = tmpDir("staging9")
    val wh = tmpDir("wh9")
    Files.write(Paths.get(s"$staging/a.jsonl"), Seq(
      raw("sg1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe"),
      raw("sg2", "u2", "2025-09-15T10:02:00.000+09:00", "auth_success")).mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_b", "2025-09-15")
    StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_s")
    StreamingIngest.runGold(spark, s"$wh/silver", wh, s"$wh/ckpt_g")

    val factPath = s"$wh/fact_user_events"
    assert(spark.read.parquet(factPath).count() == 2)
    val skBefore = spark.read.parquet(s"$wh/dim_event")
      .select("event_sk", "event_name").as[(Long, String)].collect().toMap

    // second drain: a lexicographically earlier event name arrives — SKs
    // must append, never renumber, exactly like the batch tick path
    Files.write(Paths.get(s"$staging/b.jsonl"), Seq(
      raw("sg3", "u3", "2025-09-15T10:20:00.000+09:00", "click_recipe")).mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_b", "2025-09-15")
    StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_s")
    StreamingIngest.runGold(spark, s"$wh/silver", wh, s"$wh/ckpt_g")

    val fact = spark.read.parquet(factPath)
    assert(fact.count() == 3)
    val skAfter = spark.read.parquet(s"$wh/dim_event")
      .select("event_sk", "event_name").as[(Long, String)].collect().toMap
    skBefore.foreach { case (sk, name) => assert(skAfter(sk) == name) }
    val dimE = spark.read.parquet(s"$wh/dim_event")
    val resolved = fact.join(dimE, fact("event_dim_key") === dimE("event_sk"))
      .select("event_id", "event_name").as[(String, String)].collect().toMap
    assert(resolved("sg1") == "view_recipe" && resolved("sg3") == "click_recipe")
  }

  test("maintained daily rollup: splice equals full recompute, overwrite mode not leaked") {
    val staging = tmpDir("staging_ru")
    val wh = tmpDir("wh_ru")
    // tick 1: two events on date 15; tick 2: date 16 plus a LATE date-15
    // event — date 15's rollup partition must be recomputed (healed)
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("r1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe"),
      raw("r2", "u2", "2025-09-15T10:02:00.000+09:00", "auth_success")))
    writeStagingFile(staging, 2025, 9, 16, 10, 0, Seq(
      raw("r3", "u3", "2025-09-16T10:01:00.000+09:00", "view_recipe"),
      raw("r4", "u1", "2025-09-15T10:09:00.000+09:00", "view_recipe")))

    val mb = new MicroBatch(spark, staging, wh, maintainRollup = true)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    val roll1 = spark.read.parquet(mb.rollupDailyPath)
    assert(roll1.select(countDistinct($"created_date")).head().getLong(0) == 1)
    mb.runInterval(LocalDateTime.of(2025, 9, 16, 10, 0))

    // maintained table == full recompute from the fact (IncrementalRollup
    // partition-local contract, end-to-end through the gold tick)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select($"created_date".cast("string"), $"event_dim_key", $"n_events",
        $"n_users", $"n_conversions", $"sum_engagement")
      .collect().map(_.toString).sorted.toSeq
    val maintained = snap(spark.read.parquet(mb.rollupDailyPath))
    val rebuilt = snap(mb.dailyRollupAgg(spark.read.parquet(mb.factPath)))
    assert(maintained == rebuilt, s"maintained $maintained != rebuilt $rebuilt")
    assert(maintained.nonEmpty)

    // the dynamic-overwrite mode used by the rollup (and the bronze
    // write) must NOT leak: a later full-table overwrite that covers
    // only one partition must still drop the other (static semantics)
    val t = tmpDir("ow_probe")
    Seq((1, "a"), (2, "b")).toDF("p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(t)
    Seq((1, "a2")).toDF("p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(t)
    val left = spark.read.parquet(t).select($"p").distinct().as[Int].collect()
    assert(left.sameElements(Array(1)),
      s"partitionOverwriteMode leaked as dynamic: partitions ${left.toSeq} survived")
  }

  test("streaming gold twin maintains the identical fact AND rollup (batch parity)") {
    val lines = Seq(
      raw("p1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe"),
      raw("p2", "u2", "2025-09-15T10:02:00.000+09:00", "auth_success"),
      raw("p3", "u3", "2025-09-16T10:01:00.000+09:00", "view_recipe"))

    // batch EP1 tick path, rollup maintained
    val stagingA = tmpDir("staging_pa"); val whA = tmpDir("wh_pa")
    writeStagingFile(stagingA, 2025, 9, 15, 10, 0, lines)
    val mbA = new MicroBatch(spark, stagingA, whA, maintainRollup = true)
    mbA.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))

    // streaming twin: bronze → silver → foreachBatch gold, same rollup
    val stagingB = tmpDir("staging_pb"); val whB = tmpDir("wh_pb")
    Files.write(Paths.get(s"$stagingB/a.jsonl"), lines.mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$stagingB/*.jsonl", s"$whB/bronze",
      s"$whB/ckpt_b", "2025-09-15")
    StreamingIngest.runSilver(spark, s"$whB/bronze", s"$whB/silver", s"$whB/ckpt_s")
    StreamingIngest.runGold(spark, s"$whB/silver", whB, s"$whB/ckpt_g",
      maintainRollup = true)

    def factSnap(path: String) = spark.read.parquet(path)
      .select($"event_id", $"user_dim_key", $"event_dim_key", $"page_dim_key",
        $"recipe_dim_key", $"created_date".cast("string"), $"engagement_score")
      .collect().map(_.toString).sorted.toSeq
    def rollSnap(path: String) = spark.read.parquet(path)
      .select($"created_date".cast("string"), $"event_dim_key", $"n_events",
        $"n_users", $"n_conversions", $"sum_engagement")
      .collect().map(_.toString).sorted.toSeq
    val fa = factSnap(mbA.factPath)
    val fb = factSnap(s"$whB/fact_user_events")
    assert(fa.nonEmpty && fa == fb, s"fact parity broke: $fa vs $fb")
    val ra = rollSnap(mbA.rollupDailyPath)
    val rb = rollSnap(s"$whB/agg_daily_events")
    assert(ra.nonEmpty && ra == rb, s"rollup parity broke: $ra vs $rb")
  }

  test("structured-streaming twin: AvailableNow drain + watermarked dedup") {
    val staging = tmpDir("staging3")
    val wh = tmpDir("wh3")
    Files.write(Paths.get(s"$staging/batch1.jsonl"), Seq(
      raw("s1", "u1", "2025-09-15T10:01:00.000+09:00"),
      raw("s1", "u1", "2025-09-15T10:01:00.000+09:00"), // in-stream dup
      raw("s2", "u2", "2025-09-15T10:02:00.000+09:00")).mkString("\n").getBytes)

    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_bronze", "2025-09-15")
    assert(spark.read.parquet(s"$wh/bronze").count() == 3)

    StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_silver")
    val silver = spark.read.parquet(s"$wh/silver")
    assert(silver.count() == 2) // watermarked dedup dropped the dup
    assert(silver.select("event_id").as[String].collect().sorted.sameElements(Array("s1", "s2")))

    // a second drain with a new file appends only the new event
    Files.write(Paths.get(s"$staging/batch2.jsonl"),
      Seq(raw("s3", "u1", "2025-09-15T10:20:00.000+09:00")).mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_bronze", "2025-09-15")
    StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_silver")
    assert(spark.read.parquet(s"$wh/silver").count() == 3)
  }

  /** A warm warehouse: two ticks into day 15, each with one late event
    * dated day 14, so both partitions exist and carry bloom sidecars.
    * Stages a third interval (returned) with 20 new events, 4 of them by
    * new users, plus the `extra` lines.
    */
  private def warmWarehouse(tag: String, extra: Seq[String] => Seq[String],
                            maintainRollup: Boolean = false): (MicroBatch, LocalDateTime) = {
    val staging = tmpDir(s"staging_$tag")
    val wh = tmpDir(s"wh_$tag")
    val names = Seq("view_recipe", "click_recipe", "auth_success")
    def lines(min: Int): Seq[String] =
      (0 until 20).map(i => raw(s"w$min-$i", s"u$min-${i % 4}",
        f"2025-09-15T10:$min%02d:${i % 60}%02d.000+09:00", names(i % 3)))
    val late = (min: Int) => raw(s"late$min", "u-late", "2025-09-14T23:50:00.000+09:00")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, lines(0) :+ late(0))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, lines(15) :+ late(15))
    writeStagingFile(staging, 2025, 9, 15, 10, 30, lines(30) ++ extra(lines(15)))
    val mb = new MicroBatch(spark, staging, wh, maintainRollup = maintainRollup)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    (mb, LocalDateTime.of(2025, 9, 15, 10, 30))
  }

  test("a steady-state covered tick stays within its pinned job budget") {
    // one line redelivered byte-identically from the previous tick, one
    // late event into the (covered) previous day
    val (mb, t) = warmWarehouse("budget",
      prev => Seq(prev(5), raw("late30", "u-late", "2025-09-14T23:55:00.000+09:00")))
    assert(mb.silverBloom.covered(Seq("year=2025/month=9/day=14", "year=2025/month=9/day=15")))
    val (res, p) = TickProbe.during(spark)(mb.runInterval(t))
    // 22 lines, 21 of them new; silver and fact hold 60 day-15 rows and 3
    // day-14 rows
    assert(res.rows == ((22L, 21L, 21L)), s"tick returned $res")
    assert(res.held == 1L && res.unparseable == 0L, s"tick returned $res")
    Seq(mb.silverPath, mb.factPath).foreach(path =>
      assert(Warehouse.read(spark, path).count() == 63, path))
    info(s"steady covered tick: ${p.jobs} jobs, ${p.executions} SQL executions")
    assert(p.jobs <= MicroBatchSpec.TickJobBudget,
      s"${p.jobs} jobs > budget ${MicroBatchSpec.TickJobBudget}: ${p.trail.mkString(", ")}")
    assert(p.executions <= MicroBatchSpec.TickExecutionBudget,
      s"${p.executions} SQL executions > budget ${MicroBatchSpec.TickExecutionBudget}")
  }

  test("a tick that appends to a dim infers no schema") {
    // the staged interval brings 4 new users: dim_user gets an append,
    // written to the dim's known schema, never one read off its footers
    val (mb, t) = warmWarehouse("noinfer", _ => Nil)
    val users = spark.read.parquet(mb.dimUserPath).count()
    val (_, p) = TickProbe.during(spark)(mb.runInterval(t))
    assert(spark.read.parquet(mb.dimUserPath).count() == users + 4)
    // a schema inference is a footer-reading job outside any SQL execution
    val inferred = p.trail.filter(_.matches("-:parquet at .*"))
    assert(inferred.isEmpty, s"schema-inference jobs: ${inferred.mkString(", ")}")
  }

  test("gold is O(batch): a clean covered tick reads no stored silver or fact row") {
    val (mb, t) = warmWarehouse("obatch", _ => Nil)
    val (res, p) = TickProbe.during(spark, roots = Seq(mb.silverPath, mb.factPath))(
      mb.runInterval(t))
    assert(res.rows == ((20L, 20L, 20L)), s"tick returned $res")
    // the returned counts are observed on the writes: no action of the
    // tick reads the stored rows
    assert(p.rowsScannedExcept() == 0, s"stored rows read: ${p.scans}")
    // 60 day-15 rows, and the 2 day-14 rows of the warm-up ticks
    Seq(mb.silverPath, mb.factPath).foreach(path =>
      assert(Warehouse.read(spark, path).count() == 62, path))
  }

  test("a re-run after a crash before fact heals from silver's stored row") {
    val staging = tmpDir("staging_heal2")
    val wh = tmpDir("wh_heal2")
    // one event_id delivered twice with DIFFERENT payloads: the batch
    // dedup keeps whichever line comes first
    val a = raw("x1", "u1", "2025-09-15T10:01:00.000+09:00", "view_recipe")
    val b = raw("x1", "u1", "2025-09-15T10:01:00.000+09:00", "click_recipe")
    val other = raw("x2", "u2", "2025-09-15T10:02:00.000+09:00", "auth_success")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(a, b, other))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    val stored = spark.read.parquet(mb.silverPath).where($"event_id" === "x1")
      .select("event_name").as[String].collect().toSeq
    assert(stored.size == 1)

    // crash before fact: the fact files are lost (its sidecar survives,
    // over-approximating), silver and the dims are kept
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(mb.factPath),
      Array("parquet"), true).asScala.foreach(f => assert(f.delete()))
    // the re-run sees the same lines in the other order, so its own dedup
    // keeps the OTHER payload
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(b, a, other))
    val healed = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    assert(healed.rows == ((3L, 0L, 2L)), s"re-run returned $healed")
    assert(spark.read.parquet(mb.factPath).count() == 2)

    val fact = spark.read.parquet(mb.factPath)
    val dimE = spark.read.parquet(mb.dimEventPath)
    val resolved = fact.join(dimE, fact("event_dim_key") === dimE("event_sk"))
      .select("event_id", "event_name").as[(String, String)].collect().toMap
    assert(resolved == Map("x1" -> stored.head, "x2" -> "auth_success"))
    assert(spark.read.parquet(mb.silverPath).count() == 2)
  }

  /** A raw line carrying the keys the dims are built from: no
    * `anonymous_id` when `anon` is None, a context page and a recipe
    * property when given.
    */
  private def keyed(id: String, user: String, tsKst: String, anon: Option[String] = None,
                    pageName: Option[String] = None, pageUrl: Option[String] = None,
                    recipe: Option[String] = None): String = {
    def q(v: String) = "\\\"" + v + "\\\""
    def obj(kv: (String, Option[String])*) =
      kv.collect { case (k, Some(v)) => q(k) + ":" + q(v) }.mkString("{", ",", "}")
    val context =
      if (pageName.isEmpty && pageUrl.isEmpty) "{}"
      else "{" + q("page") + ":" + obj("name" -> pageName, "url" -> pageUrl) + "}"
    s"""{"event_id":"$id","event_name":"view_recipe","user_id":"$user",""" +
      anon.map(a => s""""anonymous_id":"$a",""").getOrElse("") +
      s""""session_id":"s1","timestamp":"$tsKst","context":"$context",""" +
      s""""event_properties":"${obj("recipe_id" -> recipe)}"}"""
  }

  /** The parquet data files under a sink, by name. */
  private def dataFiles(path: String): Set[String] = {
    val dir = new java.io.File(path)
    if (!dir.exists()) Set.empty
    else org.apache.commons.io.FileUtils.listFiles(dir, Array("parquet"), true)
      .asScala.map(_.getName).toSet
  }

  test("miss flags are conservative: null anonymous_id and (null, url) pages upsert once") {
    val staging = tmpDir("staging_nullkeys")
    val wh = tmpDir("wh_nullkeys")
    val a = Some("https://r/a")
    // J1 never matches a null anonymous_id; J4 matches ("", url) for a
    // (null, url) row, which the null-safe upsert still appends
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      keyed("n1", "u1", "2025-09-15T10:01:00.000+09:00", pageName = Some(""), pageUrl = a),
      keyed("n2", "u2", "2025-09-15T10:02:00.000+09:00", Some("a-u2"),
        pageUrl = Some("https://r/b"))))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, Seq(
      keyed("n3", "u1", "2025-09-15T10:16:00.000+09:00"),
      keyed("n4", "u2", "2025-09-15T10:17:00.000+09:00", Some("a-u2"), pageUrl = a)))
    val mb = new MicroBatch(spark, staging, wh)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val keys = Seq("event_id", "user_dim_key", "event_dim_key", "page_dim_key", "recipe_dim_key")
    for ((min, ids) <- Seq(0 -> Seq("n1", "n2"), 15 -> Seq("n3", "n4"))) {
      mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, min))
      // the tick's fact rows are those a join against the whole dims
      // after the tick builds
      val silver = spark.read.parquet(mb.silverPath).where($"event_id".isin(ids: _*))
      val dim = (p: String) => spark.read.parquet(p)
      val whole = graft.pipeline.SilverToGold.buildFact(silver, d => dim(d.path(wh, "")))
      assert(rows(spark.read.parquet(mb.factPath).where($"event_id".isin(ids: _*))
        .select(keys.map(col): _*)) == rows(whole.select(keys.map(col): _*)), s"tick $min")
    }
    // every null-safe key once: no forked SK
    assert(rows(spark.read.parquet(mb.dimUserPath).select("user_sk", "user_id", "anonymous_id")) ==
      Seq("[1,u1,null]", "[2,u2,a-u2]"))
    assert(rows(spark.read.parquet(mb.dimPagePath)) ==
      Seq("[1,null,https://r/b]", "[2,,https://r/a]", "[3,null,https://r/a]"))
  }

  test("a tick with no new dim key runs no upsert, writes no dim file, and recompiles little") {
    val staging = tmpDir("staging_nokey")
    val wh = tmpDir("wh_nokey")
    val names = Seq("view_recipe", "click_recipe", "auth_success")
    // the same 4 users and 3 event names every interval, no page or recipe
    for (k <- 0 until 4) writeStagingFile(staging, 2025, 9, 15, 10, 15 * k,
      (0 until 20).map(i => raw(s"k$k-$i", s"u${i % 4}",
        f"2025-09-15T10:${15 * k}%02d:$i%02d.000+09:00", names(i % 3))))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    val dims = Seq(mb.dimUserPath, mb.dimEventPath, mb.dimPagePath, mb.dimRecipePath)
    val files = dims.map(dataFiles)
    val compiles = (1 until 4).map { k =>
      val (res, p) = TickProbe.during(spark)(
        mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15 * k)))
      assert(res.rows == ((20L, 20L, 20L)), s"tick $k returned $res")
      Seq(mb.silverPath, mb.factPath).foreach(path =>
        assert(spark.read.parquet(path).count() == 20L * (k + 1), s"tick $k: $path"))
      assert(!p.callStacks.exists(_.contains("MicroBatch.upsertDim")),
        s"tick $k ran a dim upsert: ${p.trail.mkString(", ")}")
      assert(dims.map(dataFiles) == files, s"tick $k wrote a dim file")
      p.compiles
    }
    info(s"classes compiled by the no-new-key ticks: ${compiles.mkString(", ")}")
    assert(compiles.last <= MicroBatchSpec.SteadyTickCompiles,
      s"the third no-new-key tick compiled ${compiles.last} classes")
  }

  test("a tick with only a new recipe appends to dim_recipe alone, above its high-water mark") {
    val staging = tmpDir("staging_recipe")
    val wh = tmpDir("wh_recipe")
    val tick = (min: Int, recipes: Seq[String]) => recipes.zipWithIndex.map { case (r, i) =>
      keyed(s"r$min-$i", s"u$i", f"2025-09-15T10:$min%02d:$i%02d.000+09:00", Some(s"a-u$i"),
        recipe = Some(r))
    }
    writeStagingFile(staging, 2025, 9, 15, 10, 0, tick(0, Seq("1001", "1002")))
    writeStagingFile(staging, 2025, 9, 15, 10, 15, tick(15, Seq("1001", "1003")))
    val mb = new MicroBatch(spark, staging, wh)
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    val others = Seq(mb.dimUserPath, mb.dimEventPath, mb.dimPagePath)
    val files = others.map(dataFiles)
    val recipeFiles = dataFiles(mb.dimRecipePath)
    val storedRows = others.map(spark.read.parquet(_).count()).sum

    val (_, p) = TickProbe.during(spark, roots = others)(
      mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15)))
    assert(others.map(dataFiles) == files, "a dim without a new key got a file")
    assert((dataFiles(mb.dimRecipePath) -- recipeFiles).size == 1)
    // the other dims are read once, by the tick's one join of the dims
    assert(p.rowsScannedExcept() == storedRows, s"dim rows read: ${p.scans}")
    val sks = spark.read.parquet(mb.dimRecipePath).select("recipe_id", "recipe_sk")
      .as[(String, Long)].collect().toMap
    assert(sks == Map("1001" -> 1L, "1002" -> 2L, "1003" -> 3L))
    val fact = spark.read.parquet(mb.factPath).select("event_id", "recipe_dim_key")
      .as[(String, Long)].collect().toMap
    assert(fact == Map("r0-0" -> 1L, "r0-1" -> 2L, "r15-0" -> 1L, "r15-1" -> 3L))
  }

  test("no shared-session conf changes while a tick or a streaming drain runs") {
    val keys = Seq("spark.sql.sources.partitionOverwriteMode", "spark.sql.shuffle.partitions")
    val baseline = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val (mb, t) = warmWarehouse("conf", _ => Nil, maintainRollup = true)
    val (_, tick) = TickProbe.during(spark, confKeys = keys)(mb.runInterval(t))

    val staging = tmpDir("staging_conf_stream")
    val wh = tmpDir("wh_conf_stream")
    Files.write(Paths.get(s"$staging/a.jsonl"), Seq(
      raw("cs1", "u1", "2025-09-15T10:01:00.000+09:00"),
      raw("cs2", "u2", "2025-09-15T10:02:00.000+09:00")).mkString("\n").getBytes)
    StreamingIngest.runBronze(spark, s"$staging/*.jsonl", s"$wh/bronze",
      s"$wh/ckpt_b", "2025-09-15")
    val (_, drain) = TickProbe.during(spark, confKeys = keys) {
      StreamingIngest.runSilver(spark, s"$wh/bronze", s"$wh/silver", s"$wh/ckpt_s")
      StreamingIngest.runGold(spark, s"$wh/silver", wh, s"$wh/ckpt_g", maintainRollup = true)
    }
    assert(spark.read.parquet(s"$wh/fact_user_events").count() == 2)
    Seq("tick" -> tick, "drain" -> drain).foreach { case (what, p) =>
      assert(p.confSamples.nonEmpty, s"$what: no SQL execution observed")
      val changed = p.confSamples.filter(_ != baseline)
      assert(changed.isEmpty, s"$what changed the caller's session conf: ${changed.distinct}")
    }
    assert(keys.map(k => k -> spark.conf.getOption(k)).toMap == baseline)
  }

  test("route-aware tick drains mixed media to the catalog, idempotently") {
    import graft.pipeline.Multimodal
    val staging = tmpDir("stagingmr")
    val mediaStaging = tmpDir("mediastg")
    val wh = tmpDir("whmr")
    writeStagingFile(staging, 2025, 9, 15, 10, 0, Seq(
      raw("m1", "u1", "2025-09-15T10:01:00.000+09:00")))
    // the same interval's media objects: one per container kind + garbage
    val mdir = Paths.get(
      s"$mediaStaging/year=2025/month=09/day=15/hour=10/minute=00")
    Files.createDirectories(mdir)
    Files.write(mdir.resolve("1.bin"), Multimodal.pngBytes(20, 30))
    Files.write(mdir.resolve("2.bin"), Multimodal.jpegBytes(40, 50))
    Files.write(mdir.resolve("3.bin"), Multimodal.gifBytes(60, 70))
    Files.write(mdir.resolve("4.bin"), Multimodal.videoBytes(5, 8, _ => 1.toByte))
    Files.write(mdir.resolve("5.bin"),
      Multimodal.mp4Bytes(Array(16, 20, 24), _ => 2.toByte, w = 320, h = 180))
    Files.write(mdir.resolve("6.bin"),
      Multimodal.wavBytes(10, 2, 16000, 16, 5, _ => 7.toByte))
    Files.write(mdir.resolve("7.bin"), "not media at all".getBytes("UTF-8"))

    val mb = new MicroBatch(spark, staging, wh, mediaStagingBase = Some(mediaStaging))
    val t1 = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    assert(t1.fact == 1L) // the events side of the tick is unaffected
    // the tick's report names the route stage explicitly
    assert(t1.stages.exists(_._1 == "media_route"))

    val catalog = spark.read.parquet(mb.mediaCatalogPath)
    val byId = catalog
      .select("media_id", "kind", "width", "height", "n_frames", "sample_rate")
      .as[(Long, String, Int, Int, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(byId.size == 6) // garbage dropped before any decoder ran
    assert(byId(1L) == ((1L, "png", 20, 30, -1L, -1)))
    assert(byId(2L) == ((2L, "jpeg", 40, 50, -1L, -1)))
    assert(byId(3L) == ((3L, "gif", 60, 70, -1L, -1)))
    assert(byId(4L) == ((4L, "gftv", -1, -1, 5L, -1)))
    assert(byId(5L) == ((5L, "mp4", 320, 180, 3L, -1)))
    assert(byId(6L) == ((6L, "wav", -1, -1, 10L, 16000)))
    // the catalog carries metadata only — payload bytes never land in it
    assert(!catalog.columns.contains("payload"))

    // re-run: the dynamic partition overwrite replaces the batch's own
    // partition, so the catalog converges instead of duplicating
    mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
    assert(spark.read.parquet(mb.mediaCatalogPath).count() == 6)

    // a media-only interval (no events staged) still publishes its
    // catalog partition — the events short-circuit must not starve it
    val mdir2 = Paths.get(
      s"$mediaStaging/year=2025/month=09/day=15/hour=10/minute=15")
    Files.createDirectories(mdir2)
    Files.write(mdir2.resolve("8.bin"), Multimodal.pngBytes(11, 12))
    val t2 = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
    assert(t2.rows == ((0L, 0L, 0L)))
    assert(spark.read.parquet(mb.mediaCatalogPath).count() == 7)
  }
}

object MicroBatchSpec {
  /** Jobs and SQL executions of the steady-state covered tick above: the
    * tick's count when the budget was set (77 jobs and 35 executions
    * before the O(batch) rewrite of the tick, 37 and 14 before gold joined
    * the dims in its todo pin and upserted only the dims that missed, 36
    * and 14 before the tick's closing read-back counts were replaced by
    * counts observed on its writes, 32 and 12 before its dim_user append
    * stopped inferring the stored schema).
    */
  val TickJobBudget = 31
  val TickExecutionBudget = 12

  /** Classes the third consecutive no-new-key tick above may compile:
    * 3 in each of 9 runs when set, 93–113 when every tick upserted all
    * four dims in one query and built the fact against the re-read dims.
    * Which code-cache segment a class lands in varies per JVM.
    */
  val SteadyTickCompiles = 30
}

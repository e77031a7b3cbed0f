package graft.runner

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bloom-sidecar anti-join fast path: coverage contract, roll
  * semantics, crash over-approximation safety, and end-to-end
  * equivalence with the plain anti-join under redelivery.
  */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def keyed(rows: (String, String)*) =
    rows.toDF("part", "event_id")

  test("fresh partition becomes covered; rolls merge; probes see every added key") {
    val sink = tmpDir("bloom_sink")
    val sc = new BloomSidecar(spark, sink)
    val part = "created_date=2025-09-15"

    assert(!sc.covered(Seq(part)))
    sc.addBatch(keyed(part -> "e1", part -> "e2"))
    assert(sc.covered(Seq(part)))

    // second add ROLLS into one file: both batches' keys stay positive
    sc.addBatch(keyed(part -> "e3"))
    val files = new java.io.File(s"$sink/_bloom/$part")
      .listFiles().filter(_.getName.endsWith(".bloom"))
    assert(files.length == 1, "roll must leave exactly one bloom file")
    val blooms = sc.load(Seq(part))
    Seq("e1", "e2", "e3").foreach(k =>
      assert(blooms.exists(_.mightContainString(k)), s"$k must probe positive"))
    // a never-added key is (overwhelmingly) negative at fpp 0.01
    assert(!blooms.exists(_.mightContainString("never-added")))

    // empty partition list is never covered (vacuous coverage would make
    // an empty affected set skip a scan it was never entitled to skip)
    assert(!sc.covered(Seq.empty))
  }

  test("native probe expression: parity with the sketch API, codegen placement, null keys") {
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(1000, 0.01)
    Seq("k1", "k2", "κ-utf8-키").foreach(bf.putString)

    val df = Seq(Some("k1"), Some("k2"), Some("κ-utf8-키"), Some("absent"), None)
      .toDF("k")
      .select($"k", graft.functions.BloomMightContain($"k", bf).as("hit"))
    // parity incl. non-ASCII (putString hashes UTF-8 bytes; the
    // expression probes the UTF8String bytes directly) + null → false
    assert(df.collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq ==
      Seq(("k1", true), ("k2", true), ("κ-utf8-키", true),
        ("absent", false), (null, false)))
    // codegen placement needs a non-local input (a local Seq is folded by
    // ConvertToLocalRelation before planning): probe a parquet-backed
    // string column and require the `*(n)` whole-stage prefix on the
    // projecting operator
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val probed = docs.select($"source",
      graft.functions.BloomMightContain($"source", bf).as("hit"))
    assert("""\*\(\d+\) Project \[source#""".r
      .findFirstIn(probed.queryExecution.executedPlan.toString).isDefined,
      "probe projection must stay inside whole-stage codegen")
    // and the generated path agrees with the sketch API on real data
    val srcs = docs.select($"source").distinct().as[String].collect()
    val hits = probed.where($"hit").select($"source").distinct()
      .as[String].collect().toSet
    assert(hits == srcs.filter(bf.mightContainString).toSet)
  }

  test("null keys and null partitions are dropped from the bloom build, rows still dedup-safe") {
    val sink = tmpDir("bloom_nulls")
    val part = "created_date=2025-09-18"
    val sc = new BloomSidecar(spark, sink)
    // a null event_id (unparseable event surviving silver) and a null
    // part dir (null year/month/day) used to NPE putString / mis-file
    // under _bloom/null; both rows are always KEPT by the anti-join (a
    // null key never matches), so they never need coverage
    val rows = Seq((part, "n1"), (part, null), (null, "n2"))
      .toDF("part", "event_id")
    sc.addBatch(rows) // must not throw
    assert(sc.covered(Seq(part)))
    assert(!new java.io.File(s"$sink/_bloom/null").exists())
    val blooms = sc.load(Seq(part))
    assert(blooms.exists(_.mightContainString("n1")))
  }

  test("a saturated sidecar reports uncovered: ticks fall back to the exact anti-join") {
    val sink = tmpDir("bloom_sat")
    val part = "created_date=2025-09-19"
    // capacity 8 → saturation budget 16: past it the probe's fpp has
    // degraded to where the "fast path" does more exact-verify work than
    // the plain anti-join it replaces
    val sc = new BloomSidecar(spark, sink, expectedItems = 8)
    sc.addBatch((0 until 10).map(i => (part, s"k$i")).toDF("part", "event_id"))
    assert(sc.covered(Seq(part)), "under budget must stay covered")
    sc.addBatch((10 until 30).map(i => (part, s"k$i")).toDF("part", "event_id"))
    assert(!sc.covered(Seq(part)), "past 2x capacity must report uncovered")
    // the count is cumulative across rolls, carried in the file name
    val names = new java.io.File(s"$sink/_bloom/$part").listFiles()
      .map(_.getName).filter(_.endsWith(".bloom"))
    assert(names.length == 1 && names.head.contains("_n30."), names.mkString(","))
  }

  test("probe expressions with equal bloom bytes canonicalize equal (CSE-able)") {
    import org.apache.spark.util.sketch.BloomFilter
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge
    def bloom(keys: String*): BloomFilter = {
      val b = BloomFilter.create(100, 0.01); keys.foreach(b.putString); b
    }
    def bytes(keys: String*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); bloom(keys: _*).writeTo(bos); bos.toByteArray
    }
    val key = Literal("probe-key")
    val e1 = graft.functions.BloomMightContain(key, bytes("a", "b"))
    val e2 = graft.functions.BloomMightContain(key, bytes("a", "b"))
    val e3 = graft.functions.BloomMightContain(key, bytes("different"))
    // serialized bytes compare by CONTENT (two independently serialized
    // blooms of the same keys are byte-identical), so Catalyst can
    // eliminate the common subexpression across the where(probe)/
    // where(!probe) pair in the tick's anti-join
    assert(e1 == e2 && e1.semanticEquals(e2))
    assert(e1.hashCode == e2.hashCode)
    assert(e1 != e3)
    // two probes built from one bloom through the Column API are equal,
    // hash equal, and keep their hash; another key or bloom differs
    val bf = bloom("a", "b")
    val (eventId, userId) = (col("event_id"), col("user_id"))
    def probe(k: org.apache.spark.sql.Column, b: BloomFilter) =
      graftbridge.toExpression(graft.functions.BloomMightContain(k, b))
    val (p1, p2) = (probe(eventId, bf), probe(eventId, bf))
    assert((p1 ne p2) && p1 == p2 && p1.hashCode == p2.hashCode && p1.hashCode == p1.hashCode)
    assert(p1 != probe(eventId, bloom("a", "c")) && p1 != probe(userId, bf))
  }

  test("a pre-sidecar partition is never silently claimed: untrusted adds skip it") {
    val sink = tmpDir("bloom_legacy")
    val part = "created_date=2025-09-16"
    // partition exists on disk before any bloom (bulk-seeded, no blooms)
    Seq(("x1", 1)).toDF("event_id", "v")
      .write.parquet(s"$sink/$part")

    val sc = new BloomSidecar(spark, sink)
    sc.addBatch(keyed(part -> "x2"))
    // claiming coverage here would hide x1 from future anti-joins
    assert(!sc.covered(Seq(part)))

    // a bulk writer that rebuilt the whole partition CAN vouch for it
    sc.addBatch(keyed(part -> "x1", part -> "x2"), trusted = true)
    assert(sc.covered(Seq(part)))
    // mixed affected sets are only covered when EVERY partition is
    assert(!sc.covered(Seq(part, "created_date=2025-09-17")))
  }

  test("tick equivalence under redelivery: bloom path and plain path build identical sinks") {
    def run(withBlooms: Boolean): (Seq[String], Seq[String]) = {
      val staging = tmpDir("bloom_staging")
      val wh = tmpDir("bloom_wh")
      def stage(min: Int, ids: Seq[String]): Unit = {
        val dir = java.nio.file.Paths.get(
          f"$staging/year=2025/month=09/day=15/hour=10/minute=$min%02d")
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.write(dir.resolve("events.json"), ids.map { id =>
          s"""{"event_id":"$id","event_name":"view_recipe","user_id":"u-$id",""" +
            s""""anonymous_id":"a-$id","session_id":"s1",""" +
            s""""timestamp":"2025-09-15T10:01:00.000+09:00","context":"{}",""" +
            s""""event_properties":"{}"}"""
        }.mkString("\n").getBytes)
      }
      stage(0, Seq("r1", "r2"))
      stage(15, Seq("r2", "r3")) // r2 redelivered across ticks
      val mb = new MicroBatch(spark, staging, wh)
      mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0))
      if (!withBlooms) { // degrade to the pre-sidecar layout between ticks
        Seq(mb.silverPath, mb.factPath).foreach { p =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$p/_bloom"))
        }
      } else {
        // tick 2's affected partition must take the covered fast path
        assert(mb.silverBloom.covered(Seq("year=2025/month=9/day=15")))
        assert(mb.factBloom.covered(Seq("created_date=2025-09-15")))
      }
      mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 15))
      (spark.read.parquet(mb.silverPath).select("event_id")
        .as[String].collect().sorted.toSeq,
       spark.read.parquet(mb.factPath).select("event_id")
        .as[String].collect().sorted.toSeq)
    }
    val (silverFast, factFast) = run(withBlooms = true)
    val (silverPlain, factPlain) = run(withBlooms = false)
    assert(silverFast == Seq("r1", "r2", "r3"), "redelivered r2 must dedup")
    assert(silverFast == silverPlain && factFast == factPlain,
      "bloom fast path must be observationally identical to the plain anti-join")
  }

  test("a clean covered tick NEVER reads the existing partitions (instrumented scan)") {
    val sink = tmpDir("bloom_noscan")
    val part = "created_date=2025-09-15"
    val sc = new BloomSidecar(spark, sink)
    sc.addBatch(keyed(part -> "old1", part -> "old2"))
    Seq("old1", "old2").toDF("event_id").write.parquet(s"$sink/$part")

    // every read of the existing ids trips the accumulator
    val reads = spark.sparkContext.longAccumulator("existing_reads")
    val touch = udf((s: String) => { reads.add(1); true })
    val existing = spark.read.parquet(s"$sink/$part").where(touch($"event_id"))
      .select("event_id")

    val mb = new MicroBatch(spark, tmpDir("bloom_noscan_staging"), tmpDir("bloom_noscan_wh"))
    // all-new batch: bloom-negative across the board → the O(day) scan
    // must not run AT ALL (the 100-TB claim, pinned deterministically —
    // the short-circuit is explicit, not an AQE artifact)
    def kept(batch: DataFrame): DataFrame = mb.markExisting(batch, existing, sc, Seq(part))
      ._1.where(!col(MicroBatch.Present)).select("event_id")
    val clean = Seq("new1", "new2", "new3").toDF("event_id")
    assert(kept(clean).collect().map(_.getString(0)).sorted.toSeq == Seq("new1", "new2", "new3"))
    assert(reads.value == 0, "clean tick must not read existing partitions")

    // a redelivered id flips to the verify path: the scan runs, bounded,
    // and exactly the duplicate is dropped
    val redelivered = Seq("old2", "new4").toDF("event_id")
    val kept2 = kept(redelivered)
    assert(kept2.collect().map(_.getString(0)).toSeq == Seq("new4"))
    assert(reads.value > 0)
  }

  test("crash between sidecar write and data append only over-approximates: rows still land") {
    val staging = tmpDir("bloom_crash_staging")
    val wh = tmpDir("bloom_crash_wh")
    val dir = java.nio.file.Paths.get(
      "%s/year=2025/month=09/day=15/hour=10/minute=00".format(staging))
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("events.json"),
      (s"""{"event_id":"c1","event_name":"view_recipe","user_id":"u1",""" +
        s""""anonymous_id":"a1","session_id":"s1",""" +
        s""""timestamp":"2025-09-15T10:01:00.000+09:00","context":"{}",""" +
        s""""event_properties":"{}"}""").getBytes)

    val mb = new MicroBatch(spark, staging, wh)
    // simulate the crash state the write order can produce: blooms claim
    // c1 everywhere, but no data was ever appended
    mb.silverBloom.addBatch(keyed("year=2025/month=9/day=15" -> "c1"))
    mb.factBloom.addBatch(keyed("created_date=2025-09-15" -> "c1"))

    val (_, silverN, factN) = mb.runInterval(LocalDateTime.of(2025, 9, 15, 10, 0)).rows
    // bloom-positive but absent → exact verify keeps the row: healed, once
    assert(silverN == 1 && factN == 1)
    assert(spark.read.parquet(mb.silverPath).count() == 1)
    assert(spark.read.parquet(mb.factPath)
      .where(col("event_id") === "c1").count() == 1)
  }

  test("an overwrite write invalidates the sidecar BEFORE touching data") {
    val sink = tmpDir("bloom_inval")
    val part = "year=2025/month=9/day=15"
    val sc = new BloomSidecar(spark, sink)
    // covered partition from the append path, blooming ids {a1}
    sc.addBatch(keyed(part -> "a1"))
    Seq(("a1", 2025, 9, 15)).toDF("event_id", "year", "month", "day")
      .write.mode("append").partitionBy("year", "month", "day").parquet(sink)
    assert(sc.covered(Seq(part)))

    // a bulk overwrite rewrites the partition with a SUPERSET {a1, a2}:
    // the old bloom under-approximates it — the one state that would let
    // a later tick append a2 twice. The writer must drop the sidecar.
    graft.pipeline.Warehouse.writeSilverClustered(
      Seq(("a1", 2025, 9, 15), ("a2", 2025, 9, 15))
        .toDF("event_id", "year", "month", "day"),
      sink)
    assert(!sc.covered(Seq(part)),
      "stale sidecar must not survive an overwrite")
    assert(!new java.io.File(s"$sink/_bloom").exists())
    // uncovered → ticks fall back to the exact anti-join (the
    // bloom-vs-plain equivalence test proves that path's correctness)
  }

  test("bulk seeding covers the bulk-written partitions; the next tick takes the fast path") {
    val staging = tmpDir("bloom_bulk_staging")
    val wh = tmpDir("bloom_bulk_wh")
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events").limit(50)
    val raw = graft.pipeline.RefEventsAdapter.toRawJson(events)
    val silverN = Bulk.run(spark, raw, wh, "2024-01-01", seedBlooms = true).silver
    assert(silverN > 0)

    val mb = new MicroBatch(spark, staging, wh)
    val silverParts = spark.read.parquet(mb.silverPath)
      .select("year", "month", "day").distinct().collect()
      .map(r => s"year=${r.getInt(0)}/month=${r.getInt(1)}/day=${r.getInt(2)}").toSeq
    assert(mb.silverBloom.covered(silverParts))
    val factParts = spark.read.parquet(mb.factPath)
      .select("created_date").distinct().collect()
      .map(r => s"created_date=${r.getDate(0)}").toSeq
    assert(mb.factBloom.covered(factParts))
    // every bulk-written event probes positive in its silver partition
    val blooms = mb.silverBloom.load(silverParts)
    spark.read.parquet(mb.silverPath).select("event_id").as[String].collect()
      .foreach(id => assert(blooms.exists(_.mightContainString(id))))
  }
}

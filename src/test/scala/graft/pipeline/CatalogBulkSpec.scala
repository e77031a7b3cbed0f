package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.runner.Bulk

/** The EP2 bulk rebuild, its master-built dim_recipe, and co-bucketed
  * catalog tables.
  */
class CatalogBulkSpec extends SparkSpec {
  import spark.implicits._

  test("bulk rebuild: full medallion pass over adapter-generated raw lines") {
    val wh = tmpDir("bulkwh")
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val raw = RefEventsAdapter.toRawJson(events)
    val (r, run) = graft.runner.TickProbe.during(spark)(
      Bulk.run(spark, raw.unionByName(raw), wh, "2024-01-01"))
    val (b, s, f) = r.rows
    assert(b == 2000L) // doubled raw preserved in bronze (raw layer keeps dups)
    assert(s == 1000L) // silver deduped
    assert(f == 1000L) // fact 1:1 with silver
    // the report's counts ride the writes: the pass runs no count action
    assert(run.scans.count(_._1 == "count") == 0, run.scans.map(_._1).mkString(", "))
    assert(r.stages.map(_._1) == Seq("bronze", "silver", "dims", "fact"))
    assert(r.unparseable == 0L)
    // dims exist and have unique SKs; the report counts their rows
    val du = Warehouse.read(spark, s"$wh/dim_user")
    assert(du.count() == du.select("user_sk").distinct().count())
    Seq("dim_user", "dim_event", "dim_page", "dim_recipe").foreach(d =>
      assert(r.dimAppended(d) == Warehouse.read(spark, s"$wh/$d").count(), d))
    // dim_event's SKs are deterministic: 1..n in event_name order
    val de = Warehouse.read(spark, s"$wh/dim_event").orderBy("event_name")
      .select("event_sk").as[Long].collect().toSeq
    assert(de.nonEmpty && de == (1L to de.size.toLong), s"dim_event SKs $de")
    // fact joins resolved: every event_name is in dim_event (non-zero SK),
    // and the report's SK-0 counts match the fact table's
    val fact = Warehouse.read(spark, s"$wh/fact_user_events")
    assert(fact.where($"event_dim_key" === 0).count() == 0)
    assert(fact.where($"user_dim_key" === 0).count() == 0)
    Seq("user", "event", "page", "recipe").foreach(d =>
      assert(r.skZero(s"dim_$d") == fact.where(col(s"${d}_dim_key") === 0).count(), d))
    // clustered bulk writes bound the small-file spray: at most
    // filesPerPartition (2) parquet files per date partition, instead of
    // one per (shuffle task × date)
    def parquetFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) parquetFiles(f)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      }
    val silverDates = Warehouse.read(spark, s"$wh/user_events_silver")
      .select("year", "month", "day").distinct().count()
    val nSilverFiles = parquetFiles(new java.io.File(s"$wh/user_events_silver")).size
    assert(nSilverFiles <= silverDates * 2,
      s"$nSilverFiles silver files for $silverDates date partitions")
    // dim_recipe was built by READING the master parquet: one dim row per
    // master row, attributes carried through the rename
    val master = spark.read.parquet(s"$wh/recipe_master.parquet")
    val dr = Warehouse.read(spark, s"$wh/dim_recipe")
    assert(dr.count() == master.count() && dr.count() > 0)
    val joined = dr.join(master, dr("recipe_id") === master("id").cast("string"))
    assert(joined.count() == dr.count())
    assert(joined.where(dr("recipe_name") =!= master("name") ||
      dr("dish_type") =!= master("dish_type") ||
      dr("cooking_time") =!= master("cooking_time")).count() == 0)
  }

  test("a bulk pass's dims equal a row_number over their naturals, nulls first") {
    // the reference SK rule, computed here from the pass's own silver (and
    // dim_recipe's from its master): SKs 1..n in natural-key order,
    // ascending with nulls first, over one row per key
    val wh = tmpDir("bulkdims")
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    Bulk.run(spark, RefEventsAdapter.toRawJson(events), wh, "2024-01-01")
    val silver = Warehouse.read(spark, s"$wh/user_events_silver")
    val master = spark.read.parquet(s"$wh/recipe_master.parquet")
    def numbered(rows: org.apache.spark.sql.DataFrame, sk: String, naturals: String*) =
      rows.withColumn(sk, row_number().over(Window.orderBy(naturals.map(asc_nulls_first): _*))
        .cast("long"))
    val latest = Window.partitionBy("user_id").orderBy(desc("kst_timestamp"), desc("event_id"))
    val reference = Map(
      "dim_user" -> numbered(silver.where($"user_id".isNotNull)
        .withColumn("rn", row_number().over(latest)).where($"rn" === 1)
        .select("user_id", "anonymous_id", "user_segment", "cooking_style", "ab_test_group"),
        "user_sk", "user_id", "anonymous_id"),
      "dim_event" -> numbered(silver.where($"event_name".isNotNull).select("event_name").distinct(),
        "event_sk", "event_name"),
      "dim_page" -> numbered(silver.where($"page_name".isNotNull || $"page_url".isNotNull)
        .select("page_name", "page_url").distinct(), "page_sk", "page_name", "page_url"),
      "dim_recipe" -> numbered(master.select($"id".cast("string").as("recipe_id"),
        $"name".as("recipe_name"), $"dish_type", $"ingredient_type", $"method_type",
        $"situation_type", $"difficulty", $"cooking_time".cast("int")), "recipe_sk", "recipe_id"))
    reference.foreach { case (d, ref) =>
      val built = Warehouse.read(spark, s"$wh/$d")
      val want = ref.select(built.columns.map(col): _*)
      assert(built.count() > 0 && built.count() == want.count(), d)
      assert(built.exceptAll(want).isEmpty && want.exceptAll(built).isEmpty, d)
    }
  }

  test("co-bucketed join and aggregation plan with zero shuffle exchanges") {
    spark.sql("DROP DATABASE IF EXISTS graft_bucket_db CASCADE")
    spark.sql("CREATE DATABASE graft_bucket_db")
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"event_type", $"value")
    val users = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"))
    Bucketed.writeBucketed(events, "graft_bucket_db.ev_b", "user_id", 8)
    Bucketed.writeBucketed(users, "graft_bucket_db.us_b", "user_id", 8)

    // force the join shape under test: no broadcast fallback
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.bucketJoin(spark, "graft_bucket_db.ev_b",
        "graft_bucket_db.us_b", "user_id")
      val jPlan = joined.queryExecution.executedPlan.toString
      assert(jPlan.contains("SortMergeJoin"),
        "co-bucketed join not planned as SMJ:\n" + jPlan)
      assert(!jPlan.contains("Exchange"),
        "co-bucketed join still shuffles:\n" + jPlan)
      // same rows as the un-bucketed shuffle join
      val plain = events.join(users, Seq("user_id"))
      assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)

      // groupBy on the bucket key: one HashAggregate, no exchange
      val agg = spark.table("graft_bucket_db.ev_b")
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
      val aPlan = agg.queryExecution.executedPlan.toString
      assert(!aPlan.contains("Exchange"),
        "bucketed groupBy still shuffles:\n" + aPlan)
      assert(agg.exceptAll(users.withColumnRenamed("n_events", "n")).isEmpty)

      // write-side file layout: bucket files bounded by the bucket count
      // (the pre-repartition keeps one writer task per bucket)
      val loc = spark.sql("DESCRIBE EXTENDED graft_bucket_db.ev_b")
        .where($"col_name" === "Location").select("data_type").head.getString(0)
      val files = Option(new java.io.File(new java.net.URI(loc)).listFiles())
        .toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty && files.size <= 8,
        s"${files.size} files for 8 buckets")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("dimRecipeFromMaster reproduces the reference master rename + shape") {
    val master = Seq(
      (7L, "bibimbap", "rice", "veg", "raw", "daily", "easy", 20),
      (3L, "kimchi_stew", "stew", "meat", "boil", "party", "hard", 60))
      .toDF("id", "name", "dish_type", "ingredient_type", "method_type",
        "situation_type", "difficulty", "cooking_time")
    val dim = Dims.Recipe.build(Dims.recipeMasterAttrs(master))
    assert(dim.columns.toSeq == Seq("recipe_sk", "recipe_id", "recipe_name",
      "dish_type", "ingredient_type", "method_type", "situation_type",
      "difficulty", "cooking_time"))
    val rows = dim.orderBy("recipe_sk").collect()
    // deterministic SKs: row_number over recipe_id (string order)
    assert(rows.map(_.getString(1)).toSeq == Seq("3", "7"))
    assert(rows(0).getString(2) == "kimchi_stew" && rows(1).getString(2) == "bibimbap")
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }
}

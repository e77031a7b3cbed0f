package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField}

/** Dimension builds for the gold star schema (create_dims.py:59-180).
  *
  * Surrogate keys: the reference uses `monotonically_increasing_id`
  * (create_dims.py:78) which is partition-dependent and therefore
  * non-deterministic across runs/cluster layouts. We assign SKs with
  * `row_number` over the natural key instead — deterministic, testable,
  * and stable under re-runs (SURVEY.md §7.5 risk 2). For a full rebuild
  * the global row_number is a single-pass window; dimension cardinality
  * (users/recipes/pages) is orders of magnitude below fact cardinality,
  * so the single-partition window over the *deduplicated dim candidates*
  * is not a 100 TB bottleneck (dims are ~10^3..10^6 rows). SKs start at 1;
  * 0 is reserved as the "join missed" default (silver_to_gold_processor
  * .py:272-276).
  */
object Dims {

  /** W1 — SCD Type 1: latest record per user by a deterministic recency
    * order (create_dims.py:67-74 orders by processed_at; we order by the
    * caller-supplied event-time column + event_id tiebreak so results are
    * reproducible).
    */
  def latestPerUser(silver: DataFrame, orderCol: String = "kst_timestamp"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(desc(orderCol), desc("event_id"))
    silver
      .select("user_id", "anonymous_id", "user_segment", "cooking_style",
        "ab_test_group", orderCol, "event_id")
      .where(col("user_id").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn", orderCol, "event_id")
      .distinct()
  }

  /** dim_user: SCD-1 latest per user + deterministic SK. */
  def dimUser(silver: DataFrame): DataFrame = {
    val w = Window.orderBy("user_id", "anonymous_id")
    latestPerUser(silver)
      .withColumn("user_sk", row_number().over(w).cast("long"))
      .select("user_sk", "user_id", "anonymous_id", "user_segment",
        "cooking_style", "ab_test_group")
  }

  /** A2 + SK — generic small dim from distinct candidate columns
    * (create_dims.py:99-104). First id column must be non-null.
    */
  def dimFromColumns(silver: DataFrame, idCols: Seq[String], sk: String): DataFrame = {
    val w = Window.orderBy(idCols.map(col): _*)
    silver.select(idCols.map(col): _*)
      .where(col(idCols.head).isNotNull)
      .distinct()
      .withColumn(sk, row_number().over(w).cast("long"))
      .select((sk +: idCols).map(col): _*)
  }

  def dimEvent(silver: DataFrame): DataFrame =
    dimFromColumns(silver, Seq("event_name"), "event_sk")

  /** The sorted stage of [[withSequentialSk]], exposed package-private so
    * the spec can assert its physical plan parallelizes (range exchange +
    * local sort — never an `Exchange SinglePartition` or a global window).
    */
  private[pipeline] def sortedForSk(df: DataFrame, orderCols: Seq[String]): DataFrame =
    df.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)

  /** Sequential surrogate keys WITHOUT a single-partition window: range
    * repartition by the natural key, sort within partitions, then a
    * zipWithIndex pass (per-partition counts + cumulative offsets — the
    * classic two-pass dense-rank). SK = global sort rank, bit-identical
    * to `row_number().over(Window.orderBy(orderCols))`, but every stage
    * is parallel — this is the 10⁸-row-dim path (a 100 TB clickstream's
    * user dim), where the global-window variant would funnel the whole
    * dim through one task.
    */
  def withSequentialSk(df: DataFrame, orderCols: Seq[String], sk: String): DataFrame = {
    // materialize the sorted frame once: zipWithIndex runs TWO jobs (a
    // per-partition count pass, then the indexed map) and would otherwise
    // recompute the whole sort lineage for the second one
    val sorted = graft.runner.Pin(sortedForSk(df, orderCols))
    val spark = df.sparkSession
    val indexed = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq((i + 1L) +: row.toSeq)
    }
    spark.createDataFrame(indexed,
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField(sk,
          org.apache.spark.sql.types.LongType, nullable = false) +: sorted.schema.fields))
  }

  /** [[dimUser]] semantics (SCD-1 + deterministic SK) on the scalable SK
    * path — same (user_sk, user_id) mapping, no single-partition stage.
    */
  def dimUserScalable(silver: DataFrame): DataFrame =
    withSequentialSk(latestPerUser(silver), Seq("user_id", "anonymous_id"), "user_sk")
      .select("user_sk", "user_id", "anonymous_id", "user_segment",
        "cooking_style", "ab_test_group")

  /** dim_page keeps rows where at least one of (page_name, page_url) is
    * set — matches the J4 join guard.
    */
  def dimPage(silver: DataFrame): DataFrame = {
    val w = Window.orderBy(asc_nulls_first("page_name"), asc_nulls_first("page_url"))
    silver.select("page_name", "page_url")
      .where(col("page_name").isNotNull || col("page_url").isNotNull)
      .distinct()
      .withColumn("page_sk", row_number().over(w).cast("long"))
      .select("page_sk", "page_name", "page_url")
  }

  /** The recipe master's attribute projection keyed by natural key —
    * shared by the bulk build ([[dimRecipeFromMaster]]) and the
    * append-only dim's attribute refresh ([[refreshAttributes]]).
    */
  def recipeMasterAttrs(master: DataFrame): DataFrame =
    master.select(
      col("id").cast("string").as("recipe_id"),
      col("name").as("recipe_name"),
      col("dish_type"), col("ingredient_type"), col("method_type"),
      col("situation_type"), col("difficulty"),
      col("cooking_time").cast("int").as("cooking_time"))

  /** The attributes [[recipeMasterAttrs]] gives dim_recipe beyond its key,
    * as the master export types them.
    */
  val RecipeMasterAttrs: Seq[StructField] =
    Seq("recipe_name", "dish_type", "ingredient_type", "method_type", "situation_type",
      "difficulty").map(StructField(_, StringType)) :+ StructField("cooking_time", IntegerType)

  /** dim_recipe from a Parquet master file, reference shape
    * (create_dims.py:107-135 reads total_recipes.parquet with columns
    * id, name, dish_type, ingredient_type, method_type, situation_type,
    * difficulty, cooking_time and renames id/name). SKs by deterministic
    * row_number over recipe_id — the repo's reproducible-SK convention
    * (the reference's monotonically_increasing_id is layout-dependent);
    * master cardinality is ~10^4, far under window-bottleneck scale.
    */
  def dimRecipeFromMaster(master: DataFrame): DataFrame = {
    val w = Window.orderBy("recipe_id")
    recipeMasterAttrs(master)
      .withColumn("recipe_sk", row_number().over(w).cast("long"))
      .select("recipe_sk", "recipe_id", "recipe_name", "dish_type",
        "ingredient_type", "method_type", "situation_type", "difficulty",
        "cooking_time")
  }

  /** Deterministic recipe-master FIXTURE with the reference master file's
    * schema (total_recipes.parquet shape) — the zero-egress stand-in for
    * the S3 master: attributes derive reproducibly from the id. Written
    * as a real parquet file so the master-read path
    * ([[dimRecipeFromMaster]]) is always exercised, never special-cased.
    * Input: any frame with a `recipe_id` column (string or numeric).
    */
  def writeRecipeMasterFixture(recipeIds: DataFrame, path: String): Unit = {
    val id = col("id")
    recipeIds.select(col("recipe_id").cast("long").as("id"))
      .where(col("id").isNotNull).distinct()
      .withColumn("name", concat(lit("recipe_"), col("id")))
      .withColumn("dish_type",
        when(id % 5 === 0, "stew").when(id % 5 === 1, "noodle")
          .when(id % 5 === 2, "rice").when(id % 5 === 3, "dessert")
          .otherwise("salad"))
      .withColumn("ingredient_type",
        when(id % 3 === 0, "meat").when(id % 3 === 1, "seafood").otherwise("veg"))
      .withColumn("method_type",
        when(id % 4 === 0, "boil").when(id % 4 === 1, "fry")
          .when(id % 4 === 2, "bake").otherwise("raw"))
      .withColumn("situation_type",
        when(id % 2 === 0, "daily").otherwise("party"))
      .withColumn("difficulty",
        when(id % 3 === 0, "easy").when(id % 3 === 1, "medium").otherwise("hard"))
      .withColumn("cooking_time", ((id % 12) * 10 + 10).cast("int"))
      .write.mode("overwrite").parquet(path)
  }

  /** dim_time: one row per hour over [start, end], generated with
    * explode(sequence(...)) (create_dims.py:160-180). Generated, not
    * scanned — cardinality is hours-in-range (17,520 for two years), so
    * always broadcastable.
    */
  def dimTime(spark: org.apache.spark.sql.SparkSession,
              start: String, end: String): DataFrame = {
    val ts = spark.sql(
      s"""SELECT explode(sequence(to_timestamp('$start'),
         |                        to_timestamp('$end'),
         |                        interval 1 hour)) AS ts""".stripMargin)
    ts.select(
      date_format(col("ts"), "yyyyMMddHH").cast("long").as("time_dim_key"),
      col("ts").as("datetime_kst"),
      to_date(col("ts")).as("date"),
      year(col("ts")).as("year"),
      month(col("ts")).as("month"),
      dayofmonth(col("ts")).as("day"),
      hour(col("ts")).as("hour"),
      date_format(col("ts"), "E").as("day_of_week"),
      date_format(col("ts"), "E").isin("Sat", "Sun").as("is_weekend"))
  }

  /** The dim_user high-water-mark upsert pattern generalized to any small
    * dim (replay_silver_to_gold.py:200-280 semantics): candidate natural
    * keys are anti-joined NULL-SAFELY against the existing dim (dim_page
    * naturals can be half-null — plain `===` would re-insert them every
    * tick, forking SKs), and new keys get SKs continuing from the existing
    * max. Returns only the rows to append — existing SKs are never
    * renumbered, so fact partitions written under older dim states stay
    * joinable forever. The global window runs over *new keys in this batch
    * only* (per-tick cardinality), never over the full dim. `attrs` ride
    * along with a new key; a change to them never forks an SK.
    */
  def dimUpsert(candidates: DataFrame, existing: DataFrame, idCols: Seq[String],
                sk: String, attrs: Seq[String] = Nil): DataFrame = {
    val cand = candidates.select((idCols ++ attrs).map(col): _*).distinct()
    val ex = existing.select(idCols.map(c => col(c).as(s"__ex_$c")): _*)
    val cond = idCols.map(c => cand(c) <=> ex(s"__ex_$c")).reduce(_ && _)
    val newKeys = cand.join(ex, cond, "left_anti")
    // A4 — SKs continue from the existing high-water mark (0 when empty),
    // computed in-plan as a scalar subquery: no driver round trip first
    val w = Window.orderBy(idCols.map(asc_nulls_first): _*)
    newKeys.withColumn(sk, (row_number().over(w) +
        existing.agg(coalesce(max(col(sk)), lit(0L))).scalar()).cast("long"))
      .select(((sk +: idCols) ++ attrs).map(col): _*)
  }

  /** J5 + A4 + W2 — incremental dim_user upsert
    * (replay_silver_to_gold.py:200-280): new users = silver users anti-join
    * existing dim; SKs continue from the existing high-water mark via
    * global row_number. Returns the rows to append.
    */
  def dimUserUpsert(silver: DataFrame, existing: DataFrame): DataFrame =
    // NULL-SAFE key match (in dimUpsert): anonymous_id can be null, and
    // plain equality would re-insert such users with a fresh SK on every
    // batch (the SK-forking failure mode)
    dimUpsert(latestPerUser(silver), existing, Seq("user_id", "anonymous_id"), "user_sk",
      UserAttrs)

  /** dim_user's SCD-1 attributes, which ride along with its key. */
  val UserAttrs = Seq("user_segment", "cooking_style", "ab_test_group")

  /** Attribute refresh for an append-only dim (create_dims.py:107-135
    * semantics, applied in place): rows keep their SK and natural key;
    * every non-key column takes the master's value when the natural key
    * matches (SCD-1 — the bulk rebuild's "master wins" semantics, which
    * also backfills the nulls that [[dimUpsert]]-appended rows carry),
    * and keeps its existing value when the master lacks the key.
    * Attribute columns only the master has are added (an incremental-only
    * dim starts as bare (sk, naturals) and widens on first refresh).
    *
    * Pure transform: one row out per row in, SKs untouched, so fact
    * partitions written by any earlier tick stay joinable. The join is
    * master-side broadcast-eligible for catalog-sized masters; at a
    * 10⁸-row dim this is a key-partitioned shuffle join — either way a
    * scheduled out-of-band job, never per-tick.
    */
  def refreshAttributes(dim: DataFrame, attrs: DataFrame,
                        keyCols: Seq[String]): DataFrame = {
    // explicit match flag (not coalesce): a matched row whose master
    // attribute is genuinely null must take the null, not keep stale data.
    // Keys join NULL-SAFE — dim_user's anonymous_id can be null, and plain
    // equality would silently exempt those rows from every refresh.
    val a = attrs.select(attrs.columns.map(c => col(c).as(s"__m_$c")): _*)
      .withColumn("__m_matched", lit(true))
    val joined = dim.join(a,
      keyCols.map(c => dim(c) <=> a(s"__m_$c")).reduce(_ && _), "left")
    val fromMaster = attrs.columns.filterNot(keyCols.contains).toSet
    val outCols = (dim.columns ++ attrs.columns.filterNot(dim.columns.contains))
      .map {
        case k if keyCols.contains(k) || !fromMaster(k) => col(k)
        case c if dim.columns.contains(c) =>
          when(col("__m_matched"), col(s"__m_$c")).otherwise(col(c)).as(c)
        case c => col(s"__m_$c").as(c)
      }
    joined.select(outCols: _*)
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import SilverToGold.DimJoin

/** The gold star schema's dims (create_dims.py:59-180), each declared
  * once in a catalog that the bulk build, the tick's upsert and the fact
  * builds all read.
  *
  * Surrogate keys: the reference uses `monotonically_increasing_id`
  * (create_dims.py:78) which is partition-dependent and therefore
  * non-deterministic across runs/cluster layouts (SURVEY.md §7.5 risk 2).
  * A full build numbers a dim's rows 1..n in natural-key order, ascending
  * with nulls first ([[Dim.build]]), with no single-partition stage; the
  * tick appends new keys above the dim's high-water mark
  * ([[dimUpsert]]) and never renumbers. 0 is reserved as the "join
  * missed" default (silver_to_gold_processor.py:272-276).
  */
object Dims {

  /** A persisted dim: its name, the fact join it serves, a silver row's
    * natural key (in the join's order) and whether the row has one, the
    * SCD-1 attributes that ride along with a key, and the columns only its
    * master fills (`filled`).
    */
  final case class Dim(name: String, join: DimJoin, keys: Seq[Column], hasKey: Column,
                       attrs: Seq[String] = Nil, filled: Seq[StructField] = Nil) {
    def path(warehouse: String, suffix: String): String = s"$warehouse/$name$suffix"
    val schema = StructType(StructField(join.sk, LongType) +:
      (join.naturals ++ attrs).map(StructField(_, StringType)))
    /** The sink's full schema, which every append is written to. */
    val stored = StructType(schema ++ filled)

    private def naturalsOf(rows: DataFrame): DataFrame =
      rows.select(keys.zip(join.naturals).map { case (k, n) => k.as(n) }: _*)

    /** One row per natural key among the `rows` that have one; with
      * attributes (dim_user), each user's latest row.
      */
    def members(rows: DataFrame): DataFrame =
      if (attrs.isEmpty) naturalsOf(rows.where(hasKey)).distinct() else latestPerUser(rows)

    /** The full build: `members` numbered 1..n in natural-key order,
      * ascending with nulls first. SK = global sort rank, as
      * `row_number` over the naturals would give, but no stage funnels
      * the dim through one task ([[withSequentialSk]]).
      */
    def build(members: DataFrame): DataFrame =
      withSequentialSk(members, join.naturals, join.sk)

    /** The `candidates` `existing` lacks, numbered above its high-water
      * mark ([[dimUpsert]]).
      */
    def upsert(candidates: DataFrame, existing: DataFrame): DataFrame =
      dimUpsert(candidates, existing, join.naturals, join.sk, attrs)

    /** A row with a key misses unless its join matched a dim row with
      * exactly that key, null-safely as [[dimUpsert]] compares. So every
      * key the upsert would append is flagged, even where J1 (never a null
      * `anonymous_id`) or J4 (`("", url)` for `(null, url)`) differ.
      */
    val missed = s"__missed_${join.sk}"
    def missFlag: Column = hasKey && !keys.zip(join.naturals)
      .map { case (k, n) => k <=> col(join.matched(n)) }.reduce(_ && _)

    /** The keys of the `rows` that missed; with attributes (dim_user),
      * the latest row of each user that missed.
      */
    def candidates(rows: DataFrame): DataFrame =
      if (attrs.isEmpty) naturalsOf(rows.where(col(missed)))
      else latestPerUser(rows)
        .join(rows.where(col(missed)).select("user_id"), Seq("user_id"), "left_semi")
  }

  // J1 — left join on composite natural key (user_id, anonymous_id)
  val User = Dim("dim_user", DimJoin("user_sk", Seq("user_id", "anonymous_id"), (s, d) =>
      s("user_id") === d("user_id") && s("anonymous_id") === d("anonymous_id")),
    Seq(col("user_id"), col("anonymous_id")), col("user_id").isNotNull,
    attrs = Seq("user_segment", "cooking_style", "ab_test_group"))
  // J3 — equi-join with explicit null guard on the key
  val Event = Dim("dim_event", DimJoin("event_sk", Seq("event_name"), (s, d) =>
      s("event_name") === d("event_name") && s("event_name").isNotNull),
    Seq(col("event_name")), col("event_name").isNotNull)
  // J4 — null-coalesced compound key + at-least-one-non-null guard
  val Page = Dim("dim_page", DimJoin("page_sk", Seq("page_name", "page_url"), (s, d) =>
      coalesce(s("page_name"), lit("")) === coalesce(d("page_name"), lit("")) &&
        coalesce(s("page_url"), lit("")) === coalesce(d("page_url"), lit("")) &&
        (s("page_name").isNotNull || s("page_url").isNotNull)),
    Seq(col("page_name"), col("page_url")), col("page_name").isNotNull || col("page_url").isNotNull)
  // J2 — cast-normalized key: both sides compared as string. Its
  // attributes come from the recipe master, typed as the master export
  // types them ([[recipeMasterAttrs]]).
  val Recipe = Dim("dim_recipe", DimJoin("recipe_sk", Seq("recipe_id"), (s, d) =>
      s("prop_recipe_id").cast("string") === d("recipe_id").cast("string")),
    Seq(col("prop_recipe_id").cast("string")), col("prop_recipe_id").isNotNull,
    filled = Seq("recipe_name", "dish_type", "ingredient_type", "method_type",
      "situation_type", "difficulty").map(StructField(_, StringType)) :+
      StructField("cooking_time", IntegerType))

  /** The catalog, in the order the fact build joins it. */
  val All: Seq[Dim] = Seq(User, Event, Page, Recipe)

  /** W1 — SCD Type 1: latest record per user by a deterministic recency
    * order (create_dims.py:67-74 orders by processed_at; we order by
    * event time + event_id tiebreak so results are reproducible). One row
    * per user_id, so the rows are distinct as they stand.
    */
  def latestPerUser(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(desc("kst_timestamp"), desc("event_id"))
    silver
      .select((User.join.naturals ++ User.attrs :+ "kst_timestamp" :+ "event_id").map(col): _*)
      .where(User.hasKey)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("rn", "kst_timestamp", "event_id")
  }

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
    * is parallel — a 100 TB clickstream's user dim reaches 10⁸ rows, where
    * a global window would funnel the whole dim through one task.
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
      StructType(StructField(sk, LongType, nullable = false) +: sorted.schema.fields))
  }

  /** The recipe master's attribute projection keyed by natural key
    * (create_dims.py:107-135 reads total_recipes.parquet with columns id,
    * name, dish_type, ingredient_type, method_type, situation_type,
    * difficulty, cooking_time and renames id/name): dim_recipe's
    * members in a bulk build, and the attributes the append-only dim's
    * refresh ([[refreshAttributes]]) takes.
    */
  def recipeMasterAttrs(master: DataFrame): DataFrame =
    master.select(col("id").cast("string").as("recipe_id") +: Recipe.filled.map(f =>
      col(if (f.name == "recipe_name") "name" else f.name).cast(f.dataType).as(f.name)): _*)

  /** Deterministic recipe-master FIXTURE with the reference master file's
    * schema (total_recipes.parquet shape) — the zero-egress stand-in for
    * the S3 master: attributes derive reproducibly from the id. Written
    * as a real parquet file so the master-read path
    * ([[recipeMasterAttrs]]) is always exercised, never special-cased.
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

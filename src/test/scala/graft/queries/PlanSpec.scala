package graft.queries

import graft.SparkSpec

/** Physical-plan assertions: the properties that make these queries hold
  * up at 100 TB must be visible in the plan, not assumed — filter
  * pushdown to the scan, broadcast joins for dims, top-k without a global
  * sort, no cartesian products anywhere.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q1_agg pushes the date filter into the parquet scan and prunes columns") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
  }

  test("q3_topk runs as TakeOrderedAndProject, not a global sort") {
    assert(plan("q3_topk").contains("TakeOrderedAndProject"))
  }

  test("q2_star_join broadcasts dims; no cartesian anywhere") {
    val p = plan("q2_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("fact build keeps all four dim joins broadcast left-outer") {
    val p = plan("q_fact_build")
    assert("LeftOuter, BuildRight".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"), "dim join fell back to a shuffle join")
  }

  test("broadcast-pinned joins hold by hint alone: fact dim joins and the ADC codebook") {
    // Spark broadcasts a small side by its size whatever the hints say,
    // so a dropped hint does not move the plans above. In a session this
    // test owns, with size-based broadcast off, only a hint broadcasts.
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    def joins(df: org.apache.spark.sql.DataFrame): Seq[BaseJoinExec] =
      (df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case j: BaseJoinExec => j }
    def names(p: org.apache.spark.sql.execution.SparkPlan): Set[String] = p.output.map(_.name).toSet
    def broadcastRight(j: BaseJoinExec, joinType: org.apache.spark.sql.catalyst.plans.JoinType) =
      j match {
        case b: BroadcastHashJoinExec => b.buildSide == BuildRight && b.joinType == joinType
        case _ => false
      }

    // the fact build's four dim joins (DimJoin.leftJoin, as the tick and
    // Bulk.run plan them) over a pinned silver: each broadcasts its dim
    val silver = graft.runner.Pin(graft.pipeline.RefEventsAdapter.toSilver(
      graft.Tables.load(s, sf, "events")))
    val dims = graft.pipeline.Dims.All.map(d => d -> d.build(d.members(silver))).toMap
    val factJoins = joins(graft.pipeline.SilverToGold.buildFact(silver, dims))
    assert(factJoins.size == 4, factJoins.mkString("\n"))
    graft.pipeline.Dims.All.foreach { d =>
      val j = factJoins.filter(j => names(j.right).contains(d.join.sk))
      assert(j.size == 1 && broadcastRight(j.head, LeftOuter),
        s"${d.name}'s join does not broadcast the dim:\n${j.mkString("\n")}")
    }

    // q_ann_ivfpq's ADC table: the probes' sub-vectors meet the codebook
    // (m, cell, cv) on m, the codebook broadcast (once per read of the
    // ANN frame: the recall contract reads it twice)
    val ivfpq = graft.SparkEntry.queries("q_ann_ivfpq")(s, sf)
    val books = joins(ivfpq).filter(j => names(j.right).contains("cv") &&
      names(j.left).contains("query_id"))
    assert(books.nonEmpty && books.forall(broadcastRight(_, Inner)),
      s"q_ann_ivfpq's codebook join does not broadcast the codebook:\n${books.mkString("\n")}")
  }

  test("brute-force ANN broadcasts the query set, never shuffles the corpus") {
    val p = plan("q_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"))
    assert(!p.contains("CartesianProduct"))
  }

  test("bucketed embedding near-dup keys its candidate join on bucket id") {
    val p = plan("q_embed_neardup_lsh")
    // the candidate join must be an equi-join keyed on the bucket column
    // (hash/sort-merge/broadcast), never a nested loop over the corpus
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[bucket#".r
      .findFirstIn(p).isDefined, "candidate join not keyed on bucket:\n" + p)
  }

  test("range join keys its candidate join on the time bucket, never a nested loop") {
    val p = plan("q_range_join")
    // the containment predicate must ride as a residual filter on a
    // bucket-keyed equi-join — a BNLJ here is O(events × windows)
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[b#".r
      .findFirstIn(p).isDefined, "candidate join not keyed on bucket:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join planned as a nested loop:\n" + p)
  }

  test("grouping sets plans ONE scan + Expand, not a union of re-scans") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), "grouping sets lost its Expand:\n" + p)
    assert("FileScan|Scan parquet".r.findAllIn(p).size == 1,
      "4-level rollup re-scans the table:\n" + p)
  }

  test("gold dashboards broadcast their dim joins; no shuffle join, no cartesian") {
    Seq("q_gold_dau", "q_gold_wau", "q_gold_lift", "q_gold_heatmap").foreach { q =>
      val p = plan(q)
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
        s"$q should broadcast dim_time and dim_user at least")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to a shuffle join")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("single-partition windows appear only over bounded dim/new-key/aggregate frames") {
    // A window with an empty partition spec funnels its whole input
    // through ONE task — correct only when the input is bounded by
    // construction (dim candidates, per-batch new keys, per-group
    // aggregates). Anything not on this list that plans a global window
    // is a scale bug: at 100 TB it serializes the query.
    val globalWindowIntended = Map(
      // W1+SK: deterministic SK assignment over the deduplicated per-user
      // dim candidates (dim cardinality, orders below fact cardinality)
      "q_scd1_dim_user" -> "SK row_number over dim_user candidates",
      // W2: SKs for THIS BATCH's new keys only, above the high-water mark
      "q_dim_upsert" -> "new-key SK assignment (per-batch cardinality)",
      // SK assignment when CONSTRUCTING the fixture dim whose attributes
      // the refresh then backfills (dim cardinality; the refresh itself
      // is a key-partitioned join with no window)
      "q_dim_refresh" -> "fixture dim SK assignment over part keys",
      // W6: global MIN/MAX OVER () on a 168-row (hour x dow) aggregate
      "q_heatmap_norm" -> "global min/max over bounded aggregate",
      // global MIN over the per-source count aggregate (source
      // cardinality — tens of rows, never corpus rows)
      "q_temperature_mix" -> "global min over per-source counts",
      // same W6 normalization through the gold layer (168-row aggregate)
      "q_gold_timeheat" -> "global min/max over bounded aggregate")
    graft.SparkEntry.queries.keys.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val globals = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      if (!globalWindowIntended.contains(q))
        assert(globals.isEmpty,
          s"$q plans ${globals.size} single-partition window(s) outside the intended set")
    }
  }

  test("stratified sampler plans a WindowGroupLimit, not a full per-group sort-rank") {
    // rk <= N over row_number lets Spark keep a local top-N heap per
    // group before the window sort — the shuffle carries ~N·strata
    // rows instead of the corpus. Losing this (e.g. by filtering after
    // a different window function) silently reverts to sorting every
    // group in full.
    assert(plan("q_stratified_sample").contains("WindowGroupLimit"),
      "rank filter did not push into a WindowGroupLimit")
    // same contract for the retrieval scorers' per-doc top-3: the
    // window shuffle must carry ~3·docs rows, not every (doc, token)
    // pair — at web scale the pair table is tokens×docs-shaped
    Seq("q_tfidf", "q_bm25").foreach { q =>
      assert(plan(q).contains("WindowGroupLimit"),
        s"$q: per-doc top-k did not push into a WindowGroupLimit")
    }
  }

  test("date-partitioned fact joined to a filtered dim prunes partitions dynamically") {
    // The 100-TB read-path contract for star joins over a partitioned
    // fact: when the partition-key filter lives on the DIM side (the
    // usual dashboard shape — "weekend days only", "this campaign's
    // dates"), the fact scan must prune partitions at RUNTIME from the
    // broadcast dim values (dynamic partition pruning), not read all
    // partitions and filter post-scan. Static pruning can't see through
    // the join; without DPP this plan reads the full fact.
    // Gotcha pinned here on purpose: the dim-side filter must be one
    // Catalyst considers "likely selective" (a comparison/In/LIKE — see
    // PartitionPruning.hasSelectivePredicate). A bare boolean attribute
    // filter (`.where($"is_weekend")`) is NOT, and silently disables
    // DPP — so the dim models the flag as a category column.
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_dpp")
    graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("d", to_date(col("ts")))
      .write.partitionBy("d").mode("overwrite").parquet(s"$dir/fact")
    spark.range(0, 60)
      .select(date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("d"))
      .withColumn("day_kind",
        when(dayofweek(col("d")).isin(1, 7), "weekend").otherwise("weekday"))
      .write.mode("overwrite").parquet(s"$dir/dim_date")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim_date")
      .where(col("day_kind") === "weekend")
    val q = fact.join(broadcast(dim), Seq("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "fact scan has no dynamic partition pruning filter:\n" + p)
    // and the pruned plan computes the same answer as an explicit filter
    val viaDpp = q.collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    val explicit = fact.join(
        broadcast(dim.select(col("d"))), Seq("d"), "left_semi")
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(viaDpp == explicit && viaDpp.nonEmpty,
      s"DPP result mismatch or vacuous: $viaDpp vs $explicit")
  }

  test("q_gold_weekend dashboard gets dynamic partition pruning over the real warehouse") {
    // The synthetic fixture above proves the mechanism; this proves the
    // PRODUCT plan (VERDICT r10 #7): the weekend-DAU dashboard over the
    // bulk-built medallion warehouse — fact_user_events partitioned by
    // created_date, the date-kind filter on the dim_time side — must
    // show a dynamicpruning subquery on the fact scan.
    import org.apache.spark.sql.functions._
    val wh = tmpDir("graft_dpp_wh")
    graft.runner.Bulk.run(spark,
      graft.pipeline.RefEventsAdapter.toRawJson(
        graft.Tables.load(spark, sf, "events")), wh, "2024-01-01")
    val g = graft.analytics.Gold(
      fact = graft.pipeline.Warehouse.read(spark, s"$wh/fact_user_events"),
      dimUser = graft.pipeline.Warehouse.read(spark, s"$wh/dim_user"),
      dimRecipe = graft.pipeline.Warehouse.read(spark, s"$wh/dim_recipe"),
      dimEvent = graft.pipeline.Warehouse.read(spark, s"$wh/dim_event"),
      dimPage = graft.pipeline.Warehouse.read(spark, s"$wh/dim_page"),
      dimTime = graft.pipeline.Dims.dimTime(spark,
        "2024-01-01 00:00:00", "2024-02-29 23:00:00"))
    val q = graft.analytics.GoldAnalytics.weekendDau(g)
    val p = q.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "weekend dashboard's fact scan has no dynamic partition pruning:\n" +
        p.take(3000))
    // and the pruned dashboard agrees with an explicit weekend filter
    // pushed on the fact side (non-vacuously)
    val viaDpp = q.collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    val explicit = g.fact.where(col("user_dim_key") =!= 0)
      .where(date_format(col("created_date"), "E").isin("Sat", "Sun"))
      .groupBy(col("created_date").as("event_date"))
      .agg(countDistinct(col("user_dim_key")).as("dau"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    assert(viaDpp == explicit && viaDpp.nonEmpty,
      s"weekend dashboard mismatch or vacuous: ${viaDpp.size} vs ${explicit.size} dates")
  }

  test("q_salted_agg gets map-side partial aggregation in both phases") {
    // The whole point of the two-phase salted design is that each
    // shuffle moves pre-combined partials, not raw rows. Catalyst plans
    // a HashAggregate pair (partial_count / partial_sum before the
    // exchange, final merge after) for each phase — if either phase
    // lost its partial (e.g. a non-algebraic rewrite), the hot key
    // would hit one reducer with its full row set and the salting
    // bought nothing.
    val p = plan("q_salted_agg")
    assert("partial_count".r.findAllIn(p).size >= 2,
      "phase-1 (key,salt) counts are not map-side partial:\n" + p)
    assert(p.contains("partial_sum"),
      "phase-2 merge of partials is not itself partial-aggregated:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expected partial+final HashAggregate per phase:\n" + p)
  }

  test("docsWide fan-out fires only on narrow scans (VERDICT r16 #3 gate)") {
    val target = spark.sparkContext.defaultParallelism
    // the single-row-group fixture reports 1 scan partition → exactly one
    // round-robin fan-out Exchange, full parallelism downstream
    val docs = graft.Tables.load(spark, sf, "documents")
    val width = TextOps.fanOutWidth(docs, target)
    assert(docs.rdd.getNumPartitions < width, "fixture no longer narrow?")
    // width is data-sized (r17): ~64 KB of compressed input per task,
    // clamped to [2, cores] — never wider than the session's cores
    assert(width >= 2 && width <= target, s"width $width outside [2, $target]")
    val fanned = TextOps.fanOutIfNarrow(docs, target)
    assert(fanned.rdd.getNumPartitions == width)
    assert(fanned.queryExecution.executedPlan.toString.contains("Exchange"))
    // an input already at >= target partitions (the 100 TB regime, where
    // the scan parallelizes on its own) must come back UNCHANGED — the
    // blanket round-robin there would be a full extra corpus pass
    val wide = spark.range(1000).repartition(target + 1).toDF("x")
    val gated = TextOps.fanOutIfNarrow(wide, target)
    assert(gated.rdd.getNumPartitions == target + 1)
    val exchanges = gated.queryExecution.executedPlan.toString()
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, // the one from the test's own construction
      s"gate added an Exchange over an already-parallel input: $exchanges")
  }

  test("fanOutWidth never exceeds a local[1] session's single core") {
    val docs = graft.Tables.load(spark, sf, "documents")
    assert(TextOps.fanOutWidth(docs, 1) <= 1)
    // at >= 2 cores the floor of 2 still applies
    assert(TextOps.fanOutWidth(spark.range(1).toDF("x"), 4) == 2)
  }

  test("exchange-count snapshots pin the top heavy queries' plan shapes") {
    // VERDICT r8 #8 / r9 #2: a plan regression on the expensive queries
    // (a lost broadcast → extra shuffle, a lost reuse → extra scan) used
    // to be visible only as bench noise — which round 9 proved is hard
    // to read. These are SNAPSHOTS of the current, reviewed plans: a
    // count change is not necessarily a bug, but it must be a conscious
    // re-review (update the number only after reading the new plan).
    // Shuffle exchanges move data between stages — the quantity that
    // explodes at 100 TB; broadcast exchanges pin the small-side-ships
    // design of the dim/codebook/query-set joins.
    val expected = Map(
      // gram-keyed shuffles (gram agg, doc pair agg, cluster agg, sort)
      // + one count-gated broadcast of the duplicated-gram set
      "q_substring_dup" -> (4, 1),
      // maintenance runs eagerly at construction; the RETURNED frame is
      // a plain partition-pruned read of the maintained rollup — any
      // exchange appearing here means the query started recomputing
      "q_incr_rollup" -> (0, 0),
      // codebook training (2 Lloyd rounds × per-m aggregates) + code/
      // table joins; every codebook/query-side join stays broadcast
      "q_ann_pq" -> (11, 11),
      // coarse IVF training + residual PQ training + probed-cell join:
      // the composition pays both training paths' shuffles once. The
      // count includes the 1-row/k-row centroid-packing aggregates of
      // the narrow assignCells form (tiny single-partition exchanges
      // that replaced corpus×cells row_number window shuffles — node
      // count rose 17→19 while runtime fell 7.8→5.9 s at sf0.1; the
      // snapshot pins shape, not cost). 19 → 17 when the corpus became a
      // pin: over the cached corpus Spark injected a runtime bloom filter
      // (a bloom_filter_agg subquery, one SinglePartition exchange) into
      // the query-probe filter of both the ANN and the baseline plan; a
      // pin's scan gets none. (17, 19) → (13, 15): the recall contract
      // reads the ANN frame twice, and each copy lost three things — the
      // coarse centroid packing (SinglePartition + IdentityBroadcast) of
      // the corpus assignment the encode recomputed (now a build pin),
      // the remaining bloom_filter_agg subquery (SinglePartition; the
      // query set is a pin), and the probe rows' own broadcast (they
      // join the ADC table on the query side, so the codes meet one
      // broadcast keyed on (ivf_cell, m, code))
      "q_ann_ivfpq" -> (13, 15),
      // banding + budget-gated cohort escalation + new-vs-corpus join
      // (each candidate pair once, from its first band under the cap:
      // no pair dedup, and the cap is a filter, not two anti-joins)
      "q_incr_dedup" -> (6, 8),
      // banded candidate generation + bounded label propagation rounds
      "q_dup_clusters" -> (3, 0),
      // the gram and winnowing queries share TextOps' corpus, gram-row and
      // distinct-doc-count builders; these equal the counts of the
      // per-query plans the builders replaced, so sharing moved no
      // exchange. The exact and the mod-8 excision report are one builder
      // and one shape
      "q_substring_strip" -> (7, 4),
      "q_substring_strip_sampled" -> (7, 4),
      "q_substring_dup_sampled" -> (4, 2),
      "q_winnow_fp" -> (4, 1))
    def shape(p: String): (Int, Int) =
      ("Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r.findAllIn(p).size,
        "BroadcastExchange".r.findAllIn(p).size)
    expected.foreach { case (q, exp) =>
      val p = plan(q)
      assert(shape(p) == exp,
        s"$q plan shape changed: (shuffle, broadcast) = ${shape(p)}, want $exp — " +
          s"re-review the plan before updating this snapshot:\n$p")
    }
    // An iterative query pins its rounds, so the returned frame's plan
    // never shows them: these count the exchanges of every plan the
    // build ran (each executed plan as text, AQE's initial and final
    // plans both), pins included.
    val builds = Map(
      // the groups pin, the over-cap bucket aggregate, the edge pin
      // (candidates once each: no pair-dedup shuffle, no over-cap
      // anti-join), the union-find pin (no exchange: the graph fits one
      // task), the member assignment pin and the returned frame. (27, 19)
      // → (11, 7) when the components moved into one task: the initial
      // labels' groupBy and the label rounds (each a groupBy shuffle and
      // a broadcast of the labels) left the build
      "q_dup_clusters" -> (11, 7),
      // the graph pin (3 shuffles, each counted in the final and the
      // initial plan); the ten rounds and the sort run in the one task
      // the pin is coalesced to. (27, 0) → (6, 0): the ten page-keyed
      // round shuffles (counted twice each) and the returned frame's
      // range-partitioning sort exchange left the build
      "q_pagerank" -> (6, 0),
      // the corpus and query-set pins (no exchange), the two coarse
      // Lloyd passes, the pinned corpus assignment and training
      // residuals, the two PQ Lloyd passes (their means and codebook
      // packings), then the returned frame: the encode, every
      // codebook/probe/query-side join broadcast
      "q_ann_ivfpq" -> (37, 27))
    builds.foreach { case (q, exp) =>
      val (df, run) = graft.runner.TickProbe.during(spark)(graft.SparkEntry.queries(q)(spark, sf))
      val plans = df.queryExecution.executedPlan.toString +: run.plans
      val (sh, bc) = plans.map(shape).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      assert((sh, bc) == exp,
        s"$q build's plan shapes changed: (shuffle, broadcast) = ${(sh, bc)} over " +
          s"${plans.size} plans, want $exp — re-review the plans before updating " +
          s"this snapshot:\n${plans.mkString("\n")}".take(20000))
    }
  }

  test("the queries that reuse a frame pin it: nothing stays in the CacheManager") {
    // a cache registers its plan in the session's CacheManager, where no
    // query releases it and later plans that happen to match read it.
    // What other suites cached in the shared session is theirs.
    spark.catalog.clearCache()
    Seq("q_dau_rollup", "q_silver_array_props", "q_fact_build", "q_dim_upsert",
      "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq", "q_ann_ivfpq_scale", "q_semdedup",
      "q_embed_pca").foreach { q =>
      graft.SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty, s"$q left a plan in the CacheManager")
    }
  }

  test("the ANN queries plan no runtime bloom filter over their query set") {
    // a selective filter over a corpus scan on both sides of a query-id
    // join makes Spark inject a bloom_filter_agg subquery whose creation
    // and application sides are the same few query rows: a job that
    // filters nothing. The pinned query set leaves no such filter.
    Seq("q_ann_pq", "q_ann_ivfpq").foreach { q =>
      val (df, run) = graft.runner.TickProbe.during(spark)(graft.SparkEntry.queries(q)(spark, sf))
      (df.queryExecution.executedPlan.toString +: run.plans).foreach { p =>
        assert(!p.contains("bloom_filter_agg"), s"$q plans a runtime bloom filter:\n$p")
      }
    }
  }

  test("q_ann_ivfpq assigns the corpus to its coarse cells once") {
    // the cosine NearestCell kernel runs in the two coarse Lloyd passes
    // (each ends in a mean) and in the one corpus assignment; the PQ
    // Lloyd passes (the L2 kernel), the encode and the query read the
    // pinned assignment
    val (df, run) = graft.runner.TickProbe.during(spark)(
      graft.SparkEntry.queries("q_ann_ivfpq")(spark, sf))
    val cosine = """nearestcell\([^()]*, false\)""".r
    val l2 = """nearestcell\([^()]*, true\)""".r
    val (lloyd, assign) = (df.queryExecution.executedPlan.toString +: run.plans)
      .filter(cosine.findFirstIn(_).isDefined)
      .partition(p => p.contains("avg(") && l2.findFirstIn(p).isEmpty)
    assert(lloyd.size == 2, s"coarse Lloyd passes: ${lloyd.size}")
    assert(assign.size == 1,
      s"the coarse assignment ran in ${assign.size} plans:\n${assign.mkString("\n")}".take(20000))
  }

  test("q_incr_rollup observes each tick's dates on its append: one collect per build") {
    // the only collect is the calendar of dates the ticks are cut from;
    // each tick's affected dates ride its append job
    val (_, run) = graft.runner.TickProbe.during(spark)(
      graft.SparkEntry.queries("q_incr_rollup")(spark, sf))
    assert(run.scans.count(_._1 == "collect") == 1, run.scans.map(_._1).mkString(", "))
  }

  test("q_minhash_lsh emits each candidate pair once: no aggregate keyed on the pair") {
    // the banding's first-kept-band rule makes candidates unique; an
    // aggregate keyed on (doc_a, doc_b) in any plan the build ran means a
    // pair dedup is back on the candidate stream
    val (df, run) = graft.runner.TickProbe.during(spark)(
      graft.SparkEntry.queries("q_minhash_lsh")(spark, sf))
    val pairAgg = """Aggregate\(keys=\[doc_a#\d+L?, doc_b#\d+L?\]""".r
    (df.queryExecution.executedPlan.toString +: run.plans).foreach { p =>
      assert(pairAgg.findFirstIn(p).isEmpty, s"an aggregate keyed on the candidate pair:\n$p")
    }
  }

  test("multimodal decode/sample/route plans stay narrow: no hash shuffle") {
    // Every multimodal stage is a per-partition parse or a byte-range
    // slice of the row's own payload — at 100 TB the payload bytes must
    // never cross the wire. The only exchange these plans are allowed is
    // the final orderBy's range partitioning, which runs AFTER the
    // select that drops the payload column (it moves projected metadata
    // and hashes, never media bytes).
    Seq("q_multimodal_decode", "q_multimodal_frames", "q_multimodal_mp4",
      "q_multimodal_wav", "q_audio_windows", "q_multimodal_route").foreach { q =>
      val p = plan(q)
      val hash = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hash == 0,
        s"$q gained a hash shuffle — payload bytes would cross the wire:\n${p.take(800)}")
    }
  }

  test("no query plans an unbounded quadratic join (cartesian or unlisted BNLJ)") {
    // BroadcastNestedLoopJoin is quadratic in general; it is legitimate
    // ONLY where one side is intentionally tiny/bounded. Anything not on
    // this list that plans a BNLJ is a scale bug, not an optimization.
    val bnljIntended = Set(
      // broadcast 3-query set × corpus scan — the documented linear
      // per-query baseline (and the recall-contract baseline inside the
      // ANN queries, whose probe/centroid sides are broadcast k-row tables)
      "q_ann_topk", "q_ann_lsh", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq",
      // scale-tier twin: same broadcast query-set × corpus baseline
      "q_ann_ivfpq_scale",
      // same broadcast-queries × corpus-scan baseline, labels attached
      // (the _ann twin carries the same in-query exact baseline plus
      // 1-row floor aggregates)
      "q_hard_negatives", "q_hard_negatives_ann",
      // documented all-pairs oracle baseline of the LSH path — must never
      // become the production composition — and the bucketed variant,
      // whose in-query recall contract computes that same baseline
      "q_embed_neardup", "q_embed_neardup_lsh",
      // same fenced all-pairs baseline feeding connected components — the
      // production candidate generator is the LSH-bucketed plan
      "q_embed_dup_clusters",
      // SemDeDup's in-query exact-dominated baseline (the production
      // pair join keys on cell id; the 1-row contract aggregates also
      // cross-join by construction)
      "q_semdedup",
      // J10: 1-row aggregate broadcast into the select
      "q_scalar_subquery",
      // same 1-row pattern: the funnel's raw_n denominator
      "q_data_funnel",
      // same 1-row pattern: three stage-count aggregates combined
      "q_ordered_funnel",
      // same 1-row pattern: the corpus-size N in the idf ratio
      "q_tfidf",
      // same 1-row pattern: the (N, total-token) scalars in the BM25
      // idf ratio and length normalization
      "q_bm25",
      // same 1-row pattern: the train-token total N in the surprise
      "q_unigram_lm",
      // same 1-row pattern: the train-token total N in the backoff term
      "q_bigram_lm",
      // same 1-row pattern: the unigram total N in the PMI ratio
      "q_collocations",
      // same 1-row pattern: the max-source token budget
      "q_repeat_epochs",
      // same 1-row pattern: the broadcast tercile bounds
      "q_scd2_history",
      // same 1-row pattern: the shared bigram chain's train-token total
      "q_ppl_buckets",
      // same 1-row patterns: the (N_src, N_tgt) totals and the broadcast
      // top-K score threshold (the probability tables themselves are
      // ≤256-row broadcast HASH joins, not BNLJ)
      "q_dsir_weights")
    // the returned frame's plan, and the plan of every SQL execution that
    // building it ran: an iterative query's pinned rounds never show in
    // the returned plan
    val plansSeen = graft.SparkEntry.queries.keys.map { q =>
      val (df, run) = graft.runner.TickProbe.during(spark)(graft.SparkEntry.queries(q)(spark, sf))
      (df.queryExecution.executedPlan.toString +: run.plans).foreach { p =>
        assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
        if (!bnljIntended(q))
          assert(!p.contains("BroadcastNestedLoopJoin"),
            s"$q plans a BroadcastNestedLoopJoin outside the intended set")
      }
      q -> run.plans.size
    }.toMap
    // q_ann_ivfpq pins its corpus and query set, its two coarse and two
    // PQ Lloyd passes, the corpus assignment and the training residuals
    assert(plansSeen("q_ann_ivfpq") >= 8, s"q_ann_ivfpq's pins were not seen: ${plansSeen("q_ann_ivfpq")}")
  }
}

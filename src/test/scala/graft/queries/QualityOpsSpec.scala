package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Behavior contracts for the corpus-quality trio added in round 11:
  * integer-exact PageRank (q_pagerank), DSIR importance weights
  * (q_dsir_weights), and CCNet perplexity bucketing (q_ppl_buckets).
  * Cross-engine value equality is the verify gate's job; these pin the
  * properties the gate can't see — mass conservation bounds, signal
  * direction, tie-inclusive selection, tertile balance. Runs on
  * sf0.001 testdata (tiny).
  */
class QualityOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** q_pagerank's graph from first principles: every view with the page
    * its user viewed just before (`prev`, null on a user's first view).
    */
  private def views = {
    import spark.implicits._
    graft.Tables.load(spark, sf, "events")
      .where($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id",
        get_json_object($"props", "$.k").cast("long").as("page"))
      .withColumn("prev", lag($"page", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")))
  }

  /** The transitions that are edges: self-loops dropped. */
  private def transitions =
    views.where(col("prev").isNotNull && col("prev") =!= col("page"))

  test("pagerank: deterministic, positive, mass within the floor-loss bound") {
    val q = graft.queries.GraphOps.queries("q_pagerank")
    val a = q(spark, sf).collect()
    val b = q(spark, sf).collect()
    assert(a.toSeq == b.toSeq, "integer PageRank must be bit-deterministic")
    assert(a.nonEmpty)
    assert(a.forall(_.getLong(1) > 0L), "every page keeps at least teleport mass")
    // Each iteration's floors lose < 1 unit per edge (contrib div), plus
    // < 1 per node for teleport and < 1 per node for the dangling share;
    // mass never exceeds SCALE.
    val total = a.map(_.getLong(1)).sum
    val scale = 1000000000L
    val n = a.length
    val e = transitions.select("prev", "page").distinct().count()
    assert(total <= scale)
    assert(total >= scale - 10L * (e + 2L * n) - n,
      s"lost more mass than 10 iterations of floor rounding can explain: $total")
  }

  test("pagerank: dangling pages all hold the identical minimum-shape rank") {
    import spark.implicits._
    val ranks = graft.queries.GraphOps.queries("q_pagerank")(spark, sf)
    // out_weight = 0 identifies dangling nodes; with no in-edges their
    // rank is exactly teleport + dangling-share, identical across them.
    val dangliest = ranks.where($"out_weight" === 0L)
    if (dangliest.count() > 1) {
      val inEdges = transitions.select($"page".as("dst")).distinct()
      val isolated = dangliest.join(inEdges,
        dangliest("page") === inEdges("dst"), "left_anti")
      val distinctRanks =
        isolated.select($"rank_e9").distinct().collect().map(_.getLong(0))
      assert(distinctRanks.length <= 1,
        "isolated pages (no in- or out-edges) must share one exact rank")
    }
  }

  /** q_pagerank at sf0.001 collected, counted in Spark jobs: the graph
    * pin and the one task that ranks the pinned graph and sorts it.
    */
  private val PageRankJobBudget = 6

  test("pagerank: rounds run inside one task, within its job budget") {
    val q = graft.queries.GraphOps.queries("q_pagerank")
    val (rows, p) = graft.runner.TickProbe.during(spark)(q(spark, sf).collect())
    assert(rows.nonEmpty)
    assert(p.jobs <= PageRankJobBudget, p.trail.mkString("\n"))
  }

  /** The q_pagerank integer iteration run on the driver over `pages` and
    * the weighted edges (src, dst, w): rows (page, rank, out-weight) in
    * the query's order.
    */
  private def driverRanks(pages: Seq[Option[Long]],
                          edges: Seq[(Long, Long, Long)]): Seq[(Option[Long], Long, Long)] = {
    val outw = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val scale = 1000000000L
    val n = pages.size.toLong
    var rank = pages.map(_ -> scale / n).toMap
    for (_ <- 1 to 10) {
      val dsum = pages.filterNot(_.exists(outw.contains)).map(rank).sum
      val contrib = edges.groupMapReduce(e => Option(e._2)) {
        case (src, _, w) => (rank(Some(src)) * 85 * w) / (100 * outw(src))
      }(_ + _)
      val base = (15 * scale) / (100 * n) + (85 * dsum) / (100 * n)
      rank = pages.map(p => p -> (base + contrib.getOrElse(p, 0L))).toMap
    }
    pages
      .map(p => (p, rank(p), p.flatMap(outw.get).getOrElse(0L)))
      .sortBy { case (p, r, _) => (-r, p) }
  }

  private lazy val sfEdges = transitions.groupBy("prev", "page").agg(count(lit(1)))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private lazy val sfPages = views.select("page").distinct().collect()
    .map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSeq

  /** Ranked rows (page, r, outw) as (page, rank, out-weight), sorted as q_pagerank sorts. */
  private def ranked(ranks: org.apache.spark.sql.DataFrame) =
    ranks.select(col("page"), col("r"), coalesce(col("outw"), lit(0L))).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy { case (p, r, _) => (-r, p) }

  test("pagerank: rows equal the integer iteration run on the driver") {
    val expected = driverRanks(sfPages, sfEdges)
    val got = graft.queries.GraphOps.queries("q_pagerank")(spark, sf).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(expected.size > 1)
    assert(got == expected)
  }

  test("pagerank: the one-task kernel and the distributed rounds both equal the driver iteration") {
    import spark.implicits._
    val (graph, g) = graft.queries.GraphOps.linkGraph(spark, sf)
    // sf0.001's graph, and the same graph with a null page: a node of its
    // own, dangling, that no edge reaches
    val nullPage = graph.limit(1).select(lit(null).cast("long").as("page"),
      lit(null).cast("long").as("outw"), filter($"adj", _ => lit(false)).as("adj"))
    val (n, nd) = (g("n").asInstanceOf[Long], g("nd").asInstanceOf[Long])
    Seq((graph, n, nd, sfPages), (graph.unionByName(nullPage), n + 1, nd + 1, sfPages :+ None))
      .foreach { case (gr, n, nd, pages) =>
        val expected = driverRanks(pages, sfEdges)
        assert(expected.size > 1)
        assert(ranked(graft.queries.GraphOps.ranksInTask(gr)) == expected)
        assert(ranked(graft.queries.GraphOps.ranksByRounds(gr, n, nd)) == expected)
      }
  }

  test("dsir: en-target scores point at en docs; selection is tie-inclusive top quarter") {
    import spark.implicits._
    val out = graft.queries.TextOps.queries("q_dsir_weights")(spark, sf)
      .join(graft.Tables.load(spark, sf, "documents").select($"doc_id", $"lang"),
        Seq("doc_id"))
      .select($"doc_id", $"score_fp", $"selected", $"lang")
      .collect()
    val n = out.length
    assert(n > 0)
    val sel = out.filter(_.getBoolean(2))
    assert(sel.length >= math.ceil(n / 4.0).toInt,
      "ties are kept inclusively, so at least ceil(N/4) docs are selected")
    val thr = sel.map(_.getLong(1)).min
    assert(out.filter(_.getLong(1) >= thr).forall(_.getBoolean(2)),
      "every doc at or above the threshold score is selected")
    // Signal direction: the length-normalized score of en docs beats
    // non-en on average (the target distribution IS the en slice).
    val enMean = out.filter(_.getString(3) == "en").map(_.getLong(1).toDouble).sum /
      out.count(_.getString(3) == "en")
    val otherMean = out.filter(_.getString(3) != "en").map(_.getLong(1).toDouble).sum /
      out.count(_.getString(3) != "en")
    assert(enMean > otherMean,
      s"en docs must score above non-en under an en target ($enMean vs $otherMean)")
  }

  test("ppl-buckets: per-language tertiles are balanced and perplexity-ordered") {
    import spark.implicits._
    val out = graft.queries.TextOps.queries("q_ppl_buckets")(spark, sf)
    val sizes = out.groupBy($"lang", $"ppl_bucket").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = sizes.keys.map(_._1).toSet
    for (l <- langs) {
      val h = sizes.getOrElse((l, "head"), 0L)
      val m = sizes.getOrElse((l, "middle"), 0L)
      val t = sizes.getOrElse((l, "tail"), 0L)
      assert(math.abs(h - t) <= 1 && math.abs(h - m) <= 1 && math.abs(m - t) <= 1,
        s"ntile(3) must balance within 1 for lang=$l (got $h/$m/$t)")
    }
    val byLang = out.select($"lang", $"ppl_bucket", $"mean_surprise")
      .collect().groupBy(_.getString(0))
    for ((l, rows) <- byLang) {
      def vals(b: String) = rows.filter(_.getString(1) == b).map(_.getDouble(2))
      val (h, m, t) = (vals("head"), vals("middle"), vals("tail"))
      if (h.nonEmpty && m.nonEmpty)
        assert(h.max <= m.min, s"head must not exceed middle for lang=$l")
      if (m.nonEmpty && t.nonEmpty)
        assert(m.max <= t.min, s"middle must not exceed tail for lang=$l")
    }
  }
}

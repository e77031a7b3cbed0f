package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.runner.Pin

/** Link-graph centrality over the event log — the quality signal the
  * big web-corpus pipelines (CommonCrawl filtering per Fetterman et
  * al.'s harmonic-centrality lists; the original PageRank use) attach
  * to every page before sampling training data: pages that sessions
  * flow INTO from many other pages are trusted; orphan pages are not.
  *
  * Graph derivation (no link table in the fixture — the log IS the
  * graph): nodes are the distinct viewed pages (`props.$.k` of view
  * events); a directed edge src→dst with weight w counts the times a
  * user's view of dst immediately followed a view of src (per-user
  * (ts, event_id)-ordered lag, self-loops dropped) — the classic
  * session-transition graph of web analytics.
  *
  * INTEGER-EXACT PageRank (the verify-gate twist): ranks live in
  * units of 1e-9 (SCALE = 10^9) and every update is integer
  * arithmetic — per-edge contribution (r·85·w) div (100·outw),
  * teleport (15·SCALE) div (100·N), dangling mass redistributed as
  * (85·dsum) div (100·N) — so iteration sums are commutative exact
  * bigints and the result is bit-identical across engines and across
  * partitionings (a double-valued PageRank would hash-mismatch on
  * float-sum order). Products stay ≤ SCALE·85·w_max ≪ 2^63. A
  * production run at float precision swaps `div` for `/` in the same
  * plan; 10 fixed iterations ≈ the standard convergence budget for
  * damping 0.85 on small-diameter graphs.
  *
  * Scale design (100 TB of logs, billions of pages): the edge build
  * is one user-keyed window (never global). One pin gives each page its
  * out-weight `outw` (null when dangling) and its out-edges
  * `adj: array<struct<dst, w>>`, and observes N, the dangling count and
  * the adjacency entry count. When pages plus entries fit one task
  * (`TextOps.TaskRows`, 500k rows; far below it at every scale
  * factor here), the pin is coalesced to one partition and the ten
  * rounds run inside that task over index arrays: no round pays a job,
  * a shuffle or a plan. Past that bound no task holds the graph, so the
  * rounds run distributed: each round is one page-keyed shuffle,
  * pinned: the self rows (outw, adj, c = 0) unioned with the messages
  * exploded from `adj` — Pregel's message pattern as one aggregate. The
  * teleport + dangling term is a driver literal from the previous pin's
  * observed dangling sum, so the loop has no join and no broadcast;
  * each pin cuts lineage (at cluster scale: reliable checkpoint every
  * few rounds). Trade-off: every round shuffles each page's adjacency
  * with its rank (as many entries as a per-round edge shuffle), and a
  * hub's out-edges travel as one row. Both paths compute the same
  * integers (QualityOpsSpec checks each against a driver iteration).
  */
object GraphOps {

  /** Rank unit: ranks are integers in units of 1e-9 of probability. */
  private val Scale = 1000000000L
  private val Iters = 10

  /** The session-transition graph, pinned: one row per viewed page with
    * its out-weight `outw` (null when dangling) and its out-edges
    * `adj: array<struct<dst, w>>`. The pin observes the page count `n`,
    * the dangling count `nd` and the adjacency entry count `ne`.
    */
  private[queries] def linkGraph(s: SparkSession, dir: String): (DataFrame, Map[String, Any]) = {
    import s.implicits._
    val views = load(s, dir, "events")
      .where($"event_type" === "view")
      .select($"user_id", $"ts", $"event_id",
        get_json_object($"props", "$.k").cast("long").as("page"))
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val edges = views.withColumn("prev", lag($"page", 1).over(w))
      .where($"prev".isNotNull && $"prev" =!= $"page")
      .groupBy($"prev".as("src"), $"page".as("dst"))
      .agg(count(lit(1)).as("w"))
    // every viewed page is a node; a page without out-edges sums no
    // weight (outw null) and collects an empty adjacency
    Pin.observed(
      views.select($"page").unionByName(
        edges.select($"src".as("page"), struct($"dst", $"w").as("e")), allowMissingColumns = true)
        .groupBy($"page")
        .agg(sum($"e.w").as("outw"), collect_list($"e").as("adj")),
      count(lit(1)).as("n"), count(when($"outw".isNull, 1)).as("nd"),
      coalesce(sum(size($"adj")), lit(0L)).as("ne"))
  }

  /** The ten rounds as distributed shuffles, for a graph past one task:
    * `graph`'s rows ranked (page, outw, adj, r), given its observed page
    * count `n` and dangling count `nd`. Each round is one page-keyed
    * shuffle, pinned.
    */
  private[queries] def ranksByRounds(graph: DataFrame, n: Long, nd: Long): DataFrame = {
    import graph.sparkSession.implicits._
    var ranks = graph.select($"*", lit(Scale / n).as("r"))
    var dsum = nd * (Scale / n)
    for (_ <- 1 to Iters) {
      val base = (15 * Scale) / (100 * n) + (85 * dsum) / (100 * n)
      val msgs = ranks.select($"r", $"outw", explode($"adj").as("e"))
        .select($"e.dst".as("page"), expr("(r * 85 * e.w) div (100 * outw)").as("c"))
      val (next, m) = Pin.observed(
        ranks.select($"page", $"outw", $"adj", lit(0L).as("c"))
          .unionByName(msgs, allowMissingColumns = true)
          .groupBy($"page")
          .agg(first($"outw", ignoreNulls = true).as("outw"),
            first($"adj", ignoreNulls = true).as("adj"),
            (lit(base) + sum($"c")).as("r")),
        coalesce(sum(when($"outw".isNull, $"r")), lit(0L)).as("dsum"))
      ranks = next
      dsum = m("dsum").asInstanceOf[Long]
    }
    ranks
  }

  /** The ten rounds inside one task: `graph` coalesced to one partition
    * and ranked there by [[rankPages]], as rows (page, r, outw).
    */
  private[queries] def ranksInTask(graph: DataFrame): DataFrame = {
    import graph.sparkSession.implicits._
    graph.coalesce(1).mapPartitions(rows => rankPages(rows)).toDF("page", "r", "outw")
  }

  /** The ten rounds over one task's rows: pages indexed
    * by their sorted ids (the null page, if any, last), out-edges in CSR
    * arrays (`off`, `dst`, `w`), out-weights in `outw` (0 when
    * dangling), and the same integer arithmetic as [[ranksByRounds]].
    * Emits (page, r, outw) per page.
    */
  private def rankPages(rows: Iterator[Row]): Iterator[(Option[Long], Long, Option[Long])] = {
    val pages = rows.toArray
    val n = pages.length
    val ids = pages.filterNot(_.isNullAt(0)).map(_.getLong(0))
    java.util.Arrays.sort(ids)
    def at(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val idx = pages.map(p => if (p.isNullAt(0)) ids.length else at(p.getLong(0)))
    val outw = new Array[Long](n)
    val off = new Array[Int](n + 1)
    for (j <- 0 until n) {
      if (!pages(j).isNullAt(1)) outw(idx(j)) = pages(j).getLong(1)
      off(idx(j) + 1) = pages(j).getSeq[Row](2).size
    }
    for (i <- 0 until n) off(i + 1) += off(i)
    val dst = new Array[Int](off(n))
    val w = new Array[Long](off(n))
    for (j <- 0 until n)
      pages(j).getSeq[Row](2).iterator.zipWithIndex.foreach { case (e, k) =>
        dst(off(idx(j)) + k) = at(e.getLong(0))
        w(off(idx(j)) + k) = e.getLong(1)
      }
    val nl = n.toLong
    var r = Array.fill(n)(Scale / nl)
    for (_ <- 1 to Iters) {
      var dsum = 0L
      for (i <- 0 until n) if (outw(i) == 0L) dsum += r(i)
      val next = Array.fill(n)((15 * Scale) / (100 * nl) + (85 * dsum) / (100 * nl))
      for (i <- 0 until n; k <- off(i) until off(i + 1))
        next(dst(k)) += (r(i) * 85 * w(k)) / (100 * outw(i))
      r = next
    }
    Iterator.range(0, n).map(i =>
      (if (i < ids.length) Some(ids(i)) else None, r(i), Some(outw(i)).filter(_ != 0L)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_pagerank" -> { (s, dir) =>
      import s.implicits._
      val (graph, g) = linkGraph(s, dir)
      def m(k: String) = g(k).asInstanceOf[Long]
      val (n, nd) = (m("n"), m("nd"))
      val ranks =
        if (n + m("ne") <= TextOps.TaskRows)
          ranksInTask(graph)
        else ranksByRounds(graph, n, nd)
      ranks
        .select($"page", $"r".as("rank_e9"), coalesce($"outw", lit(0L)).as("out_weight"))
        .orderBy(desc("rank_e9"), $"page")
    }
  )

  /** DuckDB twin: the same integer-exact iteration UNROLLED — ten
    * mechanical CTE triples (d/c/it per round) generated by the same
    * Scala loop that drives the Spark side, so the iteration count and
    * every constant (damping 85/100, SCALE, the div arithmetic) exist
    * in exactly one place each and cannot drift apart.
    *
    * Every CTE is `AS MATERIALIZED`: each it$i is referenced three
    * times (d$i, c$i, it${i+1}) and DuckDB inlines non-materialized
    * CTEs per reference, so without the hint the expression tree
    * re-expands ~3^10× — measured 468 s at sf0.01 vs 0.1 s
    * materialized, identical rows (round-11 verdict, confirmed).
    */
  val oracles: Map[String, String] = Map(
    "q_pagerank" -> {
      val iterCtes = (0 until Iters).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT COALESCE(SUM(r), 0) AS dsum
           |  FROM it$i LEFT JOIN ow ON it$i.page = ow.src
           |  WHERE ow.outw IS NULL
           |), c$i AS MATERIALIZED (
           |  SELECT e.dst, SUM((it.r * 85 * e.w) // (100 * o.outw)) AS contrib
           |  FROM e JOIN it$i it ON e.src = it.page JOIN ow o ON e.src = o.src
           |  GROUP BY 1
           |), it${i + 1} AS MATERIALIZED (
           |  SELECT nodes.page,
           |    (15 * CAST($Scale AS BIGINT)) // (100 * nn.n)
           |      + (85 * d$i.dsum) // (100 * nn.n)
           |      + COALESCE(c$i.contrib, 0) AS r
           |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
           |  LEFT JOIN c$i ON nodes.page = c$i.dst
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH v AS MATERIALIZED (
         |  SELECT user_id, ts, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
         |  FROM events WHERE event_type = 'view'
         |), t AS MATERIALIZED (
         |  SELECT page,
         |    lag(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM v
         |), e AS MATERIALIZED (
         |  SELECT prev AS src, page AS dst, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM t WHERE prev IS NOT NULL AND prev <> page GROUP BY 1, 2
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT page FROM v
         |), ow AS MATERIALIZED (
         |  SELECT src, SUM(w) AS outw FROM e GROUP BY 1
         |), nn AS MATERIALIZED (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes
         |), it0 AS MATERIALIZED (
         |  SELECT page, $Scale // nn.n AS r FROM nodes CROSS JOIN nn
         |), $iterCtes
         |SELECT it$Iters.page, CAST(it$Iters.r AS BIGINT) AS rank_e9,
         |  CAST(COALESCE(ow.outw, 0) AS BIGINT) AS out_weight
         |FROM it$Iters LEFT JOIN ow ON it$Iters.page = ow.src
         |ORDER BY rank_e9 DESC, page""".stripMargin
    }
  )
}

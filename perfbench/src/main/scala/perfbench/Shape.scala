package perfbench

import scala.collection.mutable

/** The shape of the similarity graphs the iterative operator queries walk,
  * computed from the generated rows without Spark. The cost of
  * q_dup_clusters and q_embed_dup_clusters follows it: the number of
  * connected-component rounds is set by how deep the components are.
  */
object Shape {
  /** Statistics of an undirected graph over the nodes that have an edge.
    * `depth` is the largest distance from a component's smallest node to
    * any node of it; `rounds` is how many min-label rounds with pointer
    * jumping (the scheme of `graft.queries.TextOps.connectedComponents`,
    * counting the round that finds nothing changed) the graph takes.
    */
  final case class Graph(nodes: Int, edges: Long, components: Int, largest: Int,
                         depth: Int, rounds: Int) {
    def toMap: Map[String, Any] = Map("nodes" -> nodes, "edges" -> edges,
      "components" -> components, "largest_component" -> largest, "depth" -> depth,
      "min_label_rounds" -> rounds)
  }

  /** `adj(i)` holds the neighbours of node i; `id(i)` its label value. */
  def graph(adj: IndexedSeq[Seq[Int]], id: Int => Long): Graph = {
    val inGraph = adj.indices.filter(adj(_).nonEmpty)
    val dist = mutable.Map[Int, Int]()
    var comps = 0; var largest = 0; var depth = 0
    inGraph.sortBy(id).foreach { s =>
      if (!dist.contains(s)) {
        comps += 1
        val q = mutable.ArrayBuffer(s); dist(s) = 0
        var k = 0
        while (k < q.size) {
          val x = q(k); k += 1
          adj(x).foreach(y => if (!dist.contains(y)) { dist(y) = dist(x) + 1; q += y })
        }
        largest = math.max(largest, q.size)
        depth = math.max(depth, q.map(dist).max)
      }
    }
    val nodeOf = inGraph.map(i => id(i) -> i).toMap
    var label = inGraph.map(i => i -> (adj(i).map(id) :+ id(i)).min).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val next = label.map { case (i, l) =>
        i -> ((adj(i).map(label) :+ l :+ label(nodeOf(l))).min) }
      rounds += 1
      changed = next != label
      label = next
    }
    Graph(inGraph.size, adj.map(_.size.toLong).sum / 2, comps, largest, depth, rounds)
  }

  /** Token-set groups of the documents and the graph between the groups'
    * smallest doc ids at Jaccard >= 0.9, as q_dup_clusters builds them.
    */
  def documents(texts: IndexedSeq[String]): Map[String, Any] = {
    val vocab = texts.flatMap(_.split(" ")).distinct.zipWithIndex.toMap
    require(vocab.size <= 64, s"${vocab.size} distinct words do not fit a 64-bit set")
    val groups = texts.indices.groupBy(i =>
      texts(i).split(" ").foldLeft(0L)((m, w) => m | (1L << vocab(w))))
    val sets = groups.keys.toIndexedSeq
    val rep = sets.map(s => groups(s).min.toLong)
    val adj = Array.fill(sets.size)(mutable.ArrayBuffer[Int]())
    for (a <- sets.indices; b <- a + 1 until sets.size) {
      val inter = java.lang.Long.bitCount(sets(a) & sets(b))
      val union = java.lang.Long.bitCount(sets(a) | sets(b))
      if (inter.toDouble / union >= 0.9) { adj(a) += b; adj(b) += a }
    }
    Map("token_set_groups" -> sets.size,
      "multi_member_groups" -> groups.values.count(_.size > 1),
      "largest_group" -> groups.values.map(_.size).max) ++
      graph(adj.map(_.toSeq).toIndexedSeq, rep).toMap
  }

  /** The graph between vectors at cosine >= `threshold`, as
    * q_embed_dup_clusters builds it.
    */
  def vectors(vs: IndexedSeq[Array[Float]], threshold: Double): Map[String, Any] = {
    val unit = vs.map { v =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum); v.map(_ / n)
    }
    val adj = Array.fill(vs.size)(mutable.ArrayBuffer[Int]())
    for (a <- vs.indices; b <- a + 1 until vs.size) {
      var dot = 0.0; var d = 0
      while (d < unit(a).length) { dot += unit(a)(d) * unit(b)(d); d += 1 }
      if (dot >= threshold) { adj(a) += b; adj(b) += a }
    }
    graph(adj.map(_.toSeq).toIndexedSeq, _.toLong).toMap
  }
}

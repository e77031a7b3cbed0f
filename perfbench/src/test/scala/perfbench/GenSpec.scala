package perfbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val Start = LocalDateTime.of(2024, 9, 1, 0, 0)

  /** Stages three consecutive ticks; returns their counts and every line. */
  private def stage(seed: Long): (Seq[Gen.Staged], Seq[String]) = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      val g = new Gen(seed)
      var prev = IndexedSeq.empty[String]
      val counts = (0 until 3).map { i =>
        val (st, lines) = Gen.stageTick(g, new File(dir, s"t$i.json"), Start.plusMinutes(15L * i),
          1000, 0.02, 0.05, prev)
        prev = lines
        st
      }
      val lines = (0 until 3).flatMap(i =>
        scala.io.Source.fromFile(new File(dir, s"t$i.json"), "UTF-8").getLines().toList)
      (counts, lines)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def ids(lines: Seq[String]): Set[String] =
    lines.map(l => "\"event_id\":\"([0-9a-f]+)\"".r.findFirstMatchIn(l).get.group(1)).toSet

  test("one seed stages byte-identical inputs every time") {
    assert(stage(7) == stage(7))
  }

  test("two seeds stage different inputs of equal size and mix") {
    val (s1, l1) = stage(1)
    val (s2, l2) = stage(2)
    assert(s1.map(_.copy(bytes = 0)) == s2.map(_.copy(bytes = 0)))
    s1.zip(s2).foreach { case (a, b) => assert(math.abs(a.bytes - b.bytes) < a.bytes / 50) }
    assert(l1.size == l2.size)
    assert(l1 != l2)
    assert(ids(l1).intersect(ids(l2)).isEmpty)
  }

  test("staged counts match the lines: late events and redeliveries") {
    val (Seq(t0, t1, _), lines) = stage(3)
    assert(t0.lines == 1000 && t0.redeliveredLines == 0 && t0.lateEvents == 20)
    assert(t1.lines == 1050 && t1.redeliveredLines == 50 && t1.distinct == 1000)
    // every new event is staged once; a redelivery repeats a line byte for byte
    assert(ids(lines).size == 3000)
    assert(lines.distinct.size == 3000)
    val late = lines.count(_.contains("\"timestamp\":\"2024-08-31T"))
    assert(late >= 60 && late <= 60 + 100) // redeliveries may repeat late lines
  }

  private def int(m: Map[String, Any], k: String) = m(k).asInstanceOf[Number].intValue

  test("documents have the near-duplicate graph of sf0.1's") {
    val docs = Gen.documents(new Gen(11), 5000, 250, 8)
    assert(docs.map(_._2.split(" ").length).min >= 10 && docs.map(_._2.split(" ").length).max <= 101)
    assert(docs.count(_._2.endsWith(" dup")) == 250)
    // sf0.1 measures 3,935 token-set groups, a largest component of 1,593
    // groups at depth 7, and 6 min-label rounds
    val d = Shape.documents(docs.map(_._2))
    assert(int(d, "token_set_groups") > 3800 && int(d, "token_set_groups") < 4050, d)
    assert(int(d, "largest_component") > 1500 && int(d, "largest_component") < 1750, d)
    assert(int(d, "min_label_rounds") >= 3 && int(d, "min_label_rounds") <= 8, d)
  }

  test("embeddings have the cosine graph of sf0.1's") {
    // sf0.1 measures 14,922 edges at cosine >= 0.3, one component, 4 rounds
    val v = Shape.vectors(Gen.embeddings(new Gen(11), 2000, 64, 10).map(_._2), 0.3)
    assert(int(v, "edges") > 14000 && int(v, "edges") < 16000, v)
    assert(int(v, "components") == 1, v)
  }

  test("shape: a chain's depth and rounds") {
    // 0-1-2-3-4: depth 4 from node 0; labels 0,0,1,2,3 after the initial
    // step, then pointer jumping halves the distance each round
    val adj = IndexedSeq(Seq(1), Seq(0, 2), Seq(1, 3), Seq(2, 4), Seq(3))
    assert(Shape.graph(adj, _.toLong) == Shape.Graph(5, 4, 1, 5, 4, 3))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSummarySpec extends AnyFunSuite {
  import Bench.{Summary, contended, stageMedians, summarize, total}

  test("odd number of reps: the middle rep") {
    assert(summarize(Seq(3.0, 1.0, 2.0)) == Summary(2.0, 1.0, 3.0, 3))
  }

  test("even number of reps: the mean of the two middle reps") {
    assert(summarize(Seq(4.0, 1.0, 2.0, 3.0)) == Summary(2.5, 1.0, 4.0, 4))
  }

  test("failed reps are left out of the summary") {
    assert(summarize(Seq(5.0, -1.0, 1.0)) == Summary(3.0, 1.0, 5.0, 2))
  }

  test("an entry whose reps all failed is the -1 sentinel, left out of the total") {
    val failed = summarize(Seq(-1.0, -1.0, -1.0))
    assert(failed == Summary(-1.0, -1.0, -1.0, 0))
    assert(total(Seq(2.0, failed.median, 0.5)) == 2.5)
  }

  test("stage splits: per-stage median across reps, first-seen order") {
    val reps = Seq(
      Seq("bronze" -> 1.0, "silver" -> 4.0),
      Seq("bronze" -> 3.0, "silver" -> 2.0),
      Seq("bronze" -> 2.0, "silver" -> 3.0, "fact" -> 1.0))
    assert(stageMedians(reps) == Seq("bronze" -> 2.0, "silver" -> 3.0, "fact" -> 1.0))
  }

  test("contended: loadavg above 1.5x cores at start or end, or steal above 15%") {
    assert(!contended(loadStart = 1.0, loadEnd = 6.0, cpus = 4, stealShare = 0.0))
    assert(contended(loadStart = 6.1, loadEnd = 1.0, cpus = 4, stealShare = 0.0))
    assert(contended(loadStart = 1.0, loadEnd = 6.1, cpus = 4, stealShare = 0.0))
    assert(!contended(loadStart = 1.0, loadEnd = 1.0, cpus = 4, stealShare = 0.15))
    assert(contended(loadStart = 1.0, loadEnd = 1.0, cpus = 4, stealShare = 0.16))
    // an unreadable /proc/loadavg reads -1 and never flags on its own
    assert(!contended(loadStart = -1.0, loadEnd = -1.0, cpus = 4, stealShare = 0.0))
  }
}

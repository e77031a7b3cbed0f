package graft.runner

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Concurrent driver-side job submission (optimization guide §2.6):
  * Spark's scheduler runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially. Independent pipeline steps (the four dim upserts of a
  * tick, the four dim builds of a bulk rebuild) each consist of several
  * small actions (high-water-mark agg, anti-join checkpoint, emptiness
  * probe, append write); run serially every one of those pays its full
  * scheduler latency end-to-end, while the executor pool sits mostly
  * idle. Submitting them from a small thread pool lets one step's tasks
  * back-fill the cores another step's tail leaves free — the same wall
  * clock win on local[32] and on a cluster, because it removes serial
  * driver latency, not compute.
  *
  * FIFO scheduling (the default) is exactly the back-fill behaviour
  * wanted here; the pool is shared and daemon so it never blocks JVM
  * exit.
  */
object Par {
  lazy val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    }))

  /** Evaluate the thunks concurrently and return their results in
    * argument order. Every thunk runs to completion before this returns
    * or throws: on failure the first failing thunk's exception (in
    * argument order) is rethrown, with any later failures attached as
    * suppressed. Rethrowing early would leave a sibling still writing on
    * a daemon thread while the caller unwinds — e.g. one sink's
    * compaction mid-swap after the other's failed.
    */
  def all[A](thunks: (() => A)*): Seq[A] = {
    implicit val e: ExecutionContext = ec
    val futures = thunks.map(t => Future(t()))
    val done = futures.map(f => Await.ready(f, Duration.Inf).value.get)
    done.collect { case scala.util.Failure(t) => t } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => done.map(_.get)
    }
  }

  /** [[all]] for two thunks of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all(() => a, () => b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}

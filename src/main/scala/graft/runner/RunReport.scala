package graft.runner

/** What one tick, gold micro-batch or bulk pass measured, gathered from
  * the jobs it ran anyway (no read-back job):
  *   - `stages`: wall seconds per named stage ([[StageTimer]]);
  *   - `bronze`, `silver`, `fact`: rows the pass added to each layer,
  *     counted by the job that wrote them;
  *   - `unparseable`: bronze lines whose envelope did not parse (no
  *     event_id) — the reference logs this count at the silver boundary
  *     (bronze_to_silver_iceberg.py:112-113,195);
  *   - `held`: parsed rows silver already held (redeliveries of an
  *     earlier batch), so not appended again;
  *   - per dim (`dim_user`, `dim_event`, `dim_page`, `dim_recipe`):
  *     `dimMissed`, fact rows whose key the stored dim lacked;
  *     `dimAppended`, keys the pass wrote to the dim; `skZero`, fact rows
  *     written with SK 0. Rows that joined (the reference's A3 check,
  *     silver_to_gold_processor.py:299-310) are `fact - skZero(dim)`.
  */
final case class RunReport(stages: Seq[(String, Double)] = Nil,
                           bronze: Long = 0L, silver: Long = 0L, fact: Long = 0L,
                           unparseable: Long = 0L, held: Long = 0L,
                           dimMissed: Map[String, Long] = Map.empty,
                           dimAppended: Map[String, Long] = Map.empty,
                           skZero: Map[String, Long] = Map.empty) {

  /** (bronze, silver, fact) rows added. */
  def rows: (Long, Long, Long) = (bronze, silver, fact)

  /** Both reports' counts and stage seconds, summed. */
  def +(o: RunReport): RunReport = {
    def sum(a: Map[String, Long], b: Map[String, Long]) = RunReport.byName(a.toSeq ++ b.toSeq).toMap
    RunReport(RunReport.byName(stages ++ o.stages), bronze + o.bronze, silver + o.silver,
      fact + o.fact, unparseable + o.unparseable, held + o.held,
      sum(dimMissed, o.dimMissed), sum(dimAppended, o.dimAppended), sum(skZero, o.skZero))
  }
}

object RunReport {
  /** The values summed by name, names in first-seen order. */
  private[runner] def byName[V: Numeric](xs: Seq[(String, V)]): Seq[(String, V)] =
    xs.map(_._1).distinct.map(n => n -> xs.collect { case (`n`, v) => v }.sum)

  /** The entries of an observed-metrics map, as counts. */
  private[graft] def counts(m: Map[String, Any]): Map[String, Long] =
    m.map { case (k, v) => k -> v.asInstanceOf[Long] }
}

/** The stage timer: wall seconds per named stage of one run. Stages of
  * one run may overlap ([[Par]]); each counts its own wall time.
  */
final class StageTimer {
  private val walls = scala.collection.mutable.ArrayBuffer[(String, Double)]()

  def apply[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    walls.synchronized(walls += name -> (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Seconds per stage, summed by name, in the order stages first ended. */
  def splits: Seq[(String, Double)] = walls.synchronized(RunReport.byName(walls.toSeq))
}

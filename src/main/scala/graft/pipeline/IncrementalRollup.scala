package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-scoped aggregate maintenance — the incremental answer to
  * "recompute the dashboard" at 100 TB.
  *
  * The reference's gold DAGs rebuild each aggregate table from the full
  * fact history every run (silver_to_gold_processor.py's daily rollups);
  * fine at 1M events, a full-history scan per 15-min tick at 100 TB.
  * The scalable shape: an aggregate table PARTITIONED BY the same key
  * that partitions the fact (event date), maintained by recomputing
  * ONLY the partitions a batch touched and dynamic-partition-
  * overwriting exactly those rollup partitions. Work per tick is
  * O(affected partitions) — 1-2 dates for a 15-min batch — and late
  * data heals automatically: a late row makes its (old) date affected
  * again, and that date's rollup partition is recomputed from fact,
  * converging to the same table a full rebuild would produce.
  *
  * Contract: `agg` must be PARTITION-LOCAL — its grouping keys include
  * `partCol`, so a partition's aggregate rows depend only on that
  * partition's fact rows. That is what makes splice-by-overwrite equal
  * to a full recompute (IncrementalRollupSpec pins the equality; the
  * require below rejects an agg that drops the partition column).
  */
object IncrementalRollup {

  /** Recompute the rollup partitions in `affected` from the fact and
    * dynamic-partition-overwrite them in place. The fact scan carries a
    * STATIC partition filter (affected is a collected handful of
    * values, like MicroBatch's affected-day handling), so only the
    * touched fact partitions are read — never the history.
    */
  def update(spark: SparkSession, factPath: String, rollupPath: String,
             partCol: String, affected: Seq[String],
             agg: DataFrame => DataFrame): Unit = {
    if (affected.isEmpty) return
    val factAffected = spark.read.parquet(factPath)
      .where(col(partCol).isin(affected: _*))
    val updated = agg(factAffected)
    require(updated.columns.contains(partCol),
      s"agg must keep the partition column '$partCol' (partition-local contract)")
    Warehouse.overwritePartitions(updated).partitionBy(partCol).parquet(rollupPath)
  }
}

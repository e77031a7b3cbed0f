package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities: small-file compaction and skew-salted aggregation —
  * the two §4 techniques the core pipeline doesn't need at test scale
  * but a 100 TB deployment does.
  */
object Scale {

  /** Small-file compaction (the reference runs Iceberg
    * `rewrite_data_files` binpack at 128 MB, README.md:231-242): rewrite
    * a partitioned parquet table so each partition lands in few,
    * right-sized files. `maxRecordsPerFile` bounds the top end; AQE's
    * coalescing bounds the bottom.
    */
  def compact(df: DataFrame, outPath: String, partitionCols: Seq[String],
              maxRecordsPerFile: Long = 1000000L): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(outPath)

  /** Scalable running sum — two-phase prefix sum over (group, order)
    * without ever holding a whole group in one task. A plain
    * `sum(v) OVER (PARTITION BY group ORDER BY order)` puts each
    * group's full history through one window task: fine for a quiet
    * day, an OOM for the hot day at 100 TB. Here the caller supplies a
    * deterministic coarse BUCKET of the order key — MONOTONIC in the
    * order within each group (e.g. epoch-hour under a day group;
    * hour-of-day breaks when a group's rows cross midnight): phase 1
    * computes local prefixes inside each
    * (group, bucket) chunk — parallel, bounded tasks — and phase 2
    * window-sums the per-(group, bucket) TOTALS frame (groups ×
    * buckets rows, thousands not billions) into per-bucket offsets
    * joined back. The bucket is derived from the DATA, not
    * spark_partition_id(), so re-computation of any branch can never
    * disagree with the chunk assignment (range-partition + partition-id
    * schemes break exactly there: the exchange's sampled bounds are not
    * stable across branch recomputation).
    *
    * Tie semantics match the single-window form: both use the default
    * RANGE frame, so order-key peers share one cumulative value (ties
    * cannot straddle buckets — the bucket is a function of the order
    * key). ScaleSpec pins equality against the naive window on real
    * events.
    */
  def bucketedRunningSum(df: DataFrame, groupCol: Column, bucketCol: Column,
                         orderCols: Seq[Column], valueCol: Column,
                         outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // collision-proof internal names (a caller's own __g/__b would be
    // silently overwritten otherwise)
    val g = "__graft_brs_g"; val b = "__graft_brs_b"
    val loc = "__graft_brs_local"; val tot = "__graft_brs_btot"
    val off = "__graft_brs_off"
    require(!df.columns.exists(_.startsWith("__graft_brs_")),
      "input already carries __graft_brs_* columns")
    val staged = df.withColumn(g, groupCol).withColumn(b, bucketCol)
    val localW = Window.partitionBy(col(g), col(b)).orderBy(orderCols: _*)
    val local = staged.withColumn(loc, sum(valueCol).over(localW))
    val offsetW = Window.partitionBy(col(g)).orderBy(col(b))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = staged.groupBy(col(g), col(b))
      .agg(sum(valueCol).as(tot))
      .withColumn(off, coalesce(sum(col(tot)).over(offsetW), lit(0L)))
      .select(col(g).as(s"${g}_r"), col(b).as(s"${b}_r"), col(off))
    // null-SAFE equi-join: window partitioning treats NULL group/bucket
    // values as ordinary partition keys, so the offset join must too —
    // a plain inner equi-join would silently drop those rows
    local.join(offsets,
        col(g) <=> col(s"${g}_r") && col(b) <=> col(s"${b}_r"))
      .withColumn(outCol, col(loc) + col(off))
      .drop(g, b, loc, off, s"${g}_r", s"${b}_r")
  }

  /** Two-phase skew-salted aggregation: counts per key where a handful
    * of keys dominate. Phase 1 aggregates on (key, salt) — spreading a
    * hot key over `buckets` reducers — phase 2 merges the partials per
    * key. Both phases get map-side partial aggregation from Catalyst,
    * so the extra pass costs one small shuffle over the partials.
    *
    * Salting matters when a single key's rows exceed what one task
    * should hold; AQE's skew-join handling covers joins, this covers
    * aggregations with algebraic merge functions.
    *
    * The salt is CONTENT-derived — `xxhash64` over the full row — not
    * `spark_partition_id()`/`monotonically_increasing_id()`: those
    * depend on task/partition layout, so under a lost-shuffle-partition
    * stage retry the recomputed map task can emit different salts than
    * the fetch-completed reducers already consumed (the SPARK-23207
    * nondeterminism class). A content hash reproduces identical shuffle
    * output on any recomputation, and spreads a hot key just as well
    * whenever rows carry any varying column (events always do — ids,
    * timestamps). Fully identical rows co-locate, which is the correct
    * degenerate outcome: their partial is a single merged count.
    */
  def saltedCount(df: DataFrame, key: Column, buckets: Int = 16): DataFrame = {
    require(buckets > 0)
    df.groupBy(key.as("k"),
        pmod(xxhash64(df.columns.map(col): _*), lit(buckets)).as("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).as("cnt"))
  }

  /** Salted distinct-count sketch-free variant: exact COUNT(DISTINCT v)
    * per hot key via two-phase dedup — phase 1 dedups (key, value)
    * pairs spread across reducers by hashing the value, phase 2 counts.
    * This is how the DAU countDistinct survives a key whose value set
    * doesn't fit one task.
    */
  def saltedCountDistinct(df: DataFrame, key: Column, value: Column): DataFrame =
    df.select(key.as("k"), value.as("v"))
      .where(col("v").isNotNull)
      .distinct() // shuffles on (k, v) — no single-reducer hot key
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_distinct"))

  /** Morton (Z-order) curve value for N numeric columns, each min/max
    * normalized to `bits` bits and bit-interleaved. Sorting a write by
    * this single value clusters the file layout in EVERY dimension, so
    * parquet min/max (zone-map) stats prune file scans for predicates on
    * any column — a sort by (a, b, c) prunes only on `a`. This is the
    * layout trick behind Delta/Iceberg OPTIMIZE ZORDER, composed here
    * from plain Catalyst bit ops (shiftright/&/shiftleft — all
    * codegen'd, no UDF).
    *
    * `dims` carries (column, globalMin, globalMax) per dimension (two
    * scalars per column; callers get them from one cheap agg over the
    * write batch — write-time metadata, not a per-row driver loop). Bit
    * i of dimension j lands at position `i * n + j` (dimension 0 in the
    * lowest lane), so the 2-column overload below keeps its historical
    * bit layout. `n * bits` must fit a signed long.
    */
  def zvalueN(dims: Seq[(Column, Long, Long)], bits: Int = 16): Column = {
    val n = dims.size
    require(n >= 2, "z-order needs at least two dimensions")
    require(bits > 0 && n * bits <= 63,
      s"$n dims x $bits bits overflow a signed long")
    def norm(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(1L, hi - lo)
      // scale into [0, 2^bits); Column./ is double division, so cast
      // back to long for the bit ops (exact: products stay < 2^53);
      // clamp for values outside the sampled range (late rows)
      val scaled = ((c.cast("long") - lit(lo)) * lit((1L << bits) - 1) /
        lit(span.toDouble)).cast("long")
      greatest(lit(0L), least(lit((1L << bits) - 1L), scaled))
    }
    val lanes = dims.zipWithIndex.map { case ((c, lo, hi), j) =>
      val nc = norm(c, lo, hi)
      (0 until bits).map(i =>
        shiftleft(shiftright(nc, i).bitwiseAND(1), i * n + j))
        .reduce(_ bitwiseOR _)
    }
    lanes.reduce(_ bitwiseOR _)
  }

  /** Two-column Morton value (the common case; see [[zvalueN]]). */
  def zvalue(a: Column, aMin: Long, aMax: Long,
             b: Column, bMin: Long, bMax: Long, bits: Int = 16): Column =
    zvalueN(Seq((a, aMin, aMax), (b, bMin, bMax)), bits)

  /** Z-order clustered write: range-partition + sort the batch by the
    * Morton value of the key columns, so every output file covers a
    * small hyper-rectangle of the key space and scans filtered on ANY
    * key column skip most files on min/max stats alone. `files`
    * controls output file count (range partitioning keeps them
    * near-equal-sized regardless of key skew).
    */
  def zorderWrite(df: DataFrame, keys: Seq[String], outPath: String,
                  files: Int): Unit = {
    require(keys.size >= 2)
    val aggs = keys.flatMap(k =>
      Seq(min(col(k).cast("long")), max(col(k).cast("long"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    keys.indices.foreach(j => require(!r.isNullAt(2 * j),
      s"zorderWrite needs a non-empty batch with non-null ${keys(j)}"))
    val z = zvalueN(keys.zipWithIndex.map { case (k, j) =>
      (col(k), r.getLong(2 * j), r.getLong(2 * j + 1))
    })
    // repartitionByRange picks boundaries from a per-partition sample;
    // at the default 100 rows/partition the boundaries shift with the
    // input's physical layout, so a file can straddle a z-box edge and
    // widen its min/max rectangle. A 100x sample makes the boundaries
    // near-exact and layout-independent; the collect is still bounded
    // (sampleSize ~ 3 * files * 10000 longs, driver-side only).
    val sampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val keep = df.sparkSession.conf.getOption(sampleKey)
    try {
      df.sparkSession.conf.set(sampleKey, "10000")
      df.withColumn("_z", z)
        .repartitionByRange(files, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
        .write.mode("overwrite").parquet(outPath)
    } finally keep.fold(df.sparkSession.conf.unset(sampleKey))(
      df.sparkSession.conf.set(sampleKey, _))
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.runner.{Pin, StageTimer}

/** Similarity search over the `embeddings` table (64-dim float vectors,
  * unit-normalized by the generator).
  *
  * Scale design (100 TB): brute-force top-k is the *per-query* baseline —
  * a broadcast of the (small) query set against a scan of the corpus, one
  * shuffle for the per-query top-k. That is linear in corpus size and the
  * right plan when the query set is small. The scale path is
  * [[q_ann_lsh]]: random-hyperplane LSH buckets both sides, so candidate
  * scoring touches only same-bucket vectors (the shuffle keys on bucket
  * id); recall is tested against the brute-force oracle in ScalaTest.
  * All arithmetic is double-precision with a sequential left-fold, which
  * DuckDB's list functions reproduce exactly.
  */
object VectorOps {

  /** Sequential-left-fold dot product of two double arrays (codegen'd
    * higher-order functions; deterministic summation order).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Cosine similarity (vectors need not be normalized). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic pseudo-random hyperplanes: weight(p, d) derived from a
    * splitmix64-style integer mix of (p, d) — reproducible across runs
    * and engines, no RNG state.
    */
  // 4 planes → 16 buckets: sized for the testdata corpus (500–2000
  // vectors → ~30–125 candidates/bucket). At 100 TB you'd raise this so
  // the expected bucket population stays in the 10³–10⁴ range (each
  // +1 plane halves it) — the plan shape is unchanged.
  private val NumPlanes = 4
  private val Dim = 64

  /** Aggregate recall floor for the LSH-bucketed near-dup path on this
    * corpus (isotropic random vectors — hyperplane LSH's worst case:
    * a cos-0.3 pair sits at ~72°, P(plane agrees) ≈ 0.6). Measured
    * 0.47–0.49 across every testdata sf; deterministic for the fixed
    * planes + corpus, pinned with margin at 0.4.
    */
  private val EmbedLshRecallFloor = 0.4
  // SemDeDup same-cell recall of exactly-dominated vectors; isotropic
  // random vectors are the worst case (see q_semdedup). Measured 0.52 /
  // 0.57 / 0.80 at sf0.001/0.01/0.1; pinned with margin.
  private val SemDedupRecallFloor = 0.35
  private def planeWeight(p: Int, d: Int): Double = {
    var z = (p.toLong * 0x9E3779B97F4A7C15L) + (d.toLong * 0xBF58476D1CE4E5B9L) + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // map to [-1, 1)
    (z >>> 11).toDouble / (1L << 52).toDouble - 1.0
  }

  /** Sign-bit bucket id of a vector under the fixed hyperplanes. */
  def lshBucket(vec: Column): Column = {
    val bits = (0 until NumPlanes).map { p =>
      val plane = array((0 until Dim).map(d => lit(planeWeight(p, d))): _*)
      when(dot(vec, plane) >= 0.0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Corpus as (vec_id, v: array<double>). */
  private def corpusOf(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** The fixed small default query set (vec_id < 3). */
  private val DefaultQueryPred: Column = col("vec_id") < 3

  /** Scale-tier ANN fixture (VERDICT r9 #7: the 2000-vector sf0.1
    * embeddings table makes the ANN contracts honest but toy): each base
    * vector replicated [[AnnScaleRep]]× with a tiny deterministic
    * integer-derived per-dimension perturbation — 100k vectors at
    * sf0.1, 25k at the sf0.01 gate. The perturbation (≤ ±0.008/dim) is
    * small enough that a base vector's replicas form a tight cluster
    * (the realistic ANN regime: near-duplicate density, not pure
    * isotropy) and large enough that replicas separate: the modulus
    * 1009 is prime, exceeds every replication this fixture runs at
    * (50 for the gate, 500 for the 1M bench tier), and is coprime to
    * any plausible id stride, so two replicas of one base get identical
    * perturbations only if their vec_ids collide mod 1009 — never for
    * r ≠ r' < 1009 unless nBase ≡ 0 (mod 1009) (ADVICE r10: the old
    * mod-17 scheme collapsed replicas 17 apart). Pure
    * integer arithmetic — no RNG state, deterministic across runs; the
    * oracle never recomputes vectors (its anchors are ids and corpus
    * counts), so only in-engine determinism is load-bearing.
    */
  private val AnnScaleRep = 50
  private val AnnScaleQueries = 20
  private val AnnScaleCells = 256
  private val AnnScaleProbes = 8

  /** Replica-MAJOR ids (vec_id = r·nBase + base): the low id range is
    * replica 0 of DISTINCT bases, so the first-k seeding of both the
    * coarse Lloyd quantizer and the PQ codebooks sees k different
    * clusters. Base-major ids put 50 copies of base 0 in the seed set —
    * the coarse quantizer collapsed and both scale contracts failed.
    * Returns the corpus with nBase, the fixture table's row count — a
    * bounded driver scalar, same class as the Lloyd argmax.
    */
  private[queries] def scaledCorpus(s: SparkSession, dir: String,
                                    rep: Int): (DataFrame, Long) = {
    val base = load(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("base_id"),
        asDouble(col("embedding")).as("bv"))
    val nBase = base.count()
    // The fixture parquet is ONE file → ONE partition, and explode
    // preserves partitioning — without this repartition the entire
    // rep×-replicated corpus (1M rows at the 1M tier) sat in a single
    // partition and every downstream pass (coarse assign, residual
    // explode, PQ encode) ran on ONE of the 32 cores (r12 measured the
    // 1M coarse assignment at 50.8 s single-threaded vs ~2 s parallel).
    // Shuffling the BASE is the cheap side of the fan-out: nBase rows
    // move, the ×rep explosion happens after, already spread. Hash
    // partitioning by base_id makes the partition ASSIGNMENT
    // deterministic; within-partition row order is NOT (shuffle block
    // fetch order varies run over run). Downstream consumers don't
    // depend on it: seed selection is order-insensitive
    // (orderBy(vec_id).limit), and the recall contracts carry slack.
    (base.repartition(col("base_id"))
      .withColumn("r", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("vec_id", col("r") * nBase + col("base_id"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(Dim)), d =>
          element_at(col("bv"), d) +
            (pmod(col("vec_id") * 31 + d.cast("long") * 7, lit(1009)) - lit(504))
              .cast("double") / lit(60000.0)).as("v")), nBase)
  }

  /** The query set under `pred` as (query_id, qv). The ANN entries pin
    * it once and hand the pin to the probe router, the ADC table, the
    * re-rank and the exact baseline: no plan then carries a selective
    * filter over a corpus scan, which is what makes Spark inject a
    * runtime bloom filter that filters nothing (its creation and
    * application sides would be the same few query rows).
    */
  private[queries] def querySetOf(emb: DataFrame,
                                  pred: Column = DefaultQueryPred): DataFrame =
    emb.where(pred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Brute-force dot-product top-k of each query in `queries` (a
    * [[querySetOf]] frame): broadcast queries × corpus scan, per-query
    * top-k via window. Linear in corpus size — the per-query baseline.
    */
  def annBruteForce(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("v")))
    topK(scored, k)
  }

  /** [[annBruteForce]] ranked by cosine, the similarity the ANN re-rank
    * uses: the scale fixture's replicas are near-ties with non-unit
    * norms, so a dot-ranked baseline would diverge for reasons unrelated
    * to the ANN path (the q_hard_negatives_ann lesson, which that
    * fixture is deliberately sensitive enough to expose).
    */
  private def cosineTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topK(emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.CosineSimilarity(col("qv"), col("v"))), k)

  /** LSH-bucketed ANN with multi-probe: corpus vectors hashed to sign-bit
    * buckets once; each query probes its own bucket plus every Hamming-1
    * neighbor. Scoring touches only probed buckets — candidate set ≈
    * (1+planes)/2^planes of the corpus, the scale path vs a full scan.
    */
  def annLsh(emb: DataFrame, k: Int): DataFrame = {
    val bucketed = emb.withColumn("bucket", lshBucket(col("v")))
    val probes = (0 until NumPlanes).map(p => col("bucket").bitwiseXOR(1L << p))
    val queriesDf = bucketed.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(array((col("bucket") +: probes): _*)).as("bucket"))
    val scored = bucketed.join(broadcast(queriesDf), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      // a neighbor can surface via several probes — dedup before ranking
      .dropDuplicates("query_id", "vec_id")
      .withColumn("cos", dot(col("qv"), col("v")))
    topK(scored, k)
  }

  /** Centroid rows (cell, cv) packed into ONE cell-sorted entry array:
    * the broadcast side of every [[graft.functions.NearestCell]] kernel
    * and of the probe router, so a corpus row meets all centroids as an
    * inline loop instead of a ×cells row blowup.
    */
  private val packedCells: Column =
    array_sort(collect_list(struct(col("cell"), col("cv"))))

  /** Deterministic k-means from `seeds` (keys…, cell, cv): two Lloyd
    * passes, each assigning every point to its nearest centroid
    * (`assign(points, cents)` adds `cell`) and moving each centroid to
    * the element-wise mean of its points' `vec` column. Only ever
    * seed-count rows — broadcastable by construction; each pass is one
    * point-linear assignment plus a (keys, cell, pos)-keyed mean, no
    * driver math.
    *
    * CONTRACT: each pass ends in a pin, so every downstream
    * re-evaluation — however many subplans reference the result — reads
    * the SAME materialized centroid values, bitwise. Without the pin, a
    * re-run of the mean aggregation could fold floats in a different
    * shuffle arrival order and yield bitwise-different centroids per
    * subplan. Seeds stay lazy: a narrow filter/limit
    * over the caller's pinned frame re-evaluates to the same rows.
    */
  private def lloyd(points: DataFrame, seeds: DataFrame, vec: String, keys: Column*)(
      assign: (DataFrame, DataFrame) => DataFrame): DataFrame =
    (0 until 2).foldLeft(seeds) { (cents, _) =>
      val byCell = keys :+ col("cell")
      Pin(assign(points, cents)
        .select(byCell :+ posexplode(col(vec)).as(Seq("pos", "x")): _*)
        .groupBy(byCell :+ col("pos"): _*).agg(avg(col("x")).as("mx"))
        .groupBy(byCell: _*)
        .agg(array_sort(collect_list(struct(col("pos"), col("mx")))).as("pairs"))
        .select(byCell :+ transform(col("pairs"), p => p.getField("mx")).as("cv"): _*))
    }

  /** Coarse k-means fit (cell, cv): seeds are the first `cells` vectors
    * by id, assignment is [[assignCells]].
    */
  private[queries] def lloydCentroids(emb: DataFrame, cells: Int): DataFrame =
    lloyd(emb, emb.orderBy(col("vec_id")).limit(cells)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv")), "v")(assignCells)

  /** Nearest-cell assignment as a NARROW map (the pqAssign pattern):
    * the centroid frame packs to ONE cell-sorted entry array,
    * broadcast, and the argmax runs inline per corpus row via
    * transform + array_max over (similarity, -cell) structs — max
    * similarity, ties to the LOWEST cell id, bit-identical to the
    * crossJoin + row_number form it replaces. The old form blew each
    * corpus row up ×cells and pushed the blowup through a
    * vec_id-keyed sort window: at the 100k-vector scale fixture with
    * 256 cells that was a 25.6M-row shuffle per Lloyd/assignment pass
    * (~5/6 of q_ann_ivfpq_scale's 344 s); the narrow form shuffles
    * nothing.
    */
  private[queries] def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents.agg(packedCells.as("es"))))
      .select(col("vec_id"), col("v"),
        graft.functions.NearestCell(col("v"), col("es")).as("cell"))

  /** Two-level (hierarchical) coarse assignment — the IMI/coarse-of-
    * coarse trick that removes the n × cells term from IVF builds at
    * large cell counts: cluster the CENTROIDS into ~√cells super-cells,
    * route each vector to its nearest super (superK dots), then argmax
    * only over the cells whose top-`memberR` supers include it
    * (≈ memberR·cells/superK dots). At the 10M tier (2048 cells, 64
    * supers) that is ~128 dot-equivalents per vector instead of 2048 —
    * the stage that measured 103 s of the 152 s build. Assignment
    * becomes approximate (a vector lands in its true best cell iff that
    * cell's membership covers the vector's super — overwhelmingly true
    * for clustered data since nearby cells share supers), which IVF
    * tolerates by construction: the index stays internally consistent
    * (queries probe the same assignment), and the tier's recall +
    * scanned-fraction contracts gate the approximation. Rows whose
    * super has an empty membership list (possible if a degenerate super
    * is in no cell's top-R) fall back to the exact full argmax via a
    * per-row CASE — never dropped, never null. sortWithinPartitions on
    * the super id keeps NearestCell's per-task unpack memo hot (runs of
    * equal super reuse one unpacked member array). Small cell counts
    * (< 4 × superK) keep the exact single-level form — the hierarchy
    * only pays past that.
    */
  private[queries] def assignCellsHierarchical(
      emb: DataFrame, cents: DataFrame,
      superK: Int = 64, memberR: Int = 4): DataFrame = {
    val nCells = cents.count()
    if (nCells < 4L * superK) return assignCells(emb, cents)
    val superCents = lloydCentroids(
      cents.select(col("cell").cast("long").as("vec_id"), col("cv").as("v")),
      superK)
    // membership: every cell joins its memberR nearest supers, so a
    // vector routed to super s sees all cells for which s is a top-R
    // super — the overlap that makes near-boundary assignments agree
    // with the exact argmax
    val member = cents
      .crossJoin(broadcast(superCents.select(col("cell").as("super"), col("cv").as("scv"))))
      .withColumn("d", graft.functions.CosineSimilarity(col("cv"), col("scv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cell").orderBy(desc("d"), asc("super"))))
      .where(col("rn") <= memberR)
      .select(col("super"), col("cell"), col("cv"))
    val packedBySuper = member.groupBy(col("super")).agg(packedCells.as("sub_es"))
    // No row clustering needed before the membership join: NearestCell's
    // per-thread unpack memo is an LRU sized for the whole superK-way
    // member-array working set, so rows can interleave supers freely.
    // (Two rejected alternatives, both measured: sorting AFTER the join
    // materializes each row WITH its joined ~66 KB member array into the
    // sort buffer — a ~660 GB spill that filled the disk at the 10M
    // tier; sorting BEFORE it spills a 5.5 GB sorter per pass just to
    // keep a one-slot memo hot.) The final projection consumes sub_es
    // from the broadcast row without ever copying it into an output row.
    emb.crossJoin(broadcast(superCents.agg(packedCells.as("ses"))))
      .withColumn("super", graft.functions.NearestCell(col("v"), col("ses")))
      .drop("ses")
      .join(broadcast(packedBySuper), Seq("super"), "left")
      .crossJoin(broadcast(cents.agg(packedCells.as("full_es"))))
      .select(col("vec_id"), col("v"),
        when(col("sub_es").isNotNull,
          graft.functions.NearestCell(col("v"), col("sub_es")))
          .otherwise(graft.functions.NearestCell(col("v"), col("full_es")))
          .as("cell"))
  }

  /** The probe router: each query's `nprobe` nearest cells, as
    * (query_id, qv, ivf_cell, qcdot) with qcdot = dot(q, centroid). The
    * centroids pack to one broadcast array and each query row sorts its
    * per-cell (−similarity, cell, qcdot) structs inline, keeping the
    * first nprobe — max similarity, ties to the lowest cell, with no
    * shuffle (a row_number window paid an exchange + sort on a
    * queries×cells frame). A query's probes are distinct cells.
    */
  private def probeCells(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    queries.crossJoin(broadcast(cents.agg(packedCells.as("pes"))))
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(transform(col("pes"), e => struct(
          (-graft.functions.CosineSimilarity(col("qv"), e.getField("cv"))).as("negd"),
          e.getField("cell").as("cell"),
          dot(col("qv"), e.getField("cv")).as("qcdot")))), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cell").as("ivf_cell"),
        col("p.qcdot").as("qcdot"))

  /** The gate's IVF index: cells and probes per query. */
  private[queries] val IvfCells = 8
  private[queries] val IvfProbes = 3

  /** IVF-style ANN: deterministic coarse quantizer (first-k vectors as
    * seeds, two Lloyd refinement passes — all DataFrame ops, only the k
    * centroids ever touch the driver), corpus assigned to its nearest
    * centroid, each query probes the [[IvfProbes]] closest of
    * [[IvfCells]] cells. The scale path when hyperplane LSH recall is
    * poor: cells adapt to the data. `emb` is read by the Lloyd passes,
    * the assignment and the scoring, and `queries` ([[querySetOf]]) by
    * the router and the baseline: callers pass pins.
    */
  def annIvf(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cents = broadcast(lloydCentroids(emb, IvfCells))
    val scored = assignCells(emb, cents).withColumnRenamed("cell", "ivf_cell")
      .join(broadcast(probeCells(queries, cents, IvfProbes)), Seq("ivf_cell"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.CosineSimilarity(col("qv"), col("v")))
    topK(scored, k)
  }

  /** Product quantization (Jégou et al. 2011): 64 dims → PqM subspaces
    * of PqSubDim dims, PqK centroids each — vectors code to PqM small
    * ints (32× memory compression at these parameters), queries score
    * codes through a per-query PqM×PqK partial-dot lookup table (ADC).
    * The memory-scale path past IVF: a billion-vector corpus scan reads
    * codes, never raw floats.
    */
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 32
  private val PqRerank = 50

  /** `df` with its vector column `v` split into its PqM sub-vectors: one
    * row per (row, m) with sub-vector `sv`, the other columns kept.
    */
  private[queries] def subVectors(df: DataFrame, v: String): DataFrame =
    df.select(col("*"), explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(df.columns.toSeq.filter(_ != v).map(col) :+ col("m") :+
        slice(col(v), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sv"): _*)

  /** Nearest-codebook-cell assignment as a NARROW map: the (m, cell,
    * cv) codebook packs to one cell-sorted entry array per subspace
    * (PqM rows), broadcast-joined on m, and the fused native L2 argmin
    * (NearestCellSpec pins its bit-parity with the transform + array_min
    * chain it replaced, which paid an interpreted lambda + struct alloc
    * per (row, entry)) keeps the lowest cell on ties. No shuffle, no
    * per-candidate row blowup — the join+window form before it shuffled
    * corpus×PqK rows through three sort windows.
    */
  private[queries] def pqAssign(sub: DataFrame, books: DataFrame): DataFrame =
    sub.join(broadcast(books.groupBy(col("m")).agg(packedCells.as("es"))), Seq("m"))
      .withColumn("cell", graft.functions.NearestCell.l2(col("sv"), col("es")))
      .drop("es")

  /** Per-subspace deterministic k-means codebooks (m, cell, cv): seeds
    * are the first PqK vectors' sub-vectors, all M subspaces trained in
    * ONE frame by the same Lloyd loop as the coarse quantizer, with the
    * [[pqAssign]] kernel. Only ever PqM×PqK rows — broadcastable by
    * construction; each pass shuffles only the (m, cell, pos) mean.
    */
  private[queries] def pqCodebooks(sub: DataFrame): DataFrame =
    lloyd(sub, sub.where(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("cell"), col("sv").as("cv")),
      "sv", col("m"))(pqAssign)

  /** ADC with exact re-rank, the query side of both PQ and IVF-PQ. Each
    * probe row (query_id, qv, ivf_cell, qcdot) gets its PqM×PqK
    * partial-dot table against the codebooks and meets only the codes
    * (vec_id, ivf_cell, m, code) of its cell, in one equi-join against
    * the broadcast table: dot(q, x) = dot(q, c_cell) + dot(q, r_x) ≈
    * qcdot + Σ_m dot(q_m, codebook(m, code_x_m)). The partial dots are
    * taken against the RAW query sub-vectors (dot(q, r) decomposes
    * directly — no query residual per cell). The top `depth` per query
    * by that estimate are read at full precision and ranked by cosine:
    * raw vectors are read only for the shortlist, so at a billion
    * vectors the full-precision reads drop from N to queries × depth.
    * Flat PQ is the one-cell case: every code in cell 0, whose centroid
    * is zero (qcdot 0, residual = vector).
    */
  private def adcRerank(emb: DataFrame, queries: DataFrame, probes: DataFrame,
                        books: DataFrame, codes: DataFrame,
                        k: Int, depth: Int): DataFrame = {
    val table = subVectors(probes, "qv").join(broadcast(books), Seq("m"))
      .select(col("query_id"), col("ivf_cell"), col("qcdot"), col("m"),
        col("cell").as("code"), dot(col("sv"), col("cv")).as("pdot"))
    val shortlist = codes.join(broadcast(table), Seq("ivf_cell", "m", "code"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg((max(col("qcdot")) + sum(col("pdot"))).as("adc"))
      .withColumn("rr", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("adc"), asc("vec_id"))))
      .where(col("rr") <= depth)
      .select(col("query_id"), col("vec_id"))
    topK(shortlist
      .join(emb, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos", graft.functions.CosineSimilarity(col("qv"), col("v"))), k)
  }

  /** PQ-ADC ANN with exact re-rank: train the codebooks on the corpus'
    * sub-vectors, encode the corpus once (nearest codebook cell per
    * subspace, ties to the lowest cell), and score through
    * [[adcRerank]] with every vector in the one cell every query probes.
    * The corpus-wide scan touches only codes. `emb` and `queries`
    * ([[querySetOf]]) are each read more than once: callers pass pins.
    */
  def annPq(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val sub = subVectors(emb, "v")
    val books = pqCodebooks(sub)
    val codes = pqAssign(sub, books)
      .select(col("vec_id"), lit(0).as("ivf_cell"), col("m"), col("cell").as("code"))
    val probes = queries.select(col("query_id"), col("qv"), lit(0).as("ivf_cell"),
      lit(0.0).as("qcdot"))
    adcRerank(emb, queries, probes, books, codes, k, PqRerank)
  }

  /** The trained IVF-PQ index: broadcast-sized coarse centroids and PQ
    * codebooks plus the corpus-cardinality code table and per-cell
    * sizes — everything a query needs, nothing of the raw vectors.
    */
  private[queries] case class IvfPqIndex(cents: DataFrame, books: DataFrame,
                                         codes: DataFrame, cellSizes: DataFrame)

  /** Vectors past which an ANN tier materializes through parquet scratch
    * ([[pinLarge]]) instead of an in-memory [[Pin]].
    */
  private val ScratchPinRows = 4000000L

  /** `df` materialized for reuse: a [[Pin]], or with `scratch` a parquet
    * round-trip into `scratch/name`. Past [[ScratchPinRows]] vectors
    * in-memory pins OOM'd the 8 GB heap twice — first in MemoryStore
    * unroll, then in the Java-serialized read-back of spilled blocks,
    * even with data-sized 50k-row partitions — so the large tiers pin
    * columnar, streamed and off-heap both ways, as a production job
    * materializes a stage (measured: parquet pins cost the 100k tier
    * +8 s, so smaller tiers keep the in-memory pin). 16 MB row groups:
    * each concurrent writer task buffers one row group on-heap before
    * flushing (the default 128 MB × 32 writers was itself an OOM at the
    * 10M tier); a scratch pin is read back once, sequentially, so the
    * granularity costs nothing. The read-back takes the written schema,
    * so it infers none. The caller deletes `scratch`.
    */
  private def pinLarge(df: DataFrame, scratch: Option[String], name: String): DataFrame =
    scratch match {
      case None => Pin(df)
      case Some(dir) =>
        df.write.option("parquet.block.size", 16L * 1024 * 1024).parquet(s"$dir/$name")
        df.sparkSession.read.schema(df.schema).parquet(s"$dir/$name")
    }

  /** Index build (train + encode), one path for every caller. It pins
    * what more than one consumer reads, through [[pinLarge]]: the
    * coarse assignment (read by the training residuals, the encode and
    * the cell sizes — left lazy, the n × cells argmax re-ran inside each
    * PQ Lloyd pass and again in the final plan) and the training
    * residuals (read by both PQ Lloyd passes). The codes and cell sizes
    * stay lazy: a gate query reads each once; a caller that reads them
    * more often pins them. `scratch` (big tiers only) routes the pins
    * through parquet and the coarse assignment through
    * [[assignCellsHierarchical]]. With `trainPred`, BOTH quantizers
    * train on the sampled rows only (the faiss regime — coarse
    * centroids AND PQ codebooks train on ≤10⁵-ish sampled vectors /
    * residuals regardless of corpus size; VERDICT r11 #6): training
    * cost is sample-bounded and only the two assignment passes (coarse
    * cell + PQ encode, both the fused narrow NearestCell kernel) stay
    * corpus-linear. Without `trainPred`, training covers the corpus.
    * Every stage ends in a pin, so `stage` times each honestly.
    */
  private def ivfPqBuild(emb: DataFrame, cells: Int, trainPred: Option[Column],
                         scratch: Option[String], stage: StageTimer): IvfPqIndex = {
    // coarse quantizer trains on the sample (assignment covers the
    // corpus); lloydCentroids' pinned return keeps every subplan on the
    // same centroid bytes, which keeps the index internally consistent
    val cents = stage("coarse_train") {
      broadcast(lloydCentroids(trainPred.map(emb.where).getOrElse(emb), cells))
    }
    // No repartition on the parquet-pin path: columnar read-back
    // streams, so partition width no longer risks read-back OOM, and the
    // shuffle would move the full 64-dim vectors (~6 GB at 10M) for
    // nothing.
    val assigned = stage("corpus_assign") {
      pinLarge(if (scratch.isDefined) assignCellsHierarchical(emb, cents)
               else assignCells(emb, cents), scratch, "assigned")
    }
    // residuals r = v - centroid(cell): the PQ trains on what the coarse
    // quantizer could NOT explain — the variance left per cell is far
    // smaller than the raw corpus variance, which is why residual codes
    // quantize better than raw-vector codes at the same bit budget.
    // The exploded residuals stay lazy (pinning the full ×PqM table was
    // the largest 10M build stage, an O(n·PqM) round-trip written once
    // and read once): the encode fuses residual-subtract → slice →
    // argmin into one narrow pass over the pinned assignment.
    val subR = subVectors(assigned.join(cents, Seq("cell"))
      .select(col("vec_id"), col("cell").as("ivf_cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("v")), "v")
    // codebooks train on the SAMPLE's residuals only (trainPred rides on
    // vec_id, which subR retains), so this pin is sample-sized
    val train = stage("residual_explode") {
      pinLarge(trainPred.map(subR.where).getOrElse(subR), scratch, "train")
    }
    val books = stage("books_train") {
      pqCodebooks(train.select(col("vec_id"), col("m"), col("sv")))
    }
    // (vec_id, ivf_cell, m, code): the complete on-disk representation —
    // PqM small ints + one cell id per vector
    IvfPqIndex(cents, books,
      pqAssign(subR, books)
        .select(col("vec_id"), col("ivf_cell"), col("m"), col("cell").as("code")),
      assigned.groupBy(col("cell").as("ivf_cell")).agg(count(lit(1)).as("cell_n")))
  }

  /** Query phase over a built index: [[probeCells]] routing, then
    * [[adcRerank]] over the probed cells' codes, plus the per-query
    * scanned count (query_id, n_scanned): the corpus vectors in the
    * query's probed cells, the rows whose codes the ADC join reads.
    */
  private def ivfPqQuery(emb: DataFrame, queries: DataFrame, idx: IvfPqIndex,
                         k: Int, nprobe: Int, rerank: Int): (DataFrame, DataFrame) = {
    val probes = probeCells(queries, idx.cents, nprobe)
    val scan = probes.join(idx.cellSizes, Seq("ivf_cell"))
      .groupBy(col("query_id")).agg(sum(col("cell_n")).as("n_scanned"))
    (adcRerank(emb, queries, probes, idx.books, idx.codes, k, rerank), scan)
  }

  /** IVF-PQ composition (Jégou et al. 2011 §IV — the actual
    * billion-vector design): the coarse IVF quantizer bounds the SCAN
    * (a query touches only its `nprobe` probed cells), per-vector
    * RESIDUAL product-quantization codes bound the MEMORY (the probed
    * scan reads PqM byte-sized codes per vector, never raw floats), and
    * ADC scores codes with one exact re-rank over the PqRerank
    * shortlist — [[annIvf]]'s router and [[annPq]]'s ADC, composed. At
    * a billion vectors this is the only composition where BOTH the
    * bytes read and the rows scanned per query stay bounded.
    *
    * Returns (top-k frame, (query_id, n_scanned) frame). n_scanned /
    * corpus is the scanned fraction the scale contract
    * (q_ann_ivfpq_scale) bounds: the property that makes IVF-PQ a
    * billion-vector design is precisely that this stays ≈ nprobe/cells
    * instead of 1. `emb` and `queries` ([[querySetOf]]) are each read
    * more than once: callers pass pins.
    */
  def annIvfPq(emb: DataFrame, queries: DataFrame, k: Int, cells: Int, nprobe: Int,
               trainPred: Option[Column]): (DataFrame, DataFrame) =
    ivfPqQuery(emb, queries, ivfPqBuild(emb, cells, trainPred, None, new StageTimer),
      k, nprobe, PqRerank)

  /** Measured per-tier evidence beyond the pass/fail contracts (VERDICT
    * r14 #3): the numbers a reviewer needs to judge the approximation,
    * not just trust it. `recallAtK` is the measured mean fraction of
    * each query's true top-k the index returned (vs the in-run
    * brute-force baseline); `scannedFrac` the mean fraction of corpus
    * codes a query's probes actually read; `assignAgreement` the
    * fraction of a ~20k-vector corpus sample whose hierarchical
    * two-level coarse assignment lands in the SAME cell as the exact
    * full argmax (the 10M tier's one approximation).
    */
  case class AnnTierStats(n: Long, buildSec: Double, querySec: Double,
                          recallFailures: Long, scanFailures: Long,
                          split: Seq[(String, Double)],
                          recallAtK: Double, scannedFrac: Double,
                          assignAgreement: Double)

  /** Scale-tier IVF-PQ measurement with a build/query time split:
    * replicate the sf's embeddings `rep`× (100k at rep=50, 1M at
    * rep=500 over sf0.1), TIME the index build (coarse
    * train on the replica-0 sample + full-corpus assignment + residual
    * codebooks + code table, materialized) separately from the query
    * pass (probe routing + ADC over probed codes + re-rank,
    * materialized), then CHECK — untimed — the same two contracts as
    * q_ann_ivfpq_scale: per-query recall ≥ `minHits` of the exact
    * cosine top-k, and the integer-exact scanned-fraction bound
    * n_scanned × cells ≤ 2 × nprobe × n. The caller treats any failure
    * as a bench error — a fast broken index measures nothing.
    */
  def annIvfPqScaleTier(s: SparkSession, dir: String, rep: Int,
                        cells: Int, nprobe: Int,
                        nQueries: Int = AnnScaleQueries, k: Int = 5,
                        minHits: Int = 3): AnnTierStats = {
    // The corpus is pinned once, outside both timings, as the build pins
    // its stages: past ScratchPinRows vectors through parquet scratch
    // (a 10M × 64-double corpus is ~5 GB raw — you don't pin it in RAM,
    // you re-read columnar storage), else in memory.
    val (corpus, nBase) = scaledCorpus(s, dir, rep)
    val scratch =
      if (nBase * rep > ScratchPinRows)
        Some(java.nio.file.Files.createTempDirectory("graft_ivfpq_pin").toString)
      else None
    val (emb, m) = Pin.observing(corpus, Pin.Rows)(pinLarge(_, scratch, "corpus"))
    val n = m("n").asInstanceOf[Long]
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // Training sample: at least one full replica (every distinct base
    // location represented), and at least 2 points per requested cell so
    // Lloyd never has more centroids than training vectors (the 10M
    // tier's 2048 cells vs the 2000-vector replica-0 sample).
    val trainN = math.max(nBase, 2L * cells)
    val stage = new StageTimer
    val (idx, buildSec) = timed {
      val built = ivfPqBuild(emb, cells, Some(col("vec_id") < trainN), scratch, stage)
      // the query pass reads the codes and the scan diagnostic the cell
      // sizes: pinned here, so the build's time covers them
      built.copy(codes = stage("encode")(pinLarge(built.codes, scratch, "codes")),
        cellSizes = stage("cell_sizes")(pinLarge(built.cellSizes, scratch, "cell_sizes")))
    }
    // Re-rank depth must cover the near-tie multiplicity: the fixture
    // puts `rep` near-identical replicas in every base's cluster, and
    // the exact top-k among them is decided by perturbation-scale
    // differences BELOW PQ's quantization error — no ADC ordering can
    // rank them, so the shortlist must contain the whole tie set and
    // let the exact re-rank resolve it (the efSearch/rerank ≥ duplicate-
    // multiplicity rule production ANN deployments apply). At rep=50
    // the default 50 already covers it (the gate's regime); at rep=500
    // a 50-candidate shortlist holds ~10% of the tie set and recall
    // collapses to ~chance — measured: 20/20 queries below the floor.
    val rerank = math.max(PqRerank, 2 * rep)
    val ((queries, ann, scan), querySec) = timed {
      val q = Pin(querySetOf(emb, col("vec_id") < nQueries.toLong))
      val (a, sc) = ivfPqQuery(emb, q, idx, k, nprobe, rerank)
      (q, Pin(a), Pin(sc))
    }
    val bf = cosineTopK(emb, queries, k)
    val recallFailures = recallContract(ann, bf, minHits)
      .where(!col("recall_ok")).count()
    val scanFailures = scan
      .where(col("n_scanned") * cells.toLong > lit(2L) * nprobe.toLong * n)
      .count()
    // Measured tier texture (untimed — evidence, not cost). recall@k:
    // mean fraction of the true top-k retrieved across queries.
    val bfPairs = bf.select(col("query_id"), col("neighbor_id"))
    val nq = ann.select(col("query_id")).distinct().count()
    val hitTotal = ann.join(bfPairs, Seq("query_id", "neighbor_id"),
      "left_semi").count()
    val recallAtK = if (nq == 0) 0.0 else hitTotal.toDouble / (nq * k)
    val scannedFrac =
      scan.agg(avg(col("n_scanned"))).head().getDouble(0) / n
    // hierarchical-vs-exact coarse-assignment agreement over a ~20k
    // corpus sample (the full exact argmax at 10M is the n × cells wall
    // the hierarchy exists to avoid — a spread sample measures the
    // approximation at bounded cost). Both paths read the SAME pinned
    // centroids, so disagreement isolates the routing approximation.
    val step = math.max(1L, n / 20000L)
    val sample = emb.where(pmod(col("vec_id"), lit(step)) === lit(0L))
    val exactA = assignCells(sample, idx.cents)
      .select(col("vec_id"), col("cell").as("c_exact"))
    val hierA = assignCellsHierarchical(sample, idx.cents)
      .select(col("vec_id"), col("cell").as("c_hier"))
    val agreeRow = exactA.join(hierA, Seq("vec_id"))
      .agg(sum(when(col("c_exact") === col("c_hier"), 1L).otherwise(0L))
        .as("agree"), count(lit(1)).as("total")).head()
    val assignAgreement =
      if (agreeRow.getLong(1) == 0) 0.0
      else agreeRow.getLong(0).toDouble / agreeRow.getLong(1)
    scratch.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    AnnTierStats(n, buildSec, querySec, recallFailures, scanFailures,
      stage.splits, recallAtK, scannedFrac, assignAgreement)
  }

  /** Production SemDeDup path (Abbas et al. 2023): Lloyd cells → the
    * same-cell cosine-domination prune, pair join keyed on cell id. The
    * cell count ADAPTS to corpus size — cells = max(8, ⌈n / 256⌉) — so
    * expected same-cell pair work stays n·cellSize/2 (linear in n),
    * never n²/cells with a fixed cell count: the round-10 scale bench
    * measured the fixed-8-cell form at 60× time for 10× data, the
    * defining quadratic smell. Every gate sf still resolves to 8 cells
    * (≤2048 vectors), so the oracle contracts are count-identical; the
    * corpus count `n` feeding the cell formula is a bounded driver scalar,
    * observed where the caller pinned `emb` (read by the Lloyd passes and
    * both pair sides).
    */
  def semDedupRemoved(emb: DataFrame, n: Long, targetCellSize: Long = 256): DataFrame = {
    val cells = math.max(8L, (n + targetCellSize - 1) / targetCellSize).toInt
    val cents = broadcast(lloydCentroids(emb, cells))
    val assigned = assignCells(emb, cents)
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("cell"))
      .where(col("id_b") < col("id_a"))
      .where(graft.functions.CosineSimilarity(col("va"), col("vb")) >= 0.3)
      .select(col("id_a").as("vec_id")).distinct()
  }

  /** The production path over the raw corpus, for scale benching apart
    * from q_semdedup's fenced all-pairs exact baseline (the baseline is
    * the CONTRACT's oracle anchor and is quadratic by definition — at
    * scale tiers only the production path's cost is the claim).
    */
  def semDedupProduction(s: SparkSession, dir: String): DataFrame = {
    val (emb, n) = Pin.counted(corpusOf(s, dir))
    semDedupRemoved(emb, n)
  }

  /** Recall contract vs the in-query brute-force baseline: per query,
    * the ANN path must return exactly k rows and hit at least `minHits`
    * of the true top-k. DuckDB can compute the query set but not the
    * ANN internals, so the boolean (plus the pinned k) is the
    * cross-engine contract — the q_approx_dau pattern.
    */
  private def recallContract(ann: DataFrame, bf: DataFrame, minHits: Int): DataFrame = {
    val hits = ann
      .join(bf.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    ann.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("recall_ok"))
      .orderBy("query_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-5. Output ids only — rank order is
    // float-robust (neighbor gaps >> ulp), values are not.
    "q_ann_topk" -> { (s, dir) =>
      val emb = corpusOf(s, dir)
      annBruteForce(emb, querySetOf(emb), 5).orderBy(col("query_id"), col("rank"))
    },

    // LSH ANN recall contract: ≥1 of the true top-5 per query. Random
    // 64-dim unit vectors are near-orthogonal, so 4 hyperplanes +
    // Hamming-1 probing recalls 20–80% here — the floor pins "the bucket
    // routing finds true neighbors", the plane count is the scaling knob.
    "q_ann_lsh" -> { (s, dir) =>
      val emb = corpusOf(s, dir)
      recallContract(annLsh(emb, 5), annBruteForce(emb, querySetOf(emb), 5), minHits = 1)
    },

    // IVF ANN recall contract: ≥4 of the true top-5 per query (the
    // data-adaptive quantizer recalls far better than hyperplane LSH on
    // this corpus — that is the point of having both).
    "q_ann_ivf" -> { (s, dir) =>
      val emb = Pin(corpusOf(s, dir))
      val q = Pin(querySetOf(emb))
      recallContract(annIvf(emb, q, 5), annBruteForce(emb, q, 5), minHits = 4)
    },

    // PQ-ADC+re-rank ANN recall contract vs the exact top-5: 8×32
    // product quantization compresses 64-dim vectors 32×, the code scan
    // nominates a 50-candidate shortlist, exact re-rank recovers the
    // final order. Measured per-query hits 3–5/5 across sf0.001/0.01/0.1
    // (isotropic vectors spread quantization error evenly — the hard
    // case); floor pinned at 2 with margin. PqK/PqM/PqRerank are the
    // recall-vs-memory knobs.
    "q_ann_pq" -> { (s, dir) =>
      val emb = Pin(corpusOf(s, dir))
      val q = Pin(querySetOf(emb))
      recallContract(annPq(emb, q, 5), annBruteForce(emb, q, 5), minHits = 2)
    },

    // IVF-PQ composed ANN recall contract vs the exact top-5: coarse
    // cells bound the rows scanned per query (nprobe/cells of the
    // corpus), residual PQ codes bound the bytes read per row — the
    // composition that holds at a billion vectors where IVF alone
    // still reads floats and PQ alone still scans everything. Floor
    // pinned at the PQ floor (2): isotropic vectors are the worst case
    // for both stages at once (measured 2-5/5 across sfs — cell
    // truncation loses what flat-PQ ADC would re-find).
    "q_ann_ivfpq" -> { (s, dir) =>
      val emb = Pin(corpusOf(s, dir))
      val q = Pin(querySetOf(emb))
      val (ann, _) = annIvfPq(emb, q, 5, IvfCells, IvfProbes, trainPred = None)
      recallContract(ann, annBruteForce(emb, q, 5), minHits = 2)
    },

    // IVF-PQ at SCALE-TIER parameters on the replicated AnnScaleRep×
    // fixture (100k vectors at sf0.1, 25k at the sf0.01 gate — VERDICT
    // r9 #7): AnnScaleCells coarse cells / AnnScaleProbes probes,
    // AnnScaleQueries queries, and TWO pinned contracts
    // per query: (a) recall ≥ 3 of the exact top-5 (the replicas of a
    // query's base vector form its true neighborhood — the realistic
    // clustered regime), and (b) the SCANNED FRACTION — corpus vectors
    // in probed cells over corpus size — stays ≤ 2 × nprobe/cells
    // (i.e. ≤ 25%: the bound that makes IVF-PQ a bounded-scan design;
    // a centroid collapse or probe-routing regression breaks it even
    // when recall happens to survive). Integer-exact bound: n_scanned ×
    // cells ≤ 2 × nprobe × n_corpus.
    "q_ann_ivfpq_scale" -> { (s, dir) =>
      val (corpus, nBase) = scaledCorpus(s, dir, AnnScaleRep)
      val (emb, n) = Pin.counted(corpus)
      // replica 0 of the first AnnScaleQueries bases (replica-major ids)
      val q = Pin(querySetOf(emb, col("vec_id") < AnnScaleQueries.toLong))
      // train on the replica-0 base sample (the first nBase ids) — the
      // faiss regime: training cost is sample-bounded, only the
      // assignment passes are corpus-linear
      val (ann, scan) = annIvfPq(emb, q, 5, AnnScaleCells, AnnScaleProbes,
        trainPred = Some(col("vec_id") < nBase))
      recallContract(ann, cosineTopK(emb, q, 5), minHits = 3)
        .join(scan, Seq("query_id"), "left")
        .select(col("query_id"), col("k"), lit(n).as("n_corpus"), col("recall_ok"),
          (coalesce(col("n_scanned"), lit(0L)) * AnnScaleCells.toLong <=
            lit(2L * AnnScaleProbes * n))
            .as("scanned_frac_ok"))
        .orderBy(col("query_id"))
    },

    // LSH-bucketed embedding near-dup — the PRODUCTION-path twin of
    // q_embed_neardup: vectors are hashed to sign-bit buckets once, each
    // vector probes its own + Hamming-1 buckets, and only same-bucket
    // candidates are scored — the pair shuffle keys on bucket id, never
    // all-pairs. Output is a recall contract vs the exact baseline
    // (computed in-query): random isotropic 64-dim vectors are the
    // worst case for hyperplane LSH (neighbors at cos 0.3 sit at ~72°),
    // so the pinned floor is modest; on clustered real embeddings the
    // same plan recalls far higher, and the plane count is the knob.
    "q_embed_neardup_lsh" -> { (s, dir) =>
      val emb = corpusOf(s, dir).withColumn("bucket", lshBucket(col("v")))
      val probes = (0 until NumPlanes).map(p => col("bucket").bitwiseXOR(1L << p))
      val left = emb.select(col("vec_id").as("id_a"), col("v").as("va"),
        explode(array((col("bucket") +: probes): _*)).as("bucket"))
      val right = emb.select(col("vec_id").as("id_b"), col("v").as("vb"), col("bucket"))
      val lshPairs = left.join(right, Seq("bucket"))
        .where(col("id_a") < col("id_b"))
        // score BEFORE deduping: a pair surfaces via at most a few probes,
        // so re-scoring duplicates in codegen is cheaper than shuffling
        // the full candidate stream through a dedup first
        .where(graft.functions.CosineSimilarity(col("va"), col("vb")) >= 0.3)
        .dropDuplicates("id_a", "id_b")
        .select(col("id_a"), col("id_b"))
      val a = emb.select(col("vec_id").as("id_a"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
      val exact = a.join(b, col("id_a") < col("id_b"))
        .where(graft.functions.CosineSimilarity(col("va"), col("vb")) >= 0.3)
        .select(col("id_a"), col("id_b"))
      val hits = lshPairs.join(exact, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        // n_exact = 0 would make the ratio null (Spark's x/0), not TRUE —
        // an empty exact pair set is vacuously recalled on both engines
        .select(col("n_exact"),
          when(col("n_exact") > 0,
            col("n_hits") * 1.0 / col("n_exact") >= EmbedLshRecallFloor)
            .otherwise(lit(true)).as("recall_ok"))
    },

    // Embedding-cosine near-dup: exact all-pairs baseline scored by the
    // native codegen'd CosineSimilarity expression (graft.functions) —
    // the oracle-checkable twin of the LSH-bucketed scale path above.
    // Output is ids only; membership at the threshold is float-robust
    // because both engines compute the identical sequential fold.
    "q_embed_neardup" -> { (s, dir) =>
      import s.implicits._
      val emb = load(s, dir, "embeddings")
        .select($"vec_id", asDouble($"embedding").as("v"))
      val a = emb.select($"vec_id".as("id_a"), $"v".as("va"))
      val b = emb.select($"vec_id".as("id_b"), $"v".as("vb"))
      a.join(b, $"id_a" < $"id_b")
        .where(graft.functions.CosineSimilarity($"va", $"vb") >= 0.3)
        .select($"id_a", $"id_b")
        .orderBy($"id_a", $"id_b")
    },

    // Semantic-dup CLUSTER assignment — the embedding-space twin of
    // TextOps' q_dup_clusters: pair detection says "A≈B", the corpus
    // decision is "keep ONE vector per transitive similarity cluster".
    // Pairs here are the exact ≥0.3-cosine set (the same fenced all-pairs
    // oracle baseline q_embed_neardup pins; the production candidate
    // generator at scale is the LSH-bucketed plan of q_embed_neardup_lsh
    // feeding the identical downstream), then connected components by
    // min-label propagation labels every vector with the smallest
    // reachable vec_id. Output: one row per vector with cluster rep,
    // cluster size, and the keep flag a semantic-dedup pass acts on.
    "q_embed_dup_clusters" -> { (s, dir) =>
      import s.implicits._
      val emb = corpusOf(s, dir)
      val a = emb.select($"vec_id".as("id_a"), $"v".as("va"))
      val b = emb.select($"vec_id".as("id_b"), $"v".as("vb"))
      val pairs = a.join(b, $"id_a" < $"id_b")
        .where(graft.functions.CosineSimilarity($"va", $"vb") >= 0.3)
        .select($"id_a".as("src"), $"id_b".as("dst"))
      val comp = TextOps.connectedComponents(pairs)
      val asg = Pin(emb.select($"vec_id") // read twice: size agg + final join
        .join(comp, emb("vec_id") === comp("id"), "left")
        .select($"vec_id", coalesce($"component", $"vec_id").as("cluster_rep")))
      val sizes = asg.groupBy($"cluster_rep").agg(count(lit(1)).as("cluster_size"))
      asg.join(sizes, "cluster_rep")
        .select($"vec_id", $"cluster_rep", $"cluster_size",
          ($"vec_id" === $"cluster_rep").as("kept"))
        .orderBy($"vec_id")
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup at corpus scale by
    // clustering FIRST, then pruning only WITHIN clusters — a vector is
    // removed iff a smaller-id vector in its OWN k-means cell sits at
    // cosine ≥ τ. The pair join keys on cell id (k bounded partitions,
    // never all-pairs) — the shape that lets semantic dedup run on 100 TB
    // of embeddings where the exact all-pairs graph cannot. Output is
    // the cross-engine contract: the exact dominated-vector count (DuckDB
    // recomputes it), precision_ok — every SemDeDup removal is exactly
    // dominated, true by construction since same-cell pairs ⊆ all pairs
    // at the same τ — and recall_ok vs the pinned floor (the fenced
    // all-pairs baseline exists in-query only; isotropic random vectors
    // scatter true pairs across cells, the worst case — clustered real
    // embeddings concentrate them, which is the paper's premise).
    "q_semdedup" -> { (s, dir) =>
      val (emb, n) = Pin.counted(corpusOf(s, dir))
      val semRemoved = semDedupRemoved(emb, n)
      val ea = emb.select(col("vec_id").as("id_a"), col("v").as("va"))
      val eb = emb.select(col("vec_id").as("id_b"), col("v").as("vb"))
      val exactRemoved = ea.join(eb, col("id_b") < col("id_a"))
        .where(graft.functions.CosineSimilarity(col("va"), col("vb")) >= 0.3)
        .select(col("id_a").as("vec_id")).distinct()
      val falsePos = semRemoved.join(exactRemoved, Seq("vec_id"), "left_anti")
      exactRemoved.agg(count(lit(1)).as("n_exact"))
        .crossJoin(semRemoved.agg(count(lit(1)).as("n_sem")))
        .crossJoin(falsePos.agg(count(lit(1)).as("n_fp")))
        .select(col("n_exact"),
          (col("n_fp") === 0).as("precision_ok"),
          when(col("n_exact") > 0,
            col("n_sem") * 1.0 / col("n_exact") >= SemDedupRecallFloor)
            .otherwise(lit(true)).as("recall_ok"))
    },

    // Per-label centroids over EVERY dimension (the k-means/IVF building
    // block as a first-class op, and the class-prototype step of
    // embedding-space analysis): posexplode to (label, dim) grain, snap
    // each element to integer NANO-UNITS via floor(v·1e9) AFTER the
    // exact float→double widen — floor has NO rounding-tie behavior, so
    // it is bit-deterministic on identical doubles (a decimal(18,9)
    // snap hit a half-up vs half-even tie at sf0.1) — sum the bigints
    // exactly (order-free), divide once in double. One shuffle on
    // label×dim keys with partial aggregation — linear, no collect; the
    // output frame is labels × dims, never corpus-sized.
    "q_embed_centroids" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "embeddings")
        .select($"label".cast("long").as("label"),
          posexplode(asDouble($"embedding")).as(Seq("idx0", "v")))
        .select($"label", ($"idx0" + 1).cast("long").as("idx"),
          floor($"v" * 1e9).as("vs_nano"))
        .groupBy($"label", $"idx")
        .agg(count(lit(1)).as("n"), sum($"vs_nano").as("sum_nano"))
        .select($"label", $"idx", $"n", $"sum_nano",
          ($"sum_nano".cast("double") / 1e9 / $"n").as("mean_v"))
        .orderBy($"label", $"idx")
    },

    // Per-label embedding stats: element means via per-row decimal snap
    // (order-free exact sums), plus vector norms — the "is my embedding
    // column sane" profiling pass.
    "q_embed_stats" -> { (s, dir) =>
      import s.implicits._
      val emb = load(s, dir, "embeddings")
        .withColumn("v", asDouble($"embedding"))
        .withColumn("e0", element_at($"v", 1).cast("decimal(18,9)"))
        .withColumn("e1", element_at($"v", 2).cast("decimal(18,9)"))
        .withColumn("norm_snap", sqrt(dot($"v", $"v")).cast("decimal(18,9)"))
      emb.groupBy($"label".cast("long").as("label"))
        .agg(
          count(lit(1)).as("n"),
          sum($"e0").cast("double").as("sum_e0"),
          sum($"e1").cast("double").as("sum_e1"),
          sum($"norm_snap").cast("double").as("sum_norm"))
        .orderBy($"label")
    },

    // Contrastive HARD-NEGATIVE mining — the training-pair step of
    // embedding-model pipelines (triplet/InfoNCE batches): for each
    // query vector, the nearest SAME-label neighbor (positive) and the
    // nearest OTHER-label neighbor (the hard negative — close in space,
    // wrong in label). Output is ids only: argmax identities are
    // float-robust (neighbor gaps >> ulp, the q_ann_topk argument),
    // raw cosines are not. The 20-query broadcast × corpus scan is the
    // same linear per-query baseline as q_ann_topk; at scale the
    // LSH/IVF/PQ candidate generators feed the identical selection
    // windows.
    "q_hard_negatives" -> { (s, dir) =>
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"),
          col("label").cast("long").as("label"))
      val q = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("label").as("qlabel"))
      val scored = emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot(col("qv"), col("v")))
        .withColumn("same", col("label") === col("qlabel"))
      val w = Window.partitionBy(col("query_id"), col("same"))
        .orderBy(desc("cos"), asc("vec_id"))
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy(col("query_id"))
        .agg(
          max(when(col("same"), col("vec_id"))).as("pos_id"),
          max(when(!col("same"), col("vec_id"))).as("neg_id"))
        .orderBy(col("query_id"))
    },

    // Hard-negative mining through the ANN candidate path (VERDICT r8
    // #9 — the production-path twin of q_hard_negatives): the PQ-ADC
    // shortlist generates each query's 50 candidates, the SAME
    // per-(query, same-label) selection windows pick the positive /
    // hard negative from the candidates, and the in-query exact
    // baseline pins agreement floors — at a billion vectors the
    // brute-force scan is impossible and this composition (candidate
    // generator → label-split argmax) is what a contrastive-training
    // pipeline actually runs. Output rows carry the EXACT pos/neg ids
    // (the oracle recomputes them — the hash anchor) plus two
    // corpus-level contract booleans: candidate-derived picks must
    // agree with the exact picks on ≥ the pinned fraction of queries
    // (isotropic vectors + 32× code compression are the worst case;
    // measured agreement 16-20/20 pos, 13-20/20 neg across sfs —
    // floors pinned with margin at 12 and 8 of 20).
    "q_hard_negatives_ann" -> { (s, dir) =>
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"),
          col("label").cast("long").as("label"))
      val q = Pin(emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("label").as("qlabel")))
      // exact baseline — q_hard_negatives' shape, but ranked by COSINE
      // (the same similarity annPq's candidate re-rank orders by), so the
      // agreement floors measure candidate-generation quality only: with
      // dot on one side and cosine on the other, the contract would hold
      // on unit-norm fixtures and silently degrade on any non-normalized
      // corpus for a reason unrelated to the ANN path (ADVICE r9).
      val scored = emb.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("cos", graft.functions.CosineSimilarity(col("qv"), col("v")))
        .withColumn("same", col("label") === col("qlabel"))
      val w = Window.partitionBy(col("query_id"), col("same"))
        .orderBy(desc("cos"), asc("vec_id"))
      val exact = scored.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy(col("query_id"))
        .agg(max(when(col("same"), col("vec_id"))).as("pos_id"),
          max(when(!col("same"), col("vec_id"))).as("neg_id"))
      // ANN candidates: the PQ code scan nominates, exact re-rank
      // orders — so min rank per (query, label-side) IS the candidate
      // argmax by true cosine, no re-scoring needed
      val cand = annPq(emb.select(col("vec_id"), col("v")),
        q.select(col("query_id"), col("qv")), PqRerank)
      val wa = Window.partitionBy(col("query_id"), col("same"))
        .orderBy(asc("rank"))
      val ann = cand
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("qlabel"))), Seq("query_id"))
        .withColumn("same", col("label") === col("qlabel"))
        .withColumn("rn", row_number().over(wa))
        .where(col("rn") === 1)
        .groupBy(col("query_id"))
        .agg(max(when(col("same"), col("neighbor_id"))).as("ann_pos"),
          max(when(!col("same"), col("neighbor_id"))).as("ann_neg"))
      // Floors as FRACTIONS of the query-set size (ADVICE r9 / VERDICT
      // r9 #4: `>= 12 of a hardcoded 20` silently weakens if the fixture
      // grows): ≥60% positive agreement, ≥40% hard-negative agreement —
      // the same 12/20 and 8/20 margins, now fixture-size-invariant.
      val joined = exact.join(ann, Seq("query_id"), "left")
      val floors = joined.agg(
        count(lit(1)).as("n_q"),
        sum(when(col("ann_pos") === col("pos_id"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("ann_neg") === col("neg_id"), 1L).otherwise(0L)).as("n_neg"))
      joined.crossJoin(broadcast(floors))
        .select(col("query_id"), col("pos_id"), col("neg_id"),
          (col("n_pos") * 10L >= col("n_q") * 6L).as("pos_floor_ok"),
          (col("n_neg") * 10L >= col("n_q") * 4L).as("neg_floor_ok"))
        .orderBy(col("query_id"))
    },

    // Embedding-space PCA — the variance-accounting step of embedding
    // curation (DataComp-style SVD analysis, whitening precursors):
    // the 64×64 second-moment matrix via a (i, j)-keyed aggregate over
    // the upper-triangle product explode. The ×d²/2 row blowup is
    // PRE-map-side-combine: each task collapses to ≤2080 partial rows
    // before the shuffle, so at 100 TB the shuffle carries
    // tasks×2080 rows and the FLOPs are the unavoidable rows×d²
    // multiply-adds. Only the d²-entry matrix (and the d-entry mean)
    // ever reaches the driver — bounded like the Lloyd centroids —
    // where 200 power-iteration rounds (plus one deflation) extract
    // λ1, λ2 of the CENTERED covariance. Output: per-dim exact
    // nano-snapped second moments (DuckDB recomputes them — the hash
    // anchor) + engine-side contract booleans the oracle pins TRUE:
    // the top eigenpair's relative residual under 0.05 and 5%-banded
    // eigenvalue ordering (measured residuals ~1e-6 across sfs;
    // isotropic data's tiny eigengap is the worst case for power
    // iteration and makes strict ordering meaningless).
    "q_embed_pca" -> { (s, dir) =>
      val (emb, nRows) = Pin.counted(corpusOf(s, dir))
      val n = nRows.toDouble
      val e1 = emb.select(col("v"), posexplode(col("v")).as(Seq("i", "x")))
      val upper = e1.select(col("i"), col("x"), posexplode(col("v")).as(Seq("j", "y")))
        .where(col("j") >= col("i"))
        .groupBy("i", "j").agg(sum(col("x") * col("y")).as("m2"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val means = e1.groupBy("i").agg(sum(col("x")).as("sx"))
        .collect().map(r => (r.getInt(0), r.getDouble(1) / n)).toMap
      val d = means.size
      val cov = Array.tabulate(d, d) { (i, j) =>
        val (a, b) = (math.min(i, j), math.max(i, j))
        upper((a, b)) / n - means(i) * means(j)
      }
      def powerIter(m: Array[Array[Double]]): (Double, Array[Double]) = {
        var v = Array.fill(d)(1.0 / math.sqrt(d))
        for (_ <- 0 until 200) {
          val mv = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
          val nrm = math.sqrt(mv.map(x => x * x).sum)
          v = mv.map(_ / nrm)
        }
        val mv = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * v(j)).sum)
        ((0 until d).map(i => v(i) * mv(i)).sum, v)
      }
      val (l1, v1) = powerIter(cov)
      val deflated = Array.tabulate(d, d)((i, j) => cov(i)(j) - l1 * v1(i) * v1(j))
      val (l2, _) = powerIter(deflated)
      val resid = {
        val mv = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v1(j)).sum)
        math.sqrt((0 until d).map(i => { val r = mv(i) - l1 * v1(i); r * r }).sum)
      }
      val residOk = resid <= 0.05 * math.abs(l1)
      // tolerance-banded ordering: with near-equal eigenvalues
      // (isotropic data) the deflated estimate can land a hair above
      // λ1 — strict ordering is numerically meaningless there, the
      // 5%-band form is the honest invariant (sf0.1 measured
      // l2/l1 ≈ 1.004 under a ~1e-6 residual)
      val orderOk = l1 >= l2 - 0.05 * math.abs(l1) && l2 >= -0.05 * math.abs(l1)
      // exact per-dim second moments re-aggregated in nano units — the
      // cross-engine hash anchor (the double matrix above is Spark-only)
      import s.implicits._
      // Spark posexplode positions are 0-based (DuckDB's oracle indices
      // are 1-based and subtract 1)
      e1.select(col("i").cast("long").as("dim"),
          floor(col("x") * col("x") * 1e9).cast("long").as("p"))
        .groupBy($"dim").agg(sum($"p").as("m2_nano"))
        .withColumn("resid_ok", lit(residOk))
        .withColumn("order_ok", lit(orderOk))
        .orderBy($"dim")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_ann_topk" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 3
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_inner_product(q.qv, e.v) AS cos
        |  FROM emb e JOIN q ON e.vec_id <> q.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored
        |)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Recall contracts: DuckDB pins the query set, the returned k, and
    // the recall boolean — the ANN internals (hyperplane buckets / Lloyd
    // cells) are Spark-side only.
    "q_ann_lsh" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,

    "q_ann_ivf" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,

    "q_ann_pq" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,

    "q_ann_ivfpq" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS k, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 3 ORDER BY query_id""".stripMargin,

    // DuckDB pins the query-id spine (replica 0 of the first
    // AnnScaleQueries base vectors), the replicated corpus size,
    // exactly-5 result rows, and the recall/scanned-fraction booleans
    // TRUE; the fixture replication and ANN internals are Spark-side.
    // Constants interpolated from the Scala knobs so a knob change
    // surfaces here, not as an opaque hash mismatch (ADVICE r10).
    "q_ann_ivfpq_scale" ->
      s"""SELECT CAST(vec_id AS BIGINT) AS query_id,
        |  CAST(5 AS BIGINT) AS k,
        |  (SELECT CAST(COUNT(*) * $AnnScaleRep AS BIGINT) FROM embeddings) AS n_corpus,
        |  TRUE AS recall_ok, TRUE AS scanned_frac_ok
        |FROM embeddings WHERE vec_id < $AnnScaleQueries ORDER BY query_id""".stripMargin,

    // DuckDB computes the exact pair count (expressible) and pins the
    // recall boolean; the LSH bucketing itself is Spark-side only.
    "q_embed_neardup_lsh" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin,

    // DuckDB recomputes the exact dominated-vector count (distinct
    // vectors with a smaller-id ≥0.3-cosine partner) and pins both
    // contract booleans; the k-means cells are Spark-side only.
    "q_semdedup" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT CAST(COUNT(DISTINCT a.vec_id) AS BIGINT) AS n_exact,
        |  TRUE AS precision_ok, TRUE AS recall_ok
        |FROM emb a JOIN emb b ON b.vec_id < a.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.3""".stripMargin,

    "q_embed_neardup" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // Transitive closure over the exact ≥0.3-cosine pair set (the same
    // pair contract the q_embed_neardup oracle pins), min-label per node,
    // then every vector joins its cluster — the recursive CTE is
    // quadratic per component, which is fine at oracle scale and exactly
    // why the Spark side propagates labels linearly per round.
    "q_embed_dup_clusters" ->
      """WITH RECURSIVE emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), j AS (
        |  SELECT a.vec_id AS u, b.vec_id AS w
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.3
        |), e AS (
        |  SELECT u, w FROM j UNION SELECT w, u FROM j
        |), reach AS (
        |  SELECT u, w FROM e
        |  UNION
        |  SELECT r.u, e2.w FROM reach r JOIN e e2 ON r.w = e2.u
        |), lbl AS (
        |  SELECT u AS vec_id, LEAST(u, MIN(w)) AS cluster_rep
        |  FROM reach GROUP BY u
        |), asg AS (
        |  SELECT m.vec_id, COALESCE(l.cluster_rep, m.vec_id) AS cluster_rep
        |  FROM emb m LEFT JOIN lbl l ON m.vec_id = l.vec_id
        |)
        |SELECT a.vec_id, a.cluster_rep, CAST(c.n AS BIGINT) AS cluster_size,
        |  (a.vec_id = a.cluster_rep) AS kept
        |FROM asg a JOIN (
        |  SELECT cluster_rep, COUNT(*) AS n FROM asg GROUP BY cluster_rep
        |) c ON a.cluster_rep = c.cluster_rep
        |ORDER BY a.vec_id""".stripMargin,

    "q_embed_centroids" ->
      """WITH flat AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(generate_subscripts(embedding, 1) AS BIGINT) AS idx,
        |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1e9) AS BIGINT) AS vs_nano
        |  FROM embeddings
        |)
        |SELECT label, idx, COUNT(*) AS n,
        |  CAST(SUM(vs_nano) AS BIGINT) AS sum_nano,
        |  CAST(SUM(vs_nano) AS DOUBLE) / 1e9 / COUNT(*) AS mean_v
        |FROM flat GROUP BY label, idx ORDER BY label, idx""".stripMargin,

    // DuckDB recomputes the exact pos/neg picks (the hash anchor) and
    // pins the ANN-candidate agreement floors; the PQ candidate path is
    // Spark-side only.
    "q_hard_negatives_ann" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    CAST(label AS BIGINT) AS label
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, v AS qv, label AS qlabel
        |  FROM emb WHERE vec_id < 20
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_inner_product(q.qv, e.v)
        |      / (sqrt(list_inner_product(q.qv, q.qv))
        |         * sqrt(list_inner_product(e.v, e.v))) AS cos,
        |    e.label = q.qlabel AS same
        |  FROM emb e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id
        |), best AS (
        |  SELECT query_id, vec_id, same,
        |    row_number() OVER (PARTITION BY query_id, same
        |      ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored
        |)
        |SELECT query_id,
        |  MAX(CASE WHEN same THEN vec_id END) AS pos_id,
        |  MAX(CASE WHEN NOT same THEN vec_id END) AS neg_id,
        |  TRUE AS pos_floor_ok, TRUE AS neg_floor_ok
        |FROM best WHERE rn = 1
        |GROUP BY query_id ORDER BY query_id""".stripMargin,

    "q_hard_negatives" ->
      """WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    CAST(label AS BIGINT) AS label
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, v AS qv, label AS qlabel
        |  FROM emb WHERE vec_id < 20
        |), scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_inner_product(q.qv, e.v) AS cos,
        |    e.label = q.qlabel AS same
        |  FROM emb e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id
        |), best AS (
        |  SELECT query_id, vec_id, same,
        |    row_number() OVER (PARTITION BY query_id, same
        |      ORDER BY cos DESC, vec_id) AS rn
        |  FROM scored
        |)
        |SELECT query_id,
        |  MAX(CASE WHEN same THEN vec_id END) AS pos_id,
        |  MAX(CASE WHEN NOT same THEN vec_id END) AS neg_id
        |FROM best WHERE rn = 1
        |GROUP BY query_id ORDER BY query_id""".stripMargin,

    // DuckDB recomputes the exact nano-snapped per-dim second moments
    // (the hash anchor); the eigen extraction is driver-side with
    // oracle-pinned contract booleans.
    "q_embed_pca" ->
      """WITH e AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), x AS (
        |  SELECT i, v[i] AS x
        |  FROM (SELECT v, unnest(generate_series(1, len(v))) AS i FROM e)
        |)
        |SELECT CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(SUM(CAST(floor(x * x * 1e9) AS BIGINT)) AS BIGINT) AS m2_nano,
        |  TRUE AS resid_ok, TRUE AS order_ok
        |FROM x GROUP BY 1 ORDER BY dim""".stripMargin,

    "q_embed_stats" ->
      """WITH emb AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    CAST(CAST(embedding AS DOUBLE[])[1] AS DECIMAL(18,9)) AS e0,
        |    CAST(CAST(embedding AS DOUBLE[])[2] AS DECIMAL(18,9)) AS e1,
        |    CAST(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS DECIMAL(18,9)) AS norm_snap
        |  FROM embeddings
        |)
        |SELECT label, COUNT(*) AS n,
        |  CAST(SUM(e0) AS DOUBLE) AS sum_e0,
        |  CAST(SUM(e1) AS DOUBLE) AS sum_e1,
        |  CAST(SUM(norm_snap) AS DOUBLE) AS sum_norm
        |FROM emb GROUP BY label ORDER BY label""".stripMargin
  )
}

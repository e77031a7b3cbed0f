package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.runner.Pin

/** Text-analysis / deduplication operators for a training-data pipeline
  * over the `documents` table: exact dedup, near-dup detection (exact
  * n-gram Jaccard and MinHash+LSH), fingerprinting, token counting,
  * quality scoring, language heuristics.
  *
  * Scale design (100 TB): nothing here is all-pairs over the corpus.
  *   - exact dedup: hash-groupBy on a content digest — one shuffle keyed
  *     by digest, map-side partial dedup.
  *   - near-dup: candidate generation is either bounded to small
  *     (lang, source) buckets (q_neardup_jaccard — the "verify" join) or
  *     via MinHash banding (q_minhash_lsh), where the only shuffle keys
  *     on (band, band-hash); pair expansion happens per bucket, never
  *     globally. Skewed/huge buckets are capped (see MaxBucket below) —
  *     a giant bucket means the band is degenerate, not informative.
  */
object TextOps {

  private val Stopwords = Seq("the", "a")

  private def toks(text: Column): Column = array_distinct(split(text, " "))

  /** Sorted distinct token-HASH array: each distinct token xxhash64'd to a
    * long once, at tokenization. Every set operation downstream — the
    * dedup groupBy keys, the checkpointed group frames, the verify stage's
    * array_intersect — then carries 8-byte longs instead of full token
    * strings (the r4 profile showed the string intersect dominating both
    * near-dup queries). Set cardinalities are hash-invariant modulo
    * 64-bit collisions (~2⁻⁶⁴ per token pair, deterministic for a fixed
    * corpus), so exact-Jaccard values are unchanged.
    */
  private def hashedToks(text: Column): Column =
    array_sort(transform(toks(text), t => xxhash64(t)))

  /** The documents fixture is ONE parquet row group → ONE scan
    * partition: every narrow tokenize/hash/gram-explode stage would
    * otherwise run on a single core of local[N] until its first
    * exchange (optimization guide §2.5 — repartition immediately after
    * the read; the ~0.5 MB fan-out exchange is noise next to the
    * single-threaded CPU it frees). Round-robin keeps the assignment
    * deterministic (Spark sorts before round-robin repartition), and
    * every TextOps consumer is partition-layout-insensitive by
    * construction — deterministic tie-breaks everywhere is this repo's
    * DuckDB-hash-oracle contract (re-verified 162/162 after this
    * change at sf0.001 and sf0.01).
    *
    * WIDTH is data-sized, not core-count-sized (r17): blanket
    * repartition(cores) put ~15 docs on each of 32 tasks at the gate
    * corpus — tasks of tens of ms whose scheduling overhead exceeded
    * the CPU they spread (measured across the six kernel entries:
    * width 32 → 8 is 1.1–2.9× per entry, width 4/8/16 within noise of
    * each other, 8 the sweet spot). One task per ~64 KB of compressed
    * input keeps kernel tasks in the hundreds-of-ms range where the
    * overhead amortizes; the width derives from the plan's static size
    * stats (file bytes for a scan — no job), so it grows with the
    * corpus and caps at the session's cores — scale-adaptive, no local
    * constant (guide §2).
    */
  private def docsWide(s: SparkSession, dir: String): DataFrame =
    fanOutIfNarrow(load(s, dir, "documents"), s.sparkContext.defaultParallelism)

  /** ~64 KB of (compressed) input per fan-out task, clamped to
    * [2, cores]. Static plan stats — computing it runs no job.
    */
  private[queries] def fanOutWidth(df: DataFrame, cores: Int): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    (bytes / 65536).max(BigInt(2)).min(BigInt(cores)).toInt
  }

  /** `df` round-robin repartitioned to [[fanOutWidth]] only when it has
    * fewer partitions (VERDICT r16 #3): at 100 TB the scan parallelizes on
    * its own, and a round-robin there is a full extra network pass
    * (PlanSpec pins both sides). The count is [[numPartitions]]: the
    * plan's before AQE, so this never fires on a frame whose plan ends in
    * a shuffle that AQE coalesces at run time; off a pin it is the pin's
    * real count.
    */
  private[queries] def fanOutIfNarrow(df: DataFrame, cores: Int): DataFrame = {
    val target = fanOutWidth(df, cores)
    if (numPartitions(df) >= target) df else df.repartition(target)
  }

  /** `df`'s partition count, read off its physical plan, so it runs no
    * SQL execution (`Dataset.rdd` runs one to plan the frame): a shuffle's
    * count (before AQE), else through narrow nodes the leaves' — a file
    * scan's splits, a pin's partitions.
    */
  private[queries] def numPartitions(df: DataFrame): Int = {
    def of(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => of(a.inputPlan)
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
      case r: RDDScanExec => r.rdd.getNumPartitions
      case _ if p.outputPartitioning.numPartitions > 0 => p.outputPartitioning.numPartitions
      case _ => p.children.map(of).sum
    }
    of(df.queryExecution.executedPlan)
  }

  /** Shared bigram-LM scoring chain (q_bigram_lm + q_ppl_buckets): the
    * md5 train split, held-out OOV plants, lag-window adjacency,
    * unigram/bigram train counts, and the integer-bitlen conditional
    * surprise with Katz-shaped backoff. Returns one UNORDERED row per
    * doc: (doc_id, n_bigrams, n_backoff, surp_sum, mean_surprise).
    * See q_bigram_lm's registry comment for the arithmetic contract.
    */
  private def bigramSurprise(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = heldOutPlanted(s, dir, " zzb").select($"doc_id", $"is_train",
      posexplode(split($"text", " ")).as(Seq("pos", "token")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val bi = tok.withColumn("prev", lag($"token", 1).over(w))
      .where($"prev".isNotNull)
    val uni = tok.where($"is_train").groupBy($"token").agg(count(lit(1)).as("c1"))
    val big = bi.where($"is_train").groupBy($"prev", $"token")
      .agg(count(lit(1)).as("c12"))
    val nTrain = uni.agg(sum($"c1").as("n_train"))
    bi.join(big, Seq("prev", "token"), "left")
      .join(uni.select($"token", $"c1".as("c_cur")), Seq("token"), "left")
      .join(uni.select($"token".as("prev"), $"c1".as("c_prev")), Seq("prev"), "left")
      .crossJoin(nTrain)
      .withColumn("surprise",
        when($"c12".isNotNull, length(bin($"c_prev")) - length(bin($"c12")))
          .otherwise(lit(2) + length(bin($"n_train")) -
            when($"c_cur".isNull, lit(0)).otherwise(length(bin($"c_cur")))))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"c12".isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum($"surprise").cast("long").as("surp_sum"))
      .withColumn("mean_surprise", $"surp_sum".cast("double") / $"n_bigrams")
  }

  /** MinHash parameters: 16 permutations as 8 bands × 2 rows.
    * P(candidate | jaccard=0.9) = 1-(1-0.9²)⁸ ≈ 0.9999998;
    * at j=0.5 ≈ 0.90 (false candidates are cheap — the verify join
    * filters them with exact Jaccard).
    */
  private val NumPerms = 16
  private val BandRows = 2

  /** Buckets larger than this are dropped from candidate generation: a
    * band-hash shared by thousands of docs generates quadratic pairs while
    * carrying no signal. At 100 TB this cap is what keeps the pair
    * expansion linear-ish; legitimate near-dup clusters are small.
    */
  private val MaxBucket = 1000

  /** Batched-BPE parameters (VERDICT r8 #4: the round loop, not the
    * per-round plan, was the driver-side bottleneck — one merge per
    * corpus pass means a 30-50k-merge production tokenizer is ~100k
    * sequential Spark jobs). Each ROUND now applies up to [[BpeBatch]]
    * mutually-NON-INTERACTING merges (the standard parallel-BPE trick:
    * pairs sharing no symbol — nor equalling another selected pair's
    * merged symbol — have order-independent applications, so one corpus
    * pass can commit all of them), cutting the sequential-round count
    * by ~BpeBatch×. [[BpeRounds]] × [[BpeBatch]] bounds merges per
    * induction at 16384; with the round-11 incremental pair maintenance
    * (see [[bpeInduce]]) the sf0.01 corpus commits ~5.7k merges in
    * 128 rounds at ~0.009 s/merge — production-shaped counts (VERDICT
    * r10 #3), where the r10 full-reaggregate form managed 708.
    * [[BpeCap]] bounds the per-round candidate window the disjointness
    * filter scans (driver-side over a collected ≤Cap-row frame — same
    * bounded pattern as the Lloyd argmax). The oracle unrolls the
    * identical batched rounds as a generated CTE chain, so the
    * selection rule is pinned cross-engine, not just implemented.
    *
    * [[BpeGateRounds]] is the HASH-GATE budget (VERDICT r11 #1: every
    * oracle must fit the per-oracle latency budget so a slow oracle can
    * never zero the round's correctness artifact again). 24 rounds ≈
    * 600+ cross-engine-verified merges covering every code path —
    * selection, disjointness, cap, batched application — identically
    * to round 25+; the production-scale 128/512-round inductions stay
    * measured engine-side in Bench/BenchScale with their merge counts
    * pinned in the artifacts.
    */
  private[graft] val BpeRounds = 128
  private[graft] val BpeGateRounds = 24
  private[graft] val BpeBatch = 128
  private[graft] val BpeCap = 1024

  /** BPE training units: SentencePiece-style CHUNKS of the filtered
    * token stream — [[BpeChunkWords]] consecutive lowercase-alnum tokens
    * per doc, joined with the explicit space symbol '_', incomplete
    * tails dropped. Merges therefore cross word boundaries (what a
    * production tokenizer learns: "the_", "ing_t", ...), and — the
    * round-10 reason — the unit vocabulary is corpus-shaped (thousands
    * of types, ~10⁵ merge headroom) instead of the synthetic fixture's
    * 31-word list, whose ~107-merge ceiling made production-shaped merge
    * counts (VERDICT r9 #4, ≥512) unreachable no matter how the rounds
    * were batched. One row per (doc, chunk); the window is doc-keyed.
    */
  private[graft] val BpeChunkWords = 3

  private[graft] def bpeChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    load(s, dir, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
      .where($"token".rlike("^[a-z0-9]+$"))
      .withColumn("rn", row_number().over(w))
      .withColumn("chunk", (($"rn" - 1) / BpeChunkWords).cast("long"))
      .groupBy($"doc_id", $"chunk")
      .agg(count(lit(1)).as("nw"),
        array_join(transform(array_sort(collect_list(struct($"rn", $"token"))),
          p => p.getField("token")), "_").as("unit"))
      .where($"nw" === BpeChunkWords)
      .select($"doc_id", $"unit")
  }

  /** BPE training corpus: the chunk-unit frequency table. */
  private[graft] def bpeWords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeChunks(s, dir)
      .select($"unit".as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
  }

  /** The per-round batch selection rule, shared verbatim by the engine
    * and (as a per-round recursive CTE) the generated oracle: walk the
    * rank-ordered candidate window greedily, selecting a pair iff it
    * conflicts with NO already-SELECTED pair, up to `batch`. Conflict
    * symbols are the pair's operands AND its merge result — a selected
    * merge creating exactly a later pair's operand (e.g. (a,b)→ab then
    * (ab,x)) would otherwise make application order observable, breaking
    * the any-order-equal batching invariant (KernelPropertySpec pins it:
    * selected pairs are mutually disjoint, so the batch commutes).
    *
    * Greedy-over-SELECTED (round 10) replaces the earlier greedy-over-
    * PREFIX rule (conflict with any higher-ranked candidate, selected or
    * not): on a real corpus the top of the window shares symbols heavily
    * ('_', 'e', ...), and the prefix rule committed only ~6 of 32 batch
    * slots per round — the selected-only rule commits near-full batches
    * while preserving exactly the same disjointness invariant.
    */
  private[graft] def bpeSelectBatch(cands: Seq[(String, String, Long)],
      batch: Int): Seq[(String, String, Long)] = {
    def syms(p: (String, String, Long)) = Set(p._1, p._2, p._1 + p._2)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val used = scala.collection.mutable.HashSet.empty[String]
    cands.foreach { p =>
      if (selected.size < batch && !syms(p).exists(used)) {
        selected += p
        used ++= syms(p)
      }
    }
    selected.toSeq
  }

  /** One induction per (session, sfDir) ([[DirMemo]]), persisted to a
    * parquet pair (merges / final vocab) — q_bpe_merges and q_bpe_encode
    * both need the identical induction, and at 708 merges it is the most
    * expensive registry computation; parquet (not cached frames) because
    * the bench unpersists every RDD between queries, which would sever a
    * memoized localCheckpoint lineage.
    */
  private[graft] def bpeInduceShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val base = DirMemo(s, dir, "bpe") { b =>
      val (merges, vocab) = bpeInduce(s, bpeWords(s, dir), rounds = BpeGateRounds)
      import s.implicits._
      merges.toDF("rank", "a", "b", "pc").coalesce(1)
        .write.mode("overwrite").parquet(s"$b/merges")
      vocab.coalesce(1).write.mode("overwrite").parquet(s"$b/vocab")
    }
    (s.read.parquet(s"$base/merges"), s.read.parquet(s"$base/vocab"))
  }

  /** Batched BPE merge induction (Sennrich et al. 2016, parallelized
    * per round): per round, count adjacent symbol pairs corpus-wide
    * ONCE, rank the top-[[BpeCap]] candidates by (count DESC, pair
    * ASC), keep those that share no symbol — and no concatenated
    * merge-result symbol — with ANY higher-ranked candidate in the
    * window (the conservative disjointness rule, expressible as one
    * NOT EXISTS in the oracle), and commit up to `batch` of them in
    * rank order via chained codegen'd replaces over the bracket-framed
    * symbol string — disjoint merges are order-independent, so one
    * vocab pass applies the whole batch. `batch = 1` degenerates to
    * classic sequential BPE (rank-1 never has a higher conflict).
    * Returns the learned merges (rank = global merge index, pc = the
    * pair's count at its ROUND's start) and the final (token, cnt,
    * seq) vocabulary frame. Per round: one vocab-cardinality aggregate
    * + one narrow map; driver data is the ≤Cap-row candidate window
    * (same bounded pattern as the Lloyd argmax) — sequential rounds
    * drop ~batch× vs one-merge-per-pass.
    *
    * Incremental (VERDICT r10 #3): the corpus-wide pair
    * counts are MAINTAINED across rounds instead of re-aggregated from
    * the full vocabulary every round. Only rows containing a committed
    * merge's `[a][b]` pattern change their pair multiset — the
    * disjointness rule guarantees a batch neither creates nor destroys
    * occurrences of OTHER selected patterns mid-application — so each
    * round subtracts the affected rows' old pairs, adds their new
    * pairs, and folds the delta into the maintained frame. At 100 TB
    * this is the difference between a full-corpus shuffle per round and
    * a shuffle proportional to the rows a merge actually touches (for
    * late, rare merges: a vanishing fraction). The candidate window is
    * a top-[[BpeCap]] over the maintained frame — identical ordering
    * (pc DESC, a, b) and therefore identical selections to the
    * recompute-from-scratch form the oracle unrolls.
    */
  private[graft] def bpeInduce(s: SparkSession, words: DataFrame,
      rounds: Int = BpeRounds, batch: Int = BpeBatch, cap: Int = BpeCap)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    var seqs = Pin(words
      .select($"token", $"cnt", regexp_replace($"token", "(.)", "[$1]").as("seq")))
    // Spark's sequence(1, n) DESCENDS for n < 1 — filter the
    // single-symbol rows before building pair indices (applies to the
    // initial build AND to delta recounts, where a fully-merged row's
    // new seq can reach one symbol).
    def pairsOf(df: DataFrame): DataFrame = df
      .withColumn("syms", split(expr("substring(seq, 2, length(seq) - 2)"), "\\]\\["))
      .where(size($"syms") >= 2)
      .select($"cnt", explode(expr(
        "transform(sequence(1, size(syms) - 1), j -> " +
          "named_struct('a', element_at(syms, j), 'b', element_at(syms, j + 1)))")).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"), $"cnt".as("pc"))
    var pairs = Pin(pairsOf(seqs)
      .groupBy($"a", $"b").agg(sum($"pc").as("pc")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= rounds && !exhausted) {
      val cands = pairs.orderBy(desc("pc"), $"a", $"b").limit(cap).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      if (cands.isEmpty) {
        // Corpus fully merged before `rounds` passes: truncate gracefully
        // — the generated oracle's sel_i CTEs go empty from this round on
        // and it yields fewer rows, so throwing here would be a DIVERGENT
        // failure mode, not a stricter one (ADVICE r9).
        exhausted = true
      } else {
        val selected = bpeSelectBatch(cands, batch)
        selected.foreach { case (a, b, pc) =>
          merges += ((merges.size + 1L, a, b, pc)) }
        val anyHit = selected.map { case (a, b, _) =>
          $"seq".contains(s"[$a][$b]") }.reduce(_ || _)
        val applied = selected.foldLeft($"seq": Column) { case (acc, (a, b, _)) =>
          replace(acc, lit(s"[$a][$b]"), lit(s"[$a$b]")) }
        // One materializing pass: unaffected rows copy through; affected
        // rows get the batch applied and keep their pre-round seq so the
        // delta recount below never rescans the old frame.
        val next = Pin(seqs
          .select($"token", $"cnt", anyHit.as("hit"),
            when(anyHit, applied).otherwise($"seq").as("seq"),
            when(anyHit, $"seq").as("old_seq")))
        val hits = next.where($"hit")
        pairs = Pin(pairs
          .unionByName(pairsOf(
            hits.select($"old_seq".as("seq"), (-$"cnt").as("cnt"))))
          .unionByName(pairsOf(hits.select($"seq", $"cnt")))
          .groupBy($"a", $"b").agg(sum($"pc").as("pc"))
          .where($"pc" =!= 0L))
        seqs = next.select($"token", $"cnt", $"seq")
        i += 1
      }
    }
    (merges.toSeq, seqs)
  }

  /** Band width escalation for degenerate corpora: when the 16-perm
    * banding produces ANY over-cap bucket, sub-1.0 pairs inside those
    * buckets would be dropped with the bucket — so the banding re-runs at
    * this width, where each pair gets 64 independent bucket chances
    * instead of 8 (measured on the sf0.1 30-word synthetic vocabulary:
    * 78/130 flags missed at 16 perms, 1 at 64, 0 at 128). Real-vocab
    * corpora never have over-cap buckets, pay nothing, and keep the
    * cheap 16-perm family.
    */
  private val EscalatedNumPerms = 128

  /** Degenerate-banding recovery budget: when over-cap buckets appear,
    * the docs they touch (the cohort) may be verified pair-exhaustively
    * instead of re-banded — but only while |cohortIn| × |cohortEx| stays
    * within this bound, so the direct product is never more work than
    * the escalated banding it replaces (which at sf0.1 emits 6.5M
    * candidate rows for 3.4M possible pairs). Beyond the budget — the
    * 100-TB shape, where a cohort this collided would mean billions of
    * pairs — the escalated re-band path runs instead.
    */
  private val DirectVerifyPairBudget = 8000000L

  /** The sampled substring queries' keep rate: a gram position survives iff its
    * 60-bit digest ≡ 0 (mod this) — gram-keyed shuffle volume and the
    * distinct-doc aggregate shrink ~8×, recall on real duplicated spans
    * stays ≈1 (content-defined selection; see the query's scaladoc).
    */
  private val SubstringSampleMod = 8

  /** Planted-variant id offsets (q_norm_dedup / q_keep_best and
    * q_substring_dup union re-serialized variants with ids doc_id +
    * offset). A corpus outgrowing the offset would make variant ids
    * collide with real doc_ids — and because BOTH engines would compute
    * the same collided result, the oracle gate could never catch it
    * (ADVICE r8). [[guardedDocId]] embeds the namespace assertion in
    * the plan itself.
    */
  private[queries] val NormVariantOffset = 1000000L
  private[queries] val ExcerptVariantOffset = 2000000L

  /** doc_id passed through unchanged, with a codegen'd assert_true
    * riding the plan: every BASE row (not just the sampled variant
    * sources — a collision needs only one real id above the offset) is
    * checked at execution time, zero extra jobs. assert_true yields
    * null on success; the coalesce turns that into +0.
    */
  private[queries] def guardedDocId(offset: Long): Column =
    (col("doc_id") + coalesce(
      assert_true(col("doc_id") < lit(offset),
        lit(s"planted-variant namespace: doc_id must stay below $offset")
      ).cast("long"),
      lit(0L))).as("doc_id")

  /** `base`'s (doc_id, text) rows, ids guarded below `offset`, plus a
    * planted variant of every `every`-th doc: id doc_id + `offset`, text
    * `variant` of its source's. A dedup query over this corpus is
    * non-vacuous by construction: each variant must land with its source.
    */
  private def withVariants(base: DataFrame, offset: Long, every: Int,
                           variant: Column): DataFrame = {
    val docs = base.select(guardedDocId(offset), col("text"))
    docs.unionByName(docs.where(col("doc_id") % every === 0)
      .select((col("doc_id") + offset).as("doc_id"), variant.as("text")))
  }

  /** Char width of the substring queries' grams. */
  private val GramK = 40

  /** The substring queries' corpus: every doc plus a 200-char contiguous
    * excerpt (chars 50-249) of every 10th doc, docs shorter than one gram
    * dropped. Excerpt and source must flag each other's shared span.
    */
  private def excerptCorpus(s: SparkSession, dir: String): DataFrame =
    withVariants(docsWide(s, dir), ExcerptVariantOffset, 10,
      col("text").substr(lit(50), lit(200)))
      .where(length(col("text")) >= GramK)

  /** One row per kept [[GramK]]-gram position of `docs`: `p0` its 0-based
    * start, `g` its 60-bit digest (15 hex digits of the md5) from the
    * fused native GramDigests pass. Gram-keyed shuffles then move 8-byte
    * longs, not 32-char strings (the string form measured ~2× slower
    * end-to-end at sf0.1). `mod` 1 keeps every position; `mod` > 1 keeps
    * a position iff its digest ≡ 0 (mod `mod`), a content-defined sample:
    * the same gram text is kept or dropped in every doc.
    */
  private def gramRows(docs: DataFrame, mod: Int): DataFrame = {
    val grams = docs.select(col("doc_id"),
      posexplode(graft.functions.GramDigests(col("text"), GramK)).as(Seq("p0", "g")))
    if (mod == 1) grams else grams.where(pmod(col("g"), lit(mod.toLong)) === 0L)
  }

  /** `onto` joined on `key` with `as`, the number of distinct docs among
    * `rows` holding each key: key-keyed shuffles with map-side partials,
    * never doc×doc.
    */
  private def withDocCount(onto: DataFrame, rows: DataFrame, key: String,
                           as: String = "nd"): DataFrame =
    onto.join(rows.groupBy(col(key)).agg(countDistinct(col("doc_id")).as(as)), key)

  /** Per doc of `rows`: `n`, its rows, and `n_dup`, those whose `key`
    * some other doc also holds. A doc without rows has no row here.
    */
  private def dupCounts(rows: DataFrame, key: String): DataFrame =
    withDocCount(rows, rows, key).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))

  /** Duplicate-span excision report over [[excerptCorpus]] from its gram
    * positions sampled by `mod` (see [[gramRows]]): a kept position is
    * flagged iff its gram appears in another doc, and each flagged
    * position i claims chars [i, i+K-1]. The union of those intervals is
    * computed per doc as gaps-and-islands over the sorted flagged
    * positions (a new island starts when the gap exceeds K; island chars
    * = last − first + K): one doc-keyed window over flagged positions
    * only, never a per-char blowup. The gap rule is K at every `mod`,
    * which keeps a sampled report contained in the exact one (see
    * q_substring_strip_sampled).
    */
  private def substringStrip(s: SparkSession, dir: String, mod: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val K = GramK
    val docs = excerptCorpus(s, dir)
    val grams = gramRows(docs, mod)
    val flagged = withDocCount(grams, grams, "g").where($"nd" >= 2)
      .select($"doc_id", ($"p0" + 1).as("pos"))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val islands = flagged
      .withColumn("prev", lag($"pos", 1).over(w))
      .withColumn("new_i",
        when($"prev".isNull || $"pos" - $"prev" > K, 1L).otherwise(0L))
      .withColumn("iid", sum($"new_i").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"iid")
      .agg((max($"pos") - min($"pos") + K).as("island_chars"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_islands"),
        sum($"island_chars").as("covered_chars"))
    val flaggedN = flagged.groupBy($"doc_id").agg(count(lit(1)).as("n_flagged"))
    docs.select($"doc_id", length($"text").cast("long").as("n_chars"))
      .join(flaggedN, Seq("doc_id"), "left")
      .join(islands, Seq("doc_id"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"n_flagged", lit(0L)).as("n_flagged"),
        coalesce($"n_islands", lit(0L)).as("n_islands"),
        coalesce($"covered_chars", lit(0L)).as("covered_chars"),
        ($"n_chars" - coalesce($"covered_chars", lit(0L))).as("clean_chars"))
      .orderBy($"doc_id")
  }

  /** q_norm_dedup / q_keep_best's corpus: every doc plus a re-serialized
    * variant (uppercased, " !!" appended) of every 7th doc, each row with
    * `digest`, the md5 of its normalized text (lowercased, every
    * non-[a-z0-9 ] run a space, whitespace collapsed). A variant's
    * digest is its source's.
    */
  private def normCorpus(s: SparkSession, dir: String): DataFrame =
    withVariants(load(s, dir, "documents"), NormVariantOffset, 7,
      concat(upper(col("text")), lit(" !!")))
      .withColumn("digest", md5(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]+", " "), " +", " "))))

  /** The md5 split's routing digit, the first hex digit of
    * md5("graft-split-v1:" || doc_id): 0-b train (75%), c-d val, e-f
    * test. The same assignment on any engine or cluster layout (md5 is
    * the cross-engine contract; no RNG, no partition dependence).
    */
  private def splitDigit: Column =
    substring(md5(concat(lit("graft-split-v1:"), col("doc_id").cast("string"))), 1, 1)

  /** `digit`, a [[splitDigit]], routes its doc to train. */
  private def inTrain(digit: Column): Column =
    digit.isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b")

  /** The documents with `is_train`, and on every held-out doc the unique
    * token `plant` || doc_id appended: out of the train vocabulary by
    * construction, since train docs are untouched.
    */
  private def heldOutPlanted(s: SparkSession, dir: String, plant: String): DataFrame = {
    val isTrain = inTrain(splitDigit)
    load(s, dir, "documents")
      .select(col("doc_id"), isTrain.as("is_train"),
        when(isTrain, col("text"))
          .otherwise(concat(col("text"), lit(plant), col("doc_id").cast("string"))).as("text"))
  }

  /** The 3-token shingles of a staged token array column `t`. Two
    * performance rules meet here: the token array must be staged in its
    * own projection (split() inside the transform lambda would re-run
    * once per shingle index, quadratic per document), but the shingle
    * ARRAY must not be staged as an aliased column below an explode
    * (materializing it between operators instead of generating inline
    * measured 6× slower), so an explode inlines this column.
    */
  private def shingles3: Column =
    when(size(col("t")) >= 3,
      transform(sequence(lit(1), size(col("t")) - 2),
        i => array_join(slice(col("t"), i, lit(3)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Whitespace-token frequencies: `tf` per (doc, token), and the same
    * rows with `df`, the token's document frequency, joined on.
    */
  private def termFreqs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tok = load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    (tf, withDocCount(tf, tok, "token", "df"))
  }

  /** Lookup sides at or under this row count are broadcast; above it the
    * join runs as a shuffled equi-join on its key — the same count-gated
    * pattern as [[connectedComponents]]. Sized well under executor
    * memory: 1M (id, token-array) rows of ~30 hashed tokens ≈ 250 MB
    * serialized. On real corpora most documents are unique, so
    * set-cardinality ≈ corpus cardinality and an unconditional broadcast
    * of a rep/member table would OOM the driver at 100 TB.
    */
  private[queries] val BroadcastSetLimit = 1000000L

  /** Broadcast-hint `df` only when its (pre-counted) row count is within
    * `limit`; otherwise return it un-hinted so Catalyst plans a shuffled
    * hash/sort-merge join on the equi-key — identical semantics, no
    * driver-memory cliff.
    */
  private def gateBroadcast(df: DataFrame, rows: Long, limit: Long): DataFrame =
    if (rows <= limit) broadcast(df) else df

  /** doc_id + minhash signature (array&lt;long&gt;, one slot per
    * permutation) from a pre-HASHED (doc_id, toks: array&lt;long&gt;)
    * frame ([[hashedToks]]). Token strings were hashed to longs once at
    * tokenization; the signature itself is the fused native
    * [[graft.functions.MinHashSignature]] expression — one pass over the
    * token array maintaining all `NumPerms` running minima, instead of
    * `NumPerms` × `array_min(transform(...))` each materializing an
    * intermediate array per row (at 64 perms the composable form was
    * ~2.6× the cost of the whole near-dup family).
    */
  def minhashSignaturesFromHashedToks(t: DataFrame): DataFrame =
    minhashSignaturesFromHashedToks(t, NumPerms)

  /** As above with an explicit permutation count (the banding-fidelity
    * escalation path — see [[EscalatedNumPerms]]).
    */
  private[queries] def minhashSignaturesFromHashedToks(t: DataFrame, numPerms: Int): DataFrame =
    t.select(col("doc_id"),
      graft.functions.MinHashSignature(col("toks"), numPerms).as("sig"))

  /** doc_id + minhash signature array, tokenizing + hashing `text` first. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFromHashedToks(
      docs.select(col("doc_id"), hashedToks(col("text")).as("toks")))

  /** Exact-dedup-by-token-set grouping: one row per distinct token SET
    * with its lowest doc_id as representative and all member ids. Pair
    * semantics over sets are invariant within a group (every member has
    * the SAME set), so any set-based near-dup search only needs to score
    * representatives and expand member pairs back afterwards — on
    * duplicate-heavy corpora that collapses the quadratic verify stage by
    * the square of the dup factor. This is the standard pipeline
    * composition: exact dedup BEFORE near-dup detection.
    *
    * Returns the groups pinned, plus their count observed on the pin:
    * the broadcast gates downstream (minhashRepPairs / expandGroupPairs)
    * take it instead of counting the groups in a job of their own. The
    * groups are set-cardinality (small) and read by 4+ downstream
    * branches (signatures, both verify sides, both expansion sides,
    * within-group pairs), so they are materialized once instead of
    * re-tokenized per branch.
    */
  private def tokenSetGroupsCounted(t: DataFrame, extraKeys: String*): (DataFrame, Long) =
    Pin.counted(t.groupBy((col("toks") +: extraKeys.map(col)): _*)
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members")))

  /** Expand verified representative pairs (rep_a, rep_b, jac) plus
    * within-group pairs (identical sets, jac = 1.0) into the full member
    * pair list with doc_a < doc_b. The member-list lookups broadcast only
    * under [[BroadcastSetLimit]] groups (`nGroups`, observed where the
    * groups were pinned); past it they shuffle on rep id —
    * set-cardinality ≈ corpus cardinality on real corpora, where a
    * broadcast would OOM.
    */
  private[queries] def expandGroupPairs(groups: DataFrame, repPairs: DataFrame, nGroups: Long,
                                        broadcastLimit: Long = BroadcastSetLimit): DataFrame = {
    def gated(df: DataFrame) = gateBroadcast(df, nGroups, broadcastLimit)
    val cross = repPairs
      .join(gated(groups.select(col("rep").as("rep_a"), col("members").as("ma"))), "rep_a")
      .join(gated(groups.select(col("rep").as("rep_b"), col("members").as("mb"))), "rep_b")
      .select(explode(col("ma")).as("da"), col("mb"), col("jac"))
      .select(col("da"), explode(col("mb")).as("db"), col("jac"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jac"))
    val e = groups.select(col("rep").as("gk"), explode(col("members")).as("d"))
    val within = e.alias("x").join(e.alias("y"),
        col("x.gk") === col("y.gk") && col("x.d") < col("y.d"))
      .select(col("x.d").as("doc_a"), col("y.d").as("doc_b"), lit(1.0).as("jac"))
    // materialize before the caller's presentation orderBy: a global sort
    // range-partitions by SAMPLING its input, which would re-run the whole
    // candidate+verify+expansion lineage a second time
    Pin(cross.unionByName(within))
  }

  /** (doc_id, band, bh, bhs) bucket rows of a signature frame — the
    * banding half of LSH, shared by the symmetric candidate join and the
    * asymmetric incoming-vs-corpus join (q_incr_dedup). `bhs` holds all
    * of the doc's band hashes, for [[bucketPairs]].
    */
  private[queries] def bandBuckets(sigs: DataFrame, numPerms: Int): DataFrame = {
    val bhs = (0 until numPerms / BandRows).map(b =>
      xxhash64((0 until BandRows).map(r => element_at(col("sig"), b * BandRows + r + 1)): _*))
    sigs.select(col("*"), array(bhs: _*).as("bhs")).drop("sig")
      .select(col("*"), posexplode(col("bhs")).as(Seq("band", "bh")))
  }

  /** Band → hashes of the buckets holding over `maxBucket` rows: degenerate
    * band hashes, a small set, observed on the pin of their aggregate.
    */
  private def overCapBuckets(buckets: DataFrame, maxBucket: Int): Map[Int, Seq[Long]] =
    Pin.observed(buckets.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n"))
        .where(col("n") > maxBucket), collect_list(struct(col("band"), col("bh"))).as("oc"))
      ._2("oc").asInstanceOf[scala.collection.Seq[Row]].toSeq.groupMap(_.getInt(0))(_.getLong(1))

  /** The rows of a (band, bh) stream whose bucket is under the cap. */
  private def underCapRows(overCap: Map[Int, Seq[Long]]): Column =
    overCap.map { case (j, hs) => col("band") =!= j || !col("bh").isin(hs: _*) }
      .foldLeft(lit(true))(_ && _)

  /** Row pairs of bucket streams `a` and `b` (aliased so) sharing a bucket
    * under the cap, each pair once: only from the lowest band in which its
    * docs share a bucket under the cap (one side's hashes decide it).
    */
  private def bucketPairs(a: DataFrame, b: DataFrame, overCap: Map[Int, Seq[Long]],
                          nBands: Int): DataFrame = {
    val (bhsA, bhsB) = (col("a.bhs"), col("b.bhs"))
    val metBefore = (0 until nBands).map { j =>
      val under = overCap.get(j).fold(lit(true))(hs => !bhsA(j).isin(hs: _*))
      col("a.band") > j && bhsA(j) === bhsB(j) && under
    }.reduce(_ || _)
    a.where(underCapRows(overCap)).alias("a").join(b.where(underCapRows(overCap)).alias("b"),
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") && !metBefore)
  }

  /** Candidate near-dup pairs via LSH banding over a (doc_id, sig, …)
    * frame: the [[bucketPairs]] of its bucket rows (aliased `a` and `b`,
    * a.doc_id < b.doc_id, the frame's other columns on each side), each
    * once, so no pair dedup runs. The rows are fanned out before their
    * pin, so the join and all that follows it is not one task. The cap
    * is a test seam (package-private so production callers can't bypass it).
    */
  private[queries] def lshCandidates(sigs: DataFrame, maxBucket: Int): DataFrame = {
    // read by the over-cap aggregate and both self-join sides
    val buckets = Pin(fanOutIfNarrow(bandBuckets(sigs, NumPerms),
      sigs.sparkSession.sparkContext.defaultParallelism))
    bucketPairs(buckets, buckets, overCapBuckets(buckets, maxBucket), NumPerms / BandRows)
      .where(col("a.doc_id") < col("b.doc_id"))
  }

  /** SimHash locality: two docs at unigram Jaccard ≥ 0.9 differ in at
    * most this many of the 16 fingerprint bits. Deterministic for the
    * fixed hash family; observed max 4 / 3 / 5 at sf0.001/0.01/0.1
    * (mean ≈ 1.4 vs 8 for random pairs). The ORACLE bound carries margin
    * above the observed max — the DuckDB row pins hamming_ok=TRUE, so a
    * zero-margin bound would flip the pinned boolean on any new corpus/sf
    * that lands one pair a bit higher; the tight empirical bound lives in
    * TextVectorSpec's locality invariant, where a regression is
    * diagnosable instead of a silent correctness red.
    */
  private val HammingBound = 7

  /** 16-bit SimHash per doc: per-bit majority vote over the token-hash
    * array (hash staged once per token so the 16 bit votes don't
    * re-tokenize).
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val bits = (0 until 16).map { b =>
      // +1 when bit b set, -1 otherwise; majority → bit in fingerprint
      val vote = aggregate(col("hashes"), lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(0L)
    }
    docs
      .select(col("doc_id"), transform(toks(col("text")), t => xxhash64(t)).as("hashes"))
      .select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Exact unigram-set Jaccard near-dup pairs within (lang, source)
    * buckets — the bounded "verify" stage of near-dup detection. Buckets
    * above `maxBucket` docs are dropped before the pair join: at 100 TB a
    * single (lang, source) bucket IS the corpus, and an uncapped
    * self-join there is quadratic. Legitimate near-dup clusters are
    * small; a bucket that populous carries no routing signal — route such
    * corpora through [[lshCandidates]] instead. The over-cap buckets are
    * aggregated and anti-joined back broadcast.
    */
  private[queries] def neardupJaccard(docs: DataFrame, maxBucket: Int): DataFrame = {
    val t = docs.select(col("doc_id"), col("lang"), col("source"),
      hashedToks(col("text")).as("toks"))
    val overCap = t.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)
      .select("lang", "source")
    val capped = t.join(broadcast(overCap), Seq("lang", "source"), "left_anti")
    // exact-dedup by (bucket, token set) first: only representatives pay
    // the quadratic intersect; duplicate members expand back afterwards
    val (groups, nGroups) = tokenSetGroupsCounted(capped, "lang", "source")
    val reps = groups.select(col("rep").as("doc_id"), col("lang"), col("source"), col("toks"))
    val a = reps.alias("a"); val b = reps.alias("b")
    val repPairs = a.join(b, col("a.lang") === col("b.lang") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("a.toks"), col("b.toks")).cast("long"))
      .withColumn("la", size(col("a.toks")).cast("long"))
      .withColumn("lb", size(col("b.toks")).cast("long"))
      .withColumn("jac", col("inter") * 1.0 / (col("la") + col("lb") - col("inter")))
      .where(col("jac") >= 0.9)
      .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"), col("jac"))
    expandGroupPairs(groups, repPairs, nGroups)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** LSH-verified near-dup pairs between token-set group representatives:
    * banding over minhash signatures → bucket join → exact-Jaccard verify
    * at ≥ 0.9. The rep/token lookup tables broadcast only under
    * [[BroadcastSetLimit]] reps (`nGroups`, observed where the groups
    * were pinned; the verify joins then stay map-side);
    * past it they run as shuffled equi-joins on doc_a/doc_b — on real
    * corpora set-cardinality ≈ corpus cardinality, so the gate is what
    * keeps this path alive at 100 TB. Shared by q_minhash_lsh (expands to
    * member pairs) and q_dup_clusters (connected components over the rep
    * graph). Candidates come once each ([[lshCandidates]]), so neither
    * the verify's input nor its output needs a dedup.
    */
  private[queries] def minhashRepPairs(groups: DataFrame, nGroups: Long,
                                       broadcastLimit: Long = BroadcastSetLimit): DataFrame = {
    val reps = groups.select(col("rep").as("doc_id"), col("toks"))
    def gated(df: DataFrame) = gateBroadcast(df, nGroups, broadcastLimit)
    // exact length filter (Jaccard ≤ min/max set size) before the lookups
    lshCandidates(reps.select(col("doc_id"), size(col("toks")).as("n"),
        graft.functions.MinHashSignature(col("toks"), NumPerms).as("sig")), MaxBucket)
      .where(least(col("a.n"), col("b.n")) * 10 >= greatest(col("a.n"), col("b.n")) * 9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .join(gated(reps.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))), "doc_a")
      .join(gated(reps.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))), "doc_b")
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("toks_a"), col("toks_b")).cast("long"))
      .withColumn("jac", col("inter") * 1.0 /
        (size(col("toks_a")).cast("long") + size(col("toks_b")).cast("long") - col("inter")))
      .where(col("jac") >= 0.9)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("jac"))
  }

  /** Rows one task holds for the iterative graph operators: 500k
    * (long, long) edges ≈ 8 MB. A graph within it runs its whole
    * iteration inside one task (union-find for [[connectedComponents]],
    * GraphOps' ten PageRank rounds over arrays); past it, the rows split
    * into tasks of this size and the iteration runs as distributed
    * rounds, the only path that holds a graph no task can. The graphs of
    * every scale factor here are far below it (sf0.1's embedding
    * near-dup graph, the largest: ~15k edges).
    */
  private[queries] val TaskRows = 500000L

  /** Connected components over an undirected edge list (src, dst): every
    * node is labeled with the smallest node id reachable from it.
    *
    * The edges are pinned once (null ends dropped, the count observed)
    * and split into tasks of at most [[TaskRows]] edges. Each task runs
    * an array union-find over its edges ([[localComponents]]). With one
    * task — every dup graph in this repo — its rows are the components.
    * With more, each task's rows contract its share of the graph to stars
    * (every node points at its local component minimum), and those
    * edges, in both directions, feed distributed min-label propagation
    * ([[labelRounds]]).
    * Returns (id, component) for every node appearing in `edges`.
    */
  private[queries] def connectedComponents(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val (pinned, nEdges) = Pin.counted(edges.select(col("src"), col("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull))
    val parts = math.max(1L, math.min(
      numPartitions(pinned).toLong, nEdges / TaskRows + 1)).toInt
    val local = pinned.coalesce(parts).as[(Long, Long)]
      .mapPartitions(localComponents).toDF("id", "component")
    if (parts == 1) Pin(local)
    else labelRounds(Pin(local.select(inline(array(
      struct(col("id").as("src"), col("component").as("dst")),
      struct(col("component").as("src"), col("id").as("dst")))))), parts)
  }

  /** Union-find over one task's edges: the task's distinct ids sorted in
    * a primitive array (an id's index is its rank, found by binary
    * search), an `Int` parent array, union by the smaller root and path
    * halving, so every root is its component's minimum id. Emits
    * (id, component) for each distinct id.
    */
  private def localComponents(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ends = new Array[Long](1024)
    var n = 0
    edges.foreach { case (a, b) =>
      if (n + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, ends.length * 2)
      ends(n) = a; ends(n + 1) = b; n += 2
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(ids)
    var m = 0
    for (i <- 0 until n) if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
    val parent = Array.range(0, m)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def at(id: Long) = java.util.Arrays.binarySearch(ids, 0, m, id)
    for (i <- 0 until n by 2) {
      val (ra, rb) = (find(at(ends(i))), find(at(ends(i + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Iterator.range(0, m).map(i => (ids(i), ids(find(i))))
  }

  /** Distributed min-label propagation over a symmetric edge list
    * (src, dst) split into `parts` tasks. Each round is one hash join
    * (edges × labels) plus a label-cardinality pointer-jumping self-join
    * plus one groupBy, all keyed at edge cardinality — never corpus
    * cardinality. The shortcut step (label(id) := label(label(id)))
    * makes the round count logarithmic in the longest chain rather than
    * linear — the same doubling idea as the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), with simpler bookkeeping
    * because labels here only ever shrink toward the component minimum.
    * Labels are pinned per round (the iterated plan would otherwise
    * double in depth each pass); convergence is a metric observed on
    * that pin — the round's aggregation also counts labels that strictly
    * shrank, so each round runs exactly one job.
    */
  private def labelRounds(sym: DataFrame, parts: Int): DataFrame = {
    // Init fuses the first propagation round into the node-dedup shuffle
    // the init pays anyway: label(id) = min(id, min direct neighbor) —
    // exactly what round 1 over identity labels would produce. Node
    // count (fixed across rounds) is observed on the init pin.
    val (init, nNodes) = Pin.counted(sym.groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("component"))
      .coalesce(parts))
    var labels = init
    // When the label graph is small enough (≪ executor memory — 1M
    // (long,long) rows ≈ 16 MB), hint the label side broadcast so every
    // round's join is map-side over the pinned edges: one shuffle per
    // round (the groupBy) instead of three. Larger graphs keep the
    // shuffled join — same plan shape, no driver risk.
    val broadcastLabels = nNodes <= 1000000
    // One join per round: the static propagation edges plus the current
    // label graph's pointer-jump edges (component(id) → id, so id
    // inherits component(component(id)) — the doubling shortcut that
    // makes the round count O(log chain) instead of O(chain)). Messages
    // along both edge kinds resolve through the SAME labels join. Each
    // id's incumbent label rides tagged through the groupBy so the round
    // emits both the new label (min over incumbent + messages — labels
    // only ever shrink) and the incumbent it replaces (`prev`); the
    // round's pin then counts the strict shrinks — no separate
    // convergence action.
    def propagate(cur: DataFrame): DataFrame = {
      val edges2 = sym.unionByName(
        cur.select(col("component").as("src"), col("id").as("dst")))
      val lab = if (broadcastLabels) broadcast(cur) else cur
      val msgs = edges2.join(lab, edges2("src") === lab("id"))
        .select(col("dst").as("id"), col("component"), lit(false).as("is_prev"))
      cur.select(col("id"), col("component"), lit(true).as("is_prev"))
        .unionByName(msgs)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
          min(when(col("is_prev"), col("component"))).as("prev"))
    }
    var changed = -1L
    while (changed != 0L) {
      val (next, m) = Pin.observed(propagate(labels).coalesce(parts),
        coalesce(sum(when(col("component") < col("prev"), 1L).otherwise(0L)), lit(0L))
          .as("changed"))
      labels = next.select(col("id"), col("component"))
      changed = m("changed").asInstanceOf[Long]
    }
    labels
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Token counting + quality/lang heuristics, per language.
    "q_text_stats" -> { (s, dir) =>
      import s.implicits._
      val d = load(s, dir, "documents")
        .withColumn("all_toks", split($"text", " "))
        .withColumn("n_toks", size($"all_toks").cast("long"))
        .withColumn("n_stop",
          size(filter($"all_toks", t => t.isin(Stopwords: _*))).cast("long"))
      d.groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("total_chars"),
          sum($"n_toks").as("total_tokens"),
          sum($"n_stop").as("total_stop"))
        .withColumn("avg_tokens", $"total_tokens" * 1.0 / $"n_docs")
        .withColumn("stop_ratio", $"total_stop" * 1.0 / $"total_tokens")
        .orderBy($"lang")
    },

    // Exact dedup: at-least-once corpus (doubled input) → one row per
    // content digest. Hash-groupBy semantics via dropDuplicates on the
    // digest; output is per-source counts over the deduplicated corpus.
    "q_exact_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
      val doubled = docs.unionByName(docs)
      doubled
        .withColumn("digest", md5($"text"))
        .dropDuplicates("digest")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_sum"))
        .orderBy($"source")
    },

    // INCREMENTAL dedup — dedup a NEW batch against the EXISTING corpus
    // without re-deduping the corpus against itself: the shape every
    // production crawl pipeline runs on arrival. The batch is five
    // sources plus a handful of re-fetched corpus pages (same text,
    // fresh fetch ids — crawls re-fetch; these exercise the exact
    // branch). Exact = digest semi-join against the corpus digest set.
    // Near = set-dedup on BOTH sides first, then ASYMMETRIC MinHash
    // banding — incoming and corpus set-rep bucket streams equi-join on
    // (band, band-hash), so candidates are new×existing WITHIN buckets,
    // never all-pairs — then exact ≥0.9 Jaccard verify and member
    // expansion. Rep token verify lookups are count-gated broadcasts
    // (shuffled equi-joins on rep id past BroadcastSetLimit — the 100-TB
    // path, chosen automatically). Oracle: exact digest + exact pairwise
    // Jaccard (quadratic only at oracle scale — which is the point of
    // the banding). Banding recall at the 0.9 threshold ≈ 1-2e-6 per
    // pair when no bucket overflows the cap; a degenerate vocabulary
    // that DOES overflow (sf0.1's 30-word synthetic vocab) trips the
    // adaptive escalation below, restoring exactness (0 misses measured
    // at 128 perms — IncrDedupFidelitySpec pins it against a fenced
    // all-pairs oracle). Identical-set matches never depend on the
    // banding at any scale — they take the exact equi-join below.
    "q_incr_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
      val newSrc = Seq("src0", "src1", "src2", "src3", "src4")
      val corpus = docs.where(!$"source".isin(newSrc: _*))
      val incoming = docs.where($"source".isin(newSrc: _*))
        .select($"doc_id", $"text")
        .unionByName(corpus.where($"doc_id" % 50 === 0)
          .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
      val exactDup = incoming.withColumn("digest", md5($"text"))
        .join(corpus.select(md5($"text").as("digest")).distinct(),
          Seq("digest"), "left_semi")
        .select($"doc_id")
      // Exact-dedup-by-token-set FIRST, on both sides — the standard
      // pipeline composition (see tokenSetGroupsCounted): banding and verify
      // run over set representatives (set cardinality), so duplicate
      // sets can't inflate any band bucket past the cap (the first cut
      // banded raw docs and sf0.1's dup-heavy buckets silently
      // overflowed it — hundreds of true pairs dropped).
      val tIn = incoming.select($"doc_id", hashedToks($"text").as("toks"))
      val tEx = corpus.select($"doc_id", hashedToks($"text").as("toks"))
      // the incoming/corpus group builds are independent multi-action
      // chains (tokenize + groupBy shuffle + checkpoint each); submit
      // them concurrently (guide §2.6) — this query is a serial chain of
      // ~10 small jobs whose scheduler latency dominates at gate scale,
      // and every pairwise overlap below removes one link of it
      // each pinned with its count, which gates the verify broadcasts below
      val Seq((gIn, nIn), (gEx, nEx)) = graft.runner.Par.all(
        () => Pin.counted(tIn.groupBy($"toks") // read by banding + verify + member expansion
          .agg(min($"doc_id").as("in_id"), collect_list($"doc_id").as("members"))),
        () => Pin.counted(tEx.groupBy($"toks").agg(min($"doc_id").as("ex_id"))))
      def banding(perms: Int) = {
        // (reps × bands)-cardinality band streams, materialized once: the
        // over-cap aggregate, the escalation probe, and the candidate
        // join all read them — without the checkpoint each consumer
        // re-runs the full signature computation (at 128 perms that
        // tripled the escalated path's cost).
        // independent band builds (one per side) — concurrent, §2.6
        val Seq(bIn, bEx) = graft.runner.Par.all(
          () => Pin(bandBuckets(minhashSignaturesFromHashedToks(
              gIn.select($"in_id".as("doc_id"), $"toks"), perms), perms)
            .select($"doc_id".as("in_id"), $"band", $"bh", $"bhs")),
          () => Pin(bandBuckets(minhashSignaturesFromHashedToks(
              gEx.select($"ex_id".as("doc_id"), $"toks"), perms), perms)
            .select($"doc_id".as("ex_id"), $"band", $"bh", $"bhs")))
        // the symmetric path's cap, over both sides; empty = no escalation
        val overCap = overCapBuckets(
          bIn.select($"band", $"bh").unionByName(bEx.select($"band", $"bh")), MaxBucket)
        (bIn, bEx, overCap, perms / BandRows)
      }
      // Adaptive banding fidelity: an over-cap bucket is DROPPED from
      // candidate generation, so on a degenerate vocabulary (2-row band
      // sigs collide into mega-buckets) sub-1.0 pairs inside it would be
      // silently missed. Any over-cap hit picks one of two recoveries:
      //
      //  (a) COHORT DIRECT VERIFY (preferred when bounded): the docs
      //      touching any over-cap bucket — the only ones whose pairs
      //      banding can drop — form a cohort; if |cohortIn|×|cohortEx|
      //      fits DirectVerifyPairBudget, verify that cross product
      //      exactly and keep the already-materialized sub-cap 16-perm
      //      candidates for everyone else. Fidelity dominates the
      //      128-perm re-band (which drops ITS over-cap buckets too):
      //      a true pair either collides in an over-cap bucket (both
      //      ends in cohort → verified directly) or in a sub-cap one
      //      (kept); only a pair colliding in ZERO of 8 bands is missed,
      //      P ≤ (1-0.9²)⁸ ≈ 2e-6. And it is far cheaper: measured at
      //      sf0.1, escalated banding emitted 2.1M of the 3.4M possible
      //      pairs to approximate the 3.0M-pair cohort product.
      //  (b) ESCALATED RE-BAND (the 100-TB fallback): a cohort too big
      //      to product re-bands at EscalatedNumPerms, where every true
      //      pair gets 64 bucket chances instead of 8 (measured 0
      //      misses on the worst-case sf0.1 vocab).
      //
      // Healthy corpora have no over-cap bucket and pay neither.
      val cands = {
        val (bIn, bEx, overCap, nBands) = banding(NumPerms)
        val subCapCands = bucketPairs(bIn, bEx, overCap, nBands).select($"in_id", $"ex_id")
        if (overCap.isEmpty) subCapCands
        else {
          val over = !underCapRows(overCap)
          // per-side cohort extraction, each pinned with its count: two
          // independent pins, submitted concurrently (§2.6)
          val Seq((cohIn, nCI), (cohEx, nCE)) = graft.runner.Par.all(
            () => Pin.counted(bIn.where(over).select($"in_id").distinct()),
            () => Pin.counted(bEx.where(over).select($"ex_id").distinct()))
          // overflow-safe product bound (counts are driver Longs)
          if (nCI == 0 || nCE <= DirectVerifyPairBudget / nCI) {
            // a cohort pair also met under the cap is verified twice
            // (the exact-Jaccard verify is idempotent)
            subCapCands.unionByName(cohIn.crossJoin(
              gateBroadcast(cohEx, nCE, BroadcastSetLimit)))
          } else {
            val (eIn, eEx, eOc, eBands) = banding(EscalatedNumPerms)
            bucketPairs(eIn, eEx, eOc, eBands).select($"in_id", $"ex_id")
          }
        }
      }
      // Identical sets (jac = 1.0) never depend on banding: a direct
      // equi-join on the sorted hashed-token array catches them exactly,
      // whatever the bucket structure — the asymmetric twin of the
      // symmetric path's within-group pairs.
      val sameSet = gIn.join(gEx.select($"toks"), Seq("toks"), "left_semi")
        .select($"in_id")
      // verify lookups: broadcast only under the count gate (the counts
      // observed on the gIn/gEx pins); a real corpus where set-cardinality
      // ≈ corpus cardinality shuffles on the rep ids
      val dupSets = cands
        .join(gateBroadcast(gIn.select($"in_id", $"toks".as("ti")),
          nIn, BroadcastSetLimit), "in_id")
        .join(gateBroadcast(gEx.select($"ex_id", $"toks".as("te")),
          nEx, BroadcastSetLimit), "ex_id")
        .withColumn("inter",
          graft.functions.SortedIntersectSize($"ti", $"te").cast("long"))
        .where($"inter" * 1.0 /
          (size($"ti").cast("long") + size($"te").cast("long") - $"inter") >= 0.9)
        .select($"in_id")
        .unionByName(sameSet).distinct()
      val nearDup = gIn.join(dupSets, "in_id")
        .select(explode($"members").as("doc_id"))
      incoming.select($"doc_id")
        .join(exactDup.withColumn("e", lit(true)), Seq("doc_id"), "left")
        .join(nearDup.withColumn("nd", lit(true)), Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"e", lit(false)).as("exact_dup"),
          coalesce($"nd", lit(false)).as("near_dup"),
          (!(coalesce($"e", lit(false)) || coalesce($"nd", lit(false)))).as("keep"))
        .orderBy($"doc_id")
    },

    // Deterministic corpus shuffle + sharding — the last step before
    // training: give every document a content-independent pseudorandom
    // position that is reproducible across runs, engines, and cluster
    // layouts (no rand(), no RDD zip order). Order key = md5(doc_id);
    // shard = hex range of the key (the q_split_hash threshold pattern);
    // position = rank within shard. At 100 TB the production write is
    // repartition(shard) + sortWithinPartitions(key) — embarrassingly
    // parallel; the per-shard row_number here is its verifiable twin
    // (shard count scales with the cluster, each window partition is one
    // shard, never a global sort).
    "q_corpus_shard" -> { (s, dir) =>
      import s.implicits._
      val keyed = load(s, dir, "documents")
        .select($"doc_id", md5($"doc_id".cast("string")).as("key"))
        .withColumn("shard",
          when($"key" < "4", 0).when($"key" < "8", 1)
            .when($"key" < "c", 2).otherwise(3))
      keyed.withColumn("pos",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy($"shard").orderBy($"key", $"doc_id")).cast("long"))
        .select($"doc_id", $"shard", $"pos")
        .orderBy($"doc_id")
    },

    // LINE-level dedup (the C4/RefinedWeb pass that runs INSIDE
    // documents, not across them): chunk each doc's token stream into
    // 10-token lines (this corpus has no sentence delimiters; on real
    // text the splitter is '\n' and the rest of the plan is unchanged),
    // keep only each distinct line's globally-first occurrence — ranked
    // by (doc_id, line_no) with a window partitioned BY LINE CONTENT, so
    // the shuffle keys at line cardinality and hot duplicated lines
    // rank within their own partition — and reassemble the surviving
    // lines in document order. Output per doc: line counts before/after
    // and the rewritten text.
    "q_line_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
      val lines = docs
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id",
          explode(sequence(lit(0), (ceil(size($"t") / 10.0) - 1).cast("int")))
            .as("line_no"),
          $"t")
        .select($"doc_id", $"line_no",
          array_join(slice($"t", $"line_no" * 10 + 1, lit(10)), " ").as("line"))
      val ranked = lines.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"line").orderBy($"doc_id", $"line_no")))
      ranked.groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(when($"rn" === 1, struct($"line_no", $"line")))),
            x => x.getField("line"))).as("new_text"))
        .orderBy($"doc_id")
    },

    // Near-dup pairs by exact unigram-set Jaccard within capped
    // (lang, source) buckets (see neardupJaccard).
    "q_neardup_jaccard" -> { (s, dir) =>
      neardupJaccard(load(s, dir, "documents"), MaxBucket)
    },

    // Content fingerprinting + per-doc token counts.
    "q_fingerprint" -> { (s, dir) =>
      import s.implicits._
      docsWide(s, dir)
        .select($"doc_id",
          sha2($"text".cast("binary"), 256).as("fp_sha256"),
          md5($"text").as("fp_md5"),
          size(split($"text", " ")).cast("long").as("n_tokens"),
          size(toks($"text")).cast("long").as("n_uniq_tokens"))
        .orderBy($"doc_id")
    },

    // Per-doc quality scoring + n-gram-free language heuristic (the
    // stopword-profile score; a real char-n-gram model would live in a
    // native Expression, same plumbing).
    "q_quality_score" -> { (s, dir) =>
      import s.implicits._
      val d = load(s, dir, "documents")
        .withColumn("all_toks", split($"text", " "))
        .withColumn("n_tokens", size($"all_toks").cast("long"))
        .withColumn("n_uniq", size(array_distinct($"all_toks")).cast("long"))
        .withColumn("n_stop",
          size(filter($"all_toks", t => t.isin(Stopwords: _*))).cast("long"))
      d.select($"doc_id", $"n_tokens", $"n_uniq",
          ($"n_uniq" * 1.0 / $"n_tokens").as("ttr"),
          ($"n_stop" * 1.0 / $"n_tokens").as("stop_ratio"),
          when($"n_tokens" < 30, "too_short")
            .when($"n_uniq" * 4 < $"n_tokens", "low_diversity")
            .otherwise("ok").as("quality"),
          when($"n_stop" * 20 >= $"n_tokens", "en_like")
            .otherwise("other").as("predicted_lang"))
        .orderBy($"doc_id")
    },

    // Generic column profiling — the first pass a training-data pipeline
    // runs on any new corpus: per column, totals, null counts, distinct
    // counts, and lexicographic min/max, stacked as one row per column.
    // ONE aggregate pass for all columns (VERDICT r10 #8): the four
    // countDistincts plan as a single-scan Expand, and the 1-row result
    // unpivots to one row per column — no cache, no per-column re-scan.
    "q_profile" -> { (s, dir) =>
      import s.implicits._
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__null"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c).cast("string")).as(s"${c}__min"),
        max(col(c).cast("string")).as(s"${c}__max")))
      load(s, dir, "documents")
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("column_name"), $"n",
          col(s"${c}__null").as("n_null"),
          col(s"${c}__distinct").as("n_distinct"),
          col(s"${c}__min").as("min_s"),
          col(s"${c}__max").as("max_s"))): _*)).as("r"))
        .select($"r.*")
        .orderBy($"column_name")
    },

    // MinHash + LSH near-dup detection: exact-dedup by token set →
    // banding over set representatives → bucket join → exact verify →
    // expand member pairs. Oracle: the exact global Jaccard pair set —
    // the banding's miss probability at the 0.9 threshold is ≈2e-6 per
    // pair and the verify stage kills every false candidate, so LSH
    // output = exact output (deterministic for a fixed corpus). The
    // rep/token verify lookups are count-gated broadcasts
    // (minhashRepPairs): map-side at set cardinality, shuffled
    // equi-joins past BroadcastSetLimit.
    "q_minhash_lsh" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
      val t = docs.select($"doc_id", hashedToks($"text").as("toks"))
      val (groups, nGroups) = tokenSetGroupsCounted(t)
      expandGroupPairs(groups, minhashRepPairs(groups, nGroups), nGroups)
        .orderBy($"doc_a", $"doc_b")
    },

    // Duplicate-CLUSTER assignment — the step after pair detection that a
    // production dedup actually ships. Near-dup pairs only say "A≈B"; the
    // corpus decision is "keep ONE doc per transitive similarity cluster"
    // (the sf0.01 dup graph has a 233-doc component carrying only ~9k of
    // its ~27k clique pairs — clusters are chains, not cliques, so the
    // pair list alone cannot pick survivors). Exact-dup groups collapse
    // to reps, LSH banding + exact verify yields the rep pair graph (same
    // contract as q_minhash_lsh), connected components labels every rep
    // with the smallest reachable doc_id, and group members inherit their
    // rep's label (reps are their group's min member, so the component
    // min IS the cluster-wide min doc_id). Output: one row per document
    // with its cluster representative, cluster size, and the keep flag a
    // dedup pass would act on. Oracle: DuckDB recursive-CTE transitive
    // closure over the exact ≥0.9-Jaccard pair set.
    "q_dup_clusters" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
      val t = docs.select($"doc_id", hashedToks($"text").as("toks"))
      val (groups, nGroups) = tokenSetGroupsCounted(t)
      val comp = connectedComponents(
        minhashRepPairs(groups, nGroups)
          .select($"rep_a".as("src"), $"rep_b".as("dst")))
      // members inherit the rep's component; reps with no near-dup edge
      // (and their exact-dup members) form their own cluster
      val asg = Pin(groups // read twice: size agg + final join
        .join(comp, groups("rep") === comp("id"), "left")
        .select(explode($"members").as("doc_id"),
          coalesce($"component", $"rep").as("cluster_rep")))
      val sizes = asg.groupBy($"cluster_rep").agg(count(lit(1)).as("cluster_size"))
      asg.join(sizes, "cluster_rep")
        .select($"doc_id", $"cluster_rep", $"cluster_size",
          ($"doc_id" === $"cluster_rep").as("kept"))
        .orderBy($"doc_id")
    },

    // Deterministic train/val/test split by content-independent hash:
    // the first hex digit of md5(seed || doc_id) routes 12/2/2 of 16
    // buckets to train/val/test. Pure narrow map — no shuffle until the
    // bounded-key report aggregate — and the SAME assignment on any
    // engine or cluster layout (md5 is the cross-engine contract; no
    // RNG, no partition dependence). The report pins per-(split, lang)
    // counts and sizes.
    "q_split_hash" -> { (s, dir) =>
      import s.implicits._
      val h = splitDigit
      load(s, dir, "documents")
        .withColumn("split",
          when(inTrain(h), "train")
            .when(h.isin("c", "d"), "val")
            .otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_sum"))
        .orderBy($"split", $"lang")
    },

    // Greedy contiguous sequence packing: documents stream in doc_id
    // order per language and fill fixed 512-token context windows; a
    // doc's bin = exclusive-prefix-sum(tokens) div 512. One window per
    // language partition (parallel across languages — at 100 TB the
    // packing key would be (lang, shard)), then a bounded-key aggregate
    // per bin. The per-bin fill stats are what a pretraining data loader
    // needs to size batches.
    "q_pack_sequences" -> { (s, dir) =>
      import s.implicits._
      val ctx = 512
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      load(s, dir, "documents")
        .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("n_toks"))
        .withColumn("pre_sum", coalesce(sum($"n_toks").over(w), lit(0L)))
        .withColumn("bin", ($"pre_sum" / ctx).cast("long"))
        .groupBy($"lang", $"bin")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_toks").as("tokens_in_bin"),
          (sum($"n_toks") * 1.0 / ctx).as("fill_ratio"))
        .orderBy($"lang", $"bin")
    },

    // Eval-set contamination check: does any training doc share a
    // 3-token shingle with the held-out eval set? (Shingle width is the
    // sensitivity knob — real pipelines run 8-13 on natural text; this
    // corpus has randomized word order, so a conservative width keeps the
    // check meaningful.) Eval is small by
    // construction → its distinct shingles BROADCAST; the train side is
    // one narrow explode + broadcast semi-ish join + per-doc aggregate.
    // Linear in corpus size; at 100 TB the eval shingle set is the only
    // state shipped to executors. (Eval here = doc_id % 97 == 0, a
    // deterministic stand-in for an external eval file.)
    "q_contamination" -> { (s, dir) =>
      import s.implicits._
      val base = docsWide(s, dir)
        .select($"doc_id", split($"text", " ").as("t"))
      val evalGrams = base.where($"doc_id" % 97 === 0)
        .select(explode(shingles3).as("gram")).distinct()
      base.where($"doc_id" % 97 =!= 0)
        .select($"doc_id", explode(shingles3).as("gram"))
        .join(broadcast(evalGrams), Seq("gram"))
        .groupBy($"doc_id")
        .agg(countDistinct($"gram").as("n_shared_grams"))
        .orderBy(desc("n_shared_grams"), $"doc_id")
        .limit(100)
    },

    // Token counting, whitespace vs BPE-ish pre-tokenization (letter /
    // digit / symbol runs — the GPT-2 pre-tokenizer shape without byte
    // fallback). The corpus has no punctuation, so the query first
    // synthesizes some deterministically (", " before each "the") —
    // the two counts then genuinely diverge wherever punctuation lands.
    // Narrow map; regexp_extract_all is codegen'd.
    "q_token_regex" -> { (s, dir) =>
      import s.implicits._
      val punct = regexp_replace($"text", " the ", ", the ")
      load(s, dir, "documents")
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(punct,
            lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"), lit(0)))
            .cast("long").as("n_regex_tokens"))
        .withColumn("differs", $"n_regex_tokens" =!= $"n_ws_tokens")
        .orderBy($"doc_id")
    },

    // The preprocessing funnel end-to-end: raw corpus → quality filter
    // (length + lexical-diversity rules) → exact dedup by token set →
    // train-split selection, reporting doc/token retention per stage —
    // the one number sheet a training-data pipeline owner reads daily.
    // Composes the individually-verified operators in their production
    // order; every stage is a narrow filter or a keyed aggregate.
    "q_data_funnel" -> { (s, dir) =>
      import s.implicits._
      val d = Pin(load(s, dir, "documents") // four stage aggregates read this narrow frame
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id",
          size($"t").cast("long").as("n_tokens"),
          size(array_distinct($"t")).cast("long").as("n_uniq"),
          md5(array_join(array_sort(array_distinct($"t")), " ")).as("set_key"),
          splitDigit.as("h")))
      val quality = d.where($"n_tokens" >= 30 && $"n_uniq" * 4 >= $"n_tokens")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("set_key").orderBy("doc_id")
      val deduped = quality.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      val train = deduped.where(inTrain($"h"))
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("tokens_sum"))
          .withColumn("stage", lit(name))
      stage("1_raw", d)
        .unionByName(stage("2_quality", quality))
        .unionByName(stage("3_dedup", deduped))
        .unionByName(stage("4_train", train))
        .crossJoin(broadcast(d.agg(count(lit(1)).as("raw_n"))))
        .select($"stage", $"n_docs", $"tokens_sum",
          ($"n_docs" * 100.0 / $"raw_n").as("retention_pct"))
        .orderBy($"stage")
    },

    // Intra-document repetition (a Gopher-style quality rule): the share
    // of a doc's 3-token shingles that are duplicates of an earlier
    // shingle in the same doc. Pure narrow map over the staged token
    // array — no shuffle, no explode; repeated-content docs are what a
    // pretraining quality filter drops first.
    "q_repetition" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("t"))
        .select($"doc_id", shingles3.as("grams"))
        .select($"doc_id",
          size($"grams").cast("long").as("n_grams"),
          size(array_distinct($"grams")).cast("long").as("n_distinct"))
        .withColumn("rep_ratio",
          when($"n_grams" > 0, ($"n_grams" - $"n_distinct") * 1.0 / $"n_grams")
            .otherwise(0.0))
        .withColumn("has_repetition", $"n_distinct" < $"n_grams")
        .orderBy($"doc_id")
    },

    // Heavy-hitter token frequencies via the NATIVE Misra-Gries
    // aggregate (functions.HeavyHitters, a TypedImperativeAggregate —
    // the one-pass, k-counters-per-partial answer to "top tokens"
    // where exact counting shuffles every distinct token of a 100-TB
    // vocabulary). The sketch buffer is arrival-order-dependent, so
    // the gate pins its ORDER-INDEPENDENT guarantees as booleans
    // against in-query exact counts (ANN-recall contract style): every
    // token with true count > N/(k+1) per lang must be captured,
    // under-estimated, and within the N/(k+1) bound — all in integer
    // arithmetic, no division. HeavyHittersSpec pins the lossy regime
    // (k ≪ vocab, adversarial interleave) where the oracle can't.
    "q_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val k = 64
      val toks = load(s, dir, "documents")
        .select($"lang", explode(split($"text", " ")).as("tok"))
        .where(length($"tok") > 0)
      val totals = toks.groupBy($"lang").agg(count(lit(1)).as("n_l"))
      val exact = toks.groupBy($"lang", $"tok").agg(count(lit(1)).as("n_tok"))
      val sk = toks.groupBy($"lang")
        .agg(graft.functions.HeavyHitters($"tok", k).as("hh"))
        .select($"lang", explode($"hh").as(Seq("tok", "est")))
      exact.join(totals, "lang")
        .where($"n_tok" * (k + 1) > $"n_l")
        .join(sk, Seq("lang", "tok"), "left")
        .select($"lang", $"tok", $"n_tok",
          $"est".isNotNull.as("captured"),
          ($"est" <= $"n_tok").as("under_est"),
          (($"n_tok" - $"est") * (k + 1) <= $"n_l").as("within_bound"))
        .orderBy($"lang", $"tok")
    },

    // Vocabulary building — the tokenizer-training precursor: global
    // token counts, top-100 with a deterministic (count DESC, token ASC)
    // tiebreak so the cut is stable cross-engine. Classic wordcount shape:
    // explode → hash-partitioned count with map-side partial aggregation,
    // then TakeOrdered for the bounded head — no global sort of the
    // vocabulary, which at 100 TB is the difference between a top-k
    // heap per partition and shuffling every distinct token.
    "q_vocab" -> { (s, dir) =>
      import s.implicits._
      load(s, dir, "documents")
        .select(explode(split($"text", " ")).as("token"))
        .groupBy($"token")
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(desc("n_occurrences"), $"token")
        .limit(100)
    },

    // Corpus mixing — deterministic weighted sampling per source (the
    // "data recipe" step of a pretraining pipeline): each source gets a
    // retention weight from its tier (full / half / quarter / 10%), and a
    // doc survives iff the first 3 hex digits of md5(seed || doc_id)
    // fall under the weight's threshold. Lexicographic hex compare ==
    // numeric compare, so the SAME docs survive on any engine — no RNG,
    // no partition dependence. Pure narrow map + bounded-key report.
    "q_sample_mix" -> { (s, dir) =>
      import s.implicits._
      val h3 = substring(md5(concat(lit("graft-mix-v1:"), $"doc_id".cast("string"))), 1, 3)
      val tier = regexp_extract($"source", "(\\d+)", 1).cast("int") % 4
      val keep = when(tier === 0, lit(true))
        .when(tier === 1, h3 < "800")  // 2048/4096 = 0.5
        .when(tier === 2, h3 < "400")  // 1024/4096 = 0.25
        .otherwise(h3 < "19a")         //  410/4096 ≈ 0.1
      load(s, dir, "documents")
        .withColumn("kept", keep)
        .withColumn("n_toks", size(split($"text", " ")).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          (sum(when($"kept", 1L).otherwise(0L)) * 100.0 / count(lit(1))).as("kept_pct"),
          sum(when($"kept", $"n_toks").otherwise(0L)).as("tokens_kept"))
        .orderBy($"source")
    },

    // Stratified EXACT-N sampling per (lang, source) stratum — the
    // per-source cap step of a data recipe (rate samplers like
    // q_sample_mix can't promise "at most N docs from source X").
    // Selection order is md5(seed || doc_id): deterministic, unbiased
    // within the stratum, identical on any engine. Scale: the rank
    // filter rk <= N lets Spark plan a WindowGroupLimit — each task
    // keeps a local top-N heap per group BEFORE the full sort, so the
    // shuffle carries ~N·strata rows, not the corpus (PlanSpec pins the
    // operator).
    "q_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ord = md5(concat(lit("graft-strat-v1:"), $"doc_id".cast("string")))
      val w = Window.partitionBy($"lang", $"source").orderBy(ord, $"doc_id")
      load(s, dir, "documents")
        .withColumn("rk", row_number().over(w).cast("long"))
        .where($"rk" <= 20)
        .select($"doc_id", $"lang", $"source", $"rk")
        .orderBy($"lang", $"source", $"rk")
    },

    // Temperature-based corpus mixing (the T5/PaLM α-mixing scheme,
    // beyond q_sample_mix's fixed tier rates): per-source keep-rate
    // r_i = sqrt(n_min / n_i) (α = 0.5 — the smallest source keeps
    // everything, larger sources keep a sqrt-damped fraction, flattening
    // the mixture toward uniform). Rates derive from one tiny per-source
    // count aggregate (source cardinality — the global-min window runs
    // over THAT frame, whitelisted in PlanSpec); the keep decision is
    // the same deterministic md5-threshold used by every sampler here,
    // compared in hex-string space (floor(r·16⁶) → 6-char lowercase hex)
    // so neither engine parses hex to int. Broadcast-joined back to the
    // corpus: one narrow pass over docs, no corpus-wide shuffle.
    "q_temperature_mix" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
        .withColumn("n_toks", size(split($"text", " ")).cast("long"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
      val rates = docs.groupBy($"source").agg(count(lit(1)).as("n_src"))
        .withColumn("rate",
          sqrt(min($"n_src").over(w).cast("double") / $"n_src"))
        .withColumn("thr", lpad(lower(hex(
          floor($"rate" * 16777216L).cast("long"))), 6, "0"))
      docs.join(broadcast(rates), Seq("source"))
        .withColumn("kept", $"rate" >= 1.0 ||
          substring(md5(concat(lit("graft-temp-v1:"),
            $"doc_id".cast("string"))), 1, 6) < $"thr")
        .groupBy($"source", $"n_src", $"rate")
        .agg(sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_toks").otherwise(0L)).as("tokens_kept"))
        .select($"source", $"n_src".as("n_total"), $"rate",
          $"n_kept", $"tokens_kept")
        .orderBy($"source")
    },

    // Document chunking for embedding/RAG and training windows: fixed
    // 64-token chunks on a 48-token stride (16-token overlap), one row
    // per (doc, chunk). Pure narrow map: explode(sequence) with a
    // bounded factor n_toks/stride, array slice, no shuffle until the
    // presentation sort. Chunk text is pinned by md5 rather than
    // emitted (the oracle must rebuild byte-identical chunks to match).
    "q_chunk_text" -> { (s, dir) =>
      import s.implicits._
      val (size_, stride) = (64, 48)
      load(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .withColumn("n_toks", size($"toks").cast("long"))
        .withColumn("chunk_idx", explode(sequence(
          lit(0L), floor(($"n_toks" - 1) / stride).cast("long"))))
        .withColumn("chunk",
          slice($"toks", ($"chunk_idx" * stride + 1).cast("int"), lit(size_)))
        .select($"doc_id", $"chunk_idx",
          size($"chunk").cast("long").as("n_chunk_toks"),
          md5(array_join($"chunk", " ")).as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // PII scrubbing — regex masking of emails/phones with per-doc audit
    // counts. The corpus carries no PII, so the query plants it
    // deterministically first (doc_id % 3 → an email, doc_id % 5 → a
    // phone) and then must (a) count exactly what it planted and
    // (b) produce residue-free text. Narrow map; both regexes stay in
    // the portable intersection of Java regex and RE2.
    "q_pii_scrub" -> { (s, dir) =>
      import s.implicits._
      val email = "[a-z0-9]+@[a-z0-9.]+"
      val phone = "010-[0-9]{4}"
      val planted = concat($"text",
        when($"doc_id" % 3 === 0,
          concat(lit(" contact u"), $"doc_id", lit("@mail.example"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0,
          concat(lit(" tel 010-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      val scrubbed = regexp_replace(regexp_replace(planted, email, "[EMAIL]"),
        phone, "[PHONE]")
      load(s, dir, "documents")
        .select($"doc_id",
          size(regexp_extract_all(planted, lit(email), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(planted, lit(phone), lit(0))).cast("long").as("n_phones"),
          (size(regexp_extract_all(scrubbed, lit(email), lit(0))) === 0 &&
            size(regexp_extract_all(scrubbed, lit(phone), lit(0))) === 0).as("clean_after"),
          length(scrubbed).cast("long").as("scrubbed_len"))
        .orderBy($"doc_id")
    },

    // TF-IDF-style distinctiveness: per-(doc, token) term frequency ×
    // corpus-level inverse document frequency, top-3 tokens per doc with
    // a deterministic tiebreak. The score uses the RATIO form
    // tf · N / df — an exact small-integer ratio, so both engines compute
    // bit-identical doubles (the classic ln() weighting is a one-line
    // swap but transcendental libm results differ in the last ulp across
    // engines, which a hash gate cannot tolerate; the plan shape —
    // explode → tf/df aggregates → broadcast scalar N → per-doc top-k
    // window — is identical either way and is what scales).
    "q_tfidf" -> { (s, dir) =>
      import s.implicits._
      val (_, tfdf) = termFreqs(s, dir)
      val n = load(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score"), $"token")
      tfdf
        .crossJoin(broadcast(n))
        .withColumn("score", $"tf" * $"n_docs" * 1.0 / $"df")
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 3)
        .select($"doc_id", $"token", $"tf", $"df", $"score", $"rn".cast("long").as("rank"))
        .orderBy($"doc_id", $"rank")
    },

    // Okapi BM25 (k1=1.2, b=0.75), top-3 tokens per doc. Same plan
    // shape as q_tfidf (explode → tf/df/dl aggregates → broadcast 1-row
    // corpus scalars → per-doc top-k window), extended with the
    // length-normalized saturation term. Cross-engine exactness: the
    // classic ln IDF is transcendental (libm last-ulp divergence kills a
    // hash gate), so the IDF keeps the RATIO form
    // (N−df+0.5)/(df+0.5) = (2N−2df+1)/(2df+1) — exact integers in, one
    // IEEE division. The saturation term multiplies through by 10 so
    // k1/b become integers: tf·(k1+1)/(tf + k1(1−b) + k1·b·dl/avgdl)
    // = 22·tf / (10·tf + 3 + 9·(dl·N/S)), with avgdl = S/N. Every
    // intermediate is an int64-exact product (dl·N ≤ ~1e15 even at
    // 10^10 docs × 10^5 tokens — no multiply-through-by-S overflow, the
    // DSIR lesson) and every double op appears in the identical order in
    // the DuckDB oracle, so scores are bit-identical.
    "q_bm25" -> { (s, dir) =>
      import s.implicits._
      val (tf, tfdf) = termFreqs(s, dir)
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val scalars = tf.agg(countDistinct($"doc_id").as("n_docs"),
        sum($"tf").as("s_tok"))
      val r = ($"dl" * $"n_docs").cast("double") / $"s_tok".cast("double")
      val den = (lit(10L) * $"tf" + lit(3L)).cast("double") + lit(9.0) * r
      val idf = (lit(2L) * $"n_docs" - lit(2L) * $"df" + lit(1L)).cast("double") /
        (lit(2L) * $"df" + lit(1L)).cast("double")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score"), $"token")
      tfdf
        .join(dl, "doc_id")
        .crossJoin(broadcast(scalars))
        .withColumn("score", idf * ((lit(22L) * $"tf").cast("double") / den))
        .withColumn("rn", row_number().over(w))
        .where($"rn" <= 3)
        .select($"doc_id", $"token", $"tf", $"df", $"dl", $"score",
          $"rn".cast("long").as("rank"))
        .orderBy($"doc_id", $"rank")
    },

    // SimHash locality contract: fingerprint the WHOLE corpus (16-bit
    // per-bit majority vote over token hashes), then assert the locality
    // property that makes SimHash useful — near-identical docs (exact
    // unigram Jaccard ≥ 0.9, checked on the linear adjacent-id pair set)
    // have fingerprints within HammingBound bits. The pair set + jac are
    // DuckDB-computable; the boolean is the cross-engine contract (the
    // q_approx_dau pattern).
    "q_simhash" -> { (s, dir) =>
      import s.implicits._
      val docs = docsWide(s, dir)
      val fps = simhashFingerprints(docs)
      val t = docs.select($"doc_id", toks($"text").as("toks"))
      val a = t.alias("a"); val b = t.alias("b")
      val adj = a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
        .withColumn("inter", size(array_intersect(col("a.toks"), col("b.toks"))).cast("long"))
        .withColumn("jac", $"inter" * 1.0 /
          (size(col("a.toks")).cast("long") + size(col("b.toks")).cast("long") - $"inter"))
        .where($"jac" >= 0.9)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), $"jac")
      // fingerprint lookups are CORPUS cardinality (one 16-byte row per
      // doc): same count gate as the minhash rep tables — broadcast only
      // small corpora, else shuffle on the pair ids (the parquet count
      // is metadata-cheap)
      val nDocs = docs.count()
      adj
        .join(gateBroadcast(fps.select($"doc_id".as("doc_a"), $"simhash".as("fp_a")),
          nDocs, BroadcastSetLimit), "doc_a")
        .join(gateBroadcast(fps.select($"doc_id".as("doc_b"), $"simhash".as("fp_b")),
          nDocs, BroadcastSetLimit), "doc_b")
        .select($"doc_a", $"doc_b", $"jac",
          (bit_count($"fp_a".bitwiseXOR($"fp_b")) <= HammingBound).as("hamming_ok"))
        .orderBy($"doc_a", $"doc_b")
    },

    // Char-trigram language ID, Cavnar–Trenkle rank profiles: train a
    // top-K trigram profile per language on the md5-designated train
    // split (same engine-independent routing as q_split_hash), weight
    // each profile trigram by rank (top gram = K … Kth gram = 1, so
    // every language's profile carries the same total mass — raw corpus
    // frequencies would just elect the biggest training language), then
    // classify every document by the rank-weight sum of its distinct
    // trigrams with deterministic tie-breaks (score desc, lang asc;
    // gram-free docs fall out as 'und'). All-integer math end to end —
    // no float divergence between engines. Scale: profile training
    // shuffles on (lang, gram) with map-side partials over the train
    // SAMPLE only; the profile is bounded by construction (#langs × K
    // rows — broadcast is safe at any corpus size, unlike the
    // count-gated corpus-cardinality tables above); classification is
    // one narrow trigram explode + broadcast join + a doc_id-keyed
    // argmax shuffle. On this synthetic same-vocab corpus the
    // PREDICTIONS are noise by design — the gate pins the pipeline's
    // determinism, not model accuracy. Trigram extraction is the fused
    // native CharNGrams expression (one pass, stays in codegen) — the
    // composed array_distinct/transform/substr chain ran both scans
    // through the HOF interpreter and dominated the query
    // (CharNGramsSpec pins set-parity with the composed form).
    "q_lang_id" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val profK = 200
      val docs = docsWide(s, dir)
      val grams = docs
        .where(length($"text") >= 3)
        .select($"doc_id", $"lang",
          explode(graft.functions.CharNGrams($"text", 3)).as("gram"))
      val profile = grams
        .where(inTrain(splitDigit))
        .groupBy($"lang".as("plang"), $"gram")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"plang").orderBy($"cnt".desc, $"gram")))
        .where($"rn" <= profK)
        .select($"plang", $"gram", (lit(profK + 1) - $"rn").cast("long").as("w"))
      val best = grams.join(broadcast(profile), "gram")
        .groupBy($"doc_id", $"plang")
        .agg(sum($"w").as("score"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score".desc, $"plang")))
        .where($"rn" === 1)
      docs.select($"doc_id", $"lang")
        .join(best.select($"doc_id", $"plang", $"score"), Seq("doc_id"), "left")
        .select($"doc_id", $"lang",
          coalesce($"plang", lit("und")).as("pred_lang"),
          coalesce($"score", lit(0L)).as("score"))
        .orderBy($"doc_id")
    },

    // Winnowing document fingerprints (the MOSS rolling-hash scheme,
    // Schleimer/Wilkerson/Aiken 2003): hash every char 8-gram, keep the
    // minimum hash of each 16-gram window — any shared substring of
    // length ≥ k+w-1 = 23 chars is GUARANTEED to surface as a shared
    // fingerprint, which is what token-set methods (MinHash/Jaccard
    // above) structurally cannot promise. Hashes live in md5-hex STRING
    // space so the window minimum is a lexicographic compare — the one
    // total order both engines implement identically (same trick as the
    // md5-threshold sampling in q_sample_mix). Per-doc selection is the
    // fused native `WinnowFingerprints` expression — one O(L) pass with
    // a monotonic-deque window minimum over raw digests (unsigned byte
    // order == hex lexicographic order), bit-identical to the
    // composed md5/transform/slice/array_min chain it replaced
    // (WinnowFingerprintsSpec pins the equality; the HOF chain walked
    // the interpreter at O(L·w) and was the slowest registry entry).
    // The only shuffles are the fingerprint-keyed share count and the
    // doc_id re-aggregation — both linear in selected fingerprints
    // (~2/(w+1) of gram count in expectation). On this synthetic
    // small-vocab corpus nearly every doc shares some 8-gram, so the
    // dup flag saturating true is a data artifact; n_shared/n_fp
    // carries the real per-doc signal.
    "q_winnow_fp" -> { (s, dir) =>
      import s.implicits._
      val k = 8; val w = 16
      val fps = docsWide(s, dir)
        .where(length($"text") >= k + w - 1)
        .select($"doc_id", explode(
          graft.functions.WinnowFingerprints($"text", k, w)).as("fp"))
      dupCounts(fps, "fp")
        .select($"doc_id", $"n".as("n_fp"), $"n_dup".as("n_shared"),
          ($"n_dup" * 2 >= $"n").as("substring_dup"))
        .orderBy($"doc_id")
    },

    // NORMALIZED ("fuzzy-exact") dedup — the CCNet/RefinedWeb pass that
    // exact digest dedup misses: lowercase, strip every non-[a-z0-9 ]
    // rune, collapse whitespace, THEN digest. Two fetches of the same
    // page that differ only in case/punctuation/formatting collapse to
    // one normalized group; the keep decision is "globally-first doc_id
    // per group". Non-vacuity is engineered: re-serialized variants
    // (uppercased + trailing punctuation, fresh ids) of every 7th doc
    // are unioned in — they MUST land in their source's group. Scale:
    // the normalization is a narrow map; grouping + the merge-back join
    // both key on the 128-bit digest with map-side partial aggregation —
    // identical shape (and cost) to exact dedup, no extra shuffle.
    "q_norm_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = normCorpus(s, dir)
      val groups = docs.groupBy($"digest")
        .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("group_n"))
      docs.join(groups, "digest")
        .select($"doc_id", $"rep_id", $"group_n",
          ($"doc_id" === $"rep_id").as("kept"))
        .orderBy($"doc_id")
    },

    // SKIP-GRAM pair generation — the word2vec/GloVe training-pair
    // extraction: (center, context) co-occurrence counts within a ±2
    // window. Contexts come from four shifted copies of the token
    // stream (lag/lead over the doc-keyed position order — a narrow
    // window, NOT a positions self-join), counted with map-side
    // partials, top-100 via TakeOrdered with the (count DESC, pair
    // ASC) deterministic cut. The corpus-linear shape an embedding
    // pretraining pipeline runs at 100 TB.
    "q_skipgram_pairs" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      load(s, dir, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "center")))
        // windows can't live inside a generator — materialize the four
        // shifts, then explode
        .withColumn("l2", lag($"center", 2).over(w))
        .withColumn("l1", lag($"center", 1).over(w))
        .withColumn("r1", lead($"center", 1).over(w))
        .withColumn("r2", lead($"center", 2).over(w))
        .withColumn("ctx", explode(array($"l2", $"l1", $"r1", $"r2")))
        .where($"ctx".isNotNull)
        .groupBy($"center", $"ctx")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), $"center", $"ctx")
        .limit(100)
    },

    // N-gram DIVERSITY metrics — distinct-1/distinct-2 (type-token
    // ratio and its bigram analogue), the standard lexical-diversity
    // account complementing q_repetition's repeated-shingle ratio: low
    // distinct-n flags TEMPLATED text (boilerplate, generation loops)
    // that the shingle test can miss. Per-doc narrow map: bigrams via
    // a doc-keyed lag window, exact distinct counts, two exact-int
    // ratio divisions.
    "q_ngram_diversity" -> { (s, dir) =>
      import s.implicits._
      val tok = load(s, dir, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      tok
        .withColumn("prev", lag($"token", 1).over(w))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct($"token").as("d1"),
          count($"prev").as("n_bigrams"),
          countDistinct(when($"prev".isNotNull,
            concat($"prev", lit(" "), $"token"))).as("d2"))
        .withColumn("distinct1", $"d1".cast("double") / $"n_tokens")
        .withColumn("distinct2",
          when($"n_bigrams" > 0, $"d2".cast("double") / $"n_bigrams"))
        .orderBy($"doc_id")
    },

    // Canonical selection — keep the BEST duplicate, not the first: the
    // same normalized groups as q_norm_dedup, but the keeper is the
    // group's argmax by a quality key (here raw length DESC — the
    // re-serialized variants are strictly longer than their sources, so
    // this provably picks a DIFFERENT keeper than min-id in every
    // planted group; production swaps the length key for
    // q_quality_score / q_quality_classifier output through the same
    // window). One row_number per digest group — identical shuffle
    // shape (and cost) to the min-id form.
    "q_keep_best" -> { (s, dir) =>
      import s.implicits._
      val docs = normCorpus(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"digest").orderBy(length($"text").desc, $"doc_id")
      docs
        .withColumn("rk", row_number().over(w))
        .withColumn("keeper_id", first($"doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"digest")
            .orderBy(length($"text").desc, $"doc_id")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.unboundedFollowing)))
        .withColumn("group_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"digest")))
        .select($"doc_id", $"keeper_id", $"group_n", ($"rk" === 1).as("kept"))
        .orderBy($"doc_id")
    },

    // Quality-WEIGHTED sampling — per-doc keep probability proportional
    // to a quality proxy (here length: w = min(1, n_chars/400)), decided
    // by comparing a deterministic md5-derived uniform against w. The
    // uniform is the first 13 hex digits of md5(seed || doc_id) read as
    // an integer over 2^52 — both engines compute the identical IEEE
    // double (every value < 2^52 is exactly representable, the divisor
    // is a power of two), so the survivor set is bit-identical
    // cross-engine with no RNG and no partition dependence. Pure narrow
    // map + bounded-key report; composes with q_sample_mix's tier rates
    // and q_temperature_mix's α-flattening as the third sampler of a
    // data recipe.
    "q_weighted_sample" -> { (s, dir) =>
      import s.implicits._
      val u = conv(substring(
          md5(concat(lit("graft-wt-v1:"), $"doc_id".cast("string"))), 1, 13),
          16, 10).cast("long").cast("double") / 4503599627370496.0
      val w = least(lit(1.0), $"n_chars".cast("double") / 400.0)
      load(s, dir, "documents")
        .withColumn("kept", u < w)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_chars").otherwise(0L)).as("chars_kept"))
        .orderBy($"source")
    },

    // EXACT cross-document substring duplication (the measurement pass
    // of Lee et al. 2021's "Deduplicating Training Data Makes Language
    // Models Better" — q_winnow_fp is the sampled/fingerprint twin;
    // this is the exact per-position account): every char 40-gram of
    // every doc of [[excerptCorpus]] (the planted excerpts make it
    // non-vacuous), counted across DISTINCT docs; a doc's dup_ratio is
    // the fraction of its positions whose 40-gram also appears in some
    // OTHER doc. Scale: gram explosion is a narrow map over digests
    // ([[gramRows]]); the only shuffles key on gram digest with map-side
    // partial aggs — never doc×doc. At 100 TB the same plan runs on a
    // sample of positions (q_substring_dup_sampled); mod 1 is the exact
    // variant the oracle can check.
    "q_substring_dup" -> { (s, dir) =>
      import s.implicits._
      dupCounts(gramRows(excerptCorpus(s, dir), 1), "g")
        .select($"doc_id", $"n".as("n_grams"), $"n_dup",
          ($"n_dup" * 1.0 / $"n").as("dup_ratio"))
        .orderBy($"doc_id")
    },

    // Duplicate-span EXCISION accounting — the surgery step of Lee et
    // al. 2021 (their pipeline REMOVES the duplicated spans, not just
    // measures them): per doc, flagged-position count, islands, covered
    // chars, and the post-excision length — the number a curation run
    // budgets against. The exact (mod 1) [[substringStrip]]; shares the
    // gram-digest shuffle shape and the planted excerpts with
    // q_substring_dup.
    "q_substring_strip" -> { (s, dir) => substringStrip(s, dir, 1) },

    // SAMPLED substring duplication — the 100-TB variant of
    // q_substring_dup: mod-p sampling on the GRAM DIGEST
    // (keep a position iff digest ≡ 0 mod [[SubstringSampleMod]]).
    // Content-defined, so the SAME 40-gram text is kept or dropped
    // identically in every document regardless of offset — a shared
    // span of L chars carries ~(L-39)/p sampled grams, so real
    // duplicated spans (the 200-char planted excerpts hold ~161 grams →
    // miss probability (1-1/p)^161 ≈ 5e-10) survive while the
    // gram-keyed shuffle and distinct-doc aggregate shrink by ~p×. No
    // false positives by construction: every kept gram is a real gram,
    // so sampled-flagged docs ⊆ exact-flagged docs — the containment +
    // recall contract vs the exact op is pinned in TextVectorSpec; the
    // oracle here recomputes the sampled pass exactly (the sampling key
    // is the md5 digest both engines already agree on).
    "q_substring_dup_sampled" -> { (s, dir) =>
      import s.implicits._
      val docs = excerptCorpus(s, dir)
      val perDoc = dupCounts(gramRows(docs, SubstringSampleMod), "g")
      // docs whose sampled positions all missed still appear, unflagged —
      // full-corpus coverage keeps the containment contract two-sided
      docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n", lit(0L)).as("n_kept"),
          coalesce($"n_dup", lit(0L)).as("n_dup_kept"),
          (coalesce($"n_dup", lit(0L)) >= 1L).as("has_dup"))
        .orderBy($"doc_id")
    },

    // SAMPLED excision accounting — [[substringStrip]] over the
    // mod-[[SubstringSampleMod]] digest-sampled gram positions, with the
    // SAME gap-K island threshold as the exact op.
    // Keeping the threshold at K (not widening by the expected sampling
    // stride) is what makes the containment contract PROVABLE: sampled
    // flagged positions are a subset of exact flagged positions
    // (content-defined sampling — a kept gram is kept in every doc, so
    // its distinct-doc count is unchanged), and any two sampled
    // positions within gap K belong to the same exact island, so every
    // sampled island's interval nests inside one exact island's —
    // per-doc covered_chars/n_flagged are each ≤ the exact op's, never
    // >. The price is recall at span EDGES (~p/2 chars before the first
    // kept gram) and the occasional intra-span gap > K ((1−1/p)^K ≈ 0.5%
    // per position) splitting one island — TextVectorSpec pins
    // containment exactly and ≥80% covered-chars recall on the planted
    // 200-char excerpt docs. The gram-keyed shuffle and the doc-keyed
    // window both shrink ~p×; at 100 TB this is the variant that runs
    // (the exact op is the oracle-checkable anchor).
    "q_substring_strip_sampled" -> { (s, dir) => substringStrip(s, dir, SubstringSampleMod) },

    // Unigram-LM quality scoring — the integer-deterministic twin of the
    // CCNet/Wikipedia-LM perplexity filter: train unigram counts on the
    // md5 train split (same routing as q_split_hash), then score every
    // doc's per-token SURPRISE quantized to whole bits — surprise(t) =
    // bitlen(N) - bitlen(c_t) ≈ log2(N/c_t), where bitlen is the binary-
    // digit count (length(bin(x))), an exact integer on both engines —
    // no libm, no float-sum order dependence. OOV tokens (never seen in
    // train) take the max surprise bitlen(N); non-vacuity is engineered
    // by planting a unique token on each HELD-OUT doc (train docs are
    // untouched, so the plants are OOV by construction). mean_surprise
    // is one exact-int division at the end. Scale: wordcount-shaped
    // count + a token-keyed shuffled join (vocab never broadcasts —
    // at 100 TB it's billions of types) + doc-keyed partial agg; the
    // 1-row N frame is the only broadcast.
    "q_unigram_lm" -> { (s, dir) =>
      import s.implicits._
      val tok = heldOutPlanted(s, dir, " zzq").select($"doc_id", $"is_train",
        explode(split($"text", " ")).as("token"))
      val counts = tok.where($"is_train").groupBy($"token").agg(count(lit(1)).as("c"))
      val nTrain = counts.agg(sum($"c").as("n_train"))
      tok.join(counts, Seq("token"), "left").crossJoin(nTrain)
        .withColumn("surprise",
          length(bin($"n_train")) - when($"c".isNull, 0).otherwise(length(bin($"c"))))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(when($"c".isNull, 1L).otherwise(0L)).as("oov_n"),
          sum($"surprise").cast("long").as("surp_sum"))
        .withColumn("mean_surprise", $"surp_sum".cast("double") / $"n_toks")
        .orderBy($"doc_id")
    },

    // BIGRAM-LM quality scoring with unigram backoff — the CCNet-style
    // upgrade of q_unigram_lm (real perplexity filters are n-gram LMs,
    // not unigram): per adjacent token pair, CONDITIONAL surprise
    // bitlen(c(w1)) − bitlen(c(w1,w2)) ≈ log2(c1/c12) when the bigram
    // was seen in train, else a Katz-shaped backoff to the unigram
    // surprise bitlen(N) − bitlen(c(w2)) plus a 2-bit backoff penalty
    // (OOV w2 takes the max surprise bitlen(N)). Every term is an exact
    // integer via length(bin(x)) — no libm, no float-sum order
    // dependence — so the score is bit-identical cross-engine. Planted
    // unique tokens on HELD-OUT docs exercise the OOV backoff branch.
    // Scale: doc-keyed lag window for adjacency, wordcount-shaped
    // unigram/bigram counts, token- and bigram-keyed shuffled joins
    // (vocab and bigram tables never broadcast — billions of types at
    // 100 TB), one 1-row N broadcast, doc-keyed partial agg.
    "q_bigram_lm" -> { (s, dir) =>
      bigramSurprise(s, dir).orderBy(col("doc_id"))
    },

    // CCNet-STYLE PERPLEXITY BUCKETING (Wenzek et al. 2020) — the step
    // after LM scoring that the CommonCrawl pipelines actually ship:
    // per LANGUAGE, rank documents by LM perplexity and cut the corpus
    // into head / middle / tail terciles (head = lowest perplexity =
    // Wikipedia-like; tail = the candidate discard set). Scoring is the
    // q_bigram_lm integer-bitlen chain verbatim (one shared builder —
    // bigramSurprise); the bucketing is an ntile(3) over a
    // LANG-partitioned window with the deterministic
    // (mean_surprise, doc_id) tie order. mean_surprise is one division
    // of exact ints, so equality and order are bit-identical
    // cross-engine; the window partitions at language cardinality,
    // never globally; ntile's equal-split semantics (first
    // n mod 3 tiles one row larger) match across engines.
    "q_ppl_buckets" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"mean_surprise", $"doc_id")
      bigramSurprise(s, dir)
        .join(load(s, dir, "documents").select($"doc_id", $"lang"), Seq("doc_id"))
        .withColumn("tertile", ntile(3).over(w))
        .select($"doc_id", $"lang", $"n_bigrams", $"surp_sum", $"mean_surprise",
          when($"tertile" === 1, "head").when($"tertile" === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
        .orderBy($"doc_id")
    },

    // DSIR — Data Selection with Importance Resampling (Xie et al.
    // 2023): score every document by how much more likely its HASHED
    // n-gram features are under a target-domain distribution than under
    // the raw-corpus distribution, then keep the top slice by weight.
    // Features are hashed unigrams — bucket = first 2 hex chars of
    // md5(token), 256 buckets; collisions are the method's POINT (the
    // feature space stays fixed-size however large the vocabulary, so
    // the per-bucket probability tables are broadcast-sized at ANY
    // corpus scale — the paper's reason hashed DSIR runs on full
    // CommonCrawl). Target distribution: the lang='en' slice (the
    // fixture's majority language, standing in for "trusted corpus");
    // source distribution: all documents. Per-token importance in
    // exact FIXED-POINT integer arithmetic (the bitlen whole-bit idiom
    // is too coarse here — the fixture's per-token likelihood ratios
    // sit within ±0.1 bit of 1, so whole-bit quantization collapses
    // every weight to 0):
    //   r_fp(b) = (c_tgt(b) · N_src · 4096) div (c_src(b) · N_tgt)
    // ≈ 4096 · p_tgt(b)/p_src(b), an exact integer (unseen-in-target
    // buckets take 0 = the max penalty); doc weight = Σ r_fp over
    // tokens and the selection score is the length-normalized
    // score_fp = (weight · 65536) div n_toks — all commutative exact
    // integer sums/divs, bit-identical cross-engine (a production run
    // swaps in double log-sums — same joins, same tables; the ratio
    // sum is the same top-slice intent at gate-exact precision).
    // The numerator c_tgt·N_src·4096 exceeds int64 once corpora reach
    // ~10^8 tokens with skewed buckets, and Spark's non-ANSI int64
    // wraps silently where DuckDB errors — so the ratio is computed in
    // 128-bit exact intermediates (Spark decimal(38,0), DuckDB
    // HUGEINT; both exact integers, same floor) and an empty target
    // corpus (N_tgt = 0, e.g. no 'en' docs) yields weight 0 on both
    // engines instead of Spark-null vs DuckDB division error.
    // Selection: the top ceil(N/4) docs by score — threshold = the
    // K-th largest score via TakeOrderedAndProject + a 1-row
    // broadcast min, ties kept inclusively on both engines (never a
    // global row_number window; K is a driver-side scalar count, the
    // A4 high-water idiom). Scale: tokenize → bucket is narrow; the
    // two probability tables are ≤256 rows (broadcast by
    // construction); one doc-keyed partial agg; the top-K threshold
    // is a bounded TakeOrdered, not a global sort.
    "q_dsir_weights" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
      val tok = docs.select($"doc_id",
          explode(split($"text", " ")).as("token"))
        .withColumn("bucket", substring(md5($"token"), 1, 2))
      val tgt = docs.where($"lang" === "en")
        .select(explode(split($"text", " ")).as("token"))
        .select(substring(md5($"token"), 1, 2).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("c_tgt"))
      val src = tok.groupBy($"bucket").agg(count(lit(1)).as("c_src"))
      val ns = src.agg(sum($"c_src").as("n_src"))
        .crossJoin(tgt.agg(sum($"c_tgt").as("n_tgt")))
      val scored = tok
        .join(broadcast(tgt), Seq("bucket"), "left")
        .join(broadcast(src), Seq("bucket"))
        .crossJoin(broadcast(ns))
        .withColumn("r_fp", expr(
          """case when n_tgt is null or n_tgt = 0 then 0L
            |else (cast(coalesce(c_tgt, 0L) as decimal(38,0)) * n_src * 4096)
            |     div (cast(c_src as decimal(38,0)) * n_tgt) end""".stripMargin))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum($"r_fp").cast("long").as("weight_fp"))
        .withColumn("score_fp", expr("(weight_fp * 65536L) div n_toks"))
      val k = math.ceil(docs.count() / 4.0).toInt
      val thr = scored.orderBy(desc("score_fp"), $"doc_id").limit(k)
        .agg(min($"score_fp").as("thr"))
      scored.crossJoin(broadcast(thr))
        .select($"doc_id", $"n_toks", $"weight_fp", $"score_fp",
          ($"score_fp" >= $"thr").as("selected"))
        .orderBy($"doc_id")
    },

    // PMI collocations — corpus-level phrase mining (the tokenizer-merge
    // / stop-phrase precursor): adjacent-token bigrams via lag() over the
    // per-doc position order, scored with the ratio form of pointwise
    // mutual information, score = c_xy·N / (c_x·c_y) ∝ exp(PMI) — every
    // factor an exact integer count, ONE double division at the end, so
    // ranking is bit-identical cross-engine (products stay far under
    // 2^53 at gate scale; at 100 TB the same plan runs over bigint
    // products or a count floor). Min support c_xy ≥ 3 kills noise
    // pairs. Scale: doc-keyed window for adjacency (never global),
    // wordcount aggregates, token-keyed joins of bigrams to the two
    // unigram marginals, bounded top-50 via TakeOrdered — the vocabulary
    // is never globally sorted.
    "q_collocations" -> { (s, dir) =>
      import s.implicits._
      val tok = load(s, dir, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "token")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val bi = tok.withColumn("prev", lag($"token", 1).over(w))
        .where($"prev".isNotNull)
        .groupBy($"prev".as("t1"), $"token".as("t2"))
        .agg(count(lit(1)).as("c_xy"))
        .where($"c_xy" >= 3)
      val uni = tok.groupBy($"token").agg(count(lit(1)).as("c"))
      val n = uni.agg(sum($"c").as("n_tok"))
      bi.join(uni.select($"token".as("t1"), $"c".as("c_x")), Seq("t1"))
        .join(uni.select($"token".as("t2"), $"c".as("c_y")), Seq("t2"))
        .crossJoin(n)
        .withColumn("score",
          ($"c_xy" * $"n_tok").cast("double") / ($"c_x" * $"c_y").cast("double"))
        .select($"t1", $"t2", $"c_xy", $"c_x", $"c_y", $"score")
        .orderBy(desc("score"), $"t1", $"t2")
        .limit(50)
    },

    // Repeat-factor epoch upsampling — the data-recipe step the samplers
    // (tier rates, α-temperature, quality weight) can't express: BOOSTING
    // an under-represented source to a target token budget by repeating
    // its docs. Budget = the largest source's token count; epochs_i =
    // ceil(budget/tokens_i) in exact integer arithmetic; docs replicate
    // via explode(sequence(1, epochs)) and the per-source md5 order's
    // running token total trims each source to the budget (first copy
    // whose cumulative total crosses the budget is the last kept, so
    // every source lands within one doc of the target). Scale: the
    // source→(epochs, budget) plan is source-cardinality (broadcast by
    // construction); replication is a narrow flatMap; the trim window
    // partitions by source — at extreme per-source cardinality the
    // production path swaps in Scale.bucketedRunningSum, same contract.
    "q_repeat_epochs" -> { (s, dir) =>
      import s.implicits._
      val docs = load(s, dir, "documents")
        .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("n_toks"))
      val src = docs.groupBy($"source").agg(sum($"n_toks").as("src_toks"))
      val budget = src.agg(max($"src_toks").as("budget"))
      val plan = src.crossJoin(budget)
        .withColumn("epochs", expr("(budget + src_toks - 1) div src_toks"))
      val copies = docs.join(broadcast(plan), Seq("source"))
        .select($"source", $"doc_id", $"n_toks", $"src_toks", $"budget", $"epochs",
          explode(sequence(lit(1L), $"epochs")).as("copy"))
        .withColumn("ok", md5(concat(lit("graft-epoch-v1:"),
          $"doc_id".cast("string"), lit(":"), $"copy".cast("string"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"ok", $"doc_id", $"copy")
      copies.withColumn("cum", sum($"n_toks").over(w))
        .withColumn("kept", $"cum" - $"n_toks" < $"budget")
        .groupBy($"source")
        .agg(max($"src_toks").as("src_toks"), max($"budget").as("budget"),
          max($"epochs").as("epochs"), count(lit(1)).as("n_copies"),
          sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"kept", $"n_toks").otherwise(0L)).as("toks_kept"))
        .orderBy($"source")
    },

    // BPE tokenizer training (merge induction) — the actual tokenizer-
    // training step q_vocab is only the precursor of (Sennrich et al.
    // 2016): start from per-word char-symbol sequences weighted by word
    // frequency; each round counts adjacent symbol pairs corpus-wide,
    // merges the argmax pair (count DESC, pair ASC tiebreak) everywhere
    // leftmost-non-overlapping, and repeats. Symbol sequences are
    // bracket-framed strings ("[d][u][p]") so the merge is ONE
    // codegen'd replace("[a][b]" → "[ab]") — adjacent matches share no
    // characters, which makes flat left-to-right replace exactly the
    // BPE merge rule on both engines. Each round is a vocab-cardinality
    // pair aggregate (never corpus-sized — BPE trains on the word
    // FREQUENCY table) plus a narrow map; the only driver data is the
    // 1-row argmax per round (the algorithm's sequential dependency),
    // same bounded pattern as the Lloyd quantizer. The oracle unrolls
    // the identical rounds as a DuckDB CTE chain.
    "q_bpe_merges" -> { (s, dir) =>
      import s.implicits._
      val (merges, _) = bpeInduceShared(s, dir)
      merges.orderBy($"rank")
    },

    // BPE tokenizer APPLICATION — the encode step completing the
    // tokenizer story (q_vocab → q_bpe_merges → here): the learned
    // merges applied to the whole corpus, reported per doc as word /
    // char / subword-unit counts and the resulting chars-per-unit
    // compression. Encoding is a vocab-cardinality map (each word TYPE
    // encodes once; docs join their tokens to the encoded vocab on the
    // token-keyed shuffle) — the corpus itself is never re-scanned per
    // merge round. cpu = one exact-int division.
    "q_bpe_encode" -> { (s, dir) =>
      import s.implicits._
      val (_, vocab) = bpeInduceShared(s, dir)
      val enc = vocab.select($"token".as("unit"),
        size(split(expr("substring(seq, 2, length(seq) - 2)"), "\\]\\["))
          .cast("long").as("n_units"))
      bpeChunks(s, dir)
        .join(enc, Seq("unit"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(length($"unit")).as("n_chars"),
          sum($"n_units").as("n_units"))
        .withColumn("cpu", $"n_chars".cast("double") / $"n_units")
        .orderBy($"doc_id")
    },

    // Hashed linear quality classifier — the fastText-style model-based
    // filter (GPT-3/LLaMA pipeline stage) as Spark plumbing with
    // deterministic stand-in weights: w(token) = md5-derived integer in
    // [-1000, 1000] computed INLINE from the token bytes (feature
    // hashing — no vocabulary table, no join, the property that lets a
    // linear scorer run as a pure narrow map over 100 TB); doc logit =
    // Σ w(token) over positions as an exact bigint, label = logit > 0.
    // Real trained weights would replace the hash lookup behind the
    // same shape; everything the engine owns — hashing, summation,
    // thresholding, determinism — is the oracle-gated part.
    "q_quality_classifier" -> { (s, dir) =>
      import s.implicits._
      val wgt = conv(substring(md5(concat(lit("graft-clf-v1:"), $"token")), 1, 6),
        16, 10).cast("long") % 2001 - 1000
      load(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("token"))
        .select($"doc_id", wgt.as("w"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_toks"), sum($"w").as("logit_sum"))
        .withColumn("positive", $"logit_sum" > 0)
        .orderBy($"doc_id")
    }
  )

  /** q_bpe_merges oracle: the identical BATCHED merge rounds unrolled
    * as a DuckDB CTE chain — p_i counts pairs over s_{i-1}, c_i ranks
    * the top-BpeCap candidate window, r_i walks it with the SAME
    * greedy-over-selected rule as the engine (a linear recursive CTE:
    * one row per rank position carrying the accumulated symbol and rank
    * lists; a candidate is taken iff none of its operand/merge-result
    * symbols is already used and the batch has room), sel_i reads the
    * final step's selections, s_i applies the batch as BpeBatch chained
    * bracket-framed replaces in rank order (absent slots replace a '#'
    * sentinel that never occurs in a seq — identity). Generated so the
    * round/batch/cap constants stay pinned to the engine's.
    */
  private def bpeOracleChain(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ch AS MATERIALIZED (
        |  SELECT doc_id, string_agg(token, '_' ORDER BY rn) AS unit,
        |    COUNT(*) AS nw
        |  FROM (
        |    SELECT doc_id, token,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |    FROM (
        |      SELECT doc_id, s[i] AS token, i AS pos
        |      FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |           unnest(generate_series(1, len(s))) AS t(i))
        |    WHERE regexp_matches(token, '^[a-z0-9]+$$'))
        |  GROUP BY doc_id, (rn - 1) // $BpeChunkWords
        |  HAVING COUNT(*) = $BpeChunkWords
        |), w0 AS (
        |  SELECT unit AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM ch GROUP BY 1
        |), s0 AS MATERIALIZED (
        |  SELECT token, cnt, regexp_replace(token, '(.)', '[\\1]', 'g') AS seq
        |  FROM w0
        |)""".stripMargin)
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    // reference, so a chained s1..sK would re-expand the whole prefix
    // exponentially (~4^K scans); materializing each level keeps the
    // oracle linear in K.
    //
    // Per-round shape (VERDICT r11 — the old form was a 227 s latency
    // bomb: a per-candidate recursive CTE paid ~1 ms of query-iteration
    // overhead × BpeCap × K steps, and the list_reduce-of-replaces
    // application paid an interpreted lambda per (unit, pair)):
    //  f_i  — the greedy disjoint-symbol batch selection as ONE
    //         list_reduce fold over the rank-ordered candidates, the
    //         accumulator a 'SYMS#RKS' string ('|a|b|ab|...#,rk1,..').
    //         The lambda ALWAYS rebuilds the accumulator with
    //         empty-string deltas on rejection — returning `acc`
    //         itself from a CASE branch hits a DuckDB 1.0 list_reduce
    //         vectorization bug that silently drops earlier appends
    //         (reproduced: accept,accept,reject,accept loses the first
    //         two rks). Semantics identical to the r10 recursion:
    //         scan candidates in rank order, take while batch < cap
    //         and operands/result symbols unused.
    //  sel_i — selected (a, b, pc, rn) parsed back from the fold.
    //  pat_i — the round's merges as ONE regex alternation
    //          \[(a1\]\[b1|a2\]\[b2|...)\]. Batch merges are
    //          symbol-DISJOINT by construction, so their matches are
    //          position-disjoint and non-interacting: the sequential
    //          replace fold ≡ one leftmost non-overlapping alternation
    //          pass (verified 0-diff vs the fold on live batches).
    //  s_i  — applies the round in TWO regex passes over BUCKETED
    //         bodies: seqs concat with '!' (never in a pattern) into
    //         ~64 bodies so RE2 compiles per BUCKET, not per row (a
    //         non-literal pattern defeats DuckDB's compile-once
    //         fast path — measured 0.27 s/round per-row vs 0.017 s
    //         bucketed). Pass 1 marks matches {a][b}, pass 2 fuses
    //         to [ab]; unnest zips tokens back positionally.
    for (i <- 1 to k) {
      val prev = s"s${i - 1}"
      val cond =
        s"""len(split_part(acc[1],'#',2)) - len(replace(split_part(acc[1],'#',2), ',', '')) < $BpeBatch
           |        AND NOT (contains(split_part(acc[1],'#',1), '|' || x[1] || '|')
           |              OR contains(split_part(acc[1],'#',1), '|' || x[2] || '|')
           |              OR contains(split_part(acc[1],'#',1), '|' || x[1] || x[2] || '|'))""".stripMargin
      sb.append(s""",
        |p$i AS (
        |  SELECT syms[j] AS a, syms[j+1] AS b, CAST(SUM(cnt) AS BIGINT) AS pc
        |  FROM (SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS j
        |        FROM (SELECT cnt,
        |                string_split(substr(seq, 2, len(seq) - 2), '][') AS syms
        |              FROM $prev))
        |  GROUP BY 1, 2
        |), c$i AS MATERIALIZED (
        |  SELECT a, b, pc, row_number() OVER (ORDER BY pc DESC, a, b) AS rk
        |  FROM (SELECT a, b, pc FROM p$i ORDER BY pc DESC, a, b LIMIT $BpeCap)
        |), f$i AS MATERIALIZED (
        |  SELECT list_reduce(
        |    list_prepend(['|','',''], COALESCE(cs, CAST([] AS VARCHAR[][]))),
        |    (acc, x) -> [split_part(acc[1],'#',1) ||
        |      CASE WHEN $cond
        |      THEN x[1] || '|' || x[2] || '|' || x[1] || x[2] || '|' ELSE '' END
        |      || '#' || split_part(acc[1],'#',2) ||
        |      CASE WHEN $cond
        |      THEN ',' || x[3] ELSE '' END, '', ''])[1] AS res
        |  FROM (SELECT list([a, b, CAST(rk AS VARCHAR)] ORDER BY rk) AS cs FROM c$i)
        |), sel$i AS MATERIALIZED (
        |  SELECT c.a, c.b, c.pc, row_number() OVER (ORDER BY c.rk) AS rn
        |  FROM c$i c
        |  JOIN (SELECT CAST(u AS INTEGER) AS rk FROM (
        |          SELECT unnest(string_split(substr(split_part(res,'#',2), 2), ',')) AS u
        |          FROM f$i WHERE split_part(res,'#',2) <> '')) u
        |    ON u.rk = c.rk
        |), pat$i AS MATERIALIZED (
        |  SELECT '\\[(' || string_agg(a || '\\]\\[' || b, '|' ORDER BY rn) || ')\\]' AS pat
        |  FROM sel$i
        |), s$i AS MATERIALIZED (
        |  SELECT unnest(toks) AS token, unnest(cnts) AS cnt,
        |    unnest(string_split(rep, '!')) AS seq
        |  FROM (
        |    SELECT toks, cnts,
        |      CASE WHEN p.pat IS NULL THEN body
        |      ELSE regexp_replace(regexp_replace(body, p.pat, '{\\1}', 'g'),
        |             '\\{([a-z0-9_]+)\\]\\[([a-z0-9_]+)\\}', '[\\1\\2]', 'g') END AS rep
        |    FROM (SELECT list(token ORDER BY token) AS toks,
        |                 list(cnt ORDER BY token) AS cnts,
        |                 string_agg(seq, '!' ORDER BY token) AS body
        |          FROM $prev GROUP BY hash(token) % 64) b
        |    CROSS JOIN pat$i p
        |  )
        |)""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracle(k: Int): String =
    bpeOracleChain(k) + "\n" +
      "SELECT CAST(row_number() OVER (ORDER BY round, rn) AS BIGINT) AS rank,\n" +
      "  a, b, pc FROM (\n" +
      (1 to k).map(i =>
          s"SELECT $i AS round, rn, a, b, pc FROM sel$i")
        .mkString("", "\nUNION ALL\n", "\n) ORDER BY rank")

  /** q_bpe_encode oracle: the same unrolled chain, then per-token unit
    * counts from the final symbol strings joined back to the corpus's
    * filtered tokens.
    */
  private def bpeEncodeOracle(k: Int): String =
    bpeOracleChain(k) + s""",
      |enc AS (
      |  SELECT token AS unit,
      |    CAST(len(string_split(substr(seq, 2, len(seq) - 2), '][')) AS BIGINT)
      |      AS n_units
      |  FROM s$k
      |), g AS (
      |  SELECT c.doc_id, COUNT(*) AS n_chunks,
      |    SUM(len(c.unit)) AS n_chars, SUM(e.n_units) AS n_units
      |  FROM ch c JOIN enc e USING (unit)
      |  GROUP BY c.doc_id
      |)
      |SELECT doc_id, n_chunks, CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(n_units AS BIGINT) AS n_units,
      |  CAST(n_chars AS DOUBLE) / CAST(n_units AS BIGINT) AS cpu
      |FROM g ORDER BY doc_id""".stripMargin

  /** The bigram-LM scoring chain (WITH ... g AS (per-doc sums)) shared
    * by the q_bigram_lm and q_ppl_buckets oracles — the SQL twin of
    * [[bigramSurprise]]. Ends at the closing paren of `g`, so callers
    * append either the final projection or further CTEs after a comma.
    */
  private val BigramChainSql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    substr(md5('graft-split-v1:' || CAST(doc_id AS VARCHAR)), 1, 1)
      |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_train
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, is_train,
      |    CASE WHEN is_train THEN text
      |         ELSE text || ' zzb' || CAST(doc_id AS VARCHAR) END AS text
      |  FROM d
      |), tok AS (
      |  SELECT doc_id, is_train, s[i] AS token, i AS pos
      |  FROM (SELECT doc_id, is_train, string_split(text, ' ') AS s FROM p),
      |       unnest(generate_series(1, len(s))) AS t(i)
      |), bi AS (
      |  SELECT doc_id, is_train, token,
      |    lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM tok
      |), bi2 AS (
      |  SELECT * FROM bi WHERE prev IS NOT NULL
      |), uni AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c1 FROM tok
      |  WHERE is_train GROUP BY 1
      |), big AS (
      |  SELECT prev, token, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi2
      |  WHERE is_train GROUP BY 1, 2
      |), n AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n_train FROM uni
      |), g AS (
      |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |    SUM(CASE WHEN bg.c12 IS NULL THEN 1 ELSE 0 END) AS n_backoff,
      |    SUM(CASE WHEN bg.c12 IS NOT NULL
      |        THEN length(bin(up.c1)) - length(bin(bg.c12))
      |        ELSE 2 + length(bin(n.n_train)) -
      |          CASE WHEN uc.c1 IS NULL THEN 0 ELSE length(bin(uc.c1)) END
      |        END) AS surp_sum
      |  FROM bi2 b
      |  LEFT JOIN big bg ON b.prev = bg.prev AND b.token = bg.token
      |  LEFT JOIN uni uc ON b.token = uc.token
      |  LEFT JOIN uni up ON b.prev = up.token
      |  CROSS JOIN n
      |  GROUP BY b.doc_id
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_bpe_merges" -> bpeOracle(BpeGateRounds),
    "q_bpe_encode" -> bpeEncodeOracle(BpeGateRounds),
    "q_text_stats" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_stop) AS BIGINT) AS total_stop,
        |  SUM(n_toks) * 1.0 / COUNT(*) AS avg_tokens,
        |  SUM(n_stop) * 1.0 / SUM(n_toks) AS stop_ratio
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q_exact_dedup" ->
      """WITH dd AS (
        |  SELECT DISTINCT ON (md5(text)) source, n_chars
        |  FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        |FROM dd GROUP BY source ORDER BY source""".stripMargin,

    // Exact pairwise twin of the asymmetric banding path: digest IN
    // corpus + any ≥0.9-Jaccard partner in the corpus, per incoming doc.
    "q_incr_dedup" ->
      """WITH d AS (
        |  SELECT * FROM documents
        |), corpus AS (
        |  SELECT * FROM d
        |  WHERE source NOT IN ('src0','src1','src2','src3','src4')
        |), inc AS (
        |  SELECT doc_id, text FROM d
        |  WHERE source IN ('src0','src1','src2','src3','src4')
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM corpus
        |  WHERE doc_id % 50 = 0
        |), exd AS (
        |  SELECT DISTINCT md5(text) AS digest FROM corpus
        |), it AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM inc
        |), et AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM corpus
        |), near AS (
        |  SELECT DISTINCT i.doc_id FROM it i JOIN et e
        |  ON len(list_intersect(i.t, e.t)) * 1.0 /
        |     (len(i.t) + len(e.t) - len(list_intersect(i.t, e.t))) >= 0.9
        |)
        |SELECT i.doc_id,
        |  (md5(i.text) IN (SELECT digest FROM exd)) AS exact_dup,
        |  (i.doc_id IN (SELECT doc_id FROM near)) AS near_dup,
        |  NOT ((md5(i.text) IN (SELECT digest FROM exd))
        |    OR (i.doc_id IN (SELECT doc_id FROM near))) AS keep
        |FROM inc i ORDER BY doc_id""".stripMargin,

    "q_corpus_shard" ->
      """WITH k AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key FROM documents
        |), s AS (
        |  SELECT doc_id, key,
        |    CASE WHEN key < '4' THEN 0 WHEN key < '8' THEN 1
        |         WHEN key < 'c' THEN 2 ELSE 3 END AS shard
        |  FROM k
        |)
        |SELECT doc_id, shard,
        |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // Same chunking, DuckDB list slicing; first-occurrence rank via the
    // identical (doc_id, line_no) window; string_agg reassembly in line
    // order. COALESCE '' matches Spark's concat_ws over an empty set for
    // a doc whose every line was seen earlier.
    "q_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), nums AS (
        |  SELECT doc_id, t, unnest(generate_series(0,
        |    CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS line_no
        |  FROM toks
        |), lines AS (
        |  SELECT doc_id, line_no,
        |    array_to_string(t[(line_no*10+1):((line_no+1)*10)], ' ') AS line
        |  FROM nums
        |), ranked AS (
        |  SELECT doc_id, line_no, line,
        |    ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
        |  FROM lines
        |)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, ' '
        |    ORDER BY line_no), '') AS new_text
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_neardup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |), over_cap AS (
        |  SELECT lang, source FROM t GROUP BY lang, source HAVING COUNT(*) > 1000
        |), c AS (
        |  SELECT * FROM t WHERE NOT EXISTS (
        |    SELECT 1 FROM over_cap o WHERE o.lang = t.lang AND o.source = t.source)
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
        |FROM c a JOIN c b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // The LSH banding (8 bands × 2 rows) at the 0.9 threshold has a
    // per-pair miss probability of (1-0.9²)⁸ ≈ 2e-6, and the exact-verify
    // stage removes every false candidate — so the output equals the full
    // exact-Jaccard pair set, which IS SQL-expressible. DuckDB computes it
    // all-pairs (fine at oracle scale); Spark computes it via banding
    // (linear-ish at any scale). Deterministic for a fixed corpus.
    // Precondition: no band bucket exceeds MaxBucket at oracle scale
    // (true here — ≤446 distinct token sets at sf0.01, cap 1000). On
    // degenerate corpora the cap intentionally excludes oversized buckets,
    // and the full pair set is no longer the contract.
    "q_minhash_lsh" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |), j AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
        |  FROM t a JOIN t b ON a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, jac FROM j WHERE jac >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Transitive closure over the exact ≥0.9-Jaccard pair set (the same
    // pair contract the q_minhash_lsh oracle pins), min-label per node,
    // then every document joins its cluster: reachability via a recursive
    // CTE is quadratic per component — fine at oracle scale, which is the
    // point of the Spark side's linear-per-round label propagation.
    // Pair generation via the token inverted index (shared-token counts
    // from a tok-keyed equi-join), not per-pair list_intersect: the
    // all-pairs list form re-scanned two token lists per candidate pair
    // and was a 17 s oracle at sf0.01 (r12 latency budget); the
    // inverted-index join computes identical |A∩B| in 0.2 s. Jaccard
    // formula and threshold unchanged.
    "q_dup_clusters" ->
      """WITH RECURSIVE tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents
        |), sz AS MATERIALIZED (
        |  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
        |), shared AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS c
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT u, v FROM shared
        |  JOIN sz su ON su.doc_id = u JOIN sz sv ON sv.doc_id = v
        |  WHERE c * 1.0 / (su.n + sv.n - c) >= 0.9
        |), e AS (
        |  SELECT u, v FROM j UNION SELECT v, u FROM j
        |), reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u
        |), lbl AS (
        |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_rep
        |  FROM reach GROUP BY u
        |), asg AS (
        |  SELECT d.doc_id, COALESCE(l.cluster_rep, d.doc_id) AS cluster_rep
        |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
        |)
        |SELECT a.doc_id, a.cluster_rep, CAST(c.n AS BIGINT) AS cluster_size,
        |  (a.doc_id = a.cluster_rep) AS kept
        |FROM asg a JOIN (
        |  SELECT cluster_rep, COUNT(*) AS n FROM asg GROUP BY cluster_rep
        |) c ON a.cluster_rep = c.cluster_rep
        |ORDER BY a.doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, sha256(text) AS fp_sha256, md5(text) AS fp_md5,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_profile" ->
      """WITH p AS (
        |  SELECT 'doc_id' AS column_name, COUNT(*) AS n,
        |    COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS n_null,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    MIN(CAST(doc_id AS VARCHAR)) AS min_s, MAX(CAST(doc_id AS VARCHAR)) AS max_s
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*), COUNT(CASE WHEN lang IS NULL THEN 1 END),
        |    COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*), COUNT(CASE WHEN source IS NULL THEN 1 END),
        |    COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*), COUNT(CASE WHEN n_chars IS NULL THEN 1 END),
        |    COUNT(DISTINCT n_chars), MIN(CAST(n_chars AS VARCHAR)),
        |    MAX(CAST(n_chars AS VARCHAR)) FROM documents
        |)
        |SELECT column_name, n, CAST(n_null AS BIGINT) AS n_null, n_distinct,
        |  min_s, max_s
        |FROM p ORDER BY column_name""".stripMargin,

    "q_split_hash" ->
      """WITH d AS (
        |  SELECT *,
        |    substr(md5('graft-split-v1:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
        |  FROM documents
        |)
        |SELECT CASE
        |    WHEN h IN ('0','1','2','3','4','5','6','7','8','9','a','b') THEN 'train'
        |    WHEN h IN ('c','d') THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents
        |), p AS (
        |  SELECT lang, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre_sum
        |  FROM d
        |)
        |SELECT lang, CAST(pre_sum // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS tokens_in_bin,
        |  SUM(n_toks) * 1.0 / 512 AS fill_ratio
        |FROM p GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks) - 2),
        |         i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS gram
        |  FROM t
        |), e AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        |)
        |SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_shared_grams
        |FROM g JOIN e ON g.gram = e.gram
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id
        |ORDER BY n_shared_grams DESC, doc_id
        |LIMIT 100""".stripMargin,

    "q_token_regex" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(
        |      regexp_replace(text, ' the ', ', the ', 'g'),
        |      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+')) AS BIGINT) AS n_regex_tokens,
        |  len(regexp_extract_all(regexp_replace(text, ' the ', ', the ', 'g'),
        |      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))
        |    <> len(string_split(text, ' ')) AS differs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_data_funnel" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS set_key,
        |    substr(md5('graft-split-v1:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
        |  FROM documents
        |), quality AS (
        |  SELECT * FROM d WHERE n_tokens >= 30 AND n_uniq * 4 >= n_tokens
        |), dedup AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY set_key
        |      ORDER BY doc_id) AS rn FROM quality) WHERE rn = 1
        |), train AS (
        |  SELECT * FROM dedup
        |  WHERE h IN ('0','1','2','3','4','5','6','7','8','9','a','b')
        |), stages AS (
        |  SELECT '1_raw' AS stage, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS tokens_sum FROM d
        |  UNION ALL SELECT '2_quality', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM quality
        |  UNION ALL SELECT '3_dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM dedup
        |  UNION ALL SELECT '4_train', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM train
        |)
        |SELECT stage, n_docs, tokens_sum,
        |  n_docs * 100.0 / (SELECT COUNT(*) FROM d) AS retention_pct
        |FROM stages ORDER BY stage""".stripMargin,

    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |    THEN list_transform(generate_series(1, len(toks) - 2),
        |         i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(grams) > 0
        |    THEN (len(grams) - len(list_distinct(grams))) * 1.0 / len(grams)
        |    ELSE 0.0 END AS rep_ratio,
        |  len(list_distinct(grams)) < len(grams) AS has_repetition
        |FROM g ORDER BY doc_id""".stripMargin,

    // DuckDB computes the same adjacent-id near-dup pair set + jac and
    // pins the locality boolean TRUE: the Spark side must produce a
    // fingerprint family that actually satisfies the SimHash locality
    // property on every such pair.
    "q_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents
        |), j AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
        |  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |)
        |SELECT doc_a, doc_b, jac, TRUE AS hamming_ok
        |FROM j WHERE jac >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_vocab" ->
      """SELECT token, COUNT(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin,

    // The Misra-Gries guarantees hold for ANY arrival order, so the
    // oracle states them as literal truths over the exact counts.
    "q_heavy_hitters" ->
      """WITH t AS (
        |  SELECT lang, tok FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE len(tok) > 0
        |), tot AS (
        |  SELECT lang, COUNT(*) AS n_l FROM t GROUP BY lang
        |), ex AS (
        |  SELECT lang, tok, COUNT(*) AS n_tok FROM t GROUP BY lang, tok
        |)
        |SELECT ex.lang, ex.tok, ex.n_tok,
        |  TRUE AS captured, TRUE AS under_est, TRUE AS within_bound
        |FROM ex JOIN tot ON ex.lang = tot.lang
        |WHERE ex.n_tok * 65 > tot.n_l
        |ORDER BY ex.lang, ex.tok""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |), scored AS (
        |  SELECT t.doc_id, t.token, t.tf, d.df,
        |    CAST(t.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / d.df AS score
        |  FROM tf t JOIN dfreq d USING (token)
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, token, tf, df, score, CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Mirrors q_bm25's arithmetic tree op-for-op (ratio IDF, ×10 integer
    // saturation term) so every double rounds identically. DuckDB SUMs
    // of BIGINT are HUGEINT — exact, cast back for the output schema.
    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), dfreq AS (
        |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        |), n AS (
        |  SELECT COUNT(DISTINCT doc_id) AS n_docs, SUM(tf) AS s_tok FROM tf
        |), scored AS (
        |  SELECT t.doc_id, t.token, t.tf, d.df, l.dl,
        |    (CAST(2*n.n_docs - 2*d.df + 1 AS DOUBLE) / CAST(2*d.df + 1 AS DOUBLE))
        |      * (CAST(22*t.tf AS DOUBLE) /
        |         (CAST(10*t.tf + 3 AS DOUBLE)
        |          + 9.0 * (CAST(l.dl * n.n_docs AS DOUBLE) / CAST(n.s_tok AS DOUBLE)))) AS score
        |  FROM tf t JOIN dfreq d USING (token) JOIN dl l USING (doc_id) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, token, tf, df, CAST(dl AS BIGINT) AS dl, score,
        |  CAST(rn AS BIGINT) AS rank
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY md5('graft-strat-v1:' || CAST(doc_id AS VARCHAR)),
        |        doc_id) AS rk
        |  FROM documents
        |)
        |SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
        |FROM ranked WHERE rk <= 20
        |ORDER BY lang, source, rk""".stripMargin,

    "q_sample_mix" ->
      """WITH d AS (
        |  SELECT source,
        |    substr(md5('graft-mix-v1:' || CAST(doc_id AS VARCHAR)), 1, 3) AS h3,
        |    TRY_CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 4 AS tier,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents
        |), k AS (
        |  SELECT source, n_toks,
        |    CASE WHEN tier = 0 THEN TRUE
        |      WHEN tier = 1 THEN h3 < '800'
        |      WHEN tier = 2 THEN h3 < '400'
        |      ELSE h3 < '19a' END AS kept
        |  FROM d
        |)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / COUNT(*) AS kept_pct,
        |  CAST(SUM(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // sqrt/division over the same integers produce bit-identical IEEE
    // doubles on both engines, so `rate` compares exactly; the keep
    // threshold is the same 6-hex-digit floor on both sides.
    "q_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1
        |), r AS (
        |  SELECT source, n_src,
        |    sqrt(CAST((SELECT MIN(n_src) FROM c) AS DOUBLE) / n_src) AS rate
        |  FROM c
        |), t AS (
        |  SELECT *, lpad(lower(hex(CAST(floor(rate * 16777216) AS BIGINT))),
        |    6, '0') AS thr
        |  FROM r
        |), d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    substr(md5('graft-temp-v1:' || CAST(doc_id AS VARCHAR)), 1, 6) AS h6
        |  FROM documents
        |)
        |SELECT d.source, t.n_src AS n_total, t.rate,
        |  CAST(SUM(CASE WHEN t.rate >= 1.0 OR d.h6 < t.thr
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN t.rate >= 1.0 OR d.h6 < t.thr
        |    THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM d JOIN t ON d.source = t.source
        |GROUP BY 1, 2, 3 ORDER BY d.source""".stripMargin,

    // DuckDB rebuilds the identical chunks via UNNEST of a per-row
    // generate_series list + 1-based inclusive list_slice.
    "q_chunk_text" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents
        |), x AS (
        |  SELECT doc_id, toks,
        |    UNNEST(generate_series(0, (n_toks - 1) // 48)) AS idx
        |  FROM d
        |)
        |SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(toks, idx * 48 + 1, idx * 48 + 64)) AS BIGINT)
        |    AS n_chunk_toks,
        |  md5(array_to_string(list_slice(toks, idx * 48 + 1, idx * 48 + 64),
        |    ' ')) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text ||
        |      CASE WHEN doc_id % 3 = 0
        |        THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example'
        |        ELSE '' END ||
        |      CASE WHEN doc_id % 5 = 0
        |        THEN ' tel 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |        ELSE '' END AS planted
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id, planted,
        |    regexp_replace(regexp_replace(planted,
        |      '[a-z0-9]+@[a-z0-9.]+', '[EMAIL]', 'g'),
        |      '010-[0-9]{4}', '[PHONE]', 'g') AS scrubbed
        |  FROM p
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(planted, '[a-z0-9]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(planted, '010-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  len(regexp_extract_all(scrubbed, '[a-z0-9]+@[a-z0-9.]+')) = 0 AND
        |    len(regexp_extract_all(scrubbed, '010-[0-9]{4}')) = 0 AS clean_after,
        |  CAST(length(scrubbed) AS BIGINT) AS scrubbed_len
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens, n_uniq,
        |  n_uniq * 1.0 / n_tokens AS ttr,
        |  n_stop * 1.0 / n_tokens AS stop_ratio,
        |  CASE WHEN n_tokens < 30 THEN 'too_short'
        |    WHEN n_uniq * 4 < n_tokens THEN 'low_diversity'
        |    ELSE 'ok' END AS quality,
        |  CASE WHEN n_stop * 20 >= n_tokens THEN 'en_like'
        |    ELSE 'other' END AS predicted_lang
        |FROM d ORDER BY doc_id""".stripMargin,

    // Same rank-profile classifier in DuckDB: trigrams via
    // unnest(generate_series), identical md5 train routing, identical
    // integer rank weights and tie-breaks.
    "q_lang_id" ->
      """WITH grams AS (
        |  SELECT DISTINCT doc_id, lang, substr(text, i, 3) AS gram
        |  FROM (SELECT doc_id, lang, text,
        |          unnest(generate_series(1, length(text)-2)) AS i
        |        FROM documents WHERE length(text) >= 3)
        |),
        |counts AS (
        |  SELECT lang AS plang, gram, COUNT(*) AS cnt
        |  FROM grams
        |  WHERE substr(md5('graft-split-v1:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |    IN ('0','1','2','3','4','5','6','7','8','9','a','b')
        |  GROUP BY 1, 2
        |),
        |profile AS (
        |  SELECT plang, gram, CAST(201 - rn AS BIGINT) AS w FROM (
        |    SELECT plang, gram,
        |      row_number() OVER (PARTITION BY plang ORDER BY cnt DESC, gram) AS rn
        |    FROM counts) WHERE rn <= 200
        |),
        |best AS (
        |  SELECT doc_id, plang, score FROM (
        |    SELECT doc_id, plang, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn
        |    FROM (
        |      SELECT g.doc_id, p.plang, CAST(SUM(p.w) AS BIGINT) AS score
        |      FROM grams g JOIN profile p USING (gram)
        |      GROUP BY 1, 2)) WHERE rn = 1
        |)
        |SELECT d.doc_id, d.lang, COALESCE(b.plang, 'und') AS pred_lang,
        |  CAST(COALESCE(b.score, 0) AS BIGINT) AS score
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Same winnowing selection via DuckDB list comprehensions: md5-hex
    // 8-gram hashes, inclusive 1-based list slice [j : j+15] = Spark
    // slice(grams, j, 16), lexicographic list min.
    // Sliding window-min as a frame-bounded window function over the
    // unnested gram rows, not a per-position list slice+aggregate (the
    // list-comprehension form allocated a 16-slot list per window and
    // ran 8-11 s at sf0.01 — r12 latency budget; this is 0.2 s with
    // identical fingerprints).
    "q_winnow_fp" ->
      """WITH gl AS (
        |  SELECT doc_id,
        |    [md5(substr(text, i, 8)) for i in generate_series(1, length(text)-7)]
        |      AS grams
        |  FROM documents WHERE length(text) >= 23
        |),
        |g AS MATERIALIZED (
        |  SELECT doc_id, unnest(grams) AS gram,
        |    generate_subscripts(grams, 1) AS i, len(grams) AS ng
        |  FROM gl
        |),
        |w AS (
        |  SELECT doc_id, i, ng,
        |    min(gram) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
        |  FROM g
        |),
        |f AS (
        |  SELECT DISTINCT doc_id, fp FROM w WHERE i <= ng - 15
        |),
        |shared AS (
        |  SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM f GROUP BY fp
        |)
        |SELECT f.doc_id, COUNT(*) AS n_fp,
        |  CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_shared,
        |  SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) * 2 >= COUNT(*)
        |    AS substring_dup
        |FROM f JOIN shared s USING (fp)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all default; the normalization pipelines are
    // otherwise identical rune-for-rune.
    "q_norm_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || ' !!'
        |  FROM documents WHERE doc_id % 7 = 0
        |), d AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')))
        |    AS digest
        |  FROM base
        |), g AS (
        |  SELECT digest, MIN(doc_id) AS rep_id, COUNT(*) AS group_n
        |  FROM d GROUP BY 1
        |)
        |SELECT d.doc_id, g.rep_id, g.group_n, d.doc_id = g.rep_id AS kept
        |FROM d JOIN g USING (digest) ORDER BY d.doc_id""".stripMargin,

    "q_skipgram_pairs" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), ix AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos FROM s
        |), tok AS (
        |  SELECT doc_id, pos, ts[pos] AS center FROM ix
        |), sh AS (
        |  SELECT center,
        |    lag(center, 2) OVER w AS l2, lag(center, 1) OVER w AS l1,
        |    lead(center, 1) OVER w AS r1, lead(center, 2) OVER w AS r2
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |), ctx AS (
        |  SELECT center, unnest([l2, l1, r1, r2]) AS ctx FROM sh
        |)
        |SELECT center, ctx, COUNT(*) AS n
        |FROM ctx WHERE ctx IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, center, ctx LIMIT 100""".stripMargin,

    "q_ngram_diversity" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), ix AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos FROM s
        |), tok AS (
        |  SELECT doc_id, pos, ts[pos] AS token FROM ix
        |), l AS (
        |  SELECT doc_id, token,
        |    lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tok
        |), g AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(COUNT(DISTINCT token) AS BIGINT) AS d1,
        |    CAST(COUNT(prev) AS BIGINT) AS n_bigrams,
        |    CAST(COUNT(DISTINCT CASE WHEN prev IS NOT NULL
        |      THEN prev || ' ' || token END) AS BIGINT) AS d2
        |  FROM l GROUP BY 1
        |)
        |SELECT doc_id, n_tokens, d1, n_bigrams, d2,
        |  CAST(d1 AS DOUBLE) / n_tokens AS distinct1,
        |  CASE WHEN n_bigrams > 0 THEN CAST(d2 AS DOUBLE) / n_bigrams END
        |    AS distinct2
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_keep_best" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text) || ' !!'
        |  FROM documents WHERE doc_id % 7 = 0
        |), d AS (
        |  SELECT doc_id, text, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')))
        |    AS digest
        |  FROM base
        |), r AS (
        |  SELECT doc_id, digest,
        |    row_number() OVER (PARTITION BY digest
        |      ORDER BY len(text) DESC, doc_id) AS rk,
        |    first_value(doc_id) OVER (PARTITION BY digest
        |      ORDER BY len(text) DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS keeper_id,
        |    COUNT(*) OVER (PARTITION BY digest) AS group_n
        |  FROM d
        |)
        |SELECT doc_id, keeper_id, CAST(group_n AS BIGINT) AS group_n,
        |  rk = 1 AS kept
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT source, n_chars,
        |    CAST(('0x' || substr(md5('graft-wt-v1:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 13)) AS UBIGINT) AS hx
        |  FROM documents
        |), k AS (
        |  SELECT source, n_chars,
        |    (CAST(hx AS DOUBLE) / 4503599627370496.0)
        |      < least(1.0, CAST(n_chars AS DOUBLE) / 400.0) AS kept
        |  FROM d
        |)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS chars_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "q_substring_dup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 50, 200)
        |  FROM documents WHERE doc_id % 10 = 0
        |), g AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)), 1, 15))
        |      AS BIGINT) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, len(text) - 39)) AS i
        |        FROM base WHERE len(text) >= 40)
        |), nd AS (
        |  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1
        |)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS dup_ratio
        |FROM g JOIN nd USING (g) GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    "q_substring_strip" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 50, 200)
        |  FROM documents WHERE doc_id % 10 = 0
        |), docs AS (
        |  SELECT doc_id, text FROM base WHERE len(text) >= 40
        |), g AS (
        |  SELECT doc_id, i AS pos,
        |    CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)), 1, 15))
        |      AS BIGINT) AS g
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, len(text) - 39)) AS i
        |        FROM docs)
        |), nd AS (
        |  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1
        |), flagged AS (
        |  SELECT doc_id, pos FROM g JOIN nd USING (g) WHERE nd >= 2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 40
        |         THEN 1 ELSE 0 END AS new_i
        |  FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |), isl2 AS (
        |  SELECT doc_id, pos,
        |    SUM(new_i) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM isl
        |), agg AS (
        |  SELECT doc_id, iid, MAX(pos) - MIN(pos) + 40 AS island_chars
        |  FROM isl2 GROUP BY doc_id, iid
        |), per_doc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |    CAST(SUM(island_chars) AS BIGINT) AS covered_chars
        |  FROM agg GROUP BY doc_id
        |), fn AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
        |  FROM flagged GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        |  COALESCE(n_flagged, 0) AS n_flagged,
        |  COALESCE(n_islands, 0) AS n_islands,
        |  COALESCE(covered_chars, 0) AS covered_chars,
        |  CAST(len(d.text) AS BIGINT) - COALESCE(covered_chars, 0) AS clean_chars
        |FROM docs d LEFT JOIN per_doc USING (doc_id) LEFT JOIN fn USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_substring_dup_sampled" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 50, 200)
        |  FROM documents WHERE doc_id % 10 = 0
        |), docs AS (
        |  SELECT doc_id, text FROM base WHERE len(text) >= 40
        |), kept AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id,
        |      CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)), 1, 15))
        |        AS BIGINT) AS g
        |    FROM (SELECT doc_id, text,
        |            unnest(generate_series(1, len(text) - 39)) AS i
        |          FROM docs))
        |  WHERE g % 8 = 0
        |), nd AS (
        |  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM kept GROUP BY 1
        |), per_doc AS (
        |  SELECT kept.doc_id, COUNT(*) AS n_kept,
        |    CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_kept
        |  FROM kept JOIN nd USING (g) GROUP BY kept.doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(n_kept, 0) AS n_kept,
        |  COALESCE(n_dup_kept, 0) AS n_dup_kept,
        |  COALESCE(n_dup_kept, 0) >= 1 AS has_dup
        |FROM docs d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_substring_strip_sampled" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, substr(text, 50, 200)
        |  FROM documents WHERE doc_id % 10 = 0
        |), docs AS (
        |  SELECT doc_id, text FROM base WHERE len(text) >= 40
        |), kept AS (
        |  SELECT doc_id, pos, g FROM (
        |    SELECT doc_id, i AS pos,
        |      CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 40)), 1, 15))
        |        AS BIGINT) AS g
        |    FROM (SELECT doc_id, text,
        |            unnest(generate_series(1, len(text) - 39)) AS i
        |          FROM docs))
        |  WHERE g % 8 = 0
        |), nd AS (
        |  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM kept GROUP BY 1
        |), flagged AS (
        |  SELECT doc_id, pos FROM kept JOIN nd USING (g) WHERE nd >= 2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 40
        |         THEN 1 ELSE 0 END AS new_i
        |  FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |), isl2 AS (
        |  SELECT doc_id, pos,
        |    SUM(new_i) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM isl
        |), agg AS (
        |  SELECT doc_id, iid, MAX(pos) - MIN(pos) + 40 AS island_chars
        |  FROM isl2 GROUP BY doc_id, iid
        |), per_doc AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |    CAST(SUM(island_chars) AS BIGINT) AS covered_chars
        |  FROM agg GROUP BY doc_id
        |), fn AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
        |  FROM flagged GROUP BY doc_id
        |)
        |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
        |  COALESCE(n_flagged, 0) AS n_flagged,
        |  COALESCE(n_islands, 0) AS n_islands,
        |  COALESCE(covered_chars, 0) AS covered_chars,
        |  CAST(len(d.text) AS BIGINT) - COALESCE(covered_chars, 0) AS clean_chars
        |FROM docs d LEFT JOIN per_doc USING (doc_id) LEFT JOIN fn USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // bin() is unpadded in both engines, so length(bin(x)) is the exact
    // binary digit count on each side; every aggregate stays integer.
    "q_unigram_lm" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    substr(md5('graft-split-v1:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |      IN ('0','1','2','3','4','5','6','7','8','9','a','b') AS is_train
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, is_train,
        |    CASE WHEN is_train THEN text
        |         ELSE text || ' zzq' || CAST(doc_id AS VARCHAR) END AS text
        |  FROM d
        |), tok AS (
        |  SELECT doc_id, is_train, unnest(string_split(text, ' ')) AS token
        |  FROM p
        |), c AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok
        |  WHERE is_train GROUP BY 1
        |), n AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_train FROM c
        |), g AS (
        |  SELECT t.doc_id, COUNT(*) AS n_toks,
        |    SUM(CASE WHEN c.c IS NULL THEN 1 ELSE 0 END) AS oov_n,
        |    SUM(length(bin(n.n_train)) -
        |      CASE WHEN c.c IS NULL THEN 0 ELSE length(bin(c.c)) END)
        |      AS surp_sum
        |  FROM tok t LEFT JOIN c ON t.token = c.token CROSS JOIN n
        |  GROUP BY t.doc_id
        |)
        |SELECT doc_id, n_toks, CAST(oov_n AS BIGINT) AS oov_n,
        |  CAST(surp_sum AS BIGINT) AS surp_sum,
        |  CAST(surp_sum AS DOUBLE) / n_toks AS mean_surprise
        |FROM g ORDER BY doc_id""".stripMargin,

    // Bigram LM with unigram backoff: same integer bitlen arithmetic;
    // adjacency via lag over the split-array position order. The WITH
    // chain is shared with q_ppl_buckets (BigramChainSql).
    "q_bigram_lm" ->
      s"""$BigramChainSql
        |SELECT doc_id, n_bigrams, CAST(n_backoff AS BIGINT) AS n_backoff,
        |  CAST(surp_sum AS BIGINT) AS surp_sum,
        |  CAST(surp_sum AS DOUBLE) / n_bigrams AS mean_surprise
        |FROM g ORDER BY doc_id""".stripMargin,

    // CCNet bucketing: the shared bigram chain + a lang join + NTILE(3)
    // over the per-language (mean_surprise, doc_id) order.
    "q_ppl_buckets" ->
      s"""$BigramChainSql,
        |r AS (
        |  SELECT g.doc_id, dd.lang, g.n_bigrams,
        |    CAST(g.surp_sum AS BIGINT) AS surp_sum,
        |    CAST(g.surp_sum AS DOUBLE) / g.n_bigrams AS mean_surprise
        |  FROM g JOIN documents dd ON g.doc_id = dd.doc_id
        |)
        |SELECT doc_id, lang, n_bigrams, surp_sum, mean_surprise,
        |  CASE NTILE(3) OVER (PARTITION BY lang ORDER BY mean_surprise, doc_id)
        |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
        |  END AS ppl_bucket
        |FROM r ORDER BY doc_id""".stripMargin,

    // DSIR: 256 hashed-unigram buckets (first 2 md5 hex chars — the
    // same cross-engine hash idiom as the md5 split), fixed-point
    // importance-ratio sum vs the lang='en' target slice, inclusive
    // top-ceil(N/4) threshold on the length-normalized score.
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, substr(md5(unnest(string_split(text, ' '))), 1, 2) AS bucket
        |  FROM documents
        |), tgt AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_tgt FROM (
        |    SELECT substr(md5(unnest(string_split(text, ' '))), 1, 2) AS bucket
        |    FROM documents WHERE lang = 'en'
        |  ) GROUP BY 1
        |), src AS (
        |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_src FROM tok GROUP BY 1
        |), ns AS (
        |  SELECT (SELECT CAST(SUM(c_src) AS BIGINT) FROM src) AS n_src,
        |         (SELECT CAST(SUM(c_tgt) AS BIGINT) FROM tgt) AS n_tgt
        |), w AS (
        |  SELECT t.doc_id, COUNT(*) AS n_toks,
        |    CAST(SUM(
        |      CASE WHEN ns.n_tgt IS NULL OR ns.n_tgt = 0 THEN 0
        |      ELSE (CAST(COALESCE(g.c_tgt, 0) AS HUGEINT) * ns.n_src * 4096)
        |           // (CAST(s.c_src AS HUGEINT) * ns.n_tgt) END
        |    ) AS BIGINT) AS weight_fp
        |  FROM tok t
        |  LEFT JOIN tgt g ON t.bucket = g.bucket
        |  JOIN src s ON t.bucket = s.bucket
        |  CROSS JOIN ns
        |  GROUP BY t.doc_id
        |), ws AS (
        |  SELECT doc_id, n_toks, weight_fp,
        |    CAST((weight_fp * 65536) // n_toks AS BIGINT) AS score_fp
        |  FROM w
        |), k AS (
        |  SELECT CAST(CEIL(COUNT(*) / 4.0) AS BIGINT) AS k FROM documents
        |), thr AS (
        |  SELECT MIN(score_fp) AS thr FROM (
        |    SELECT score_fp,
        |      ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS rn
        |    FROM ws
        |  ) WHERE rn <= (SELECT k FROM k)
        |)
        |SELECT ws.doc_id, ws.n_toks, ws.weight_fp, ws.score_fp,
        |  ws.score_fp >= thr.thr AS selected
        |FROM ws CROSS JOIN thr ORDER BY doc_id""".stripMargin,

    "q_collocations" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), ix AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS pos FROM s
        |), tok AS (
        |  SELECT doc_id, pos, ts[pos] AS token FROM ix
        |), bi AS (
        |  SELECT prev AS t1, token AS t2, CAST(COUNT(*) AS BIGINT) AS c_xy
        |  FROM (SELECT doc_id, pos, token,
        |          lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |        FROM tok)
        |  WHERE prev IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |), uni AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1
        |), n AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni
        |)
        |SELECT b.t1, b.t2, b.c_xy, u1.c AS c_x, u2.c AS c_y,
        |  CAST(b.c_xy * n.n_tok AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE)
        |    AS score
        |FROM bi b JOIN uni u1 ON b.t1 = u1.token
        |          JOIN uni u2 ON b.t2 = u2.token CROSS JOIN n
        |ORDER BY score DESC, t1, t2 LIMIT 50""".stripMargin,

    "q_repeat_epochs" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents
        |), src AS (
        |  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_toks
        |  FROM d GROUP BY 1
        |), b AS (
        |  SELECT MAX(src_toks) AS budget FROM src
        |), plan AS (
        |  SELECT source, src_toks, budget,
        |    (budget + src_toks - 1) // src_toks AS epochs
        |  FROM src CROSS JOIN b
        |), copies AS (
        |  SELECT d.source, d.doc_id, d.n_toks, p.src_toks, p.budget, p.epochs,
        |    unnest(generate_series(1, p.epochs)) AS copy
        |  FROM d JOIN plan p USING (source)
        |), okd AS (
        |  SELECT *, md5('graft-epoch-v1:' || CAST(doc_id AS VARCHAR) || ':'
        |    || CAST(copy AS VARCHAR)) AS ok
        |  FROM copies
        |), cum AS (
        |  SELECT *, SUM(n_toks) OVER (PARTITION BY source
        |    ORDER BY ok, doc_id, copy) AS cum
        |  FROM okd
        |)
        |SELECT source, MAX(src_toks) AS src_toks, MAX(budget) AS budget,
        |  CAST(MAX(epochs) AS BIGINT) AS epochs, COUNT(*) AS n_copies,
        |  CAST(SUM(CASE WHEN cum - n_toks < budget THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN cum - n_toks < budget THEN n_toks ELSE 0 END)
        |    AS BIGINT) AS toks_kept
        |FROM cum GROUP BY source ORDER BY source""".stripMargin,

    "q_quality_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |), w AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('graft-clf-v1:' || token), 1, 6))
        |      AS BIGINT) % 2001 - 1000 AS w
        |  FROM tok
        |)
        |SELECT doc_id, COUNT(*) AS n_toks,
        |  CAST(SUM(w) AS BIGINT) AS logit_sum,
        |  CAST(SUM(w) AS BIGINT) > 0 AS positive
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}

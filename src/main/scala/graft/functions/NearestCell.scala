package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Native Catalyst expression: the id of the max-cosine-similarity cell
  * for a vector against a packed centroid array — the argmax kernel of
  * every cell assignment (IVF coarse quantizer, Lloyd refinement,
  * SemDeDup clustering).
  *
  * Input: (v: array<double>, es: array<struct<cell: int, cv:
  * array<double>>>). Output: the `cell` of the entry with the highest
  * cosine(v, cv); ties break to the LOWEST cell id — exactly the
  * `orderBy(desc(d), asc(cell))` / `array_max(struct(d, -cell))` rule
  * of the forms it replaces. Entries whose cosine is undefined (length
  * mismatch, zero norm) are skipped; null if no entry scores.
  *
  * Why native (the [[CosineSimilarity]]/[[GramDigests]] argument, one
  * level up): the composable `transform(es, e -> struct(cosine, -cell))
  * + array_max` walks the higher-order-function interpreter per
  * centroid entry and allocates a struct per (row, entry) — at the
  * 100k-vector × 256-cell scale fixture that is 25.6M struct
  * allocations and ~1.6G interpreted double ops per assignment pass,
  * which made the pass the dominant cost of q_ann_ivfpq_scale. This
  * expression runs the whole argmax as one fused primitive loop
  * (cosine arithmetic copied verbatim from [[CosineSimilarity]], so
  * selection is bit-identical).
  *
  * `l2 = true` switches the metric to MINIMUM squared Euclidean
  * distance (sequential left fold of (x−y)², mirroring the
  * `aggregate(zip_with(...))` chain of the pqAssign form it replaces;
  * ties to the lowest cell) — the PQ codebook-assignment kernel.
  */
case class NearestCell(left: Expression, right: Expression, l2: Boolean)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val esOk = right.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, IntegerType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (vOk && esOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_cell expects (array<double>, array<struct<int, array<double>>>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    NearestCell.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], l2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, es) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Integer $r = graft.functions.NearestCell.compute($v, $es, $l2);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCell {
  /** Column API over (array<double>, array<struct<cell, cv>>) columns. */
  def apply(v: Column, es: Column): Column =
    graftbridge.toColumn(NearestCell(
      graftbridge.toExpression(v), graftbridge.toExpression(es), false))

  /** Min-squared-distance variant (the PQ codebook assignment). */
  def l2(v: Column, es: Column): Column =
    graftbridge.toColumn(NearestCell(
      graftbridge.toExpression(v), graftbridge.toExpression(es), true))

  /** The entry array unpacked to primitives: per entry its cell id, its
    * vector (nulls already folded to 0.0 — the skip/zero rules of the
    * ArrayData walk), its Σy² norm accumulated in element order (the
    * identical fold the per-row walk performed), and len = -1 marking a
    * null entry struct (skipped exactly as before).
    */
  private final class Packed(val m: Int, val cells: Array[Int],
                             val cvs: Array[Array[Double]],
                             val nbs: Array[Double],
                             val sqbs: Array[Double])

  /** Per-thread memo of unpacked entry arrays, keyed on the
    * UnsafeArrayData's backing (baseObject identity, offset, length):
    * in every assignment pass the entries come from broadcast rows, so
    * each task re-reads the SAME bytes row after row — r12 measured
    * the per-(row, entry) ArrayData walk (virtual getDouble + two null
    * checks per element, getStruct/getArray per entry) at 166 s of the
    * 1M-tier build's 184 s. Unpacking once per distinct array and
    * running the argmax over primitive arrays leaves the arithmetic
    * SEQUENCE identical (same values, same fold order, same skip and
    * tie rules — NearestCellSpec pins bit-parity), it just stops paying
    * interpretation per element. The memo is a small per-thread LRU
    * (not a single last-entry slot): the hierarchical coarse assignment
    * interleaves up to superK distinct member arrays per task in row
    * order — a one-slot memo would re-unpack ~70 KB of member
    * centroids per ROW (GC-catastrophic at 10M rows) or force a
    * multi-GB sort to cluster rows first. 256 slots × ≤1 MB bounds the
    * cache at a few MB per thread in practice. Non-Unsafe inputs
    * (interpreted single-row eval in tests) take the uncached unpack.
    */
  private final class MemoKey(val ref: AnyRef, val off: Long, val len: Int) {
    override def hashCode: Int =
      System.identityHashCode(ref) ^ java.lang.Long.hashCode(off) ^ len
    override def equals(o: Any): Boolean = o match {
      case k: MemoKey => (k.ref eq ref) && k.off == off && k.len == len
      case _ => false
    }
  }
  // access-ordered; eviction is size-aware (entry count AND total cached
  // doubles) so the cache can't pin gigabytes of broadcast pages across
  // a long suite — see evict()
  private val packedCache =
    new ThreadLocal[java.util.LinkedHashMap[MemoKey, Packed]]() {
      override def initialValue(): java.util.LinkedHashMap[MemoKey, Packed] =
        new java.util.LinkedHashMap[MemoKey, Packed](64, 0.75f, true)
    }
  private def packedDoubles(p: Packed): Long = {
    var s = 0L; var j = 0
    while (j < p.m) { if (p.cvs(j) != null) s += p.cvs(j).length; j += 1 }
    s
  }
  /** Keep ≤128 entries and ≤4M cached doubles (~32 MB) per thread —
    * enough for a superK-way hierarchical assignment's full member-array
    * working set, bounded however many distinct packs a long suite
    * streams through.
    */
  private def evict(cache: java.util.LinkedHashMap[MemoKey, Packed],
                    totals: Array[Long]): Unit = {
    val it = cache.entrySet().iterator()
    while ((cache.size() > 128 || totals(0) > 4000000L) && it.hasNext) {
      val e = it.next()
      totals(0) -= packedDoubles(e.getValue)
      it.remove()
    }
  }
  private val cacheDoubles = new ThreadLocal[Array[Long]]() {
    override def initialValue(): Array[Long] = Array(0L)
  }

  /** Task attempt id whose completion listener currently owns this
    * thread's cache (-1 = none registered). Entries are keyed on
    * broadcast-page identity, which is only stable WITHIN a task: a
    * later task on the same thread could see a freed page's (ref, off,
    * len) reused with different bytes (ADVICE r13 #1 — a silent stale
    * hit), and strong MemoKey refs would pin dead broadcast pages per
    * thread for the executor's life. So on the first cached access of
    * each task we register a completion listener that clears the
    * thread's cache — listeners run on the task's own thread, so the
    * ThreadLocal it clears is the right one.
    */
  private val ownerTask = new ThreadLocal[Array[Long]]() {
    override def initialValue(): Array[Long] = Array(-1L)
  }
  private def scopeCacheToTask(): Boolean = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc == null) {
      // driver-side eval (tests, single-row interpreted paths): no task
      // boundary exists; evict() alone bounds the cache. Broadcast pages
      // referenced here are driver-local values, not executor memory
      // pages, so the reuse hazard does not apply.
      true
    } else {
      val owner = ownerTask.get()
      if (owner(0) != tc.taskAttemptId()) {
        owner(0) = tc.taskAttemptId()
        tc.addTaskCompletionListener[Unit] { _ =>
          packedCache.get().clear()
          cacheDoubles.get()(0) = 0L
          ownerTask.get()(0) = -1L
        }
      }
      true
    }
  }

  /** Diagnostic: unpacks actually performed (cache misses + non-Unsafe
    * paths). A full assignment pass should add ~#tasks, not ~#rows.
    */
  private[graft] val unpackCount = new java.util.concurrent.atomic.AtomicLong

  private def unpack(es: ArrayData): Packed = {
    unpackCount.incrementAndGet()
    val m = es.numElements()
    val cells = new Array[Int](m)
    val cvs = new Array[Array[Double]](m)
    val nbs = new Array[Double](m)
    val sqbs = new Array[Double](m)
    var j = 0
    while (j < m) {
      if (es.isNullAt(j)) cvs(j) = null
      else {
        val row = es.getStruct(j, 2)
        cells(j) = row.getInt(0)
        val cv = row.getArray(1)
        val len = cv.numElements()
        val y = new Array[Double](len)
        var nb = 0.0
        var i = 0
        while (i < len) {
          val yi = if (cv.isNullAt(i)) 0.0 else cv.getDouble(i)
          y(i) = yi
          nb += yi * yi
          i += 1
        }
        cvs(j) = y
        nbs(j) = nb
        // sqrt hoisted out of the per-row argmax: the same
        // Math.sqrt(nb) the cosine denominator evaluated per (row,
        // entry) — identical value, computed once per unpack
        sqbs(j) = java.lang.Math.sqrt(nb)
      }
      j += 1
    }
    new Packed(m, cells, cvs, nbs, sqbs)
  }

  private def packedFor(es: ArrayData): Packed = es match {
    // Cache ONLY on-heap UnsafeArrayData (baseObject != null): off-heap
    // arrays key on an absolute address whose page can be freed and
    // reused between reads — identity no longer implies same bytes.
    case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        if u.getBaseObject != null && scopeCacheToTask() =>
      val cache = packedCache.get()
      val k = new MemoKey(u.getBaseObject, u.getBaseOffset, u.numElements())
      val hit = cache.get(k)
      if (hit != null) hit
      else {
        val p = unpack(u)
        val totals = cacheDoubles.get()
        totals(0) += packedDoubles(p)
        cache.put(k, p)
        evict(cache, totals)
        p
      }
    case other => unpack(other)
  }

  /** Fused argmax/argmin; called from both interpreted eval and the
    * generated code. Cosine arithmetic mirrors
    * CosineSimilarity.nullSafeEval exactly (sequential left fold,
    * nulls-as-0, null on zero norm); L2 mirrors the
    * aggregate(zip_with((x−y)²)) fold.
    */
  def compute(v: ArrayData, es: ArrayData, l2: Boolean): java.lang.Integer = {
    val n = v.numElements()
    val p = packedFor(es)
    val x = new Array[Double](n)
    var i0 = 0
    while (i0 < n) {
      x(i0) = if (v.isNullAt(i0)) 0.0 else v.getDouble(i0)
      i0 += 1
    }
    // na = Σx² is loop-invariant across entries (same fold, ascending
    // element order, as the previous per-entry accumulation — identical
    // value), so it and its sqrt hoist out of the argmax loop; the
    // cosine denominator sqa*sqb multiplies the SAME two Math.sqrt
    // results the per-entry form produced, so selection stays
    // bit-identical (NearestCellSpec pins parity).
    var na = 0.0
    if (!l2) {
      var i = 0
      while (i < n) { na += x(i) * x(i); i += 1 }
    }
    val sqa = if (l2) 0.0 else java.lang.Math.sqrt(na)
    var bestCell = 0
    var bestD = 0.0
    var found = false
    var j = 0
    while (j < p.m) {
      val y = p.cvs(j)
      // null entry structs score nothing (the composed
      // transform+array_max form this replaces skipped nulls the same
      // way); length-mismatched entries are skipped identically
      if (y != null && y.length == n) {
        val cell = p.cells(j)
        if (l2) {
          var d = 0.0
          var i = 0
          while (i < n) {
            val z = x(i) - y(i)
            d += z * z
            i += 1
          }
          if (!found || d < bestD || (d == bestD && cell < bestCell)) {
            bestD = d; bestCell = cell; found = true
          }
        } else {
          var dot = 0.0
          var i = 0
          while (i < n) {
            dot += x(i) * y(i)
            i += 1
          }
          val nb = p.nbs(j)
          if (na != 0.0 && nb != 0.0) {
            val d = dot / (sqa * p.sqbs(j))
            if (!found || d > bestD || (d == bestD && cell < bestCell)) {
              bestD = d; bestCell = cell; found = true
            }
          }
        }
      }
      j += 1
    }
    if (found) java.lang.Integer.valueOf(bestCell) else null
  }
}

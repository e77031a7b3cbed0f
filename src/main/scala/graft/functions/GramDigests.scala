package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 60-bit md5 digests of every char
  * `k`-gram of a text, in position order, in ONE fused pass.
  *
  * Bit-parity contract (pinned in WinnowFingerprintsSpec): each output
  * long equals `conv(substring(md5(substr(text, i, k)), 1, 15), 16, 10)`
  * — the unsigned big-endian value of the digest's first 15 hex nibbles
  * (7 full bytes + the high nibble of the 8th; max 2^60−1, exact in a
  * long on both engines).
  *
  * Why native (same argument as [[WinnowFingerprints]]): the composable
  * form walks the higher-order-function interpreter per position and
  * pays md5's hex-string materialization plus conv's base-16 string
  * parse and a decimal re-parse per gram — three string allocations to
  * produce one long. This pass hashes each code-point slice once and
  * assembles the long from the raw digest bytes. Gram extraction is
  * code-point based, matching `substr`'s character semantics.
  *
  * Null/edge semantics: null text → null; fewer than one gram (text
  * shorter than k code points) → empty array.
  */
case class GramDigests(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"gram_digests expects string, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    GramDigests.compute(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.GramDigests.compute($t, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramDigests {
  /** Column API: 60-bit gram digests of a string column. */
  def apply(text: Column, k: Int): Column =
    graftbridge.toColumn(
      GramDigests(graftbridge.toExpression(text), k))

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 hex nibbles of the digest as an unsigned long. */
  private def head60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** One-pass gram hashing; called from both interpreted eval and the
    * generated code (keeps the operator inside whole-stage codegen).
    */
  def compute(text: UTF8String, k: Int): GenericArrayData = {
    val cp = text.toString.codePoints().toArray
    val nGrams = cp.length - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val out = new Array[Any](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      out(i) = head60(md.digest(
        new String(cp, i, k).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expression: membership probe of a string column
  * against a driver-built [[BloomFilter]] (the micro-batch anti-join
  * sidecar, [[graft.runner.BloomSidecar]]).
  *
  * Why a custom Expression instead of a Scala UDF closing over a
  * broadcast: the UDF path drops the probe filter out of whole-stage
  * codegen and converts every key UTF8String→String per call; this
  * expression ships the serialized bloom inside the (task-broadcast)
  * expression tree, rebuilds it lazily once per executor, probes the
  * UTF-8 bytes directly (`putString` hashes exactly these bytes), and
  * generates a single inlined call via `doGenCode`, keeping the tick's
  * batch scan fused.
  *
  * NULL semantics: a null key is never "present" (returns false, and the
  * expression is non-nullable) — matching the left-anti join the probe
  * replaces, where a null join key never matches and the row is kept.
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  // Content equality for the serialized bloom: a case-class Array[Byte]
  // field compares by reference, so two semantically identical probes
  // never compare equal — defeating Catalyst canonicalization and CSE
  // across the tick anti-join's where(probe)/where(!probe) pair. Catalyst
  // hashes a plan's expressions many times: the ~1 MB array is hashed
  // once per instance, and unequal hashes settle `equals`. Perf-only.
  @transient private lazy val bytesHash: Int = java.util.Arrays.hashCode(bloomBytes)
  override def equals(other: Any): Boolean = other match {
    case b: BloomMightContain => child == b.child && bytesHash == b.bytesHash &&
      java.util.Arrays.equals(bloomBytes, b.bloomBytes)
    case _ => false
  }
  override def hashCode(): Int = 31 * child.hashCode() + bytesHash

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects a string key, got ${dt.simpleString}")
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        boolean ${ev.value} = false;
        if (!${c.isNull}) {
          ${ev.value} = $bloomRef.mightContainBinary((${c.value}).getBytes());
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomMightContain {
  /** Column API: probe `key` against `bf` (serialized into the plan). */
  def apply(key: Column, bf: BloomFilter): Column = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    graftbridge.toColumn(
      BloomMightContain(graftbridge.toExpression(key), bos.toByteArray))
  }

  /** OR-probe over several blooms (a partition mid-roll contributes two
    * files; their union over-approximates — safe).
    */
  def any(key: Column, bfs: Seq[BloomFilter]): Column =
    bfs.map(apply(key, _)).reduce(_ || _)
}

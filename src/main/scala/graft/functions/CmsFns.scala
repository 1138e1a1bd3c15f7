package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Probe for Spark's built-in `count_min_sketch` aggregate: estimated
  * occurrence count of `value` in the serialized sketch.
  *
  * Spark ships the BUILD side (the `count_min_sketch` SQL aggregate,
  * returning the serialized `org.apache.spark.util.sketch
  * .CountMinSketch`) but no SQL-level probe — the sketch is only
  * consumable from driver code. This expression closes that gap so a
  * frequency audit stays one declarative plan.
  *
  * Hashing contract mirrors the aggregate: strings were added via
  * their UTF-8 bytes (`addBinary`), integrals via `addLong`; the probe
  * dispatches `estimateCount` the same way, so estimates are exact for
  * the same value representation.
  *
  * Cost model: deserializing a sketch is O(depth·width); the last
  * parsed sketch is cached and re-checked by content equality, so the
  * intended shape — ONE whole-corpus sketch broadcast against a small
  * candidate frame ([[graft.llm.Sketch.heavyHittersAudit]]) — parses
  * once per task. This is an audit-plane expression (CodegenFallback),
  * never a per-row hot-path one; the per-row path at scale is the
  * aggregate itself, which IS codegen-free-standing partial-agg.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  @transient private var lastBytes: Array[Byte] = _
  @transient private var lastSketch: CountMinSketch = _

  private def sketchFor(bytes: Array[Byte]): CountMinSketch = {
    if (lastSketch == null || !java.util.Arrays.equals(bytes, lastBytes)) {
      lastSketch = CountMinSketch.readFrom(bytes)
      lastBytes = bytes
    }
    lastSketch
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  override def nullSafeEval(sketchBytes: Any, value: Any): Any = {
    val sketch = sketchFor(sketchBytes.asInstanceOf[Array[Byte]])
    right.dataType match {
      case StringType => sketch.estimateCount(value.asInstanceOf[UTF8String].getBytes)
      case _ => sketch.estimateCount(java.lang.Long.valueOf(value.asInstanceOf[Number].longValue()))
    }
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, StringType | ByteType | ShortType | IntegerType | LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_cms_estimate requires (binary sketch, string-or-integral value), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

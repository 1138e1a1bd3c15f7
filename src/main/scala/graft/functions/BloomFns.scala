package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter build + probe as native expressions, powering the
  * shuffle-pruning join in [[graft.ops.BloomJoin]].
  *
  * Why not a broadcast hash join? When the "small" side is small
  * enough to broadcast, Spark already wins. The Bloom pair targets the
  * band ABOVE the broadcast threshold: a build side of, say, 100M keys
  * is far too big to broadcast as a hash map, but its Bloom filter at
  * 1% fpp is ~120 MB of bits — shippable to every task — and pruning
  * the probe side BEFORE its exchange shrinks the dominant cost of a
  * 100 TB shuffle join by the join's selectivity. Spark's own runtime
  * row-level filtering does this internally
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) but only for
  * equi-joins it can see through; this pair makes the technique an
  * explicit, composable operator.
  *
  * Hashing contract: both sides hash identically — integral keys via
  * `putLong`/`mightContainLong`, strings via their UTF-8 bytes
  * (`putBinary`/`mightContainBinary`). No false negatives, so a real
  * join after the prune restores exact semantics; false positives only
  * cost shuffle bytes.
  */
case class BloomBuildAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomFilter] {

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(math.max(expectedItems, 1L), fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case StringType => buf.putBinary(v.asInstanceOf[UTF8String].getBytes)
      case _          => buf.putLong(v.asInstanceOf[Number].longValue())
    }
    buf
  }

  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = {
    buf.mergeInPlace(other)
    buf
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_bloom"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | ByteType | ShortType | IntegerType | LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom requires a string or integral key column, got ${other.simpleString}")
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomBuildAgg =
    copy(child = newChildren.head)
}

/** Probe twin of [[BloomBuildAgg]]: true iff the key MIGHT be in the
  * filter the bytes encode. Deserialized once per expression instance
  * (the bit array is shared read-only across a task's rows), probed
  * inside whole-stage codegen — the filter stays in the scan's codegen
  * span so pruning happens before any exchange.
  *
  * Null keys yield null (standard null propagation), which a WHERE
  * drops — exactly right for the inner/semi joins the prune serves,
  * where a null key can never match.
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case StringType => bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
    case _          => bloom.mightContainLong(v.asInstanceOf[Number].longValue())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"${ev.value} = $ref.mightContainBinary($c.getBytes());"
      case _          => s"${ev.value} = $ref.mightContainLong((long) $c);"
    })
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | ByteType | ShortType | IntegerType | LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains requires a string or integral key column, got ${other.simpleString}")
  }

  // case-class equality on Array[Byte] is REFERENCE equality, which
  // would make two semantically identical probes never compare equal —
  // defeating Catalyst canonicalization / subexpression elimination.
  // Compare the filter bytes by value.
  override def equals(other: Any): Boolean = other match {
    case BloomMightContain(c, bb) =>
      c == child && java.util.Arrays.equals(bb, bloomBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bloomBytes)

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as ONE TypedImperativeAggregate (SURVEY §7.3's
  * predicted custom-Aggregator case): each input shingle is hashed
  * ONCE with xxhash64, then the `numPerm` permutation values derive
  * from the classic universal-hash family h_p(x) = a_p·x + b_p (odd
  * seeded multipliers, wrapping 64-bit arithmetic). Compared to the
  * 64-column min-agg formulation this hashes each string once instead
  * of numPerm times and keeps one compact Array[Long] buffer per
  * group instead of 64 separate agg buffers — both matter when the
  * corpus is 100 TB of shingles.
  *
  * Deterministic: coefficients come from a fixed-seed PRNG, so
  * signatures are stable across runs, partitions, and clusters.
  */
case class MinHashSigAgg(
    child: Expression,
    numPerm: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  @transient private lazy val coeffs: (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(42L)
    val a = Array.fill(numPerm)(rnd.nextLong() | 1L) // odd multipliers
    val b = Array.fill(numPerm)(rnd.nextLong())
    (a, b)
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numPerm)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = XxHash64Function.hash(v.asInstanceOf[UTF8String], StringType, 42L)
      val (a, b) = coeffs
      var p = 0
      while (p < numPerm) {
        val hp = a(p) * h + b(p)
        if (hp < buf(p)) buf(p) = hp
        p += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var p = 0
    while (p < numPerm) {
      if (other(p) < buf(p)) buf(p) = other(p)
      p += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numPerm)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numPerm)(bb.getLong)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires a string column, got ${child.dataType.simpleString}")

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSigAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinHashSigAgg =
    copy(child = newChildren.head)
}

package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** minhash_sig(h): one-pass MinHash signature aggregate.
  *
  * Input: a 64-bit non-negative element hash per row (e.g.
  * `xxhash64(shingle) & 0x7fffffff`). Buffer: Array[Long](numPerms) of the
  * running minima of (aᵢ·h + bᵢ) mod p. Replaces a 64-column
  * `min(pmod(...))` aggregate: one buffer update per row instead of 64
  * independent agg slots through the codegen'd row layout, and the
  * signature travels the shuffle as ONE array value. Same permutation
  * constants as Dedup.perms — deterministic across runs and partitionings
  * (min is commutative/associative, so partial+merge is exact).
  */
case class MinHashAgg(
    child: Expression,
    perms: Seq[(Long, Long)],
    prime: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val n = perms.length
  private val as: Array[Long] = perms.map(_._1).toArray
  private val bs: Array[Long] = perms.map(_._2).toArray

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(n)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < n) {
        val x = (as(i) * h + bs(i)) % prime
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < n) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * n)
    var i = 0
    while (i < n) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(n)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashAgg {
  def minhashSig(h: Column, perms: Seq[(Long, Long)], prime: Long): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(h), perms, prime).toAggregateExpression())
}

/** sig_agree(a, b): number of positions where two equal-length
  * array&lt;long&gt; MinHash signatures agree — the numerator of the
  * per-pair Jaccard sketch estimate (each position matches independently
  * with probability J, the MinHash property). Codegen'd flat loop
  * replacing a `zip_with` + `aggregate` chain: Spark's higher-order
  * functions evaluate their lambda INTERPRETED per element, and the
  * sketch cut's agreement scan was measured at 12.6 s for 11.5M
  * candidate pairs × 64 positions at the 100× staging (round 16) — the
  * single largest warm term of dd_decontaminate_fuzzy after the floor. One branch-light loop inside
  * whole-stage codegen does the same scan in a fraction of that.
  */
case class SigAgree(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sig_agree expects (array<long>, array<long>), got " +
        s"${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SigAgree.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SigAgree.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SigAgree {
  /** Static entry shared by interpreted eval and generated code. Scans
    * min(|a|,|b|) positions — equal-length by the MinHashAgg contract.
    */
  def count(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def sigAgree(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgree(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

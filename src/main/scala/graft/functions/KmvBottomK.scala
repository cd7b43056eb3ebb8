package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native bottom-k-distinct aggregate — the KMV sketch builder as ONE
  * object-hash aggregate: `kmv_bottomk(h, k)` → sorted `array<long>`
  * of the k smallest DISTINCT values of `h` in the group.
  *
  * This replaces the r11 shape (global `distinct()` + two spill-backed
  * salted `row_number` windows — three exchanges, each sorting every
  * distinct hash) with the textbook mergeable-sketch plan: a bounded
  * TreeSet of ≤ k longs per group, map-side partials that PRUNE as
  * they go (a hash ≥ the partial's current kth-smallest is dropped on
  * sight, never buffered, so a partition with a billion rows still
  * holds ≤ k longs per group), and a single exchange carrying one
  * ≤ 2 KiB buffer per (partition, group). Bottom-k of a set is
  * duplicate-, order- and partition-independent, so the result is
  * bit-identical to the window form at any parallelism — the DuckDB
  * oracles (Sketch.oracles) are unchanged.
  *
  * Null keys: this aggregate SKIPS null inputs (SQL aggregate
  * convention), which is the intended sketch semantics — a null key
  * has no hash and must not occupy a bottom-k slot. The replaced
  * window form was subtly different for null keys (kmvHash's md5
  * yields NULL, nulls-first ordering let the NULL occupy a slot that
  * collect_list then dropped, yielding k-1 hashes and a biased
  * estimate); the "bit-identical to the window form" equivalence
  * above therefore assumes non-null keys, and the aggregate's
  * null-skip is the corrected behavior, not a regression. No
  * registered query uses nullable keys (kmvSketch is public API, so
  * this is documented here rather than assumed).
  *
  * 100 TB: state is O(k) per group whatever the cardinality; the
  * shuffle moves #groups × #partitions sketches, not distinct hashes.
  */
case class KmvBottomK(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_bottomk expects a bigint hash column, got ${child.dataType.sql}")
    else if (k < 2)
      TypeCheckResult.TypeCheckFailure(s"kmv_bottomk needs k >= 2, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  // Insert-with-prune: below capacity always insert; at capacity a
  // value can only matter if it beats the current kth-smallest, and
  // TreeSet.add's false return skips duplicate evictions.
  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    if (buf.size < k) buf.add(h)
    else if (h < buf.last() && buf.add(h)) buf.pollLast()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
      b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) insert(a, it.next().longValue())
    a
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator() // TreeSet iterates ascending = sorted
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = new java.util.TreeSet[java.lang.Long]()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 8) buf.add(bb.getLong())
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvBottomK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvBottomK =
    copy(child = newChild)
  override def prettyName: String = "kmv_bottomk"
}

object KmvBottomK {
  /** SQL builder for `kmv_bottomk(hash, k)` ([[GraftExtensions]]
    * checks the arity): `k` must be an integer literal.
    */
  def fromExprs(exprs: Seq[Expression]): KmvBottomK =
    KmvBottomK(exprs(0), exprs(1) match {
      case Literal(i: Int, _) => i
      case Literal(l: Long, _) => l.toInt
      case Literal(s: Short, _) => s.toInt
      case Literal(b: Byte, _) => b.toInt
      case other => throw new IllegalArgumentException(
        s"kmv_bottomk: k must be an integer literal, got $other")
    })
}

package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** The MISRA–GRIES frequent-items summary (Misra & Gries 1982) as a
  * native Catalyst aggregate — the deterministic-guarantee complement
  * to the Count-Min sketch (q75): CMS answers point queries with an
  * OVERcount bounded in probability; Misra–Gries keeps at most `k`
  * live counters with a deterministic UNDERcount bound
  *
  *   exact(x) − n/(k+1)  ≤  mg(x)  ≤  exact(x)        for EVERY x
  *
  * (each decrement event destroys k+1 units of count, so decrements
  * number at most n/(k+1)), which makes every item with frequency
  * above n/(k+1) provably present — the classic heavy-hitters
  * guarantee with O(k) state and no hashing at all.
  *
  * Mergeability (Agarwal et al. 2012, "Mergeable summaries", Lemma 1):
  * pointwise-sum two summaries, then subtract the (k+1)-th largest
  * count from every counter and drop the non-positive — the result is
  * again a valid MG summary of the concatenated stream with the SAME
  * additive bound. That closure is exactly Spark's partial/final
  * aggregation contract, so the summary build is one map-side pass
  * plus a counters-only exchange (≤ groups·k rows whatever the input
  * cardinality) — the 100 TB shape. Counter VALUES depend on the
  * merge order (only the bound is order-invariant), so queries built
  * on this are rows-only at the oracle gate (the q48/q61 sketch rule)
  * with the guarantee pinned in MisraGriesSpec instead.
  *
  * Update cost: the full-map decrement looks O(k) but amortizes to
  * O(1) — each decrement event consumes k+1 previously-added units,
  * so total decrement work is ≤ n·k/(k+1) across the stream.
  */
object MisraGries {

  import org.apache.spark.sql.graft.{shims => S}

  /** Aggregate a long key column into a `(item, cnt)` summary array,
    * largest counts first (ties by item) — at most `k` rows.
    */
  def agg(c: Column, k: Int): Column =
    S.column(MisraGriesAgg(S.expression(c), k).toAggregateExpression())

  /** Merge-side arithmetic shared by merge() and the spec: pointwise
    * sum is already in `acc`; cut it back to ≤ k counters by
    * subtracting the (k+1)-th largest count from all.
    */
  private[functions] def cutToK(acc: mutable.LongMap[Long], k: Int): Unit =
    if (acc.size > k) {
      val counts = acc.values.toArray
      java.util.Arrays.sort(counts)
      val sub = counts(counts.length - (k + 1)) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[Long]
      acc.foreachEntry { (key, c) =>
        if (c - sub <= 0L) dead += key else acc.update(key, c - sub)
      }
      dead.foreach(acc.remove)
    }
}

/** `graft_misra_gries(key, k)`: bounded frequent-items counters. */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.LongMap[Long]]
  with UnaryLike[Expression] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", LongType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_misra_gries"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_misra_gries expects bigint input, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): mutable.LongMap[Long] =
    mutable.LongMap.empty[Long]

  override def update(
      buffer: mutable.LongMap[Long], input: InternalRow): mutable.LongMap[Long] = {
    child.eval(input) match {
      case null =>
      case v: Long =>
        val cur = buffer.getOrElse(v, 0L) // counters are never stored at 0
        if (cur > 0L) buffer.update(v, cur + 1L)
        else if (buffer.size < k) buffer.update(v, 1L)
        else {
          // all-decrement step: destroys k+1 units (the k counters +
          // the arriving item), amortized O(1) per input row
          val dead = mutable.ArrayBuffer.empty[Long]
          buffer.foreachEntry { (key, c) =>
            if (c == 1L) dead += key else buffer.update(key, c - 1L)
          }
          dead.foreach(buffer.remove)
        }
      case other => throw new IllegalStateException(
        s"unexpected misra-gries input ${other.getClass}")
    }
    buffer
  }

  override def merge(
      buffer: mutable.LongMap[Long],
      other: mutable.LongMap[Long]): mutable.LongMap[Long] = {
    other.foreachEntry { (key, c) =>
      buffer.update(key, buffer.getOrElse(key, 0L) + c)
    }
    MisraGries.cutToK(buffer, k)
    buffer
  }

  override def eval(buffer: mutable.LongMap[Long]): Any = {
    val rows = buffer.toArray.sortBy { case (item, c) => (-c, item) }
      .map { case (item, c) => InternalRow(item, c) }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buffer: mutable.LongMap[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    buffer.foreachEntry { (key, c) => bb.putLong(key); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.LongMap[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.LongMap.empty[Long]
    var i = 0
    while (i < n) { m.update(bb.getLong, bb.getLong); i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Bounded `slice(sort_array(collect_set(c)), 1, k)`: the group's `k`
  * SMALLEST distinct values, sorted ascending — computed with O(k)
  * state per group at every stage of the aggregation.
  *
  * Why a custom aggregate (VERDICT r17 item 4, guide §5): the
  * compositional form caps the EXPLODE but not the BUFFER —
  * `collect_set` still materializes the full per-group set (map-side
  * partial, shuffled row, and reduce-side merge alike) before the
  * slice throws away everything past `k`, so the 100 TB hub group the
  * cap exists for would still blow the aggregation buffer it flows
  * through. Smallest-k-distinct is a semilattice
  * (⌊A ∪ B⌋ₖ = ⌊⌊A⌋ₖ ∪ ⌊B⌋ₖ⌋ₖ), so clamping every partial buffer at
  * `k` elements is exact, not approximate, and the plan shape is
  * unchanged: one exchange, map-side partial aggregation, same
  * ObjectHashAggregate node `collect_set` uses.
  *
  * Values must be non-null (nulls are skipped, like `collect_set`)
  * and of an orderable atomic type; output ordering matches
  * `sort_array` ascending, so downstream pair generation is
  * engine-reproducible.
  */
case class SmallestKDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BoundedSortedAggregate[mutable.TreeSet[Any]] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def prettyName: String = "smallest_k_distinct"

  override def createAggregationBuffer(): mutable.TreeSet[Any] =
    mutable.TreeSet.empty[Any](ordering)

  private def insert(b: mutable.TreeSet[Any], v: Any): Unit =
    // skip values already past the current k-th smallest so a
    // hub group's update path stays O(log k) with no churn
    if (b.size < k || ordering.lt(v, b.last)) {
      b += v
      if (b.size > k) b -= b.last
    }

  override def update(b: mutable.TreeSet[Any], input: InternalRow): mutable.TreeSet[Any] = {
    val v = child.eval(input)
    if (v != null) insert(b, InternalRow.copyValue(v))
    b
  }

  override def merge(b: mutable.TreeSet[Any], o: mutable.TreeSet[Any]): mutable.TreeSet[Any] = {
    o.foreach(insert(b, _))
    b
  }

  override def eval(b: mutable.TreeSet[Any]): Any =
    new GenericArrayData(b.toArray)

  override protected def stored(b: mutable.TreeSet[Any]): (Long, Array[Any]) =
    (b.size.toLong, b.toArray)
  override protected def restored(n: Long, items: Array[AnyRef]): mutable.TreeSet[Any] =
    mutable.TreeSet.from[Any](items)(ordering)

  override def withNewMutableAggBufferOffset(offset: Int): SmallestKDistinct =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SmallestKDistinct =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SmallestKDistinct =
    copy(child = newChild)
}

object SmallestKDistinct {
  /** The group's `k` smallest distinct non-null values of `c`, sorted
    * ascending — value-identical to
    * `slice(sort_array(collect_set(c)), 1, k)` with O(k) buffers. */
  def collect(c: Column, k: Int): Column =
    GraftColumnBridge.column(
      SmallestKDistinct(GraftColumnBridge.expression(c), k).toAggregateExpression())
}

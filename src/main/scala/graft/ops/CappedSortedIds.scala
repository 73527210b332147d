package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Aggregation buffer: the true group count plus at most `cap + 1`
  * collected values — enough to know the group overflowed without
  * ever holding more than `cap + 1` elements anywhere (map-side
  * partial, shuffle row, or reduce-side merge). */
final class CappedIdsBuffer(var n: Long, val items: mutable.ArrayBuffer[Any])

/** Bounded `collect_list`-with-cap: collects the group's values
  * sorted ascending, or NULL once the group exceeds `cap` elements.
  *
  * Why a custom aggregate (SURVEY.md §2.10): the compositional forms
  * of "drop mega-buckets" all pay something real at 100 TB —
  * `collect_list` + size filter materializes the whole mega-bucket in
  * one reducer's aggregation buffer before dropping it; a count
  * pre-aggregate + semi-join evaluates the (expensive — shingle +
  * minhash) upstream twice; a window count shuffles once but still
  * spills the mega-bucket through the window buffer. This aggregate
  * does it in ONE pass with O(cap) state per group: `update` stops
  * appending past `cap + 1` items (the count keeps counting), and
  * `merge` clamps, so a bucket shared by half the corpus costs
  * `cap + 1` retained values and a long — on the map side, in the
  * shuffled partial, and on the reduce side alike.
  *
  * Values must be non-null and of an orderable atomic type; output
  * ordering matches `array_sort` (binary for strings, numeric for
  * numbers), so downstream pair generation is engine-reproducible.
  */
case class CappedSortedIds(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BoundedSortedAggregate[CappedIdsBuffer] {

  require(cap >= 1, s"cap must be >= 1, got $cap")

  override def prettyName: String = "capped_sorted_ids"

  override def createAggregationBuffer(): CappedIdsBuffer =
    new CappedIdsBuffer(0L, mutable.ArrayBuffer.empty)

  override def update(b: CappedIdsBuffer, input: InternalRow): CappedIdsBuffer = {
    val v = child.eval(input)
    if (v != null) {
      b.n += 1
      // keep cap + 1, not cap: a buffer at exactly cap items must be
      // distinguishable from one that overflowed after a merge
      if (b.items.length <= cap) b.items += InternalRow.copyValue(v)
    }
    b
  }

  override def merge(b: CappedIdsBuffer, o: CappedIdsBuffer): CappedIdsBuffer = {
    b.n += o.n
    val room = (cap + 1) - b.items.length
    if (room > 0) b.items ++= o.items.take(room)
    b
  }

  override def eval(b: CappedIdsBuffer): Any =
    if (b.n > cap) null
    else new GenericArrayData(b.items.sorted(ordering).toArray)

  override protected def stored(b: CappedIdsBuffer): (Long, Array[Any]) =
    (b.n, b.items.toArray)
  override protected def restored(n: Long, items: Array[AnyRef]): CappedIdsBuffer =
    new CappedIdsBuffer(n, mutable.ArrayBuffer.from[Any](items))

  override def withNewMutableAggBufferOffset(offset: Int): CappedSortedIds =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CappedSortedIds =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): CappedSortedIds =
    copy(child = newChild)
}

object CappedSortedIds {
  /** `collect_list(c)` sorted ascending, NULL when the group holds
    * more than `cap` non-null values. */
  def collect(c: Column, cap: Int): Column =
    GraftColumnBridge.column(
      CappedSortedIds(GraftColumnBridge.expression(c), cap).toAggregateExpression())
}

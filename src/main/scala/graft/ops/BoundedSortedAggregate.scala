package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** The shared body of the bounded sorted-buffer aggregates
  * ([[CappedSortedIds]], [[SmallestKDistinct]]): a non-null orderable
  * child, an ascending array result, and a per-group buffer of at most
  * a bound's worth of values. Each subclass keeps only its buffer and
  * its `update`/`merge`/`eval` policy.
  *
  * Storage format: one UnsafeRow of (count: long, items: array), the
  * same generic binary path Spark's own Collect aggregates use, so any
  * orderable child type serializes without per-type code. */
abstract class BoundedSortedAggregate[B]
    extends TypedImperativeAggregate[B] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  @transient protected lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType)

  /** The buffer's stored form: a count and the retained values. */
  protected def stored(b: B): (Long, Array[Any])
  protected def restored(n: Long, items: Array[AnyRef]): B

  @transient private lazy val proj =
    UnsafeProjection.create(Array[DataType](LongType, dataType))

  override def serialize(b: B): Array[Byte] = {
    val (n, items) = stored(b)
    proj.apply(InternalRow(n, new GenericArrayData(items))).getBytes
  }

  override def deserialize(bytes: Array[Byte]): B = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    restored(row.getLong(0), row.getArray(1).toObjectArray(child.dataType))
  }
}

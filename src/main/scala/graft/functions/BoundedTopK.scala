package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, SortDirection,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** Bounded per-group top-k: the `k` first rows of a group in the order of
  * its leading `directions.length` children, as `array<struct<_1, _2, …>>`
  * of all children in rank order — the partial-aggregating form of
  * `row_number().over(partitionBy(g).orderBy(…)) <= k`.
  *
  * The window shuffles and sorts every candidate row of a group to keep k
  * of them. As an aggregate the map side reduces each partition to ≤ k rows
  * per group before the exchange, and the per-group sort becomes one
  * comparison against the current k-th row.
  *
  * The order IS Spark's: a generated `SortOrder` comparator with each
  * direction's default null ordering (first under asc, last under desc),
  * the window's `col.asc`/`col.desc`. Doubles (NaN greatest, -0.0 == 0.0),
  * strings (UTF-8 bytes), NULLs and every other orderable type therefore
  * rank exactly as the window ranks them; `TopKAggProps`,
  * `PayloadTopKAggProps` and `CountTopKAggProps` pin that against the
  * window form. Non-key children ride their row and are never compared.
  *
  * Rows tied on every key keep arrival order, and a tie with the k-th row
  * is rejected, so the result is the window's only when the keys are
  * distinct within a group — every caller ends its order on a unique id.
  *
  * Each input row is projected to an `UnsafeRow` and copied only when it
  * is kept; once the buffer is full, the evicted row's bytes are reused.
  */
case class BoundedTopK(
    children: Seq[Expression],
    k: Int,
    directions: Seq[SortDirection],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedTopK.Buffer] {
  require(k >= 1, s"k must be >= 1, got $k")
  require(directions.nonEmpty && directions.length <= children.length,
    s"${directions.length} sort directions for ${children.length} children")

  override def prettyName: String = "bounded_top_k"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(children.zipWithIndex.map {
    case (c, i) => StructField(s"_${i + 1}", c.dataType, c.nullable)
  }), containsNull = false)

  @transient private lazy val project = UnsafeProjection.create(children)
  @transient private lazy val ordering = GenerateOrdering.generate(
    directions.zipWithIndex.map { case (d, i) =>
      SortOrder(BoundReference(i, children(i).dataType, children(i).nullable), d)
    })

  override def createAggregationBuffer(): BoundedTopK.Buffer =
    new BoundedTopK.Buffer(new Array[UnsafeRow](k), 0)

  override def update(buf: BoundedTopK.Buffer, input: InternalRow): BoundedTopK.Buffer = {
    offer(buf, project(input))
    buf
  }

  /** Keeps `row` (copied) if it ranks before the current k-th; false when
    * the buffer is full and it does not. */
  private def offer(buf: BoundedTopK.Buffer, row: UnsafeRow): Boolean = {
    val rows = buf.rows
    val n = buf.n
    if (n == k && ordering.compare(row, rows(n - 1)) >= 0) return false
    val slot = if (n == k) { rows(n - 1).copyFrom(row); rows(n - 1) } else row.copy()
    var i = if (n == k) n - 1 else n
    while (i > 0 && ordering.compare(rows(i - 1), slot) > 0) { rows(i) = rows(i - 1); i -= 1 }
    rows(i) = slot
    if (n < k) buf.n = n + 1
    true
  }

  override def merge(buf: BoundedTopK.Buffer, other: BoundedTopK.Buffer): BoundedTopK.Buffer = {
    // `other` is in rank order: once one of its rows is rejected, so is the rest
    var i = 0
    while (i < other.n && offer(buf, other.rows(i))) i += 1
    buf
  }

  override def eval(buf: BoundedTopK.Buffer): Any =
    new GenericArrayData(buf.rows.take(buf.n).toSeq)

  /** `n`, then each row as its size and bytes. */
  override def serialize(buf: BoundedTopK.Buffer): Array[Byte] = {
    var size = 4
    var i = 0
    while (i < buf.n) { size += 4 + buf.rows(i).getSizeInBytes; i += 1 }
    val out = ByteBuffer.allocate(size).putInt(buf.n)
    i = 0
    while (i < buf.n) { out.putInt(buf.rows(i).getSizeInBytes); buf.rows(i).writeTo(out); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedTopK.Buffer = {
    val in = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    buf.n = in.getInt
    var i = 0
    while (i < buf.n) {
      val row = new Array[Byte](in.getInt)
      in.get(row)
      buf.rows(i) = new UnsafeRow(children.length)
      buf.rows(i).pointTo(row, row.length)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedTopK =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedTopK =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BoundedTopK =
    copy(children = c)
}

object BoundedTopK {

  /** The group's kept rows in rank order, `rows(0 until n)`. */
  final class Buffer(val rows: Array[UnsafeRow], var n: Int)

  /** `bounded_top_k` as a Column: the `k` first rows of each group by
    * `order` (`col.asc` / `col.desc`, the window's sort orders), each
    * carrying `carried`. Struct fields are `_1, _2, …`: the order keys,
    * then the carried columns. */
  def topK(k: Int, order: Seq[Column], carried: Seq[Column] = Nil): Column = {
    val (keys, dirs) = order.map(GraftBridge.sortKey).unzip
    GraftBridge.column(BoundedTopK((keys ++ carried).map(GraftBridge.expression), k, dirs)
      .toAggregateExpression())
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: flat long arrays, trimmed at 4k (trim
  * preserves the top-k multiset, so merges are split/commute-safe)
  * without any per-row object churn.
  */
final class TopKBuffer(val k: Int) {
  var ords = new Array[Long](math.min(4 * k, 64))
  var ids = new Array[Long](math.min(4 * k, 64))
  var n = 0

  def add(ord: Long, id: Long): Unit = {
    if (n == ords.length && n < 4 * k) {
      val cap = math.min(ords.length * 2, 4 * k)
      ords = java.util.Arrays.copyOf(ords, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }
    if (n == 4 * k) trim()
    ords(n) = ord; ids(n) = id; n += 1
  }

  /** keep only the k best (ord desc, id asc), in place */
  def trim(): Unit = {
    val idx = (0 until n).sorted(TopKBuffer.byOrdDescIdAsc(this)).take(k)
    val no = new Array[Long](ords.length); val ni = new Array[Long](ids.length)
    var j = 0
    idx.foreach { i => no(j) = ords(i); ni(j) = ids(i); j += 1 }
    ords = no; ids = ni; n = j
  }

  def mergeIn(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { add(other.ords(i), other.ids(i)); i += 1 }
  }

  /** final top-k as (ord, id) pairs, ord desc then id asc */
  def result(): Seq[(Long, Long)] = {
    trim()
    (0 until n).map(i => (ords(i), ids(i)))
  }
}

object TopKBuffer {
  def byOrdDescIdAsc(b: TopKBuffer): Ordering[Int] = new Ordering[Int] {
    override def compare(x: Int, y: Int): Int = {
      val c = java.lang.Long.compare(b.ords(y), b.ords(x))
      if (c != 0) c else java.lang.Long.compare(b.ids(x), b.ids(y))
    }
  }
}

/** Raw-Catalyst bounded top-k aggregate (`topk_agg(ord, id, k)` in SQL):
  * keeps the k largest (ord, id) pairs per group, ord descending, id
  * ascending as the deterministic tiebreak. The scale-correct form of
  * "top N per group": the `row_number` ≤ k window shuffles and sorts every
  * row, while this aggregate combines map-side. The buffer is a plain JVM
  * object mutated in place, serialized ONLY at the partial/final exchange
  * boundary (16 bytes per kept row), with none of the per-row encoder
  * round-trips a `udaf()` Aggregator pays; serialize() trims first, so
  * O(groups × k) rows cross the wire. NULL ord/id rows are skipped — standard SQL aggregate
  * semantics (like sum/max), NOT the window-form NULLS LAST ranking.
  */
case class TopKNative(ordExpr: Expression, idExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {
  require(k > 0 && k <= (1 << 20), s"unreasonable k=$k")

  override def prettyName: String = "topk_agg"
  override def children: Seq[Expression] = Seq(ordExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ord", LongType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        children.map(_.dataType.simpleString).mkString(", "))

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val o = ordExpr.eval(input)
    val i = idExpr.eval(input)
    if (o != null && i != null) buf.add(o.asInstanceOf[Long], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeIn(other); buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.result().map { case (o, i) =>
      InternalRow(o, i)
    }.toArray[Any])

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    buf.trim()
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.ords(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.add(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKNative =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKNative =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKNative =
    copy(ordExpr = newChildren(0), idExpr = newChildren(1))

  override def defaultResult: Option[org.apache.spark.sql.catalyst.expressions.Literal] =
    Option(org.apache.spark.sql.catalyst.expressions.Literal.create(
      new GenericArrayData(Array.empty[Any]), dataType))
}

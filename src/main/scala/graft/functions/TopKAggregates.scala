package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k buffer: the k smallest (d, id) pairs under lexicographic
  * (d asc, id asc) order, held as a size-k binary MAX-heap (root = current
  * worst) so `offer` is O(log k) and memory is exactly 16·k bytes of
  * primitive arrays regardless of how many rows stream through.
  *
  * This is the aggregation-buffer analog of the reference's per-query
  * candidate heap (reference: engine/db/index/knn/knn_flat.cpp keeps a
  * bounded result heap while scanning) — except here it rides Spark's
  * partial-aggregation machinery, so every map task maintains its own heap
  * and the shuffle moves only k pairs per (group, task), never the scored
  * rows themselves.
  *
  * NaN distances are never admitted (comparisons with NaN are false), and
  * ties on d break on the smaller id, matching `ORDER BY d ASC, id ASC`.
  */
final class TopKHeap(val k: Int) extends Serializable {
  val ds = new Array[Double](math.max(k, 1))
  val ids = new Array[Long](math.max(k, 1))
  var size = 0

  // (d1,i1) strictly before (d2,i2) in the ASC result order
  @inline private def before(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 < d2 || (d1 == d2 && i1 < i2)

  // heap order: parent AFTER child (max-heap on the ASC order → root worst)
  @inline private def worseThan(a: Int, b: Int): Boolean =
    before(ds(b), ids(b), ds(a), ids(a))

  @inline private def swap(a: Int, b: Int): Unit = {
    val td = ds(a); ds(a) = ds(b); ds(b) = td
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && worseThan(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worseThan(l, m)) m = l
      if (r < size && worseThan(r, m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def offer(d: Double, id: Long): Unit = {
    if (k <= 0 || d != d) return // NaN would break the heap invariant
    if (size < k) {
      ds(size) = d; ids(size) = id; size += 1; siftUp(size - 1)
    } else if (before(d, id, ds(0), ids(0))) {
      ds(0) = d; ids(0) = id; siftDown(0)
    }
  }

  /** Whether the heap holds its k pairs. */
  def full: Boolean = size >= k

  /** The worst retained distance: the k-th smallest once `full` (k > 0). */
  def worst: Double = ds(0)

  /** Whether `offer(d, id)` would keep the pair. */
  def admits(d: Double, id: Long): Boolean =
    k > 0 && d == d && (size < k || before(d, id, ds(0), ids(0)))

  def mergeFrom(o: TopKHeap): Unit = {
    var j = 0
    while (j < o.size) { offer(o.ds(j), o.ids(j)); j += 1 }
  }

  /** Heap contents in (d asc, id asc) order. */
  def sortedPairs: Array[(Double, Long)] = {
    val out = Array.tabulate(size)(j => (ds(j), ids(j)))
    java.util.Arrays.sort(out.asInstanceOf[Array[Object]], new java.util.Comparator[Object] {
      def compare(x: Object, y: Object): Int = {
        val a = x.asInstanceOf[(Double, Long)]; val b = y.asInstanceOf[(Double, Long)]
        val c = java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })
    out
  }
}

/** `topk_min(d, id, k)` — aggregate the k smallest (d, id) pairs into
  * `array<struct<d: double, id: bigint>>`, sorted (d asc, id asc).
  *
  * The point is BATCH top-k: `groupBy(qid).agg(topk_min(...))` gives every
  * query its own bounded heap with map-side partial aggregation, so Q
  * queries cost ONE corpus pass and the shuffle carries Q·k·tasks pairs —
  * the scalable alternative to a per-query TakeOrderedAndProject job (Q
  * scans) or a window rank over all scored pairs (full N·Q shuffle).
  * Executed by ObjectHashAggregateExec (partial + final), never a plan-wide
  * sort.
  */
case class TopKMin(
    dist: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap]
  with org.apache.spark.sql.graftbridge.GraftImplicitCasts {

  // SQL-surface safety: `topk_min(FLOAT, INT, k)` must not pass analysis
  // and then ClassCastException in update() — the analyzer inserts casts.
  override def graftInputTypes: Seq[DataType] =
    Seq(DoubleType, LongType, IntegerType)

  private lazy val kVal: Int = kExpr match {
    case Literal(v: Int, IntegerType) => v
    case other => other.eval().asInstanceOf[Number].intValue()
  }

  override def prettyName: String = "topk_min"
  override def children: Seq[Expression] = Seq(dist, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("d", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(kVal)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val d = dist.eval(input)
    val i = id.eval(input)
    if (d != null && i != null)
      buffer.offer(d.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    buffer.mergeFrom(other); buffer
  }

  override def eval(buffer: TopKHeap): Any = {
    val pairs = buffer.sortedPairs
    new GenericArrayData(pairs.map { case (d, i) =>
      new GenericInternalRow(Array[Any](d, i)): Any
    })
  }

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 16 * buffer.size)
    bb.putInt(buffer.k).putInt(buffer.size)
    var j = 0
    while (j < buffer.size) { bb.putDouble(buffer.ds(j)).putLong(buffer.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new TopKHeap(bb.getInt())
    val n = bb.getInt()
    var j = 0
    while (j < n) { h.offer(bb.getDouble(), bb.getLong()); j += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMin =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

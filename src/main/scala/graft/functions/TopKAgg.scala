package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k heap, the aggregation buffer of [[TopKPairs]]. Keeps
  * the k best (score, id) pairs under the total order score DESC then
  * id ASC — the exact order `row_number() OVER (ORDER BY s DESC, id)`
  * ranks by, so the aggregate and the window form can never disagree,
  * ties included. A scala PriorityQueue dequeues its MAXIMUM, so the
  * ordering here ranks the WORST element greatest: the head is always
  * the next candidate for eviction and insertion is O(log k).
  */
final class TopKHeap(val k: Int) {
  import TopKHeap.worstFirst
  val pq = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst)

  def insert(score: Double, id: Long): Unit = {
    val e = (score, id)
    if (pq.size < k) pq.enqueue(e)
    else if (worstFirst.compare(e, pq.head) < 0) { pq.dequeue(); pq.enqueue(e) }
  }

  /** Best-first (score DESC, id ASC) — the emission order. */
  def sortedBest: Seq[(Double, Long)] = pq.toSeq.sorted(TopKHeap.worstFirst)
}

object TopKHeap {
  /** compare(a, b) > 0 ⇔ a is WORSE: lower score, or same score and
    * higher id. Doubles via java.lang.Double.compare — the same total
    * order Spark's sort uses, so NaN ranks GREATER than every real
    * (first under score DESC) in both the window form and here:
    * equivalence holds even on NaN inputs. */
  val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
}

/** `graft_topk(score, id, k)` — per-group top-k as a PARTIAL-AGGREGATING
  * bounded heap: array<struct<score double, id bigint>> of the k best
  * input rows, sorted score DESC, id ASC.
  *
  * Why this exists (the 100-TB shape): "top-k per key over everything"
  * written as `row_number() OVER (PARTITION BY key ORDER BY s DESC)`
  * shuffles and SORTS every input row — at 10⁸ corpus rows × Q probe
  * queries the brute-force ANN truth leg is 5×10⁹ rows through one
  * exchange, which is a disk-filling sort (measured: the 10M ivfpq
  * smoke's 5×10⁸-row window was already ~15 GB of shuffle). As a
  * TypedImperativeAggregate the same answer partial-aggregates
  * map-side: each task ships k entries per group it saw, the exchange
  * carries ≤ tasks × groups × k tiny heap states, and no group's state
  * holds more than k elements. ObjectHashAggregateExec runs it with
  * real map-side combine; the window form's WindowExec cannot. It is
  * not sort-free: past `spark.sql.objectHashAggregate.sortBased.
  * fallbackThreshold` (128) group keys in one task, ObjectHashAggregate
  * falls back to a sort-based aggregation that sorts the task's
  * remaining input rows and buffered states by group key (not by
  * score) — the "falling back to sort based aggregation" INFO line.
  *
  * Determinism contract: ties rank id-ASC — identical to the window
  * form's `ORDER BY s DESC, id` — so a query can swap between the two
  * shapes (or be checked against a DuckDB row_number oracle)
  * bit-for-bit. NULL score or id rows are skipped, matching
  * row_number's behavior under `WHERE s IS NOT NULL` oracles (callers
  * gate NULLs out; the skip here is belt-and-braces, not a semantic).
  */
case class TopKPairs(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0 && k <= (1 << 20), s"graft_topk k must be in [1, 2^20], got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buffer: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buffer.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKHeap, other: TopKHeap): TopKHeap = {
    other.pq.foreach { case (s, i) => buffer.insert(s, i) }
    buffer
  }

  override def eval(buffer: TopKHeap): Any =
    new GenericArrayData(buffer.sortedBest.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])

  override def serialize(buffer: TopKHeap): Array[Byte] = {
    val entries = buffer.pq.toSeq
    val bb = ByteBuffer.allocate(4 + 16 * entries.size)
    bb.putInt(entries.size)
    entries.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val h = new TopKHeap(k)
    var j = 0
    while (j < n) { h.insert(bb.getDouble(), bb.getLong()); j += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "graft_topk"
}

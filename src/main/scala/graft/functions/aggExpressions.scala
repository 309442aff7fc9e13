package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters summary: at most `k` counters per buffer.
  *
  * Guarantee (Misra & Gries 1982; mergeability per Agarwal et al.,
  * "Mergeable Summaries", PODS'12): after summarizing N items, every item
  * with true frequency > N/(k+1) is present among the counters, and each
  * counter undercounts by at most N/(k+1). Partial buffers merge by
  * counter addition followed by the (k+1)-th-largest-count subtraction,
  * preserving the same bound — so the DISTRIBUTED sketch (one buffer per
  * partition, merged on the reduce side) carries the identical guarantee
  * as a single sequential pass.
  *
  * This is the 100 TB shape for "top domains / top templates / hot keys":
  * the shuffle moves k counters per map partition instead of the full
  * token stream; an exact recount of the (tiny) candidate set restores
  * exact counts. The final filter `count > N/(k+1)` is then provably
  * identical to what a full groupBy over the raw stream would produce —
  * that equivalence is the DuckDB gate for `d26_heavy_hitters`.
  *
  * Reference analogue: the reference has no sketch machinery (its KQL
  * `summarize` runs service-side, e.g. templates/script.kql:9); this is
  * part of the extension family, implemented as a native Catalyst
  * `TypedImperativeAggregate` (same kind as Spark's own HLL++ / percentile
  * sketches) so it rides ObjectHashAggregate with map-side partials.
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k >= 1, s"MisraGriesAgg needs k >= 1, got $k")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < k => buf.update(key, 1L)
        case None => // decrement-all: consumes one unit from k tracked keys
          val dead = buf.iterator.collect { case (t, 1L) => t }.toList
          buf.mapValuesInPlace((_, c) => c - 1)
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (t, c) => buf.update(t, buf.getOrElse(t, 0L) + c) }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count from everything; at most k
      // strictly-positive counters remain (Mergeable Summaries, §3.1)
      val d = buf.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = buf.iterator.collect { case (t, c) if c <= d => t }.toList
      buf.mapValuesInPlace((_, c) => c - d)
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.keysIterator.map(UTF8String.fromString).toArray[Any])

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** Exact bounded-heap top-k: keeps the `k` SMALLEST struct values under
  * the struct type's ordering (callers encode descending dimensions by
  * negation and append a unique tiebreak field for determinism). Returns
  * the k rows as an ascending-sorted array.
  *
  * Positioning vs the `row_number() <= k` window idiom — measured, not
  * assumed (by TopKScale, historical (probe removed after 8bdcef0)):
  * Spark 4's own `WindowGroupLimit` rewrite
  * already bounds that idiom map-side (k rows per group per partition
  * cross the exchange), so there is NO asymptotic shuffle win here. The
  * heap's measured regime is LOW group cardinality / hot groups — per
  * partition it is O(n log k) where the window form still SORTS each
  * partition (10 M rows / 10 groups: heap 0.43 s vs window 0.74 s
  * steady); at high group cardinality the sort-based form wins (20 M /
  * 100k groups: 1.6 s vs 2.5 s) because per-group hash-map state
  * dominates. The aggregate's other value is COMPOSITIONAL: top-k as a
  * plain aggregate slots beside count/sum in ONE groupBy pass and
  * returns the rows as an array — the window form needs a second pass
  * or a re-join to do that. Same result set by construction (both
  * select the k minima of a total order) — gated against the
  * row_number oracle in x63.
  */
case class TopKStructAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]] {

  require(k >= 1, s"TopKStructAgg needs k >= 1, got $k")

  private def structType: StructType =
    child.dataType.asInstanceOf[StructType]

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(structType, containsNull = false)
  override def prettyName: String = "topk_struct"

  // interpreted ordering of the struct type — identical to what ORDER BY
  // on the struct would use, so the row_number oracle agrees
  @transient private lazy val ord: Ordering[InternalRow] =
    org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(structType)
      .asInstanceOf[Ordering[InternalRow]]

  // PriorityQueue dequeues the LARGEST under `ord` — exactly the row to
  // evict when a smaller candidate arrives
  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    mutable.PriorityQueue.empty[InternalRow](ord)

  private def offer(buf: mutable.PriorityQueue[InternalRow],
                    row: InternalRow): Unit = {
    if (buf.size < k) buf.enqueue(row)
    else if (ord.compare(row, buf.head) < 0) { buf.dequeue(); buf.enqueue(row) }
  }

  override def update(buf: mutable.PriorityQueue[InternalRow],
                      input: InternalRow): mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) {
      // copy: childless eval may return a reused buffer row
      offer(buf, v.asInstanceOf[InternalRow].copy())
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[InternalRow],
                     other: mutable.PriorityQueue[InternalRow]): mutable.PriorityQueue[InternalRow] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(buf.toArray.sorted(ord).asInstanceOf[Array[Any]])

  @transient private lazy val toUnsafe =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(structType)

  override def serialize(buf: mutable.PriorityQueue[InternalRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { row =>
      val u = toUnsafe(row)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, new Array[Byte](4096))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[InternalRow] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    val fields = structType.length
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val rowBytes = new Array[Byte](len)
      in.readFully(rowBytes)
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(fields)
      row.pointTo(rowBytes, len)
      buf.enqueue(row)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKStructAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKStructAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object AggFunctions {
  /** `misra_gries(col, k)` as a Column aggregate — returns the candidate
    * key array (superset of every key with frequency > N/(k+1)). */
  def misraGries(col: Column, k: Int): Column =
    Shims.column(
      MisraGriesAgg(Shims.expression(col), k).toAggregateExpression())

  /** `topk_struct(structCol, k)` — the k SMALLEST struct values under the
    * struct ordering, as an ascending array. Encode descending dims by
    * negation; include a unique field for a deterministic tiebreak. */
  def topKStruct(col: Column, k: Int): Column =
    Shims.column(
      TopKStructAgg(Shims.expression(col), k).toAggregateExpression())
}

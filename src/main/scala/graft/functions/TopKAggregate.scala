package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Bounded-heap per-group top-k — the distributed shape of the reference's
 * per-scan BoundedPriorityQueue search (ds/Linear.java:138–163: every scan
 * thread keeps a k-bounded heap, results merge at the end).
 *
 * As a [[TypedImperativeAggregate]], Spark plans it as
 * ObjectHashAggregate(partial) → shuffle → ObjectHashAggregate(final): each
 * map task collapses its slice of the scored candidates to ≤ k rows per group
 * BEFORE the shuffle, so a brute-force k-NN over |Q| queries × |N| candidates
 * shuffles O(|Q| · partitions · k) entries instead of the full |Q|·|N| cross
 * product, and no single task ever sorts a query's whole candidate set (the
 * window-rank formulation did both — the round-1 scale-killer).
 *
 * Ordering: (score asc|desc, id asc) — id is the deterministic tie-break.
 * `payload` rides along un-compared (used by k-means init to carry the vector
 * of the selected rows); pass a null literal when unused.
 *
 * Output: array<struct<score, id, payload>> sorted best-first; callers
 * `posexplode` it, rank = pos + 1.
 */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    payload: Expression,
    k: Int,
    ascending: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedTopK.Buffer] {

  import BoundedTopK._

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(score, id, payload)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_top_k"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", score.dataType, nullable = false),
    StructField("id", id.dataType, nullable = false),
    StructField("payload", payload.dataType, nullable = true))),
    containsNull = false)

  @transient private lazy val cmp: (Entry, Entry) => Int =
    order(score.dataType, id.dataType, ascending)

  override def createAggregationBuffer(): Buffer = new Buffer(k)

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      // insert-or-reject against the current worst BEFORE copying (values from
      // the input row may be backed by reused buffers; copy only survivors)
      if (buffer.admits(Entry(s, i, null), cmp)) {
        val p = payload.eval(input)
        buffer.insert(
          Entry(copyValue(s), copyValue(i), if (p == null) null else copyValue(p)),
          cmp)
      }
    }
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    other.foreach(e => buffer.offer(e, cmp))
    buffer
  }

  override def eval(buffer: Buffer): Any =
    new GenericArrayData(buffer.sorted(cmp).map(e =>
      new GenericInternalRow(Array[Any](e.score, e.id, e.payload))))

  override def serialize(buffer: Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val entries = buffer.toArray
    out.writeInt(entries.length)
    entries.foreach { e =>
      writeValue(out, e.score, score.dataType)
      writeValue(out, e.id, id.dataType)
      out.writeBoolean(e.payload != null)
      if (e.payload != null) writeValue(out, e.payload, payload.dataType)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buffer = new Buffer(k)
    var i = 0
    while (i < n) {
      val s = readValue(in, score.dataType)
      val id0 = readValue(in, id.dataType)
      val p = if (in.readBoolean()) readValue(in, payload.dataType) else null
      buffer.insert(Entry(s, id0, p), cmp)
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedTopK =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren(2))
}

object BoundedTopK {

  final case class Entry(score: Any, id: Any, payload: Any)

  /** k-bounded max-heap keyed by "worst first" (the comparator is supplied per
    * call because it lives on the enclosing expression). */
  final class Buffer(k: Int) {
    private val heap = new java.util.PriorityQueue[EntryBox](math.max(1, k))
    def size: Int = heap.size()
    def worst: Entry = heap.peek().e
    /** Whether `e` would enter: the heap is not full, or `e` beats the worst. */
    def admits(e: Entry, cmp: (Entry, Entry) => Int): Boolean =
      heap.size() < k || cmp(e, worst) < 0
    def insert(e: Entry, cmp: (Entry, Entry) => Int): Unit = {
      heap.offer(new EntryBox(e, cmp))
      if (heap.size() > k) heap.poll()
      ()
    }
    /** Insert `e` if it [[admits]] it. */
    def offer(e: Entry, cmp: (Entry, Entry) => Int): Unit =
      if (admits(e, cmp)) insert(e, cmp)
    def foreach(f: Entry => Unit): Unit = {
      val it = heap.iterator()
      while (it.hasNext) f(it.next().e)
    }
    def toArray: Array[Entry] = {
      val out = new Array[Entry](heap.size())
      val it = heap.iterator(); var i = 0
      while (it.hasNext) { out(i) = it.next().e; i += 1 }
      out
    }
    /** The entries best first. */
    def sorted(cmp: (Entry, Entry) => Int): Array[Entry] =
      toArray.sortWith((a, b) => cmp(a, b) < 0)
  }

  /** PriorityQueue element ordered worst-first (reverse of the best-first
    * comparator) so peek() is the eviction candidate. */
  private final class EntryBox(val e: Entry, cmp: (Entry, Entry) => Int)
      extends Comparable[EntryBox] {
    override def compareTo(o: EntryBox): Int = -cmp(e, o.e)
  }

  /** The top-k order, best first: score ascending (or descending) under its
    * type's total order, then id ascending. */
  def order(scoreType: DataType, idType: DataType,
            ascending: Boolean): (Entry, Entry) => Int = {
    val scoreOrd = if (ascending) orderingFor(scoreType) else orderingFor(scoreType).reverse
    val idOrd = orderingFor(idType)
    (a, b) => {
      val s = scoreOrd.compare(a.score, b.score)
      if (s != 0) s else idOrd.compare(a.id, b.id)
    }
  }

  private[functions] def orderingFor(dt: DataType): Ordering[Any] = (dt match {
    case DoubleType => Ordering.Double.TotalOrdering.asInstanceOf[Ordering[Any]]
    case FloatType => Ordering.Float.TotalOrdering.asInstanceOf[Ordering[Any]]
    case LongType => implicitly[Ordering[Long]].asInstanceOf[Ordering[Any]]
    case IntegerType => implicitly[Ordering[Int]].asInstanceOf[Ordering[Any]]
    case StringType => new Ordering[Any] {
      override def compare(a: Any, b: Any): Int =
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    }
    case other => throw new IllegalArgumentException(
      s"bounded_top_k: unsupported order type $other")
  })

  /** Internal-format values may be backed by reused buffers — copy survivors. */
  private[functions] def copyValue(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case a: ArrayData => a.copy()
    case other => other // primitives are immutable
  }

  private def writeValue(out: DataOutputStream, v: Any, dt: DataType): Unit = dt match {
    case DoubleType => out.writeDouble(v.asInstanceOf[Double])
    case FloatType => out.writeFloat(v.asInstanceOf[Float])
    case LongType => out.writeLong(v.asInstanceOf[Long])
    case IntegerType => out.writeInt(v.asInstanceOf[Int])
    case StringType =>
      val b = v.asInstanceOf[UTF8String].getBytes
      out.writeInt(b.length); out.write(b)
    case ArrayType(DoubleType, _) =>
      val a = v.asInstanceOf[ArrayData].toDoubleArray()
      out.writeInt(a.length); a.foreach(out.writeDouble)
    case ArrayType(IntegerType, _) =>
      val a = v.asInstanceOf[ArrayData].toIntArray()
      out.writeInt(a.length); a.foreach(out.writeInt)
    case NullType => ()
    case other => throw new IllegalArgumentException(
      s"bounded_top_k: unsupported payload type $other")
  }

  private def readValue(in: DataInputStream, dt: DataType): Any = dt match {
    case DoubleType => in.readDouble()
    case FloatType => in.readFloat()
    case LongType => in.readLong()
    case IntegerType => in.readInt()
    case StringType =>
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      UTF8String.fromBytes(b)
    case ArrayType(DoubleType, _) =>
      new GenericArrayData(Array.fill(in.readInt())(in.readDouble()))
    case ArrayType(IntegerType, _) =>
      new GenericArrayData(Array.fill(in.readInt())(in.readInt()))
    case NullType => null
    case other => throw new IllegalArgumentException(
      s"bounded_top_k: unsupported payload type $other")
  }

  /** Column surface: array<struct<score,id,payload>> of the k best rows. */
  def topK(score: Column, id: Column, payload: Column, k: Int,
           ascending: Boolean): Column =
    GraftBridge.column(BoundedTopK(
      GraftBridge.expression(score), GraftBridge.expression(id),
      GraftBridge.expression(payload), k, ascending).toAggregateExpression())
}

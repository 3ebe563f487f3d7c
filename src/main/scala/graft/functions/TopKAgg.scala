package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: the partial-aggregation replacement for
  * `row_number().over(Window.partitionBy(g).orderBy(key, id)) <= k`.
  *
  * What it removes is the SORT. Spark already bounds the window form's
  * exchange: `InsertWindowGroupLimit` plans a partial `WindowGroupLimit`
  * before the shuffle, so at most k rows per (partition, group) cross it
  * either way. But that limit needs its input sorted by (group, key),
  * both before the exchange and again after it — on the brute-force kNN
  * path, a sort of the entire Q·N similarity set. This aggregate keeps
  * an O(k) bounded heap per group instead: partial aggregation feeds
  * the heap row by row, the exchange carries ≤ k (double, long) pairs
  * per (partition, group), and no sort of the candidate set ever
  * happens (only the final ≤ k elements are sorted).
  *
  * Ordering contract — EXACTLY the window's total order, so swapping it
  * in under an oracle-checked query cannot change a single hash:
  *
  *   - `asc = false` ⇔ `orderBy(desc(key), id)`; `asc = true` ⇔
  *     `orderBy(key, id)` (id always ascending, matching every call
  *     site's tie-break column).
  *   - doubles compare via [[SQLOrderingUtil.compareDoubles]] — the same
  *     comparator Spark's SortOrder uses for DoubleType: NaN > every
  *     non-NaN, NaN == NaN, -0.0 == 0.0.
  *   - null keys follow Spark's default null ordering for the
  *     direction: nulls FIRST for asc, nulls LAST for desc.
  *   - ties on (key) break on id ascending; a null id sorts first
  *     (Spark's asc default). Call sites use unique ids per group, so
  *     full (key, id) ties cannot occur.
  *
  * Output: `array<struct<key double, id bigint>>`, best-first — so
  * `posexplode` reproduces the window's `row_number` as pos + 1.
  */
case class TopKAgg(
    key: Expression,
    id: Expression,
    kExpr: Expression,
    ascExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAgg.Buffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue
  private lazy val asc: Boolean = ascExpr.eval().asInstanceOf[Boolean]

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kExpr.foldable || !ascExpr.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k and asc must be literals")
    else if (key.dataType != DoubleType || id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (double, bigint, int, boolean), got " +
          s"(${key.dataType.simpleString}, ${id.dataType.simpleString})")
    else if (kExpr.eval() == null || kExpr.eval().asInstanceOf[Number].intValue < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", DoubleType, nullable = true),
      StructField("id", LongType, nullable = true))),
    containsNull = false)

  override def children: Seq[Expression] = Seq(key, id, kExpr, ascExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), id = newChildren(1),
      kExpr = newChildren(2), ascExpr = newChildren(3))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)

  override def createAggregationBuffer(): TopKAgg.Buffer =
    new TopKAgg.Buffer(k, asc)

  override def update(buf: TopKAgg.Buffer, input: InternalRow): TopKAgg.Buffer = {
    val kv = key.eval(input)
    val iv = id.eval(input)
    buf.insert(kv == null,
      if (kv == null) 0.0 else kv.asInstanceOf[Double],
      iv == null,
      if (iv == null) 0L else iv.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKAgg.Buffer, b: TopKAgg.Buffer): TopKAgg.Buffer = {
    var i = 0
    while (i < b.size) {
      a.insert(b.keyNull(i), b.keys(i), b.idNull(i), b.ids(i))
      i += 1
    }
    a
  }

  override def eval(buf: TopKAgg.Buffer): Any = {
    val order = buf.sortedIndices()
    new GenericArrayData(order.map { i =>
      InternalRow(
        if (buf.keyNull(i)) null else buf.keys(i),
        if (buf.idNull(i)) null else buf.ids(i))
    })
  }

  override def serialize(buf: TopKAgg.Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 18)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.put(if (buf.keyNull(i)) 1.toByte else 0.toByte)
      bb.putDouble(buf.keys(i))
      bb.put(if (buf.idNull(i)) 1.toByte else 0.toByte)
      bb.putLong(buf.ids(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKAgg.Buffer(k, asc)
    var i = 0
    while (i < n) {
      val kn = bb.get() == 1
      val kv = bb.getDouble
      val in = bb.get() == 1
      val iv = bb.getLong
      buf.insert(kn, kv, in, iv)
      i += 1
    }
    buf
  }
}

object TopKAgg {

  /** Bounded binary heap of ≤ k (key, id) pairs, WORST kept element at
    * the root: an incoming candidate either beats the root (replace +
    * sift down, O(log k)) or is rejected in O(1). Exactly k slots of
    * primitive arrays — no boxing, no growth. */
  final class Buffer(k: Int, asc: Boolean) {
    var size: Int = 0
    val keyNull = new Array[Boolean](k)
    val keys = new Array[Double](k)
    val idNull = new Array[Boolean](k)
    val ids = new Array[Long](k)

    /** The window's total order: true when a ranks strictly before b. */
    private def better(
        an: Boolean, ak: Double, ain: Boolean, ai: Long,
        bn: Boolean, bk: Double, bin: Boolean, bi: Long): Boolean = {
      val c =
        if (an && bn) 0
        else if (an) { if (asc) -1 else 1 } // nulls first asc, last desc
        else if (bn) { if (asc) 1 else -1 }
        else {
          val c0 = SQLOrderingUtil.compareDoubles(ak, bk)
          if (asc) c0 else -c0
        }
      if (c != 0) c < 0
      else if (ain && bin) false
      else if (ain || bin) ain // null id sorts first (Spark asc default)
      else ai < bi
    }

    private def betterIdx(i: Int, j: Int): Boolean =
      better(keyNull(i), keys(i), idNull(i), ids(i),
        keyNull(j), keys(j), idNull(j), ids(j))

    private def swap(i: Int, j: Int): Unit = {
      val n = keyNull(i); keyNull(i) = keyNull(j); keyNull(j) = n
      val d = keys(i); keys(i) = keys(j); keys(j) = d
      val m = idNull(i); idNull(i) = idNull(j); idNull(j) = m
      val l = ids(i); ids(i) = ids(j); ids(j) = l
    }

    // Heap invariant: parent NOT better than children (root = worst kept).
    private def siftUp(start: Int): Unit = {
      var i = start
      while (i > 0 && betterIdx((i - 1) / 2, i)) {
        swap((i - 1) / 2, i); i = (i - 1) / 2
      }
    }

    private def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = 2 * i + 2
        var worst = i
        if (l < size && betterIdx(worst, l)) worst = l
        if (r < size && betterIdx(worst, r)) worst = r
        if (worst == i) done = true
        else { swap(i, worst); i = worst }
      }
    }

    def insert(kn: Boolean, kv: Double, in: Boolean, iv: Long): Unit =
      if (size < k) {
        keyNull(size) = kn; keys(size) = kv; idNull(size) = in; ids(size) = iv
        size += 1
        siftUp(size - 1)
      } else if (better(kn, kv, in, iv, keyNull(0), keys(0), idNull(0), ids(0))) {
        keyNull(0) = kn; keys(0) = kv; idNull(0) = in; ids(0) = iv
        siftDown()
      }

    /** Kept element indices, best-first (rank order). */
    def sortedIndices(): Array[Int] = {
      val idx = Array.range(0, size)
      // insertion sort: size ≤ k (small); comparator = the total order
      var i = 1
      while (i < size) {
        var j = i
        while (j > 0 && betterIdx(idx(j), idx(j - 1))) {
          val t = idx(j); idx(j) = idx(j - 1); idx(j - 1) = t; j -= 1
        }
        i += 1
      }
      idx
    }
  }
}

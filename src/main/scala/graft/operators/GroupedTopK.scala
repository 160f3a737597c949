package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType,
  StructField, StructType}

/** Grouped top-k as a native Catalyst aggregate (`TypedImperativeAggregate`):
  * keeps the k largest (value, tieBreak) pairs per group in a bounded
  * buffer.
  *
  * Scale rationale vs the window formulation
  * (`row_number().over(partitionBy(g).orderBy(v))  <= k`): a window sorts
  * EVERY row of every group after a full shuffle; this aggregate is
  * map-side combinable — each partition reduces to at most k pairs per
  * group before the shuffle (a partial `ObjectHashAggregate`), so the
  * exchanged data is O(groups * k), not O(rows). At 100 TB that is the
  * difference between a bounded and an unbounded shuffle.
  *
  * Order: (value DESC, tieBreak DESC) with Spark SQL's double ordering —
  * NaN is the greatest value and -0.0 equals 0.0 — so the kept pairs and
  * their order are exactly the rows
  * `row_number() OVER (PARTITION BY g ORDER BY value DESC, tie DESC) <= k`
  * keeps, a total order over every non-null input. The inputs are cast
  * to double/bigint; a null value or tieBreak fails the task loudly
  * (naming the column) instead of ranking anywhere — filter nulls in the
  * caller.
  *
  * The buffer is a pair of fixed-size ascending arrays (size <= k,
  * binary-insert, the smallest drops first) shuffled as raw bytes; the
  * k under consideration is small by construction.
  */
object GroupedTopK {

  /** Column form: top-k (value, tieBreak) pairs per group, descending,
    * as `array<struct<_1: double, _2: bigint>>`.
    */
  def topK(k: Int)(value: Column, tieBreak: Column): Column =
    GraftBridge.column(TopK(
      Cast(GraftBridge.expression(value), DoubleType),
      Cast(GraftBridge.expression(tieBreak), LongType), k,
      value.toString, tieBreak.toString))

  /** Ascending bounded buffer: `v(i), t(i)` for i < n, smallest first. */
  final class Buffer(k: Int) {
    val v = new Array[Double](k)
    val t = new Array[Long](k)
    var n = 0

    private def less(i: Int, x: Double, y: Long): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(v(i), x)
      c < 0 || (c == 0 && t(i) < y)
    }

    def insert(x: Double, y: Long): Unit = {
      // pos = number of kept pairs strictly below (x, y)
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (less(mid, x, y)) lo = mid + 1 else hi = mid
      }
      if (n < k) {
        System.arraycopy(v, lo, v, lo + 1, n - lo)
        System.arraycopy(t, lo, t, lo + 1, n - lo)
        v(lo) = x; t(lo) = y; n += 1
      } else if (lo > 0) {
        // full: drop the smallest, insert below everything >= (x, y)
        System.arraycopy(v, 1, v, 0, lo - 1)
        System.arraycopy(t, 1, t, 0, lo - 1)
        v(lo - 1) = x; t(lo - 1) = y
      }
    }
  }

  private val PairType =
    StructType(Seq(StructField("_1", DoubleType, nullable = false),
      StructField("_2", LongType, nullable = false)))

  /** `valueName`/`tieName` name the input columns in the null refusal
    * (the children are bound references by the time a task runs).
    */
  final case class TopK(value: Expression, tieBreak: Expression, k: Int,
      valueName: String, tieName: String,
      mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Buffer]
      with BinaryLike[Expression] {
    require(k > 0, s"GroupedTopK.topK: k must be positive, got $k")

    override def left: Expression = value
    override def right: Expression = tieBreak
    override def prettyName: String = "grouped_top_k"
    override def nullable: Boolean = true
    override def dataType: DataType = ArrayType(PairType, containsNull = true)

    override def createAggregationBuffer(): Buffer = new Buffer(k)

    private def notNull(name: String, x: Any): Any = {
      if (x == null) throw new IllegalArgumentException(
        s"GroupedTopK.topK: null in $name — a null value or tieBreak " +
          "has no rank; filter it out before the aggregate")
      x
    }

    override def update(buf: Buffer, input: InternalRow): Buffer = {
      buf.insert(notNull(valueName, value.eval(input)).asInstanceOf[Double],
        notNull(tieName, tieBreak.eval(input)).asInstanceOf[Long])
      buf
    }

    override def merge(buf: Buffer, other: Buffer): Buffer = {
      var i = 0
      while (i < other.n) { buf.insert(other.v(i), other.t(i)); i += 1 }
      buf
    }

    override def eval(buf: Buffer): Any = new GenericArrayData(
      Array.tabulate[Any](buf.n)(i =>
        InternalRow(buf.v(buf.n - 1 - i), buf.t(buf.n - 1 - i))))

    override def serialize(buf: Buffer): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 + 16 * buf.n).putInt(buf.n)
      var i = 0
      while (i < buf.n) { bb.putDouble(buf.v(i)).putLong(buf.t(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Buffer = {
      val bb = ByteBuffer.wrap(bytes)
      val buf = new Buffer(k)
      buf.n = bb.getInt
      var i = 0
      while (i < buf.n) { buf.v(i) = bb.getDouble; buf.t(i) = bb.getLong; i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): TopK =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopK =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(l: Expression,
        r: Expression): TopK = copy(value = l, tieBreak = r)
  }
}

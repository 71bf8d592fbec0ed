package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k state: parallel (score, id) arrays in rank order
  * under (score desc, id asc), size ≤ k. Insertion is the same
  * bounded insertion-selection as [[NearestClusters]] — k is an index
  * constant (truth depth, rerank pool), so per-row cost is O(k) worst
  * case and O(1) for the non-qualifying overwhelming majority.
  */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  // Spark's exact double order (SQLOrderingUtil.compareDoubles), not
  // raw primitives and not raw Double.compare: primitive >/== make
  // NaN lose to everything, while the documented-equivalent
  // row_number window form uses Spark's total order, which sorts NaN
  // as the LARGEST double (score desc puts NaN first) — and Spark's
  // order ALSO treats -0.0 == 0.0 (an `==` short-circuit before the
  // bit-level compare), where raw Double.compare ranks +0.0 strictly
  // above -0.0. Either divergence breaks the window-form equivalence
  // at the k boundary: NaN scores (zero vector in a truth scan) or a
  // signed-zero tie must break by vec_id in BOTH forms.
  @inline private def beats(s: Double, i: Long, p: Int): Boolean = {
    val c = if (s == scores(p)) 0 else java.lang.Double.compare(s, scores(p))
    c > 0 || (c == 0 && i < ids(p))
  }

  def insert(s: Double, i: Long): Unit = {
    if (size < k || beats(s, i, size - 1)) {
      var p = math.min(size, k - 1)
      while (p > 0 && beats(s, i, p - 1)) {
        scores(p) = scores(p - 1); ids(p) = ids(p - 1); p -= 1
      }
      scores(p) = s; ids(p) = i
      if (size < k) size += 1
    }
  }
}

/** `top_k_by_score(score, id, k)`: the k (id, score) pairs with the
  * largest (score, -id) per group, as array<struct<vec_id, score>> in
  * rank order — the MAP-SIDE top-k the exact-truth scans need.
  *
  * The window form (`row_number() OVER (PARTITION BY q_id ORDER BY
  * score DESC, vec_id) <= k`) computes the same rows, but its
  * map-side WindowGroupLimit still SORTS each task's full slice of
  * the (query × corpus) cross product before limiting — the
  * 256-query calibration truth scan against a 5M-row corpus was a
  * per-task sort of tens of millions of rows, the documented OOM at
  * default partitioning (worked around then with 256 partitions).
  * As an aggregate the state per (task, query) is one bounded buffer,
  * partial-aggregated before the exchange: the shuffle carries at
  * most tasks × queries × k rows and nothing ever sorts the scan.
  * Tie order matches the window form exactly (score desc, id asc).
  */
case class TopKByScore(left: Expression, right: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression] {
  require(k > 0, s"top_k_by_score needs k > 0: $k")

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null)
      b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < o.size) { b.insert(o.scores(i), o.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val out = new Array[Any](b.size)
    var i = 0
    while (i < b.size) {
      out(i) = InternalRow(b.ids(i), b.scores(i)); i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.size)
    var i = 0
    while (i < b.size) { out.writeDouble(b.scores(i)); out.writeLong(b.ids(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopKBuffer(k)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val s = in.readDouble(); val id = in.readLong()
      b.scores(i) = s; b.ids(i) = id; i += 1
    }
    b.size = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))), containsNull = false)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): TopKByScore =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "top_k_by_score"
}

/** Column API over the aggregate. */
object aggops {
  /** Top-k (vec_id, score) per group by (score desc, vec_id asc) —
    * `score` must be double, `id` long.
    */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKByScore(ColumnBridge.expression(score),
      ColumnBridge.expression(id), k).toAggregateExpression())
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.{GraftColumnBridge => Bridge}
import org.apache.spark.sql.types._
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Primitive twin-array binary max-heap of (score, id) pairs under the
  * "worst first" ordering — the aggregation buffer of [[TopKByScore]].
  * Replaces the earlier `mutable.PriorityQueue[(Double, Long)]` buffer
  * (round-13 continuation, guide §4): the generic queue boxed every
  * kept pair into a Tuple2 and ran every sift comparison through a
  * boxed Ordering — across millions of groups (LOF's fused self-kNN
  * streams ~10⁸ pairs into these heaps at sf10) the accept path
  * allocated 4 objects per insertion. The twin arrays allocate only at
  * construction; ordering semantics are bit-identical to the old
  * `Ordering.by((-s, i))` maximum (java.lang.Double.compare on the
  * NEGATED score — so −0.0/0.0 and NaN rank exactly as before — then
  * ascending id), and the acceptance test keeps the old primitive
  * `s > ws || (s == ws && i < wi)` comparison, including its NaN
  * conventions (a NaN candidate is never accepted into a full heap; a
  * NaN-scored root ranks as the worst element).
  *
  * k is assumed small: both arrays are allocated at construction, so a
  * group that sees fewer than k rows still holds 16·k bytes. That is one
  * buffer per group, and an object hash aggregate keeps up to 2²¹ groups
  * per task ([[graft.SessionDefaults]]). Every caller in the library
  * passes a small k — 2 in `ClusterQuality`, 5 for the catalog's kNN and
  * LOF queries, 20 for the widest brute-force top-k — so a buffer's
  * arrays hold at most 320 bytes, and growing them lazily would add a
  * branch to every insert to save at most that much per group. A caller
  * of `graft_top_k` with a large k over many small groups pays k-sized
  * buffers for each.
  */
final class TopKHeap(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  // a "greater" than b in heap order == a is WORSE (kept at the root):
  // the old worstFirst max-heap compared (-s, i) tuples ascending
  private def greater(aS: Double, aI: Long, bS: Double, bI: Long): Boolean = {
    val c = java.lang.Double.compare(-aS, -bS)
    c > 0 || (c == 0 && aI > bI)
  }

  def insert(s: Double, i: Long): Unit = {
    if (size < k) {
      var j = size
      scores(j) = s; ids(j) = i; size += 1
      while (j > 0) {
        val p = (j - 1) >> 1
        if (greater(scores(j), ids(j), scores(p), ids(p))) {
          val ts = scores(j); scores(j) = scores(p); scores(p) = ts
          val ti = ids(j); ids(j) = ids(p); ids(p) = ti
          j = p
        } else return
      }
    } else {
      val ws = scores(0); val wi = ids(0)
      if (s > ws || (s == ws && i < wi)) {
        scores(0) = s; ids(0) = i
        var j = 0
        while (true) {
          val l = 2 * j + 1; val r = l + 1
          var m = j
          if (l < size && greater(scores(l), ids(l), scores(m), ids(m))) m = l
          if (r < size && greater(scores(r), ids(r), scores(m), ids(m))) m = r
          if (m == j) return
          val ts = scores(j); scores(j) = scores(m); scores(m) = ts
          val ti = ids(j); ids(j) = ids(m); ids(m) = ti
          j = m
        }
      }
    }
  }
}

/** Bounded top-k aggregate: keeps the k best (score, id) pairs, ordered by
  * score DESC with id ASC tie-break.
  *
  * Why not `row_number() over (partition by query)`: a window must shuffle
  * EVERY scored row to its query's partition before ranking — at corpus
  * scale that is the entire corpus×queries score set. This aggregate is a
  * TypedImperativeAggregate, so Spark runs it map-side first: each input
  * partition reduces to ≤ k pairs per group before the exchange, and the
  * shuffle carries k rows per (partition × group) instead of the full
  * score set. Same algebraic shape as the reference's per-shard
  * map + cross-shard reduce.
  *
  * Output: `array<struct<score:double, id:bigint>>`, best first,
  * deterministic under ties (id ascending).
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TopKHeap] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false

  // update() evals children as Double/Long directly; anything else would
  // ClassCastException (or corrupt results) at EXECUTION time, so reject it
  // at analysis time. The Column builder below inserts the casts for
  // callers with float scores / int ids.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (score.dataType != DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a DOUBLE score, got ${score.dataType.sql}")
    else if (id.dataType != LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT id, got ${id.dataType.sql}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_top_k"

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    var j = 0
    while (j < other.size) { buf.insert(other.scores(j), other.ids(j)); j += 1 }
    buf
  }

  override def eval(buf: TopKHeap): Any = {
    // best first: ascending (-s, i), the exact old sortBy ordering
    val idx = Array.tabulate(buf.size)(identity)
    val sorted = idx.sortWith { (a, b) =>
      val c = java.lang.Double.compare(-buf.scores(a), -buf.scores(b))
      c < 0 || (c == 0 && buf.ids(a) < buf.ids(b))
    }
    new GenericArrayData(sorted.map(j => InternalRow(buf.scores(j), buf.ids(j))))
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var j = 0
    while (j < buf.size) { out.writeDouble(buf.scores(j)); out.writeLong(buf.ids(j)); j += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var j = 0
    while (j < n) { buf.insert(in.readDouble(), in.readLong()); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): AggregateFunction =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {

  /** Column-API entry point: `topK(score, id, k)` as an aggregate column.
    * Casts are inserted here so float scores / int ids satisfy the
    * expression's strict type check.
    */
  def topK(score: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKByScore(Bridge.expression(score.cast("double")), Bridge.expression(id.cast("long")), k)
        .toAggregateExpression())
}

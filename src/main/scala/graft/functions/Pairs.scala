package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.{GraftColumnBridge => Bridge}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Shared in-bucket pair explosion for the bounded-collect candidate
  * pipelines (jaccard / minhash / simhash / embedding near-dup).
  */
object Pairs {

  /** All ordered element pairs (xs(i), xs(j)) for i < j from a SORTED
    * array — callers get `a < b` ordering for free from the collect's
    * sorted-output contract. Runs post-shuffle on per-bucket arrays whose
    * size the caller caps, never on corpus-sized data.
    *
    * Materializes the FULL O(m²) pair array per bucket row before the
    * caller's explode — kept only as the reference semantics the
    * streaming [[pairs]] generator is spec-pinned against. Callers use
    * [[pairs]], which never builds that array.
    */
  def orderedPairs(xs: Column, aName: String, bName: String): Column =
    flatten(transform(xs, (x, i) =>
      transform(slice(xs, i + 2, size(xs)), y => struct(x.as(aName), y.as(bName)))))

  /** `explode(orderedPairs(xs))` as ONE streaming generate: emits the
    * (xs(i), xs(j)), i < j rows directly — same rows in the same order —
    * without first materializing the O(m²) pair array per bucket (the
    * HOF form allocates a slice array per element, a struct per pair and
    * the flattened result; a capped 1,000-id bucket builds ~500k structs
    * before the explode even starts, and that allocation churn was the
    * GC signature of the whole sf10 dedup-family section). `keep` lists
    * additional input columns to carry alongside the pair.
    */
  def pairs(df: DataFrame, xs: Column, aName: String, bName: String, keep: Seq[Column] = Nil): DataFrame =
    df.select(keep :+ Bridge.column(OrderedPairsGen(Bridge.expression(xs))).as(Seq(aName, bName)): _*)
}

/** Streaming ordered-pair generator: for an array column xs emits one row
  * (a, b) = (xs(i), xs(j)) per index pair i < j, i ascending then j — the
  * exact `explode(Pairs.orderedPairs(xs))` row set and order, evaluated as
  * a Generate with O(m) working memory instead of an interpreted
  * O(m²)-allocation HOF chain (pinned by PairsGenSpec).
  *
  * NULL/short inputs match the HOF form: `transform` on a NULL array is
  * NULL, `flatten(NULL)` is NULL and `explode(NULL)` emits nothing, so a
  * NULL or size<2 array generates zero rows. NULL elements (none of the
  * callers produce them — bucket arrays come from non-null collects) pair
  * positionally like the HOF struct would.
  *
  * The output row is reused across pairs: GenerateExec's result projection
  * copies each generated row into its (itself reused) UnsafeRow before the
  * next `next()` — the same single-row-validity contract every Spark
  * iterator consumer honors.
  */
case class OrderedPairsGen(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  private lazy val elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType // checkInputDataTypes rejects before eval
  }

  override def elementSchema: StructType = child.dataType match {
    case ArrayType(et, containsNull) =>
      StructType(Seq(StructField("a", et, containsNull), StructField("b", et, containsNull)))
    case _ => StructType(Nil)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input)
    if (data == null) return Iterator.empty
    val arr = data.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    // extract elements ONCE (each participates in up to n-1 pairs);
    // extracted values (boxed primitives, UTF8String, ...) are immutable
    val xs = new Array[Any](n)
    var k = 0
    while (k < n) {
      xs(k) = if (arr.isNullAt(k)) null else arr.get(k, elemType)
      k += 1
    }
    new Iterator[InternalRow] {
      private val row = new GenericInternalRow(2)
      private var i = 0
      private var j = 1
      override def hasNext: Boolean = i < n - 1
      override def next(): InternalRow = {
        row.update(0, xs(i))
        row.update(1, xs(j))
        j += 1
        if (j >= n) { i += 1; j = i + 1 }
        row
      }
    }
  }

  override def prettyName: String = "graft_ordered_pairs"
  override protected def withNewChildInternal(newChild: Expression): OrderedPairsGen =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.{GraftColumnBridge => Bridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native n-gram shingle hashing over a token-array column: for each
  * window of `n` consecutive tokens, the md5-derived 32-bit hash of the
  * space-joined shingle — `array<long>`, one element per window position
  * (duplicates kept; callers `array_distinct` when they need sets).
  *
  * Bit-identical to the composable form
  * `transform(sequence(...), i -> md5Hash32(concat_ws(" ", slice(toks,
  * i, n))))` (reference semantics: the interpreted shingle form that
  * `ShingleHashesSpec` keeps inline, + md5Hash32 —
  * first 8 hex chars of md5 as an unsigned 32-bit value; concat_ws
  * skips NULL elements), but evaluated as one digest loop over reused
  * byte buffers instead of an interpreted lambda per position with
  * slice/concat materializations — the shingle pipeline is the dominant
  * cost of every text-dedup query, and the HOF form spent more time in
  * lambda/array plumbing than in md5 itself.
  *
  * Returns NULL for a NULL array, an empty array when there are fewer
  * than `n` tokens (matching that reference's `when(size >= n)` guard).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  def shingleHashes(tokens: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokens), n))

  private val Space: Byte = ' '.toByte

  /** Shared by interpreted eval and generated code. One MessageDigest per
    * call (cheap relative to the row's digest work; MessageDigest is not
    * thread-safe, and codegen'd call sites run on many tasks at once).
    */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val size = tokens.numElements()
    if (size < n) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    // token byte slices, fetched once (each token participates in up to
    // n windows; re-extracting per window would re-copy n x the bytes)
    val bytes = new Array[Array[Byte]](size)
    var i = 0
    while (i < size) {
      // concat_ws semantics: NULL elements are skipped in the join
      bytes(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](size - n + 1)
    var p = 0
    while (p <= size - n) {
      md.reset()
      var j = p
      var first = true
      while (j < p + n) {
        if (bytes(j) != null) {
          if (!first) md.update(Space)
          md.update(bytes(j))
          first = false
        }
        j += 1
      }
      val d = md.digest()
      // first 8 hex chars of md5 = first 4 digest bytes, unsigned
      out(p) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      p += 1
    }
    new GenericArrayData(out)
  }
}

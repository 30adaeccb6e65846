package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The whole winnowing selection (SWA '03) as ONE row-local expression
  * over a document's token array: k-gram hash → sliding w-window min →
  * distinct, returned sorted ascending.
  *
  * Two costs disappear relative to the compositional form
  * (`shingles()` strings → posexplode → hash column → per-doc ordered
  * window → distinct):
  *
  *  - the k-gram STRINGS are never built — each window's hash is the
  *    portable [[Md5Util]] md5 fed token bytes + a space incrementally,
  *    bit-identical to hashing `concat_ws(" ", slice(tokens, i, k))`
  *    (measured ~3.2 s of the 4 s query at sf0.1 was string assembly);
  *  - nothing leaves the row until selection is done — no 5M-row
  *    explode, no shuffle, no sort; only the selected prints (expected
  *    density 2/(w+1), deduplicated) become rows.
  *
  * Matches [[graft.operators.Winnowing]]'s documented SQL form exactly,
  * including the `shingles()` short-document convention: fewer than k
  * tokens hash as ONE whole-text k-gram, and documents with fewer than
  * w k-grams select nothing.
  *
  * Null token-array elements are skipped separator-less, exactly as
  * `concat_ws(" ", …)` does — so the bit-compat claim above holds for
  * nullable arrays too (no production tokenizer emits them, but the
  * type check accepts containsNull = true).
  */
object WinnowUtil {
  private val empty = new GenericArrayData(Array.empty[Long])
  private val space = Array[Byte](' '.toByte)

  def selectFromTokens(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val n = arr.numElements()
    val nShingles = if (n <= k) 1 else n - k + 1
    if (nShingles < w) return empty
    // token bytes once per token (each participates in up to k windows);
    // a NULL slot stays null and is skipped separator-less below — the
    // concat_ws null-skip semantics the md5 claims bit-compat with
    // (r18 review: getBytes on a null slot NPE'd on GenericArrayData
    // and read garbage on UnsafeArrayData, though no production
    // tokenizer emits nullable arrays)
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    val h = new Array[Long](nShingles)
    i = 0
    while (i < nShingles) {
      val md = Md5Util.threadDigest()
      val end = math.min(i + k, n)
      var j = i
      var first = true
      while (j < end) {
        if (toks(j) != null) {
          if (!first) md.update(space, 0, 1)
          md.update(toks(j))
          first = false
        }
        j += 1
      }
      h(i) = Md5Util.low60FromDigest(md.digest())
      i += 1
    }
    val mins = new Array[Long](nShingles - w + 1)
    i = w - 1
    while (i < nShingles) {
      var m = h(i - w + 1)
      var j = i - w + 2
      while (j <= i) { if (h(j) < m) m = h(j); j += 1 }
      mins(i - w + 1) = m
      i += 1
    }
    java.util.Arrays.sort(mins)
    var dst = 1
    i = 1
    while (i < mins.length) {
      if (mins(i) != mins(dst - 1)) { mins(dst) = mins(i); dst += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, dst))
  }
}

case class WinnowSelect(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0, s"shingle size must be > 0, got $k")
  require(w > 1, s"winnow window must be > 1, got $w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    WinnowUtil.selectFromTokens(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.WinnowUtil.selectFromTokens($a, $k, $w);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WinnowFunctions {
  /** Distinct winnowing-selected print hashes of a document's tokens. */
  def winnow_select(tokens: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowSelect(ColumnBridge.expression(tokens), k, w))
}

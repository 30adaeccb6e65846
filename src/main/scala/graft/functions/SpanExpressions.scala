package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Row-local kernel of the ExactSubstr PURGE (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better", §3):
  * given a document's tokens and the sorted 0-based start positions of
  * its cross-document duplicated k-grams, rewrite the document with
  * every maximal duplicated run of ≥ `minSpan` tokens removed.
  *
  * A duplicated gram at start d covers token positions [d, d+k);
  * coverage is the union of those intervals; maximal runs of covered
  * positions whose length reaches `minSpan` are cut, shorter runs are
  * kept (an isolated k-gram collision is not a verbatim overlap worth
  * destroying a document over). O(n + |D|) via a difference array —
  * the `exists()` higher-order spelling is O(n·|D|), quadratic on a
  * fully-duplicated document.
  *
  * Distribution contract: this expression sees ONE row at a time; the
  * cross-document evidence (`dupStarts`) arrives pre-joined, so the
  * operator around it ([[graft.operators.DupSpanPurge]]) owns all
  * shuffles and this kernel stays inside whole-stage codegen.
  */
case class RemoveDupSpans(left: Expression, right: Expression,
                          k: Int, minSpan: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(k >= 1 && minSpan >= k,
    s"need k >= 1 and minSpan >= k (a covered run is never shorter " +
      s"than k), got k=$k minSpan=$minSpan")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(IntegerType))

  override def nullSafeEval(ts: Any, starts: Any): Any =
    SpanRuntime.removeDupSpans(ts.asInstanceOf[ArrayData],
      starts.asInstanceOf[ArrayData], k, minSpan)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.SpanRuntime.removeDupSpans(
         |  $a, $b, $k, $minSpan);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SpanRuntime {
  /** See [[RemoveDupSpans]]. `starts` entries outside [0, n) are
    * clamped defensively (the operator never produces them — a gram
    * start is ≤ n−k by construction).
    */
  def removeDupSpans(ts: ArrayData, starts: ArrayData,
                     k: Int, minSpan: Int): ArrayData = {
    val n = ts.numElements()
    val m = starts.numElements()
    if (m == 0 || n == 0) return ts
    // interval coverage via difference array: +1 at each dup-gram
    // start, −1 past its last covered position
    val diff = new Array[Int](n + 1)
    var i = 0
    while (i < m) {
      // a NULL start is no evidence, not position 0 (r18 review:
      // getInt unboxes a null slot to 0, which silently marked tokens
      // [0, k) as duplicated and deleted them at minSpan == k)
      if (!starts.isNullAt(i)) {
        val d = starts.getInt(i)
        if (d >= 0 && d < n) {
          diff(d) += 1
          val hi = math.min(d + k, n)
          diff(hi) -= 1
        }
      }
      i += 1
    }
    val removed = new Array[Boolean](n)
    var cov = 0
    var runStart = -1
    var nRemoved = 0
    def flush(from: Int, until: Int): Unit =
      if (until - from >= minSpan) {
        var j = from
        while (j < until) { removed(j) = true; nRemoved += 1; j += 1 }
      }
    i = 0
    while (i < n) {
      cov += diff(i)
      val covered = cov > 0
      if (covered && runStart < 0) runStart = i
      else if (!covered && runStart >= 0) { flush(runStart, i); runStart = -1 }
      i += 1
    }
    if (runStart >= 0) flush(runStart, n)
    if (nRemoved == 0) return ts
    val out = new Array[AnyRef](n - nRemoved)
    var u = 0
    i = 0
    while (i < n) {
      if (!removed(i)) {
        out(u) = if (ts.isNullAt(i)) null else ts.getUTF8String(i)
        u += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object SpanFunctions {
  /** Surviving tokens after duplicated-span removal; see
    * [[RemoveDupSpans]].
    */
  def remove_dup_spans(tokens: Column, dupStarts: Column,
                       k: Int, minSpan: Int): Column =
    ColumnBridge.column(RemoveDupSpans(ColumnBridge.expression(tokens),
      ColumnBridge.expression(dupStarts), k, minSpan))
}

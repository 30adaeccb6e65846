package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Shared byte-scan kernel for [[MultiSubstringCount]] and
  * [[MarkerGroupArgmax]] — ONE spelling of the overlapping-match
  * convention (r18 review: it existed in four — two interpreted loops
  * and two codegen templates — the same drift class ShingleRuntime
  * closed). Both expressions' eval AND codegen paths call these
  * statics; Janino compiles one invocation and HotSpot inlines it.
  */
object MultiCountRuntime {
  /** Overlapping occurrences of `pat` in `text`, raw byte compare. */
  def countIn(text: Array[Byte], pat: Array[Byte]): Int = {
    var c = 0; var i = 0
    val n = text.length - pat.length
    while (i <= n) {
      var j = 0
      while (j < pat.length && text(i + j) == pat(j)) j += 1
      if (j == pat.length) c += 1
      i += 1
    }
    c
  }

  /** [[MultiSubstringCount]]'s kernel: one count per pattern. */
  def counts(input: UTF8String, pats: Array[Array[Byte]]): GenericArrayData = {
    val text = input.getBytes
    val out = new Array[Int](pats.length)
    var p = 0
    while (p < pats.length) { out(p) = countIn(text, pats(p)); p += 1 }
    new GenericArrayData(out)
  }

  /** [[MarkerGroupArgmax]]'s kernel: index of the group with the
    * highest summed count, −1 if every count is zero, first-wins ties.
    */
  def groupArgmax(input: UTF8String, pats: Array[Array[Byte]],
                  groupOf: Array[Int], nGroups: Int): Int = {
    val text = input.getBytes
    val sums = new Array[Int](nGroups)
    var p = 0
    while (p < pats.length) {
      sums(groupOf(p)) += countIn(text, pats(p))
      p += 1
    }
    var best = -1; var bestScore = 0
    var g = 0
    while (g < nGroups) {
      if (sums(g) > bestScore) { bestScore = sums(g); best = g }
      g += 1
    }
    best
  }
}

/** Occurrence counts of N fixed literal patterns in one scan of the
  * input string (overlapping matches counted, byte-wise over UTF-8).
  *
  * The language-ID scorer needs ~27 marker counts per document; as
  * `regexp_count` chains that is 27 regex scans and a codegen tree that
  * brushes the 64KB method limit. This expression walks the text once
  * per pattern with raw byte comparisons — no regex machinery, one
  * array output — and keeps the whole scorer in a single codegen'd
  * call. Patterns are plan-time constants, so their bytes live in
  * generated-class fields, not per-row allocations.
  */
case class MultiSubstringCount(child: Expression, patterns: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty literals")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def inputTypes = Seq(StringType)

  @transient private lazy val patternBytes: Array[Array[Byte]] =
    patterns.map(_.getBytes("UTF-8")).toArray

  override def nullSafeEval(input: Any): Any =
    MultiCountRuntime.counts(input.asInstanceOf[UTF8String], patternBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // patterns as a class-level field, initialized once
    val pats = ctx.addReferenceObj("patterns", patternBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MultiCountRuntime.counts($a, $pats);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Argmax over grouped pattern counts: patterns are partitioned into
  * consecutive groups (`groupSizes`); returns the index of the group
  * with the highest summed count, or -1 if every count is zero.
  * First-wins on ties.
  *
  * This IS the language-ID kernel: referencing a counts array from an
  * argmax fold would re-evaluate the scan per reference (lambda-free
  * CSE is not guaranteed across 27 uses); folding the argmax into the
  * expression guarantees exactly one scan per row.
  */
case class MarkerGroupArgmax(child: Expression, patterns: Seq[String],
    groupSizes: Seq[Int]) extends UnaryExpression with ExpectsInputTypes {
  // the MultiSubstringCount guards apply here too (r18 review): an
  // empty pattern phantom-matches at every position and skews the
  // argmax; a non-positive group size can pass the sum check while
  // silently misaligning groupOf (Seq.fill(-1) is empty)
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty literals")
  require(groupSizes.forall(_ >= 1), "every group must hold >= 1 pattern")
  require(groupSizes.sum == patterns.length, "groupSizes must cover patterns")

  override def dataType: DataType = IntegerType

  override def inputTypes = Seq(StringType)

  @transient private lazy val patternBytes: Array[Array[Byte]] =
    patterns.map(_.getBytes("UTF-8")).toArray
  @transient private lazy val groupOf: Array[Int] =
    groupSizes.zipWithIndex.flatMap { case (n, g) => Seq.fill(n)(g) }.toArray

  override def nullSafeEval(input: Any): Any =
    MultiCountRuntime.groupArgmax(input.asInstanceOf[UTF8String],
      patternBytes, groupOf, groupSizes.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pats = ctx.addReferenceObj("patterns", patternBytes, "byte[][]")
    val groups = ctx.addReferenceObj("groupOf", groupOf, "int[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.MultiCountRuntime.groupArgmax(
         |  $a, $pats, $groups, ${groupSizes.length});""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MultiCountFunctions {
  def multi_substring_count(text: Column, patterns: Seq[String]): Column =
    ColumnBridge.column(MultiSubstringCount(ColumnBridge.expression(text), patterns))

  def marker_group_argmax(text: Column, patterns: Seq[String], groupSizes: Seq[Int]): Column =
    ColumnBridge.column(MarkerGroupArgmax(ColumnBridge.expression(text), patterns, groupSizes))
}

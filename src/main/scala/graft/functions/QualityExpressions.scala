package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Single-pass token/quality statistics.
  *
  * [[TextFunctions.qualityScore]]'s all-builtins blend is correct but a
  * CSE trap: its four components each re-derive `tokens(text)` behind a
  * lambda boundary (split + filter per reference — lambdas block
  * subexpression elimination), and when an optimizer rule SUBSTITUTES
  * the alias into a Filter (predicate pushdown through Project) the
  * whole tree is inlined per reference — q87's pushed-down
  * `bucket < floor(q·q·1e6)` predicate evaluated the blend three times
  * and split the text ~30×/row. This expression computes the identical
  * numbers in ONE walk over the string: no token array, no regex, two
  * String allocations per row.
  *
  * Bit-compatibility contract (QualityStatsSpec re-proves it against
  * the composite on real corpus text, and gates q45/q85/q86/q87 keep
  * hash-matching DuckDB):
  *  - `length(text)` = code points, like Spark's `length`/DuckDB's;
  *  - alpha count = `[A-Za-z]` code points of the ORIGINAL text
  *    (`regexp_replace(text, "[^A-Za-z]", "")` semantics);
  *  - tokens = maximal runs of non-`\s` chars of `lower(text)` (Java
  *    `\s` = the six ASCII whitespace chars; lowercase FIRST, exactly
  *    `split(lower(text), "\\s+")` + length>0 filter);
  *  - blend arithmetic in the composite's exact fold order:
  *    `((len·0.25 + alphaRatio·0.25) + min(stopRatio·5, 1)·0.25) +
  *    (tokLen∈[3,10] ? 0.25 : 0.075)`, rounded via BigDecimal HALF_UP
  *    to 6dp — Spark's `round(_, 6)` on DoubleType verbatim.
  */
object QualityStatsUtil {
  // max stopword length is 4 ("with"/"this"/"that") — longer tokens
  // skip the set probe without a substring allocation
  private val maxStopLen = TextFunctions.stopwordList.map(_.length).max
  private val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    TextFunctions.stopwordList.foreach(s.add)
    s
  }

  // the RE2 \s set (TextFunctions.WsClass, r19 review): NO U+000B —
  // the oracles' '\s+' runs under RE2, which excludes vertical tab
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** (n_tok, q) of one document; see class doc for the contract. */
  def compute(text: UTF8String): InternalRow = {
    val orig = text.toString
    // code-point counts over the original text (length / alpha ratio)
    var total = 0; var alpha = 0
    var i = 0
    while (i < orig.length) {
      val cp = orig.codePointAt(i)
      total += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) alpha += 1
      i += Character.charCount(cp)
    }
    // token walk over the lowercased text (Spark lower() semantics)
    val low = text.toLowerCase.toString
    var nTok = 0L; var sumLen = 0L; var nStop = 0L
    i = 0
    while (i < low.length) {
      while (i < low.length && isWs(low.charAt(i))) i += 1
      if (i < low.length) {
        val start = i
        var cps = 0
        while (i < low.length && !isWs(low.charAt(i))) {
          val cp = low.codePointAt(i)
          cps += 1
          i += Character.charCount(cp)
        }
        nTok += 1
        sumLen += cps
        if (i - start <= maxStopLen && stopSet.contains(low.substring(start, i)))
          nStop += 1
      }
    }
    val lenTerm = math.min(total.toDouble / 500.0, 1.0) * 0.25
    val alphaTerm =
      if (total == 0) 0.0 else (alpha.toDouble / total.toDouble) * 0.25
    val stopRaw =
      if (nTok == 0L) 0.0 else (nStop.toDouble / nTok.toDouble) * 5.0
    val stopTerm = math.min(stopRaw, 1.0) * 0.25
    val tokLen = if (nTok == 0L) 0.0 else sumLen.toDouble / nTok.toDouble
    val tokTerm = if (tokLen >= 3.0 && tokLen <= 10.0) 0.25 else 0.075
    val q = new java.math.BigDecimal(java.lang.Double.toString(
        ((lenTerm + alphaTerm) + stopTerm) + tokTerm))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    new GenericInternalRow(Array[Any](nTok.toInt, q))
  }
}

case class QualityStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("q", DoubleType, nullable = false)))

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    QualityStatsUtil.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.QualityStatsUtil.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): QualityStats =
    copy(child = newChild)
}

object QualityFunctions {
  /** struct(n_tok int, q double) — both stats in one walk. */
  def quality_stats(text: Column): Column =
    ColumnBridge.column(QualityStats(ColumnBridge.expression(text)))
}

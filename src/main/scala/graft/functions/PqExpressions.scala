package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Product-quantization kernels (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011).
  *
  * The codebook is a flat `double[m·ksub·dsub]` driver-held artifact
  * (like the IVF centers): subspace j's centroid c occupies
  * `[(j·ksub + c)·dsub, +dsub)`. All three kernels are codegen'd
  * expressions over it — the codebook rides to executors once as a
  * reference object; no join against a centroid table ever happens.
  *
  *  - [[PqEncode]]: vector → m byte-sized codes (L2 argmin per
  *    subspace) — the 64×-smaller index representation.
  *  - [[PqTable]]: query → the m·ksub lookup table of
  *    `dot(q_subspace_j, centroid[j][c])` — computed ONCE per query,
  *    not per (query, corpus) pair.
  *  - [[PqAdcDot]]: (table, codes) → asymmetric-distance inner-product
  *    estimate `Σ_j table[j·ksub + code_j]` — O(m) per pair instead of
  *    O(dim).
  */
object PqUtil {
  /** L2-argmin codes of `v` against the flat codebook. NaN subvectors
    * code to −1 (the same drop-out discipline as NearestCentroids).
    */
  def encode(v: ArrayData, centers: Array[Double], m: Int, ksub: Int,
             dsub: Int): ArrayData = {
    // LOUD dim check (r16 review finding — the CosineSimilarity /
    // NearestCentroids convention): UnsafeArrayData getDouble has no
    // bounds check, so a wrong-length vector would silently read
    // past the array into arbitrary memory and emit garbage codes
    if (v.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${v.numElements()} dims, codebook " +
          s"expects ${m * dsub} (m=$m × dsub=$dsub)")
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = Double.PositiveInfinity; var bestC = -1
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var d2 = 0.0; var i = 0
        while (i < dsub) {
          // a NULL dim reads as NaN (not the zeroed slot), so the
          // subvector codes to -1 — the documented NaN drop-out
          val x = if (v.isNullAt(j * dsub + i)) Double.NaN
            else v.getDouble(j * dsub + i)
          val diff = x - centers(base + i)
          d2 += diff * diff; i += 1
        }
        if (d2 < best) { best = d2; bestC = c }
        c += 1
      }
      codes(j) = bestC
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** Per-query ADC lookup table: dot(q_sub_j, centroid[j][c]) ∀ j,c. */
  def table(q: ArrayData, centers: Array[Double], m: Int, ksub: Int,
            dsub: Int): ArrayData = {
    if (q.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_table: query has ${q.numElements()} dims, codebook " +
          s"expects ${m * dsub} (m=$m × dsub=$dsub)")
    val t = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var dot = 0.0; var i = 0
        while (i < dsub) {
          // null query dim -> NaN table entries -> NaN ADC estimates,
          // which adcTopK's NaN filter already excludes
          dot += (if (q.isNullAt(j * dsub + i)) Double.NaN
            else q.getDouble(j * dsub + i)) * centers(base + i)
          i += 1
        }
        t(j * ksub + c) = dot
        c += 1
      }
      j += 1
    }
    new GenericArrayData(t)
  }

  /** Σ_j table[j·ksub + code_j]; any −1 code yields NaN. Callers must
    * exclude NaN explicitly (`!isnan`) — NaN does NOT drop out of a
    * desc rank on its own (it sorts FIRST in both Spark and DuckDB);
    * [[graft.operators.ProductQuantization.adcTopK]] filters NaN
    * estimates and zero-norm rows before ranking.
    */
  def adcDot(table: ArrayData, codes: ArrayData, ksub: Int): Double = {
    var s = 0.0
    var j = 0
    val m = codes.numElements()
    // mismatched codebooks: a code vector longer than the table's m
    // would read past the table (no bounds check on UnsafeArrayData)
    if (m * ksub != table.numElements())
      throw new IllegalArgumentException(
        s"pq_adc_dot: ${m} codes × ksub=$ksub does not match the " +
          s"${table.numElements()}-entry lookup table — mismatched codebooks")
    while (j < m) {
      // a NULL code or table slot is the NaN drop-out, not the zeroed
      // slot (r18 review — the CosineSimilarity discipline: reading a
      // null as code 0 / 0.0 ranks a corrupt row with a finite, WRONG
      // estimate). Both arrays are containsNull = false from our own
      // producers; this guards foreign data the type check admits.
      if (codes.isNullAt(j)) return Double.NaN
      val c = codes.getInt(j)
      if (c < 0) return Double.NaN
      // c >= ksub escapes the total-size guard above whenever m×ksub
      // happens to match (codes built at ksub=256 probed at ksub=16):
      // UnsafeArrayData.getDouble would read past the table into
      // arbitrary memory — the loud-refusal class, not drop-out
      if (c >= ksub)
        throw new IllegalArgumentException(
          s"pq_adc_dot: code $c at subspace $j is out of range for " +
            s"ksub=$ksub — codes were built against a different codebook")
      if (table.isNullAt(j * ksub + c)) return Double.NaN
      s += table.getDouble(j * ksub + c)
      j += 1
    }
    s
  }
}

case class PqEncode(child: Expression, centers: Array[Double], m: Int, ksub: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(m > 0 && ksub > 0 && centers.length % (m * ksub) == 0)
  private val dsub = centers.length / (m * ksub)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any =
    PqUtil.encode(input.asInstanceOf[ArrayData], centers, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCenters", centers, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqUtil.encode($v, $ref, $m, $ksub, $dsub);")
  }

  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
}

case class PqTable(child: Expression, centers: Array[Double], m: Int, ksub: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(m > 0 && ksub > 0 && centers.length % (m * ksub) == 0)
  private val dsub = centers.length / (m * ksub)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any =
    PqUtil.table(input.asInstanceOf[ArrayData], centers, m, ksub, dsub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCenters", centers, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqUtil.table($v, $ref, $m, $ksub, $dsub);")
  }

  override protected def withNewChildInternal(c: Expression): PqTable = copy(child = c)
}

case class PqAdcDot(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(IntegerType))

  override def nullSafeEval(t: Any, c: Any): Any =
    PqUtil.adcDot(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) =>
      s"${ev.value} = graft.functions.PqUtil.adcDot($t, $c, $ksub);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcDot =
    copy(left = l, right = r)
}

object PqFunctions {
  def pq_encode(v: Column, centers: Array[Double], m: Int, ksub: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(v), centers, m, ksub))
  def pq_table(q: Column, centers: Array[Double], m: Int, ksub: Int): Column =
    ColumnBridge.column(PqTable(ColumnBridge.expression(q), centers, m, ksub))
  def pq_adc_dot(table: Column, codes: Column, ksub: Int): Column =
    ColumnBridge.column(PqAdcDot(
      ColumnBridge.expression(table), ColumnBridge.expression(codes), ksub))
}

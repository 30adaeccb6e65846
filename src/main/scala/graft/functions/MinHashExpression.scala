package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** All `numHashes` MinHash values of a shingle-hash array in ONE pass.
  *
  * The composable form — `array((0 until 64).map(j => array_min(
  * transform(hashes, h => xxhash64(h, j)))))` — looks innocent but
  * re-evaluates the whole upstream shingle pipeline per hash function:
  * lambda (higher-order) expressions block Catalyst's subexpression
  * elimination, so 64 minima = 64 tokenize+shingle+hash passes
  * (~50 ms/doc measured at sf0.1). This expression reads the hash array
  * once and runs the 64-way minimum in a primitive loop (~µs/doc).
  *
  * Per-function mixing is a splitmix64 finalizer over (h + j·φ64) —
  * an independent-enough hash family for MinHash, cheap enough to stay
  * ALU-bound.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  // construction-time validation, the ShingleHashes/WinnowSelect
  // convention (r16): numHashes < 0 would otherwise throw
  // NegativeArraySizeException per-row at execution, and 0 would
  // yield silently empty signatures (and 0 % rowsPerBand == 0 even
  // passes minhashLsh's banding require — zero bands, zero pairs)
  require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // a contentless input (empty / all-null hash array) yields a NULL
  // signature even when the child is non-nullable (r18 ADVICE — see
  // [[MinHashRuntime.signature]]); without this override the planner
  // could legally assume non-null output and miscompile consumers
  override def nullable: Boolean = true

  override def inputTypes = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    MinHashRuntime.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // single static call into the shared kernel (the ShingleRuntime
    // shape) — the empty-input refusal and the splitmix constants get
    // ONE spelling across both execution paths
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.MinHashRuntime.signature($a, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashRuntime {
  /** All `numHashes` minima in one pass over the hash array; null
    * slots are skipped (a null shingle contributes nothing) rather
    * than minhashed as the zeroed slot.
    *
    * An input with NO contributing hash yields a NULL signature (r18
    * ADVICE, revising the r18-review throw): the all-Long.MaxValue
    * signature it would otherwise produce is identical for every
    * contentless document, so LSH banding would bucket them all
    * together and report each pair as a 1.0-similarity near-dup.
    * NULL is the SQL-style row-local answer — it cannot band-match
    * anything, is filterable upstream, and one contentless row in a
    * user-built array (SQL callers outside [[ShingleHashes]], which
    * never returns an empty array) no longer aborts the whole stage.
    */
  def signature(hashes: ArrayData, numHashes: Int): GenericArrayData = {
    val n = hashes.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var contributed = false
    var i = 0
    while (i < n) {
      if (hashes.isNullAt(i)) { i += 1 }
      else {
        contributed = true
        val h = hashes.getLong(i)
        var j = 0
        while (j < numHashes) {
          var z = h + j * -7046029254386353131L  // j * golden-ratio-64
          z = (z ^ (z >>> 30)) * -4658895280553007687L
          z = (z ^ (z >>> 27)) * -7723592293110705685L
          z ^= (z >>> 31)
          if (z < mins(j)) mins(j) = z
          j += 1
        }
        i += 1
      }
    }
    if (!contributed) null else new GenericArrayData(mins)
  }
}

object MinHashFunctions {
  /** Column API: all-numHashes MinHash signature of a long-array column. */
  def minhash_signature(shingleHashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingleHashes), numHashes))
}

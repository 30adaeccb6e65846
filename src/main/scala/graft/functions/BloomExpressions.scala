package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Membership probe against a pre-built [[BloomFilter]] artifact.
  *
  * The filter rides to executors once as a broadcast-style reference
  * object (Spark's sketch is `Serializable`; bits(n, fpp) bytes — ~1.2
  * MB for 1M items at 1% — independent of corpus width), and the probe
  * runs inside whole-stage codegen: one `mightContainLong` per row, no
  * join, no shuffle. This is the incremental-dedup primitive: the only
  * thing a 100 TB history contributes to a new-batch scan is this
  * fixed-size bit array.
  *
  * Guarantee surfaced to callers: NO false negatives — a hash that was
  * added always probes true; false positives occur at ≤ the build fpp
  * and are settled by the exact confirm join downstream.
  */
case class BloomMightContain(child: Expression, filter: BloomFilter)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BooleanType

  override def inputTypes = Seq(LongType)

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $ref.mightContainLong($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomFunctions {
  def bloom_might_contain(hash: Column, filter: BloomFilter): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(hash), filter))
}

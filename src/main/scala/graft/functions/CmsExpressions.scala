package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Point query against a serialized [[CountMinSketch]] (the binary
  * Spark's `count_min_sketch` aggregate emits).
  *
  * The agg side is the scale story — per-partition sketches merge
  * map-side, so a 100 TB token stream reduces to one (depth×width)
  * counter grid with NO key-space shuffle (contrast the exact
  * heavy-hitters groupBy, which shuffles every distinct token). This
  * expression is the read side: estimate a candidate's count straight
  * from the sketch bytes. Deserialization is memoized per sketch
  * CONTENT fingerprint, so probing N candidates against one sketch
  * parses it once per thread, not once per row (row extraction copies
  * the binary, so an identity key would never hit).
  *
  * Hashing matches the aggregate's write side: StringType items probe
  * with their UTF-8 bytes, exactly what CountMinSketchAgg adds.
  */
object CmsUtil {
  // small per-thread LRU keyed by a FULL-content FNV-64: row
  // extraction copies the binary per evaluation, so an identity (`eq`)
  // key would never hit; and SAMPLED fingerprints are unsound here —
  // same-config sketches share every header byte and can share
  // totalCount, with only a handful of grid cells differing, so any
  // strided sample has real collision mass (review-caught twice).
  // Hashing all bytes costs ~ns/byte per probed row — still
  // several-fold cheaper than the deserialize+alloc it replaces, and
  // exactly as safe as re-parsing. Capacity 4, not 1 (r18 review): a
  // single-entry cell thrashed to a ZERO hit rate the moment one
  // projection probed two sketches — `cms_estimate(sk_a, t),
  // cms_estimate(sk_b, t)` alternates keys per row, so every call
  // missed and re-parsed ~80 KB. Four covers any projection this repo
  // emits; eviction is access-order LRU.
  @transient private val cache =
    new ThreadLocal[java.util.LinkedHashMap[(Int, Long), CountMinSketch]] {
      override def initialValue() =
        new java.util.LinkedHashMap[(Int, Long), CountMinSketch](8, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[(Int, Long), CountMinSketch]): Boolean =
            size() > 4
        }
    }

  private def fp(b: Array[Byte]): (Int, Long) = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFF)) * 1099511628211L; i += 1 }
    (b.length, h)
  }

  private def sketchOf(bytes: Array[Byte]): CountMinSketch = {
    val k = fp(bytes)
    val m = cache.get()
    val c = m.get(k)
    if (c != null) c
    else {
      val s = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
      m.put(k, s)
      s
    }
  }

  def estimate(bytes: Array[Byte], item: UTF8String): Long =
    sketchOf(bytes).estimateCount(item.getBytes)
}

case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def inputTypes = Seq(BinaryType, StringType)

  override def nullSafeEval(sketch: Any, item: Any): Any =
    CmsUtil.estimate(sketch.asInstanceOf[Array[Byte]], item.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, i) =>
      s"${ev.value} = graft.functions.CmsUtil.estimate($s, $i);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
    copy(left = l, right = r)
}

object CmsFunctions {
  def cms_estimate(sketch: Column, item: Column): Column =
    ColumnBridge.column(CmsEstimate(
      ColumnBridge.expression(sketch), ColumnBridge.expression(item)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Low 60 bits of md5 as a signed-positive long — the PORTABLE hash
  * used by winnowing/sampling. Bit-identical to
  * `conv(substring(md5(s), 18, 15), 16, 10)` (hex chars 18–32 are the
  * low nibble of digest byte 8 followed by bytes 9–15) and to DuckDB's
  * `CAST('0x' || substr(md5(s), 18, 15) AS BIGINT)`, but computed
  * straight from the digest bytes: no hex string allocation, no
  * 15-char substring, no base-16 string parse per row.
  */
object Md5Util {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The calling thread's MD5 instance, reset — callers may feed it
    * incrementally (hash a joined string without building the string).
    */
  def threadDigest(): java.security.MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  def low60FromDigest(d: Array[Byte]): Long = {
    var out = (d(8) & 0x0FL) << 56
    var i = 9
    while (i < 16) { out |= (d(i) & 0xFFL) << ((15 - i) * 8); i += 1 }
    out
  }

  def low60(bytes: Array[Byte]): Long =
    low60FromDigest(threadDigest().digest(bytes))
}

case class Md5Low60(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def inputTypes = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    Md5Util.low60(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Md5Util.low60($a.getBytes());")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Md5Functions {
  def md5_low60(s: Column): Column =
    ColumnBridge.column(Md5Low60(ColumnBridge.expression(s)))
}

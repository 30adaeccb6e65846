package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a DataFrame's rows: the row count and
  * the sums of the low and high 32-bit halves of each row's `xxhash64`.
  * Sums commute, so the digest does not depend on row order or
  * partitioning, and a duplicated or dropped row changes the count.
  *
  * Floating-point columns are hashed at float precision, so results
  * whose last double bits depend on summation order (parallel
  * aggregates) still digest the same; any change above about seven
  * significant digits shows. Maps are hashed as their key-sorted
  * entries, since `xxhash64` rejects maps and map order is not defined.
  */
object Digest {

  private[perfbench] def reducedPrecision(dt: DataType): DataType = dt match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(reducedPrecision(e), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = reducedPrecision(f.dataType))))
    case MapType(k, v, n) => MapType(reducedPrecision(k), reducedPrecision(v), n)
    case other => other
  }

  private def canonical(c: Column, dt: DataType): Column = {
    val reduced = reducedPrecision(dt)
    val cast = if (reduced != dt) c.cast(reduced) else c
    dt match {
      case _: MapType => array_sort(map_entries(cast))
      case _ => cast
    }
  }

  /** The digest as `rows:low:high`. One Spark job. */
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f =>
      canonical(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val hashed = if (cols.isEmpty) df.select(lit(0L).as("h"))
      else df.select(xxhash64(cols: _*).as("h"))
    val r = hashed.agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded (bucketized) interval joins — the shuffle-on-key scale path
  * for range predicates that would otherwise plan as a broadcast
  * nested-loop join (fine for a 25-row dimension, fatal when both sides
  * grow).
  *
  * Idea: quantize the range dimension into fixed-width buckets; a point
  * joins only the bucket it falls in, an interval is exploded to the
  * buckets it covers. The join becomes a pure EQUI-join on
  * (bucket [, extra keys]) + a residual exact filter — distributable,
  * AQE/skew-handled, no quadratic pair explosion beyond genuine
  * overlaps within a bucket. Bucket width trades explode factor
  * (intervals spanning many buckets) against bucket occupancy; pick it
  * near the typical interval length.
  */
object IntervalJoin {

  /** Join each left POINT to right INTERVALS containing it
    * (`lo <= point <= hi`), plus optional equi `keys`. Each matching
    * (point, interval) pair meets in exactly ONE bucket — the point's —
    * so no post-join dedup is needed.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointCol: String, loCol: String, hiCol: String,
                      bucketWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0)
    Scratch.requireFree("IntervalJoin", points.columns ++ intervals.columns, Set("_b"))
    val p = points.withColumn("_b", floorDiv(pointCol, bucketWidth))
    val iv = intervals.withColumn("_b",
      explode(sequence(floorDiv(loCol, bucketWidth),
        floorDiv(hiCol, bucketWidth))))
    p.join(iv, keys :+ "_b")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_b")
  }

  /** Join left and right INTERVALS that overlap
    * (`lStart <= rEnd && rStart <= lEnd`), plus optional equi `keys`.
    * A pair can share many buckets; instead of a dedup shuffle, each
    * pair is CLAIMED by exactly one bucket — the bucket of the later of
    * the two interval starts, which both sides always cover — so the
    * equi-join emits each overlap once.
    */
  def overlap(left: DataFrame, right: DataFrame,
              lStart: String, lEnd: String, rStart: String, rEnd: String,
              bucketWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0)
    Scratch.requireFree("IntervalJoin", left.columns ++ right.columns, Set("_b"))
    val l = left.withColumn("_b",
      explode(sequence(floorDiv(lStart, bucketWidth),
        floorDiv(lEnd, bucketWidth))))
    val r = right.withColumn("_b",
      explode(sequence(floorDiv(rStart, bucketWidth),
        floorDiv(rEnd, bucketWidth))))
    l.join(r, keys :+ "_b")
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd))
      // claim: the unique bucket containing max(lStart, rStart)
      .filter(col("_b") === floorDivGreatest(lStart, rStart, bucketWidth))
      .drop("_b")
  }

  /** Exact floor division of the COLUMN named `name`, at ANY long
    * magnitude: subtracting the non-negative pmod makes the numerator
    * an exact multiple of `w`, and SQL `div` keeps the quotient in
    * integer arithmetic end-to-end (r17 review: the earlier double
    * division was only exact below 2^53 — nanosecond epochs at ~1.7e18
    * silently rounded into a NEIGHBORING bucket and dropped matching
    * pairs; the PageRank/PrefixScan `div` discipline applies here too).
    * The name is backtick-quoted before interpolation (r17 ADVICE): a
    * caller column named e.g. `a-b` or `start ts` would otherwise parse
    * as SQL and silently change semantics where the old col()-based
    * spelling resolved it as one identifier.
    */
  private def floorDiv(name: String, w: Long): Column =
    floorDivExpr(quoteId(name), w)

  /** floorDiv over the LATER of two interval starts — built from the
    * quoted operands so raw caller names never reach the SQL parser.
    */
  private def floorDivGreatest(a: String, b: String, w: Long): Column =
    floorDivExpr(s"greatest(${quoteId(a)}, ${quoteId(b)})", w)

  private def floorDivExpr(e: String, w: Long): Column =
    expr(s"(($e) - pmod(($e), ${w}L)) div ${w}L")

  private def quoteId(name: String): String =
    "`" + name.replace("`", "``") + "`"
}

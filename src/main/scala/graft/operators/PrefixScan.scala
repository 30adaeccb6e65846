package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix scan: a global running aggregate in total `key`
  * order WITHOUT the single-partition window that `agg(...) OVER
  * (ORDER BY key)` compiles to — the execution cliff of every global
  * ordered window, solved for the running-aggregate case.
  *
  * Shape: [[SortedNeighborhood.globalRank]] (range partition + local
  * sort + zipWithIndex) assigns each row its position in the total
  * order; ranks are cut into ≤ `buckets` contiguous bucket groups, so
  * the within-bucket scan is an ordinary PARTITIONED window, and the
  * cross-bucket carry-in is a bucket-summary table of ≤ `buckets` rows
  * whose strict-prefix max is computed by exploding each bucket's max
  * to every LATER bucket id and re-aggregating — a ≤ buckets²/2-row
  * explode+groupBy, no non-equi join, no single-task anything. Every
  * intermediate is bounded by config (`buckets`), not by data, which
  * is what lets the plan survive a 100 TB input: the big table is
  * touched by exactly one range exchange and one hash-partitioned
  * window.
  *
  * Contract: one row per `key` (an aggregate output); `buckets` sized
  * ~ the cluster's parallelism.
  */
object PrefixScan {

  /** Returns `df` plus column `out` = max of `value` over all rows
    * with STRICTLY smaller `key` (null for the globally-first key —
    * the empty-prefix max, like `max(...) OVER (ORDER BY key ROWS
    * BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`). NULL keys order
    * LAST (r17 review note: that is DuckDB's ASC default — the gates'
    * oracle engine — where Spark's own window default is nulls FIRST;
    * the deliberate choice is pinned here so the two window spellings
    * are compared against the right reference).
    */
  def strictPrefixMax(df: DataFrame, key: Column, value: Column, out: String,
                      buckets: Int = 32): DataFrame =
    // greatest() skips nulls: first bucket (no carry-in) and first row
    // of a bucket (empty within-frame) coalesce exactly like the
    // single-partition window's empty frame would
    scan(df, key, value, out, buckets, max(_),
      (in, prev) => greatest(in, prev))

  /** Returns `df` plus column `out` = SUM of `value` over all rows with
    * STRICTLY smaller `key` (null for the globally-first key — exactly
    * like `sum(...) OVER (ORDER BY key ROWS BETWEEN UNBOUNDED PRECEDING
    * AND 1 PRECEDING)`). Same bucketed shape as [[strictPrefixMax]]:
    * one range exchange + one partitioned window over the big table;
    * the cross-bucket carry-in is the ≤ buckets²/2-row explode of each
    * bucket's TOTAL to every later bucket. This is the running-total
    * primitive under exact AUC (rank-sum), weighted systematic
    * sampling, and cumulative-share queries — none of which may compile
    * to a SinglePartition window at 100 TB.
    */
  def strictPrefixSum(df: DataFrame, key: Column, value: Column, out: String,
                      buckets: Int = 32): DataFrame =
    // empty prefix (first row of first bucket) stays null, matching the
    // SQL window's empty frame; otherwise null legs contribute 0
    scan(df, key, value, out, buckets, sum(_),
      (in, prev) => when(in.isNull && prev.isNull, lit(null))
        .otherwise(coalesce(in, lit(0L)) + coalesce(prev, lit(0L))))

  /** The shared bucketed-scan skeleton (r19 review: the two variants
    * duplicated it verbatim and fixes had to land twice — the r18
    * scratch guard already drifted asymmetric between the copies).
    * `agg` is the running aggregate (max/sum — used identically for
    * the within-bucket window, the bucket summary, and the carry
    * re-aggregate); `combine` folds (within-prefix, carry-in) into
    * the output with the variant's null semantics.
    */
  private def scan(df: DataFrame, key: Column, value: Column, out: String,
                   buckets: Int, agg: Column => Column,
                   combine: (Column, Column) => Column): DataFrame = {
    require(buckets > 0)
    // every _ps_* working column, in ONE list for the ONE skeleton
    Scratch.requireFree("PrefixScan", df.columns,
      Set("_ps_rnk", "_ps_bkt", "_ps_in", "_ps_prev", "_ps_bagg"))
    // lazy checkpoint: globalRank's range-sampling pass materializes the
    // (one-row-per-key, aggregate-sized) input once; the count job and
    // both scan legs below read cached blocks
    val src = df.localCheckpoint(false)
    val n = src.count()
    val width = math.max(1L, (n + buckets - 1) / buckets)
    val p = math.max(1L, (n + width - 1) / width)
    val ranked = SortedNeighborhood
      .globalRank(src, Seq(key.asc_nulls_last), "_ps_rnk")
      // exact integer division: Column./ on longs is DoubleType, whose
      // truncated quotient can round UP near 2^53-scale products —
      // div is exact at any rank (the DistributedSelection idiom)
      .withColumn("_ps_bkt", expr(s"_ps_rnk div ${width}L"))
      .localCheckpoint(false) // two consumers; rank+sort runs once
    val wIn = Window.partitionBy(col("_ps_bkt")).orderBy(col("_ps_rnk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = ranked.withColumn("_ps_in", agg(value).over(wIn))
    // carry-in: each bucket's aggregate feeds every LATER bucket —
    // sequence guarded against Spark's descending-sequence surprise
    // when a bucket has no successors
    val carry = ranked.groupBy(col("_ps_bkt")).agg(agg(value).as("_ps_bagg"))
      .select(explode(when(col("_ps_bkt") + 1 <= lit(p - 1),
          sequence(col("_ps_bkt") + 1, lit(p - 1)))
        .otherwise(array().cast("array<bigint>"))).as("_ps_bkt"),
        col("_ps_bagg"))
      .groupBy(col("_ps_bkt")).agg(agg(col("_ps_bagg")).as("_ps_prev"))
    within.join(broadcast(carry), Seq("_ps_bkt"), "left")
      .withColumn(out, combine(col("_ps_in"), col("_ps_prev")))
      .drop("_ps_rnk", "_ps_bkt", "_ps_in", "_ps_prev")
  }
}

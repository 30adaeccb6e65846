package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed successor lookup over a one-row-per-key table: for each
  * row, the VALUE carried by the next-higher key — `lead(value) OVER
  * (ORDER BY key)` without the single-partition window that global
  * ORDER BY implies.
  *
  * Built on [[SortedNeighborhood.globalRank]] (range partition + local
  * sort + `zipWithIndex`) and a rank+1 self-join. The rank idiom is
  * what makes the lookup CORRECT under Spark's execution model: the
  * zipWithIndex rank is the position in the total sort order, so it
  * does not depend on where the sampled range boundaries landed, and
  * both self-join sides reference the SAME ranked RDD — one shuffle,
  * one partitioning, shared by construction.
  *
  * The previous formulation (per-partition windows keyed on
  * `spark_partition_id` + a broadcast boundary patch) was fully lazy
  * but subtly wrong at scale: its three consumers each planned their
  * own range exchange, and per-branch column pruning kept ReuseExchange
  * from deduping them — three independent boundary SAMPLES. Once input
  * partitions exceed the sampler's per-partition row budget, the
  * samples draw different boundaries, `spark_partition_id` disagrees
  * across branches, and partition-boundary rows get patched with the
  * wrong successor. Invisible at fixture scale (exhaustive samples),
  * wrong exactly in the 100 TB regime this operator exists for. The
  * price of the fix is globalRank's two construction-time driver jobs
  * (range sampling + zipWithIndex count) over `df` — callers pass a
  * cheap aggregate (see [[graft.clinical.Metrics.boundaryTable]]), not
  * the metric pass.
  *
  * Contract: `df` must have at most one row per `key` (it is an
  * aggregate output); `key` ordering is ascending, nulls last.
  */
object DistributedLead {

  /** Returns `df` plus column `out` = value of the successor key's
    * `value` column (null for the globally-last key).
    */
  def withSuccessorValue(df: DataFrame, key: Column, value: Column,
                         out: String): DataFrame = {
    // the requireNoScratch convention (r19 review — the one operator
    // in the family without it): a caller column named `out` would
    // ride the join into TWO identically-named output columns and
    // throw AMBIGUOUS_REFERENCE far from the cause; _dl_rnk would
    // make the self-join key itself ambiguous
    val clash = Seq("_dl_rnk", out).filter(df.columns.contains)
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} are reserved by DistributedLead " +
        "(rank scratch / output) — rename first")
    // lazy checkpoint: globalRank's sampling pass is the job that
    // materializes the (small, one-row-per-key) input, so the count job
    // and every downstream consumer read cached blocks instead of
    // re-running the upstream aggregate once per pass
    val src = df.localCheckpoint(false)
    val ranked = SortedNeighborhood.globalRank(src, Seq(key.asc_nulls_last), "_dl_rnk")
    val succ = ranked.select((col("_dl_rnk") - 1).as("_dl_rnk"), value.as(out))
    ranked.join(succ, Seq("_dl_rnk"), "left").drop("_dl_rnk")
  }
}

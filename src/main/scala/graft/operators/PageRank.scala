package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in INTEGER arithmetic.
  *
  * The float formulation is iteration-order-poisoned (per-node sums of
  * double contributions differ across partitionings and engines); this
  * one keeps every rank as integer MILLIONTHS and every step in exact
  * integer math — contribution = rank div out_degree, next rank =
  * damping base + (850000 · Σ contribs) div 1000000 — so the result is
  * bit-identical on any engine, any partitioning, any executor count,
  * and sits under the SQL hash gate (unlike the usual "rows-only,
  * tolerance 1e-6" fate of float PageRank).
  *
  * Spark shape per iteration: one equi-join of the rank table onto the
  * edge list (shuffle on src), one partial-agg groupBy dst, one left
  * join back onto the node set (dangling mass is dropped — the
  * standard simplified variant; identical on both engines). The rank
  * table is (node, long) — tiny relative to edges — and iterations are
  * a fixed unrolled count, so the plan is a static DAG with no
  * driver-side convergence state at all (contrast [[Dedup]]'s CC,
  * which converges data-dependently and holds one scalar per round).
  */
object PageRank {

  val Scale = 1000000L

  /** `iters` fixed rounds over a PREPARED graph; returns (node,
    * rank_millionths). `e(src, dst)` is already distinct and `nodes` its
    * src ∪ dst set, both backed by materialized storage (a written table
    * / parquet artifact): the graph feeds EVERY iteration, so an
    * unmaterialized edge list would be re-derived from scratch each
    * round. The caller owns that materialization.
    *
    * HIGH-DEGREE HANDLING (r11, `hubDegreeCutoff` > 0): the per-round
    * edges⋈ranks equi-join on `src` puts every edge of one source in
    * ONE task — uniform on the gate fixtures, a straggler on a
    * power-law graph where a single hub can carry 10⁷ out-edges. With
    * a cutoff the edge set splits ONCE (iteration-invariant, so it is
    * part of the prepared-graph artifact family): hub-source edges
    * join a BROADCAST of the hub rank rows — map-side, no skewed
    * shuffle key anywhere — while the long tail keeps the shuffle
    * join, whose per-key fan-in is now bounded by the cutoff. The two
    * contribution streams union BEFORE the dst aggregation, which
    * partial-aggregates map-side either way (in-degree hubs were
    * always safe). Hub-side broadcast size is ≤ |E|/cutoff rank rows
    * by construction — cutoff ≈ √|E| bounds both the broadcast and
    * the residual skew at √|E| (the q135 orientation constant). The
    * result is BIT-IDENTICAL to the plain plan: same contributions,
    * same integer sums, only the physical route changes. 0 = off
    * (exactly the pre-r11 plan, the gate default).
    */
  def ranksPrepared(e: DataFrame, nodes: DataFrame, iters: Int,
                    damping: Double = 0.85,
                    hubDegreeCutoff: Long = 0): DataFrame = {
    require(iters >= 0)
    // the overflow-free integer damping identity below holds only for
    // non-negative operands (its own comment's premise): damping
    // outside [0,1] makes baseM negative, feeds negative ranks into
    // truncate-toward-zero div, and the bit-parity contract breaks
    // silently (r19 review)
    require(damping >= 0.0 && damping <= 1.0,
      s"damping must be in [0, 1], got $damping")
    val dampM = math.round(damping * Scale)
    val baseM = Scale - dampM
    // iteration-invariant AND feeds every round + the hub split —
    // materialized once (r17 review: without it, the full edge groupBy
    // re-executed once per iteration on the hub path, exactly the
    // artifacts-not-iterates waste this file's own doc names)
    val outDeg = Materialize.local(e.groupBy(col("src")).agg(count(lit(1)).as("deg")),
      "PageRank out-degrees (node)")
    // hub split + per-round broadcast machinery: ONE spelling shared
    // with LabelPropagation ([[GraphSkew]], r17)
    val se = GraphSkew.split(e, hubDegreeCutoff, degrees = Some(outDeg))
    var r = nodes.withColumn("rank", lit(Scale))
    for (_ <- 1 to iters) {
      // `div`, not `/`: Spark's slash on longs is a DOUBLE division
      // whose truncation can disagree with exact integer floor near
      // representability edges — div is true integer division
      val all = se.roundStream(
        r.withColumnRenamed("node", "src").join(outDeg, Seq("src"))) {
        (edges, rk) => edges.join(rk, Seq("src"))
          .select(col("dst").as("node"), expr("rank div deg").as("contrib"))
      }
      val inbound = all
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("inflow"))
      // overflow-free damping: (q·S + r)·d div S = q·d + (r·d div S)
      // exactly (all operands non-negative) — the naive dampM·inflow
      // product would wrap silently past inflow ≈ 1.08e13 (a ~10M-
      // in-degree hub at average rank), where DuckDB's HUGEINT sum
      // keeps computing exactly and the bit-parity contract breaks.
      // Here q ≤ total rank mass div S = |nodes|, so q·d is safe to
      // ~1e13 nodes.
      r = nodes
        .join(inbound, Seq("node"), "left")
        .select(col("node"),
          expr(s"""$baseM + (coalesce(inflow, 0L) div $Scale) * $dampM
                  | + ((coalesce(inflow, 0L) % $Scale) * $dampM) div $Scale"""
            .stripMargin.replace("\n", " ")).as("rank"))
    }
    r.select(col("node"), col("rank").as("rank_millionths"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r11 high-degree (hub) handling shared by the iterative graph
  * operators — extracted (r17 review) from the near-line-for-line
  * copies in [[PageRank.ranksPrepared]] and
  * [[LabelPropagation.labelsPrepared]], so the subtle machinery (the
  * iteration-invariant edge split, the broadcast-leg join, and the
  * non-obvious per-round iterate checkpoint that prevents exponential
  * plan growth) can never drift between them.
  *
  * Mechanism: the per-round edges⋈iterate equi-join on `src` puts
  * every edge of one source in ONE task — uniform on the gate
  * fixtures, a straggler on a power-law graph where a single hub can
  * carry 10⁷ out-edges. With a cutoff the edge set splits ONCE
  * (iteration-invariant, so it belongs to the prepared-graph artifact
  * family): hub-source edges join a BROADCAST of the hub iterate rows
  * — map-side, no skewed shuffle key anywhere — while the long tail
  * keeps the shuffle join, whose per-key fan-in is now bounded by the
  * cutoff. Hub-side broadcast size is ≤ |E|/cutoff rows by
  * construction — cutoff ≈ √|E| bounds both the broadcast and the
  * residual skew at √|E| (the q135 orientation constant). The result
  * is BIT-IDENTICAL to the plain plan: same per-edge rows, only the
  * physical route changes. cutoff 0 = off (exactly the pre-r11 plan).
  */
object GraphSkew {

  /** The iteration-invariant split of `e` on out-degree ≥ cutoff.
    * `hubs` is None when the split is off.
    */
  final case class SplitEdges(cold: DataFrame, hub: DataFrame,
                              hubs: Option[DataFrame]) {

    /** One round's edge⋈iterate stream. `iterate` is the node-sized
      * per-round table keyed `src`; `consume(edges, it)` builds one
      * leg's per-edge rows. With a hub split the iterate is LAZILY
      * CHECKPOINTED — it has TWO consumers (tail join + hub
      * broadcast), and without the checkpoint each round's plan embeds
      * two copies of the previous round's: exponential plan growth
      * that hangs the driver by ~15 iterations. Materializing the
      * node-sized iterate once per round is the price of the second
      * consumer; the plain path keeps the artifacts-not-iterates rule
      * (single consumer, no checkpoint) untouched.
      */
    def roundStream(iterate: DataFrame)
                   (consume: (DataFrame, DataFrame) => DataFrame): DataFrame =
      hubs match {
        case Some(h) =>
          val it = Materialize.local(iterate, "GraphSkew iterate (round)")
          consume(cold, it).unionByName(
            consume(hub, broadcast(it.join(h, Seq("src"), "left_semi"))))
        case None => consume(cold, iterate)
      }
  }

  /** Split `e(src, …)` once on out-degree ≥ `hubDegreeCutoff` (0 =
    * off: cold = e untouched, hub = empty). `degrees`, when given, is
    * the caller's existing (src, deg) table — PageRank already owns
    * one — so the degree aggregation is not recomputed here.
    */
  def split(e: DataFrame, hubDegreeCutoff: Long,
            degrees: Option[DataFrame] = None): SplitEdges =
    if (hubDegreeCutoff > 0) {
      val h = Materialize.local(degrees
        .getOrElse(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
        .filter(col("deg") >= hubDegreeCutoff).select(col("src")), "GraphSkew hubs (node)")
      // NO hubs under the cutoff → degrade to the plain plan (r19
      // review): the Some branch charges every round a node-sized
      // iterate checkpoint plus an empty semi-join/broadcast leg —
      // 20 extra jobs on a 20-iteration PageRank — for zero benefit.
      // The hub table is bounded (≤ |E|/cutoff) and already
      // checkpointed, so the emptiness probe is one cheap job at
      // split time (the capHotBuckets skip-when-empty move).
      if (h.isEmpty) SplitEdges(e, e.limit(0), None)
      else SplitEdges(
        Materialize.local(e.join(h, Seq("src"), "left_anti"), "GraphSkew tail edges (operator input)"),
        Materialize.local(e.join(h, Seq("src"), "left_semi"), "GraphSkew hub edges (operator input)"),
        Some(h))
    } else SplitEdges(e, e.limit(0), None)
}

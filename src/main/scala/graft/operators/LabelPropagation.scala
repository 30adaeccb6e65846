package graft.operators

import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007) in its deterministic form: every node starts as its own
  * label; each round every node adopts its neighbors' MOST FREQUENT
  * label (ties broken by smallest label; isolated or tied-empty nodes
  * keep their own). Fixed synchronous rounds + total tie order make
  * the result bit-identical on any engine or partitioning — unlike the
  * randomized asynchronous original — so community assignments can
  * cross an exact hash gate.
  *
  * Scale shape: one shuffle-join (edges ⋈ labels on src) + one
  * partial-agg count + one per-node window per round — the same
  * per-round cost as [[PageRank]], over the same prepared (materialized)
  * graph artifacts so iteration N does not re-derive the edge list.
  * Min-label connected components ([[Dedup.connectedComponents]]) is
  * the related fixpoint; LPA differs by frequency voting, which splits
  * dense graphs into communities instead of merging every reachable
  * node.
  */
object LabelPropagation {

  /** `iters` fixed synchronous rounds over a PREPARED graph; returns
    * (node, label). `eu(src, dst)` is already undirected-distinct (each
    * edge in both directions) and `nodes` its node set, both backed by
    * materialized storage — the caller owns the materialization (the
    * [[PageRank.ranksPrepared]] contract).
    *
    * HIGH-DEGREE HANDLING (r11): same contract as
    * [[PageRank.ranksPrepared]] — with `hubDegreeCutoff` > 0 the
    * undirected edge set splits once, hub-source edges join a
    * broadcast of the (≤ |E|/cutoff) hub label rows, the tail keeps
    * the shuffle join with per-key fan-in bounded by the cutoff, and
    * the vote union partial-aggregates on (node, label) either way.
    * Bit-identical labels; 0 = off (the pre-r11 plan, the gate
    * default).
    */
  def labelsPrepared(eu: DataFrame, nodes: DataFrame, iters: Int,
                     hubDegreeCutoff: Long = 0): DataFrame = {
    require(iters >= 0)
    // the (count desc, label asc) tie-break is spelled max(struct(c,
    // −label)), and UnaryMinus needs a NUMERIC node id: a string id
    // would either throw per-row (ANSI) or cast to null and silently
    // reset every node to its own label (non-ANSI) — refuse at plan
    // time instead (r19 review). Widening to arbitrary orderable ids
    // needs a min_by-style tie-break, a reviewed change.
    val idType = eu.schema("src").dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"LabelPropagation needs numeric node ids (tie-break negates the " +
        s"label); got ${idType.catalogString} — map ids to longs first")
    // hub split + per-round broadcast machinery: ONE spelling shared
    // with PageRank ([[GraphSkew]], r17 — the two copies had to evolve
    // in lockstep, including the load-bearing per-round iterate
    // checkpoint)
    val se = GraphSkew.split(eu, hubDegreeCutoff)
    var l = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      // argmax by (count desc, label asc) as a partial-aggregable
      // struct-max — max((c, −label)) picks the same winner a sorted
      // window would, without the per-round sort shuffle
      val stream = se.roundStream(l.withColumnRenamed("node", "src")) {
        (edges, labs) => edges.join(labs, Seq("src"))
          .select(col("dst"), col("label"))
      }
      val vote = stream
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c").as("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("new_label"))
      // NOT checkpointed: each l is consumed exactly once (by the next
      // round's vote, or the caller), so the whole fixpoint stays one
      // lazy plan over the two prepared graph artifacts — per-round
      // materialization would only add job-scheduling overhead (the
      // [[PageRank]] discipline: checkpoint artifacts, not iterates)
      l = nodes
        .join(vote, Seq("node"), "left")
        // isolated nodes (none here — nodes come from edges — but the
        // contract holds for any caller) keep their own label
        .select(col("node"),
          coalesce(col("new_label"), col("node")).as("label"))
    }
    l
  }
}

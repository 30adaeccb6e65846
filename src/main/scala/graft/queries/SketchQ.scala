package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Approximate aggregates — the sketches a 100 TB engine reaches for
  * when exact distinct/percentile costs a full shuffle of the key
  * space. Sketch values are engine-defined (Spark HLL++ / GK vs
  * DuckDB's approx implementations differ by design), so the gate
  * checks what IS engine-independent: the sketches' published error
  * bounds, emitted as boolean columns the oracle states literally,
  * alongside hash-matched exact answers. SketchSpec asserts the same
  * bounds in-process.
  */
object SketchQ {

  /** HyperLogLog++ distinct counts at two precisions vs exact, per
    * order status — hash-gated with the q64 trick: the sketch VALUES are
    * engine-defined, but their 3σ error bounds are checkable facts the
    * oracle states literally (HLL merge is per-register max —
    * commutative — so the booleans are deterministic under any
    * partitioning), and the exact count is plain SQL.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan (r19, guide §2.4): both legs roll up from the SAME
    // two-phase distinct table — an HLL sketch over a multiset equals
    // the sketch over its distinct set (per-register max is idempotent
    // under duplicates), so the sketches lose nothing by running after
    // the dedup, and the exact count is a plain count over the same
    // frame. This replaces the r11 split (two scans + a broadcast
    // join, kept to dodge the Expand-based distinct-rewrite): the
    // rewrite stays dodged — no distinct-aggregate mixes with the
    // sketches because the DISTINCT already happened below them — and
    // the second corpus scan plus the join disappear (plan: 5 nodes →
    // 2 Exchanges; 2 parquet scans → 1). Estimates, bounds booleans
    // and exact counts are bit-identical to the split spelling.
    val distinctPairs = Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_custkey")).distinct()
    distinctPairs
      .groupBy(col("o_orderstatus"))
      .agg(
        approx_count_distinct(col("o_custkey")).as("a_default"),
        approx_count_distinct(col("o_custkey"), rsd = 0.01).as("a_1pct"),
        count(lit(1)).as("exact_customers"))
      .select(
        col("o_orderstatus"),
        (abs(col("a_default") - col("exact_customers")).cast("double") /
          col("exact_customers") <= 0.05 * 3).as("approx_within_3sigma"),
        (abs(col("a_1pct") - col("exact_customers")).cast("double") /
          col("exact_customers") <= 0.01 * 3).as("approx_1pct_within_3sigma"),
        col("exact_customers"))
  }

  /** approx_percentile (GK summary) vs exact interpolated percentile.
    *
    * Sketch values are engine-defined, so they can't hash-match an
    * oracle directly. Instead the query asserts the sketch's published
    * rank-error guarantee AS a column: with accuracy 10000 the returned
    * value's rank is within n/10000 of target, far inside ±0.005
    * quantile rank — so `approx_pXX between exact quantiles at
    * (p∓0.005)` must be TRUE, and the oracle states TRUE literally.
    * Exact columns follow q38's hash-match discipline
    * (round(,4) ≡ DuckDB round(quantile_cont,4)).
    */
  private val q64Ps = Seq(0.495, 0.5, 0.505, 0.945, 0.95, 0.955)

  def approxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    // EXACT side via two-phase distributed selection over CENTS (r11):
    // the `percentile(...)` aggregate this replaces buffers every
    // distinct value of a group in one task — the per-group memory
    // cliff the repo's own q148/q190 machinery exists to avoid, left
    // here only because the lenient bench never timed it. Interpolation
    // is recomputed from the two neighboring order statistics with the
    // quantile_cont formula — lower + frac·(upper − lower), frac =
    // p·(n−1) − floor(p·(n−1)) — in CENT space on both engines (the
    // oracle interpolates quantile_cont over the same cents), so the
    // doubles agree bit for bit.
    val li = Tables.lineitem(spark, dir)
    val cents = li.select(col("l_returnflag"),
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val rankSqls = q64Ps.flatMap(p => Seq(
      s"1L + CAST(floor(${p}D * (n - 1)) AS BIGINT)",
      s"1L + CAST(ceil(${p}D * (n - 1)) AS BIGINT)"))
    val stats = graft.operators.DistributedSelection
      .orderStatsByGroup(cents, "l_returnflag", "cents", rankSqls)
    val vCols = q64Ps.indices.flatMap(k => Seq(2 * k, 2 * k + 1)).map(i =>
      max(when(col("rank_idx") === i, col("value"))).as(s"v$i"))
    val wide = stats.groupBy(col("l_returnflag"), col("n"))
      .agg(vCols.head, vCols.tail: _*)
    def eq(k: Int): org.apache.spark.sql.Column = {
      val p = q64Ps(k)
      // ${p}D: a bare 0.505 literal parses as DECIMAL in Spark SQL —
      // the D suffix keeps the whole interpolation in doubles, the
      // arithmetic quantile_cont uses
      expr(s"(v${2 * k} + (${p}D * (n - 1) - floor(${p}D * (n - 1)))" +
        s" * (v${2 * k + 1} - v${2 * k})) / 100.0D")
    }
    val ap = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
        .as("ap"))
    wide.join(broadcast(ap), Seq("l_returnflag"))
      .select(
        col("l_returnflag"),
        element_at(col("ap"), 1).between(eq(0), eq(2))
          .as("approx_p50_in_bounds"),
        element_at(col("ap"), 2).between(eq(3), eq(5))
          .as("approx_p95_in_bounds"),
        round(eq(1), 4).as("exact_p50"),
        round(eq(4), 4).as("exact_p95"))
  }

  /** Count-Min Sketch heavy hitters — the frequency sketch counterpart
    * of q63's HLL: per-partition (depth×width) grids merge map-side,
    * so a 100 TB token stream never shuffles its key space (the exact
    * top-10 groupBy here is the verification harness, not the scale
    * path). The top candidates probe the sketch bytes via
    * [[graft.functions.CmsEstimate]] and the published guarantees ride
    * as literal-TRUE oracle booleans: CMS never underestimates, and
    * with the fixed seed the `exact + eps·N` overestimate bound is a
    * deterministic fact of the fixture (asserted at all three SFs).
    */
  val cmsEps = 0.001

  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsFunctions.cms_estimate
    import graft.functions.TextFunctions.tokens
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
    val sketch = toks.agg(
      expr(s"count_min_sketch(tok, ${cmsEps}D, 0.99D, 42)").as("sk"),
      count(lit(1)).as("n_total"))
    val top = exactTop10(spark, dir)
    top.crossJoin(broadcast(sketch))
      .select(col("tok"), col("exact_n"),
        cms_estimate(col("sk"), col("tok")).as("_est"), col("n_total"))
      .select(col("tok"), col("exact_n"),
        (col("_est") >= col("exact_n")).as("never_underestimates"),
        (col("_est") <= col("exact_n") +
          ceil(lit(cmsEps) * col("n_total")).cast("long")).as("within_eps_bound"))
  }

  /** q114 — re-aggregatable distinct counts: the COUNT DISTINCT leg of
    * the IVM story (q113 merges count/sum/min/max — distinct is the
    * one aggregate that NEEDS a sketch to merge). Per-batch DataSketches
    * HLL states (`hll_sketch_agg`) union via `hll_union_agg`. The
    * invariant is BATCHING-INVARIANCE: a 4-way and a 2-way batch split
    * must estimate identically (union register merge is a commutative
    * max → identical merged state either way). Note merged ≠ one-shot
    * in general — DataSketches estimates direct-update sketches with
    * the HIP estimator but unions with the composite one (measured:
    * equal at list-mode cardinalities, drifts in estimation mode) — so
    * one-shot equality would be a WRONG invariant; both paths instead
    * carry the q63-style error bound vs the exact count. The oracle
    * states the booleans literally and checks the exact count.
    */
  def hllPartialMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    def merged(ways: Int, alias: String) = ev
      .withColumn("_batch", pmod(col("event_id"), lit(ways)))
      .groupBy(col("event_type"), col("_batch"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("_sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(_sk, false))").as(alias))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact
      .join(merged(4, "_m4"), Seq("event_type"))
      .join(merged(2, "_m2"), Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (col("_m4") === col("_m2")).as("merge_batching_invariant"),
        (abs(col("_m4") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.05).as("merged_within_5pct"))
  }

  /** q190 — Q-DIGEST quantiles ([[graft.functions.QDigest]]), the
    * mergeable quantile sketch completing the family (CMS q98, HLL
    * q63/q114): per-return-flag digests over price cents (universe
    * 2^24, k = 2048), partial states merging across partitions with
    * NO sort anywhere — the 100 TB quantile shape (q38's per-group
    * sort is the cliff it replaces; q148's two-phase selection is the
    * exact companion). Sketch node sets are batching-dependent by
    * design, so the gate states the PUBLISHED bound (rank error ≤
    * n·log2U/k, the q63/q64/q98 discipline): each estimate's exact
    * neighborhood ranks — recomputed by DuckDB — must bracket the
    * target rank within ε, and the exact lower-median rides beside
    * them via the q148 rank spelling.
    */
  val qdigLog2U = 24
  val qdigK = 2048

  def qdigestQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val est = graft.operators.Materialize.local(cents.groupBy(col("flag"))
      .agg(graft.functions.QDigest.qdigest_quantiles(
        col("cents"), qdigLog2U, qdigK, Seq(0.25, 0.5, 0.75)).as("est"),
        count(lit(1)).as("n"))
      .select(col("flag"), col("n"),
        element_at(col("est"), 1).as("e25"),
        element_at(col("est"), 2).as("e50"),
        element_at(col("est"), 3).as("e75")),
      // (r17 review) est has TWO consumers under different exchanges
      // (broadcast into ranks, shuffle into the final join) — no
      // exchange reuse possible, so the battery's most expensive UDAF
      // pass over lineitem ran twice; and since digest node sets are
      // batching-dependent, the two evaluations could even disagree.
      // One materialization of the 3-row table.
      "SketchQ.qdigestQuantiles estimates (aggregate)")
    // exact ranks of the three estimates, one conditional-sum scan
    val ranks = cents.join(broadcast(est), Seq("flag"))
      .groupBy(col("flag"))
      .agg(
        sum(when(col("cents") < col("e25"), 1L).otherwise(0L)).as("lt25"),
        sum(when(col("cents") <= col("e25"), 1L).otherwise(0L)).as("le25"),
        sum(when(col("cents") < col("e50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("cents") <= col("e50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("cents") < col("e75"), 1L).otherwise(0L)).as("lt75"),
        sum(when(col("cents") <= col("e75"), 1L).otherwise(0L)).as("le75"))
    val exact = graft.operators.DistributedSelection.medianByGroup(
      cents.select(col("flag").as("status"), col("cents")),
      groupCol = "status", valueCol = "cents")
      .select(col("status").as("flag"), col("median").as("median_cents"))
    def within(q: Double, lt: String, le: String) = {
      val eps = ceil(col("n") * lit(qdigLog2U.toDouble / qdigK)).cast("long")
      val target = ceil(col("n") * lit(q)).cast("long")
      // the estimate's occupied rank interval is [lt + 1, le], so the
      // ±eps intersection test is lt + 1 <= target + eps (r18 review:
      // `lt <= target + eps` admitted a sketch whose lowest rank sits
      // exactly one past the published bound)
      (col(lt) < target + eps) && (col(le) >= target - eps)
    }
    est.join(ranks, Seq("flag")).join(exact, Seq("flag"))
      .select(col("flag"), col("n"), col("median_cents"),
        within(0.25, "lt25", "le25").as("p25_within_eps"),
        within(0.50, "lt50", "le50").as("p50_within_eps"),
        within(0.75, "lt75", "le75").as("p75_within_eps"))
  }

  /** q193 — MISRA–GRIES heavy hitters ([[graft.functions.MisraGries]]),
    * the deterministic frequency summary closing the sketch family's
    * last gap: CMS (q98) bounds point estimates from ABOVE, MG bounds
    * them from BELOW (undercount ≤ ⌊n/(k+1)⌋) and GUARANTEES every
    * ε-heavy hitter a counter — the completeness property CMS cannot
    * state. Summaries merge by counter addition + (k+1)-th-largest
    * subtraction (Agarwal et al.'s mergeable-summaries combine), so
    * the token stream aggregates map-side and only ≤ k-counter states
    * cross the exchange. Counter contents below the threshold are
    * partitioning-dependent by design → the gate states the published
    * bounds as booleans against the exact top-10 (the q98 harness).
    */
  val mgK = 64

  def mgHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val toks = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("tok"))
    val summary = toks.agg(
      graft.functions.MisraGries.mg_summary(col("tok"), mgK).as("mg"),
      count(lit(1)).as("n_total"))
    val top = exactTop10(spark, dir)
    top.crossJoin(broadcast(summary))
      .select(col("tok"), col("exact_n"),
        element_at(col("mg"), col("tok")).as("_est"), col("n_total"))
      .select(col("tok"), col("exact_n"),
        (coalesce(col("_est"), lit(0L)) <= col("exact_n"))
          .as("never_overestimates"),
        (coalesce(col("_est"), lit(0L)) >=
          col("exact_n") - expr(s"n_total div ${mgK + 1}L"))
          .as("within_eps_bound"),
        (col("exact_n") <= expr(s"n_total div ${mgK + 1}L") ||
          col("_est").isNotNull).as("heavy_hitter_present"))
  }

  /** Exact top-10 tokens as a rollup of the shared postings artifact
    * (r18 review): the sketch legs NEED the raw token stream, but the
    * exact verification harness is sum(tf) over the postings — the
    * same tokenizer, one fewer full corpus tokenization per query
    * (two across q98 + q193).
    */
  private def exactTop10(spark: SparkSession, dir: String): DataFrame =
    RetrievalQ.postingsArtifact(spark, dir)
      .groupBy(col("term")).agg(sum(col("tf")).as("exact_n"))
      .orderBy(col("exact_n").desc, col("term").asc).limit(10)
      .select(col("term").as("tok"), col("exact_n"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q193_mg_heavy_hitters" -> (mgHeavyHitters _),
    "q190_qdigest_quantiles" -> (qdigestQuantiles _),
    "q114_hll_partial_merge" -> (hllPartialMerge _),
    "q98_cms_heavy_hitters" -> (cmsHeavyHitters _),
    "q63_approx_distinct" -> (approxDistinct _),
    "q64_approx_percentiles" -> (approxPercentiles _))

  val oracles: Map[String, String] = Map(
    // the exact top-10 (the q98 harness) + the MG bounds as literal
    // booleans: deterministic facts of the summary's published
    // guarantees at every partitioning
    "q193_mg_heavy_hitters" ->
      """WITH t AS (
        |  SELECT u.tok FROM (
        |    SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ts FROM documents), unnest(ts) u(tok)),
        |top AS (
        |  SELECT tok, count(*) AS exact_n FROM t GROUP BY tok
        |  ORDER BY exact_n DESC, tok ASC LIMIT 10)
        |SELECT tok, exact_n, TRUE AS never_overestimates,
        |  TRUE AS within_eps_bound, TRUE AS heavy_hitter_present
        |FROM top""".stripMargin,
    // exact n + lower-median via the q148 rank spelling; the q-digest
    // estimates themselves are sketch-defined, so their published
    // rank-error bound rides as literal-TRUE booleans
    "q190_qdigest_quantiles" ->
      """WITH l AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |n AS (SELECT flag, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY 1),
        |rk AS (
        |  SELECT flag, cents,
        |    row_number() OVER (PARTITION BY flag ORDER BY cents) AS r
        |  FROM l)
        |SELECT n.flag, n.n, rk.cents AS median_cents,
        |  TRUE AS p25_within_eps, TRUE AS p50_within_eps,
        |  TRUE AS p75_within_eps
        |FROM n JOIN rk ON rk.flag = n.flag AND rk.r = (n.n + 1) // 2""".stripMargin,
    "q114_hll_partial_merge" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS merge_batching_invariant, TRUE AS merged_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,
    "q98_cms_heavy_hitters" ->
      """WITH t AS (
        |  SELECT u.tok FROM (
        |    SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ts FROM documents), unnest(ts) u(tok)),
        |top AS (
        |  SELECT tok, count(*) AS exact_n FROM t GROUP BY tok
        |  ORDER BY exact_n DESC, tok ASC LIMIT 10)
        |SELECT tok, exact_n,
        |  TRUE AS never_underestimates, TRUE AS within_eps_bound
        |FROM top""".stripMargin,
    "q63_approx_distinct" ->
      """SELECT o_orderstatus,
        |  TRUE AS approx_within_3sigma,
        |  TRUE AS approx_1pct_within_3sigma,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // quantile_cont over CENTS, divided after interpolation — the
    // exact arithmetic the Spark selection-side recomputes from order
    // statistics (same doubles on both engines)
    "q64_approx_percentiles" ->
      """WITH c AS (SELECT l_returnflag,
        |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  TRUE AS approx_p50_in_bounds,
        |  TRUE AS approx_p95_in_bounds,
        |  round(quantile_cont(cents, 0.5) / 100.0, 4) AS exact_p50,
        |  round(quantile_cont(cents, 0.95) / 100.0, 4) AS exact_p95
        |FROM c GROUP BY l_returnflag""".stripMargin)
}

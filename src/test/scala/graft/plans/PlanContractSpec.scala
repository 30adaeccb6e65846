package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkTestSession
import graft.SparkEntry
import graft.clinical.{Pipeline, PipelineConfig}
import graft.queries.Clinical

/** Battery-wide physical-plan contracts — the scale properties that
  * make these operators survive a 100 TB / 1000-executor deployment,
  * locked in as regressions:
  *
  *  - no single-partition windows or single-partition exchanges
  *    anywhere (the round-1 clinical diff(-1) cliff must never return);
  *  - no accidental cartesian/nested-loop joins — every non-equi plan
  *    shape is an explicit, justified choice;
  *  - the shared-scan dedup operators actually reuse their exchange.
  *
  * Plans are inspected at sf0.001 (plan SHAPE is scale-invariant; the
  * driver's bench measures time separately).
  */
class PlanContractSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  // batch queries only (the streaming entry builds a streaming plan)
  private lazy val plans: Map[String, String] =
    SparkEntry.queries.filterNot(_._1.startsWith("q66")).map { case (n, fn) =>
      n -> fn(spark, dir).queryExecution.executedPlan.toString
    }

  /** Queries whose broadcast-nested-loop / cartesian shape is the
    * intended design, each with the reason it is scale-safe.
    */
  private val deliberateNonEquiJoins: Set[String] = Set(
    "q08_join_cross",         // the cross-join operator itself (5×5 dims)
    "q09_join_range",         // theta band join, 25-row broadcast build side
    "q24_scalar_subquery",    // uncorrelated scalar subquery broadcast to every row
    "q35_type_share",         // 1-row scalar denominator broadcast to k grouped rows
    "q50_ann_brute_force",    // broadcast queries × corpus scan IS the exact baseline
    "q51_ann_ivf",            // embeds q50's brute-force baseline as the per-query
                              // recall denominator (r7 graduation)
    "q138_hard_negatives",    // q50's shape with the label-inequality riding the join
    "q186_mmr_rerank",        // q50's broadcast-probes candidate scan feeding the
                              // bounded (≤10 per query) rerank groups
    "q80_ann_recall",         // embeds q50's brute-force baseline as the recall denominator
    "q82_simhash_complete",   // exhaustive-sketch reference leg IS the completeness check
                              // (gate-scale diagnostic of the blocked path, by design O(n²))
    "q83_lsh_planted_recall", // 1×1 cross join of two scalar aggregates (n_planted × found)
    "q85_curation_funnel",    // 1×1 cross join of the stage-counts and dedup-survivor aggregates
    "q86_mixture_rebalance",  // 5×1 cross join: per-source totals × scalar min-total target
    "q92_semantic_dedup",     // 1×1 cross joins of the scalar invariant aggregates
    "q97_pq_ann",             // broadcast queries(+ADC tables) × code-table scan —
                              // the PQ analogue of q50's deliberate shape
    "q98_cms_heavy_hitters",  // 10×1 cross join: top-k candidates × the one-row sketch
    "q193_mg_heavy_hitters",  // 10×1 cross join: top-k candidates × the one-row MG summary
    "q100_bm25_topk",         // 1-row corpus-stats scalar broadcast onto matched postings
    "q103_source_drift",      // |sources|×|vocab| frame: 5×100 rows by construction
    "q108_eval_split",        // 1×1 cross join: the residual-overlap scalar invariant
    "q120_tfidf_topterms",    // 1-row n_docs scalar broadcast onto the postings (q100's shape)
    "q123_binning",           // two 1-row scalar broadcasts (row count; global min/max)
    "q129_term_cooccurrence", // 1-row n_docs scalar broadcast onto the pair counts
    "q134_zorder_layout",     // 1-row max-zcode scalar broadcast for the 64-way cut
    "q135_triangle_count",    // 1×1×1 cross of the nodes/edges/triangles scalars
    "q130_bpe_encode",        // 1×1 cross join: vocab stats × the n_docs scalar
    "q131_retrieval_eval",    // inherits q100's 1-row corpus-stats scalar broadcast
    "q133_weighted_sample",   // 1-row total-weight scalar broadcast onto the scan
    "q145_group_kfold",       // 1-row total-events scalar broadcast onto 5 fold rows
    "q149_heldout_lm_score",  // 1-row train-token-total scalar broadcast
    "q162_cluster_safe_split", // 1-row straddle-invariant scalar broadcast
    "q169_hybrid_rrf",        // vector leg inherits q50's broadcast-probes shape
                              // (|probes| rows) + q100's scalar stats broadcast
    "q171_importance_weights", // 1-row totals scalar broadcast onto the
                              // 256-row feature-bucket table
    "q175_domain_classifier", // |classes|×256 weight grid (20×256, sized
                              // by config not data) + 1-row grand-total
                              // scalar broadcast
    "q179_domain_mixing",     // 1-row totals scalar broadcast onto the
                              // 20-row domain table
    "q183_mixed_sample",      // the q179 1-row totals scalar broadcast,
                              // feeding the 20-row rate table
    "q212_knn_join_recall",   // 1×1 cross of the planted-count and
                              // found-count scalars (the q83/q92 shape)
    "q215_embedding_decontamination", // 1×1×1 cross of the train/purged/
                              // survivor count scalars (the q135 shape)
    "q222_semantic_pairs_distributed") // 1×1 crosses of six scalar
                              // invariant aggregates (the q92 shape)

  /** A Window (or Sort) whose child is Exchange SinglePartition funnels
    * every ROW through one task — the cliff. A global scalar AGGREGATE
    * over SinglePartition is fine: only one partial row per upstream
    * task flows through it.
    */
  private def windowOverSinglePartition(plan: String): Boolean = {
    val lines = plan.linesIterator.toVector
    lines.indices.exists { i =>
      lines(i).contains("Exchange SinglePartition") && i > 0 &&
        (lines(i - 1).contains("Window") || lines(i - 1).contains("Sort "))
    }
  }

  test("no window or sort over a single-partition exchange in any batch plan") {
    val offenders = plans.collect {
      case (n, p) if windowOverSinglePartition(p) => n
    }.toSeq.sorted
    assert(offenders.isEmpty,
      s"single-partition window/sort in: ${offenders.mkString(", ")}")
  }

  test("no accidental cartesian or nested-loop joins") {
    val offenders = plans.filter { case (n, p) =>
      !deliberateNonEquiJoins.contains(n) &&
        (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
    }.keys.toSeq.sorted
    assert(offenders.isEmpty,
      s"unexpected non-equi join shapes in: ${offenders.mkString(", ")}")
  }

  test("parquet scans prune columns: no query reads every documents column blindly") {
    // representative: q41 needs only `text` → its scan's ReadSchema must
    // not include doc_id/lang/source/url
    val p = plans("q41_token_histogram")
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scanLine.contains("text"), s"scan lost the text column: $scanLine")
    assert(!scanLine.contains("lang") && !scanLine.contains("url"),
      s"q41 scan reads unused columns: $scanLine")
  }

  test("minhash LSH reuses the shingle exchange (computed once per build)") {
    import org.apache.spark.sql.functions._
    // assert on the PIPELINE, not the memoized artifact: since r9
    // TextQ.minhashPairs serves a parquet pair-list artifact (its plan
    // is a FileScan — the point), so the exchange-reuse contract lives
    // on the one-time BUILD plan underneath
    val df = graft.operators.Dedup.minhashLsh(
      graft.sources.Tables.documents(spark, dir),
      shingleK = 4, numHashes = 64, rowsPerBand = 4, jaccardThreshold = 0.5)
    df.collect()   // AQE finalizes stage reuse only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      "shingle-set exchange is recomputed per consumer — reuse regressed")
  }

  test("minhash pair list is served from the parquet artifact (one build per session)") {
    val df = graft.queries.TextQ.minhashPairs(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") &&
      plan.contains("graft_artifact_minhash_pairs"),
      s"q47/q161's shared pair list is not artifact-backed:\n$plan")
  }

  test("winnowing selects prints inside the row: no per-k-gram explode/shuffle/window") {
    // the round-3 rewrite moved hash → sliding-min → distinct into one
    // codegen'd expression; a Window here means the 5M-row k-gram
    // pipeline came back
    val p = plans("q74_winnowing_report")
    assert(!p.contains("Window"), "q74 re-grew a per-k-gram window pipeline")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2, s"q74 scans documents $scans times (expected print leg + n_docs leg)")
  }

  /** A plan's lines after execution (AQE finalizes stage reuse only
    * then), up to AQE's initial plan, without tree drawing or
    * whole-stage-codegen ids.
    */
  private def finalLines(df: DataFrame): IndexedSeq[String] = {
    df.collect()
    df.queryExecution.executedPlan.toString.linesIterator
      .takeWhile(!_.contains("Initial Plan"))
      .map(_.replaceAll("^[^A-Za-z]*", "")).toIndexedSeq
  }

  test("q30 reads one shared UID range exchange and has no Window") {
    // the bug-compatible pass (clinical.Metrics.withCohortMetrics): the
    // walk and its partition-head summary must read ONE range exchange.
    // Two exchanges would sample their range bounds independently, and
    // the summary's partition ids would stop matching the walk's.
    val lines = finalLines(SparkEntry.queries("q30_clinical_pipeline")(spark, dir))
    val plan = lines.mkString("\n")
    // the pass's exchange, not the gate wrapper's global presentation sort
    val ranged = lines.filter(l =>
      l.contains("Exchange rangepartitioning(UID") && l.contains("REPARTITION_BY_NUM"))
    assert(ranged.count(_.startsWith("Exchange rangepartitioning(UID")) == 1,
      s"q30 must plan exactly one UID range exchange:\n$plan")
    assert(ranged.size >= 2 &&
        ranged.filterNot(_.startsWith("Exchange ")).forall(_.startsWith("ReusedExchange")),
      s"every other read of q30's range exchange must reuse it:\n$plan")
    assert(!lines.exists(_.startsWith("Window ")), s"q30 re-grew a window:\n$plan")
  }

  test("q31: one hash exchange per source, no broadcast, sort on the joins") {
    // the strict clinical plan (clinical.Pipeline.joined feeding
    // clinical.Metrics.withCohortMetrics): users, weights and treatments
    // each cross one hash exchange on their user key into two shuffled
    // hash joins, and the walk sorts their output in that stage. No
    // broadcast of the weights fact table, no second UID exchange, one
    // metric sort and no Window (the six window specs it replaced sorted
    // the joined row once each)
    val lines = finalLines(SparkEntry.queries("q31_clinical_pipeline_strict")(spark, dir))
    val plan = lines.mkString("\n")
    assert(!plan.contains("Broadcast"), s"q31 broadcasts:\n$plan")
    val hashed = lines.filter(_.startsWith("Exchange hashpartitioning("))
    assert(hashed.map(_.takeWhile(_ != '#')) == Seq("Exchange hashpartitioning(UID",
        "Exchange hashpartitioning(MasterUserID", "Exchange hashpartitioning(MasterUserID"),
      s"expected one hash exchange per source on its user key:\n$plan")
    assert(lines.count(_.startsWith("FileScan ")) == 3 &&
        lines.count(_.startsWith("ShuffledHashJoin [UID#")) == 2,
      s"expected three scans into two shuffled hash joins on UID:\n$plan")
    val sorts = lines.indices.filter { i =>
      lines(i).startsWith("Sort [UID") && lines(i).contains("UIDCreatedDate") &&
        lines(i).endsWith("false, 0")
    }
    assert(sorts.size == 1, s"expected one metric sort:\n$plan")
    assert(lines(sorts.head - 1).startsWith("MapGroups ") &&
        lines.drop(sorts.head + 1).dropWhile(_.startsWith("Project ")).head
          .startsWith("ShuffledHashJoin [UID#"),
      s"only a projection may sit between the joins and the metric sort under the walk:\n$plan")
    assert(!lines.exists(_.startsWith("Window ")), s"q31 re-grew a window:\n$plan")
  }

  test("clinical plans (both modes) with dedup have no exchange above the metric walk") {
    // duplicates are whole rows, so they meet in one user: the walk drops
    // them itself, where a dropDuplicates above it shuffled every column
    for (strict <- Seq(true, false)) {
      val cfg = PipelineConfig(gender = "Male", minAge = 20, maxAge = 60, clinicId = 1,
        strictCohorts = strict, dedup = true)
      val lines = finalLines(Pipeline.run(Clinical.syntheticUsers(spark, dir),
        Clinical.syntheticWeights(spark, dir), Clinical.syntheticTreatments(spark, dir), cfg))
      val walk = lines.indexWhere(l => l.startsWith("MapGroups ") || l.startsWith("MapPartitions "))
      assert(walk > 0 && !lines.take(walk).exists(_.contains("Exchange")),
        s"strict = $strict: an exchange sits above the walk:\n${lines.mkString("\n")}")
    }
  }

  test("clinical plans (both modes) have zero single-partition exchanges after execution") {
    for (name <- Seq("q30_clinical_pipeline", "q31_clinical_pipeline_strict")) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"),
        s"$name regressed to a single-partition exchange")
    }
  }

  /** The driver's hash methodology is not specified — an
    * order-sensitive hash flips on partition scheduling unless BOTH
    * engines emit one deterministic total order. SparkEntry wraps every
    * gate query in a final all-columns sort (and every oracle in ORDER
    * BY ALL NULLS FIRST); this pins the wrapper so no future query
    * ships without it.
    */
  test("every gated batch plan tops out in a deterministic Sort") {
    val offenders = SparkEntry.queries
      .filterNot(_._1.startsWith("q66")).filter { case (name, fn) =>
        val qe = fn(spark, dir).queryExecution
        // EliminateSorts drops the wrapper exactly when it can PROVE
        // ≤ 1 output row — which is order-deterministic anyway
        val provablySingleRow = qe.optimizedPlan.maxRows.exists(_ <= 1)
        !provablySingleRow && !qe.executedPlan.toString.linesIterator.take(3)
          .exists(l => l.contains("Sort ") || l.contains("TakeOrderedAndProject"))
      }.keys.toSeq.sorted
    assert(offenders.isEmpty,
      s"gate output not globally sorted in: ${offenders.mkString(", ")}")
  }

  /** Frozen double-typed gate surface (the q100/q125 red-row class):
    * these queries legitimately emit float/double columns — raw source
    * passthrough (o_totalprice, l_quantity...), the clinical 6dp
    * bug-compat presentation, or 6-round-proven rounded aggregates.
    * A NEW query may not add a double gate column — gate in scaled
    * integers (floor(x·k + 0.5) / the exact-rational div pattern).
    */
  private val doubleGateWhitelist: Set[String] = Set(
    "q01_agg", "q02_join_left", "q03_join_star", "q06_join_right",
    "q10_filter_pushdown", "q101_stream_sink_roundtrip", "q11_sort_limit",
    "q113_incremental_agg", "q127_grouping_sets", "q13_dedup_keep_first",
    "q14_case_buckets", "q17_math_funcs", "q20_rollup", "q21_cube",
    "q22_agg_funcs", "q24_scalar_subquery", "q25_window_topk",
    "q26_window_lag_lead", "q27_window_running", "q28_window_distribution",
    "q29_window_range_frame", "q30_clinical_pipeline",
    "q31_clinical_pipeline_strict",
    "q35_type_share", "q36_asof_join", "q38_percentiles", "q39_salted_join",
    "q40_text_stats", "q43_char_jaccard_pairs", "q45_quality_report",
    "q47_minhash_pairs", "q49_bpe_token_counts", "q50_ann_brute_force",
    "q52_embedding_stats", "q53_cosine_pairs",
    "q54_lsh_near_dups", "q56_media_features", "q64_approx_percentiles",
    "q65_clinical_month_cohort", "q66_stream_windowed_counts",
    "q67_clinical_expr_cohort", "q73_stream_dedup", "q76_repetition_report",
    "q86_mixture_rebalance", "q91_stream_sessions", "q94_stream_static_join",
    "q97_pq_ann", "q99_bucketed_join")

  test("no query outside the frozen whitelist gates a double column") {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val offenders = SparkEntry.queries
      .filterNot(kv => kv._1.startsWith("q66") ||
        doubleGateWhitelist.contains(kv._1))
      .filter { case (_, fn) =>
        fn(spark, dir).schema.exists(f =>
          f.dataType == DoubleType || f.dataType == FloatType)
      }.keys.toSeq.sorted
    assert(offenders.isEmpty,
      s"new double gate columns in: ${offenders.mkString(", ")} — " +
        "gate in scaled integers (see the float-gate rule)")
  }

  test("q99's bucketed join has no exchange on the bucket key") {
    val p = plans("q99_bucketed_join")
    assert(!p.contains("hashpartitioning(o_orderkey") &&
      !p.contains("hashpartitioning(l_orderkey"),
      s"bucketed join re-shuffled a bucketed side:\n$p")
  }

  test("q76 is a map-only projection: no data-required exchange, join, window or aggregate") {
    // both repetition statistics are per-document arg-max/rollups and
    // compute in-row (TopGramStats / DupGramStats); the only exchanges
    // allowed are the Tables.spread split-starvation repartition
    // (REPARTITION_BY_NUM — absent at real scale) and the battery-wide
    // deterministic presentation sort
    val p = plans("q76_repetition_report")
    for (bad <- Seq("Join", "Window", "HashAggregate"))
      assert(!p.contains(bad), s"q76 regressed to a shuffling plan ($bad):\n$p")
    val required = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REPARTITION_BY_NUM"))
    assert(required.isEmpty,
      s"q76 regressed to a data-required hash exchange:\n$p")
  }

  test("q139/q149 bigram plans shuffle hashed keys, never token strings") {
    // the r10/r11 fix pair: both the in-corpus and held-out LM plans
    // key every model shuffle and scoring join on xxhash64 bigram ids;
    // a token-string shuffle key (w1/w2) reappearing means the shared
    // hashed bigramRows helper was bypassed — the exact drift the
    // re-unification exists to prevent
    for (q <- Seq("q139_bigram_fluency", "q149_heldout_lm_score")) {
      val p = plans(q)
      assert(!p.contains("hashpartitioning(w1"),
        s"$q shuffles token strings again (w1 key):\n$p")
      assert(p.contains("h12"),
        s"$q lost its hashed bigram keys:\n$p")
    }
  }

  test("q135 counts triangles over the degree-ORIENTED edge set") {
    // the oriented wedge join carries the destination-rank comparison
    // (dst_deg) in its condition — lexicographic wedges don't; losing
    // it reverts the per-key fan-in bound from O(sqrt m) to
    // O(max-degree^2) on a power-law graph
    val p = plans("q135_triangle_count")
    assert(p.contains("dst_deg"),
      s"q135 lost the degree-ordered orientation (no dst_deg rank in the plan):\n$p")
    assert(!p.contains("Window"), s"q135 must stay window-free:\n$p")
  }

  test("q153's document-frequency side partial-aggregates (no per-h window)") {
    // count-over-h-partition cannot combine map-side; the df table is a
    // groupBy joined back on h (broadcast at gate scale, shuffled when
    // the gram-frequency table outgrows the threshold)
    val p = plans("q153_dup_span_report")
    assert(!p.contains("Window"), s"q153 regressed to the per-h window:\n$p")
    assert(p.contains("Join"),
      s"q153 lost its h-keyed document-frequency join:\n$p")
  }
}

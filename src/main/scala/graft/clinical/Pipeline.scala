package graft.clinical

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The cohort-metrics data model: join → derive → filter → metric pass
  * → dedup (pandas_DataModel.py:34-161), re-expressed as one lazy
  * Catalyst plan.
  *
  * Differences from the reference's execution (same results, Spark-first
  * shape):
  *  - columns are disambiguated BEFORE the join (select-with-alias), so
  *    no post-join `_x/_y` drop/rename pass is needed
  *    (pandas_DataModel.py:63-74) and the join output is never ambiguous;
  *  - the demographic filter is evaluated BELOW the metric pass's
  *    exchange, not after the pass (pandas_DataModel.py:6-31 filters the
  *    finished frame). It is constant per user and every metric group is
  *    a user or finer, so strict mode filters before the exchange; the
  *    bug-compatible diff crosses users, so there it rides as a keep
  *    flag and the pass emits only the kept users' rows;
  *  - the global 6-key sort (py:85-90) is only needed within a user, so
  *    it becomes one sort within `UID` partitions feeding the metric
  *    pass ([[Metrics.withCohortMetrics]]); only presentation sorts
  *    globally;
  *  - in strict mode the joins are shuffled hash joins ([[joined]]):
  *    each source crosses one hash exchange on the user key, nothing is
  *    broadcast, and the metric pass runs in the joins' stage on their
  *    `UID` partitioning (the per-user cohort operator over co-located
  *    activity tuples of "Cohort Analysis with Ease", SIGMOD 2018). The
  *    bug-compatible pass needs a range exchange on `UID` anyway, so
  *    there Catalyst picks the joins: at this scale it broadcasts the
  *    weights and treatments sides (the build side of a left join is
  *    its right side);
  *  - the final full-row dedup (py:161) happens inside the metric pass,
  *    not as a second exchange over every column.
  */
object Pipeline {

  /** users-side renames: CreatedDate→UIDCreatedDate, IsActive→User_IsActive
    * (pandas_DataModel.py:66-74).
    */
  private def renamedUsers(users: DataFrame): DataFrame =
    users.withColumnsRenamed(Map(
      "CreatedDate" -> "UIDCreatedDate",
      "IsActive" -> "User_IsActive"))

  private def renamedWeights(weights: DataFrame): DataFrame =
    weights.withColumnsRenamed(Map(
      "CreatedDate" -> "Wts_CreatedDate",
      "UpdatedDate" -> "Wts_UpdatedDate",
      "IsActive" -> "Wts_IsActive",
      "IsDelete" -> "Wts_IsDelete"))

  private def renamedTreatments(treatments: DataFrame): DataFrame =
    treatments.withColumnsRenamed(Map("StartDate" -> "Tmt_StartDate"))

  /** users ⟕ weights ⟕ treatments on UID = MasterUserID
    * (pandas_DataModel.py:56-63), join keys dropped from the right sides,
    * as shuffled hash joins: the reference keeps ALL users (a left join
    * from users, users with no weigh-ins included), so the build side is
    * the right one, and a broadcast would ship the weights fact table to
    * every task. A `shuffle_hash` hint on both right sides instead sends
    * each source through one hash exchange on its user key, and the
    * output stays hash partitioned on `UID`, as the strict metric pass
    * needs it.
    */
  def joined(users: DataFrame, weights: DataFrame, treatments: DataFrame): DataFrame =
    join(users, weights, treatments, shuffled = true)

  /** [[joined]], leaving the join strategy to Catalyst unless `shuffled`.
    *
    * Measured and not kept: USING joins on the right sides' key renamed
    * to `UID` (no `drop`s), with the identity cohort projection skipped,
    * save three eager analyses of the joined plan per call, but read
    * clinical `call_p50_s` 0.129 → 0.133 s and `pass_s` 0.907 → 0.935 s
    * (perfbench, 3 pairs, seeds 1–3, 4 cores).
    */
  private def join(users: DataFrame, weights: DataFrame, treatments: DataFrame,
                   shuffled: Boolean): DataFrame = {
    def build(df: DataFrame) = if (shuffled) df.hint("shuffle_hash") else df
    val u = renamedUsers(users)
    val w = build(renamedWeights(weights))
    val t = build(renamedTreatments(treatments))
    u.join(w, u("UID") === w("MasterUserID"), "left")
      .drop(w("MasterUserID"))
      .join(t, u("UID") === t("MasterUserID"), "left")
      .drop(t("MasterUserID"))
  }

  /** month/week since treatment start (pandas_DataModel.py:97-103). */
  def withDerived(df: DataFrame): DataFrame =
    df.withColumns(Map("month" -> Metrics.monthCol, "week" -> Metrics.weekCol))

  /** The five metrics (pandas_DataModel.py:112-151). */
  def withMetrics(df: DataFrame, cfg: PipelineConfig): DataFrame =
    withMetricsCohort(df, cfg.cohort, cfg.strictCohorts)

  /** Metrics over an arbitrary cohort COLUMN — `cohortCol` need not be
    * one of the CLI's validated choices (SURVEY §7.5 generalization);
    * callers materialize any expression as a column first (see
    * [[runWithCohortExpr]]).
    *
    * `keep`, when given, must be a USER-CONSTANT predicate (each UID's
    * rows all pass or all fail). Every metric group is a user or finer,
    * so such a predicate commutes with the strict metric pass, which
    * then never sees rows the filter discards. The bug-compatible pass
    * walks every user and emits only the kept ones, so the cross-user
    * quirk still sees the UNFILTERED frame.
    *
    * TEW is an intermediate in pandas (unnamed local, py:129) but a real
    * column in polars (polars_DataModel.py:130-132); it is kept — it
    * costs nothing and documents treatment_TBWL.
    */
  def withMetricsCohort(df: DataFrame, cohortCol: String, strict: Boolean,
                        keep: Option[Column] = None, dedup: Boolean = false): DataFrame =
    Metrics.withCohortMetrics(df, cohortCol, strict, keep, dedup)

  /** Full pipeline from the three (un-renamed) source tables. One
    * spelling (r17 review): delegates to [[runWithCohortExpr]] with the
    * named column as the cohort expression — `withColumn(name,
    * col(name))` is an identity projection, and MetricsSpec pins the
    * equivalence — so the strict/bug-compat dispatch lives in exactly
    * one place.
    */
  def run(users: DataFrame, weights: DataFrame, treatments: DataFrame,
          cfg: PipelineConfig = PipelineConfig()): DataFrame =
    runWithCohortExpr(users, weights, treatments,
      col(cfg.cohort), cfg.cohort, cfg)

  /** Pipeline with an ARBITRARY cohort expression (SURVEY §7.5): the
    * expression is materialized as `cohortName` and every per-cohort
    * metric groups by it, exactly like the built-in week/month/ClinicID
    * choices. `cfg.cohort` is ignored on this path; demographic filters,
    * dedup, and strict/bug-compat diff semantics apply unchanged. The
    * filter is evaluated on the joined frame, below the metric pass and
    * its `UID` exchange, in both modes.
    */
  def runWithCohortExpr(users: DataFrame, weights: DataFrame, treatments: DataFrame,
                        cohortExpr: Column, cohortName: String,
                        cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    // a cohort named like a metric would collide with the metric the
    // pass appends; internal scratch names are covered by the leading "_"
    require(!Metrics.metricColumns.contains(cohortName) &&
        !cohortName.startsWith("_"),
      s"cohort name '$cohortName' collides with a metric/internal " +
        "column the pipeline derives — pick another name")
    val pre = withDerived(join(users, weights, treatments, shuffled = cfg.strictCohorts))
    // materializing a cohort under an EXISTING column name silently
    // replaces that column for every downstream metric, group key and
    // filter (r18 review: cohortName = "Weight" with a bucketing
    // expression corrupts PSW/TSW/TEW with no error — the exact class
    // the metric-name guard above covers for DERIVED names). The one
    // legitimate overlap is the built-in path's self-reference
    // (cohort = an existing column named by itself: `run` passes
    // col(cfg.cohort)), which replaces the column with its own value.
    // Column.toString renders the unresolved column node ("month" for
    // col("month"), "FLOOR((Weight / 10))" for an expression) — the
    // stable public discriminator; Spark 4's ColumnNodeExpression
    // wrapping makes a catalyst-node match brittle. Pinned both ways
    // in MetricsSpec.
    val isSelfRef = cohortExpr.toString == col(cohortName).toString
    require(isSelfRef || !pre.columns.contains(cohortName),
      s"cohort name '$cohortName' collides with an input/base column — " +
        "the cohort expression would silently replace it for every " +
        "downstream metric; pick another name")
    withMetricsCohort(pre.withColumn(cohortName, cohortExpr), cohortName,
      cfg.strictCohorts, Some(Filters.predicate(cfg)), cfg.dedup)
  }

  /** README.md:25-29 presentation projection. */
  val presentationColumns: Seq[String] = Seq(
    "UID", "Name", "LastName", "Gender", "Age", "ClinicID",
    "week", "month", "WIR", "PSW", "TSW", "patient_TBWL", "treatment_TBWL")

  def present(df: DataFrame): DataFrame =
    df.select(presentationColumns.map(col): _*)
      .orderBy(Metrics.sortKeys.take(1) :+ col("week").asc_nulls_last: _*)

  /** Convenience: run from a CSV directory like the reference CLI. */
  def runFromCsv(spark: org.apache.spark.sql.SparkSession, dir: String,
                 cfg: PipelineConfig = PipelineConfig()): DataFrame =
    run(Sources.usersCsv(spark, dir), Sources.weightsCsv(spark, dir),
        Sources.treatmentsCsv(spark, dir), cfg)
}

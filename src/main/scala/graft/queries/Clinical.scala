package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clinical.{Pipeline, PipelineConfig}
import graft.sources.Tables

/** The full clinical cohort-metrics pipeline pushed through the driver's
  * DuckDB hash gate.
  *
  * The driver's testdata has no clinical tables, so we derive
  * clinical-shaped users/weights/treatments DETERMINISTICALLY from
  * customer/orders (same arithmetic on both the Spark and DuckDB sides),
  * then run the real [[graft.clinical.Pipeline]]. This exercises every
  * reference operator — left joins, renames, day-diff derivation, all
  * five metrics including the §2.9 global diff(-1) — under the
  * hash compare, at every scale factor.
  */
object Clinical {

  private val userEpoch = 1672531200L  // 2023-01-01 00:00:00 UTC
  private val tmtEpoch = 694224000L    // 1992-01-01 00:00:00 UTC

  /** customer → users (UID zero-padded so string sort == numeric sort). */
  def syntheticUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      lpad(col("c_custkey").cast("string"), 8, "0").as("UID"),
      col("c_name").as("Name"),
      lit("X").as("LastName"),
      when(col("c_custkey") % 2 === 0, "Male").otherwise("Female").as("Gender"),
      lit(1L).as("Unit"),
      timestamp_seconds(lit(userEpoch)).as("Birthday"),
      (lit(18L) + col("c_custkey") % 55).as("Age"),
      lit(170L).as("Height"),
      timestamp_seconds(lit(userEpoch) + col("c_custkey")).as("CreatedDate"),
      lit(true).as("IsActive"),
      (col("c_nationkey") % 3).cast("long").as("ClinicID"),
      lit(null).cast("double").as("loginId"),
      lit(true).as("success"))

  /** orders → weights. Wts_CreatedDate = o_orderdate + o_orderkey seconds
    * makes the 6-key sort order total (no ties → deterministic
    * first/last/lead on both engines); UpdatedDate is nulled for every
    * 7th orderkey to exercise WIR's non-null count.
    */
  def syntheticWeights(spark: SparkSession, dir: String): DataFrame = {
    val created = timestamp_seconds(unix_timestamp(col("o_orderdate")) + col("o_orderkey"))
    Tables.orders(spark, dir).select(
      lpad(col("o_custkey").cast("string"), 8, "0").as("MasterUserID"),
      (col("o_totalprice") / 1000.0).as("Weight"),
      lit(25.0).as("BMI"), lit(20.0).as("BodyFat"), lit(55.0).as("BodyWater"),
      lit(2.9).as("Bone"), lit(9.7).as("VisceralFat"), lit(1500.0).as("BMR"),
      lit(47.4).as("MuscleMass"),
      created.as("CreatedDate"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast("timestamp"))
        .otherwise(created).as("UpdatedDate"),
      lit(true).as("IsActive"), lit(false).as("IsDelete"))
  }

  /** customer → treatments (one per user, staggered start dates). */
  def syntheticTreatments(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      lpad(col("c_custkey").cast("string"), 8, "0").as("MasterUserID"),
      (col("c_custkey") % 3 + 1).as("TreatmentTypeID"),
      timestamp_seconds(lit(tmtEpoch) + col("c_custkey") * 60).as("StartDate"))

  /** Constructed-plan memo per (session, dir, variant): repeated
    * invocations of the same clinical query (the bench's warm + timed
    * calls, verify) get ONE constructed DataFrame, so analysis is paid
    * once per (session, input dir). Results are never cached — each
    * action re-executes the full metric pass.
    */
  private val planMemo =
    new graft.sources.SessionMemo[(SparkSession, String, String), DataFrame](_._1)
  private def memoized(spark: SparkSession, dir: String, variant: String)
                      (build: => DataFrame): DataFrame =
    planMemo.get((spark, dir, variant))(build)

  /** A clinical gate query: `cfg`'s pipeline over the synthetic
    * tables, memoized per (session, dir, variant), in the gate
    * projection ([[rounded]]).
    */
  private def pipelineQuery(spark: SparkSession, dir: String, variant: String,
                            cfg: PipelineConfig): DataFrame =
    memoized(spark, dir, variant) {
      rounded(Pipeline.run(
          syntheticUsers(spark, dir),
          syntheticWeights(spark, dir),
          syntheticTreatments(spark, dir), cfg), cfg.cohort)
    }

  /** The gate projection every clinical query shares: identity and
    * cohort columns as they are, each weight metric rounded to 6
    * places (the oracle rounds the same columns).
    */
  private def rounded(df: DataFrame, cohort: String): DataFrame =
    df.select(
      Seq("UID", "Gender", "Age", "ClinicID", "Wts_CreatedDate", cohort, "WIR")
        .map(col) ++
      Seq("Weight", "PSW", "TSW", "TEW", "treatment_TBWL", "patient_TBWL")
        .map(c => round(col(c), 6).as(c)): _*)

  def pipeline(spark: SparkSession, dir: String): DataFrame =
    pipelineQuery(spark, dir, "bugcompat", PipelineConfig(cohort = "week",
      gender = "Male", minAge = 20, maxAge = 60, clinicId = 1, dedup = false))

  /** Strict-cohort variant: per-user lead, no single-partition window —
    * the shape that survives scale-up. Oracle differs only in the lead's
    * PARTITION BY.
    */
  def pipelineStrict(spark: SparkSession, dir: String): DataFrame =
    pipelineQuery(spark, dir, "strict", PipelineConfig(cohort = "week",
      gender = "Male", minAge = 20, maxAge = 60, clinicId = 1, dedup = false,
      strictCohorts = true))

  /** DuckDB re-statement of the synthetic tables + pipeline. Same
    * arithmetic, same window frames, same null ordering.
    */
  private val weekExprSql =
    "CAST(floor(floor((epoch(Wts_CreatedDate) - epoch(Tmt_StartDate)) / 86400.0) / 7.0) AS INT)"

  /** The ONE clinical oracle template, parameterized by the lead
    * partition, the cohort column name + SQL expression, and the
    * demographic WHERE — the month/expression variants pass their own
    * values instead of text-surgery on the week oracle (an exact
    * `.replace` chain silently no-ops when a cosmetic edit stops a
    * pattern matching, leaving a variant gate testing stale
    * semantics).
    */
  /** The synthetic-tables + join + cohort-derivation CTE prefix
    * (users..derived) — the ONE spelling of the clinical synthetic
    * arithmetic, shared by every clinical oracle here AND by q60's
    * summary oracle (SummaryQ) so the two gate families can never
    * drift on it (the bm25PerDocCte rule).
    */
  private[queries] def syntheticCtePrefix(cohort: String = "week",
      cohortExprSql: String = weekExprSql): String =
    s"""users AS (
       |  SELECT lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS UID,
       |         CASE WHEN c_custkey % 2 = 0 THEN 'Male' ELSE 'Female' END AS Gender,
       |         18 + c_custkey % 55 AS Age,
       |         CAST(c_nationkey % 3 AS BIGINT) AS ClinicID,
       |         make_timestamp(($userEpoch + c_custkey) * 1000000) AS UIDCreatedDate
       |  FROM customer),
       |weights AS (
       |  SELECT lpad(CAST(o_custkey AS VARCHAR), 8, '0') AS MasterUserID,
       |         o_totalprice / 1000.0 AS Weight,
       |         make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey) * 1000000) AS Wts_CreatedDate,
       |         CASE WHEN o_orderkey % 7 = 0 THEN NULL
       |              ELSE make_timestamp((CAST(epoch(o_orderdate) AS BIGINT) + o_orderkey) * 1000000)
       |         END AS Wts_UpdatedDate
       |  FROM orders),
       |treatments AS (
       |  SELECT lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS MasterUserID,
       |         c_custkey % 3 + 1 AS TreatmentTypeID,
       |         make_timestamp(($tmtEpoch + c_custkey * 60) * 1000000) AS Tmt_StartDate
       |  FROM customer),
       |joined AS (
       |  SELECT u.UID, u.Gender, u.Age, u.ClinicID, u.UIDCreatedDate,
       |         w.Weight, w.Wts_CreatedDate, w.Wts_UpdatedDate,
       |         t.TreatmentTypeID, t.Tmt_StartDate
       |  FROM users u
       |  LEFT JOIN weights w ON u.UID = w.MasterUserID
       |  LEFT JOIN treatments t ON u.UID = t.MasterUserID),
       |derived AS (
       |  SELECT *, $cohortExprSql AS $cohort
       |  FROM joined)""".stripMargin

  /** The clinical fw-window spellings, ONE copy (r19 review): q60's
    * summary oracle hand-copied the WIR/TSW/TEW window block, so a fix
    * to the ordering or IGNORE NULLS spelling could land in one gate
    * family and not the other — the drift hazard syntheticCtePrefix
    * already closed for the table prefix. All consumers render from
    * these.
    */
  private[queries] val sixKeyOrderSql: String =
    "ORDER BY UID ASC NULLS LAST, UIDCreatedDate ASC NULLS LAST, TreatmentTypeID ASC NULLS LAST, Tmt_StartDate ASC NULLS LAST, Wts_CreatedDate ASC NULLS LAST, Wts_UpdatedDate ASC NULLS LAST"
  private[queries] val fullFrameSql: String =
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
  private[queries] def wirSql(cohort: String): String =
    s"count(Wts_UpdatedDate) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, $cohort) AS WIR"
  private[queries] val tswSql: String =
    s"first_value(Weight IGNORE NULLS) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate $sixKeyOrderSql $fullFrameSql) AS TSW"
  private[queries] val tewSql: String =
    s"last_value(Weight IGNORE NULLS) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate $sixKeyOrderSql $fullFrameSql) AS TEW"

  private def oracle(leadPartition: String,
                     cohort: String = "week",
                     cohortExprSql: String = weekExprSql,
                     where: String =
                       "Gender = 'Male' AND Age BETWEEN 20 AND 60 AND ClinicID = 1"): String =
    s"""WITH ${syntheticCtePrefix(cohort, cohortExprSql)},
       |fw AS (
       |  SELECT *,
       |    ${wirSql(cohort)},
       |    first_value(Weight IGNORE NULLS) OVER (PARTITION BY UID $sixKeyOrderSql $fullFrameSql) AS PSW,
       |    $tswSql,
       |    $tewSql,
       |    first_value(Weight IGNORE NULLS) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, $cohort $sixKeyOrderSql $fullFrameSql) AS cohort_fw
       |  FROM derived),
       |diffed AS (
       |  SELECT *, cohort_fw - lead(cohort_fw) OVER ($leadPartition $sixKeyOrderSql) AS wgt_diff
       |  FROM fw),
       |final AS (
       |  SELECT *, max(wgt_diff) OVER (PARTITION BY UID, TreatmentTypeID, Tmt_StartDate, $cohort) AS patient_TBWL
       |  FROM diffed)
       |SELECT UID, Gender, Age, ClinicID, Wts_CreatedDate, $cohort, WIR,
       |       round(Weight, 6) AS Weight,
       |       round(PSW, 6) AS PSW, round(TSW, 6) AS TSW, round(TEW, 6) AS TEW,
       |       round(TEW - TSW, 6) AS treatment_TBWL,
       |       round(patient_TBWL, 6) AS patient_TBWL
       |FROM final
       |WHERE $where""".stripMargin

  /** Month-cohort variant (dynamic `cohort` parameter — reference op
    * list "dynamic grouping", pandas_DataModel.py:112-149): same
    * pipeline, cohort column swapped at runtime.
    */
  def pipelineMonth(spark: SparkSession, dir: String): DataFrame =
    pipelineQuery(spark, dir, "month", PipelineConfig(cohort = "month",
      gender = "Female", minAge = 20, maxAge = 60, clinicId = 2, dedup = false,
      strictCohorts = true))

  private def oracleMonth: String =
    oracle("PARTITION BY UID", cohort = "month",
      cohortExprSql = "CAST(floor(floor((epoch(Wts_CreatedDate) - " +
        "epoch(Tmt_StartDate)) / 86400.0) / 30.417) AS INT)",
      where = "Gender = 'Female' AND Age BETWEEN 20 AND 60 AND ClinicID = 2")

  /** Arbitrary-cohort variant (SURVEY §7.5): cohort is a free
    * EXPRESSION — calendar year-month of the weigh-in — not one of the
    * CLI's validated column choices. Same metric machinery, same gate.
    *
    * Perf floor vs q31: this cfg keeps every gender and clinic, so
    * ~2.3× the rows flow through the same metric pass — warm runtime
    * tracked that ratio under the earlier window stack (≈0.95 s vs
    * 0.78 s at sf0.1, local[32]); the
    * larger driver-bench gap is first-run codegen of the distinct
    * expression-cohort plan, absorbed by the bench's untimed warm run.
    */
  def pipelineExprCohort(spark: SparkSession, dir: String): DataFrame =
      memoized(spark, dir, "exprcohort") {
    val cfg = PipelineConfig(gender = "all", minAge = 20, maxAge = 60,
      clinicId = 0, dedup = false, strictCohorts = true)
    Pipeline.runWithCohortExpr(
        syntheticUsers(spark, dir),
        syntheticWeights(spark, dir),
        syntheticTreatments(spark, dir),
        cohortExpr = (year(col("Wts_CreatedDate")) * 100 +
          month(col("Wts_CreatedDate"))).cast("int"),
        cohortName = "calmonth", cfg)
      .transform(rounded(_, "calmonth"))
  }

  private def oracleExprCohort: String =
    oracle("PARTITION BY UID", cohort = "calmonth",
      cohortExprSql =
        "CAST(year(Wts_CreatedDate) * 100 + month(Wts_CreatedDate) AS INT)",
      where = "Age BETWEEN 20 AND 60 AND ClinicID = 0")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_clinical_pipeline" -> (pipeline _),
    "q31_clinical_pipeline_strict" -> (pipelineStrict _),
    "q65_clinical_month_cohort" -> (pipelineMonth _),
    "q67_clinical_expr_cohort" -> (pipelineExprCohort _))

  val oracles: Map[String, String] = Map(
    "q30_clinical_pipeline" -> oracle(""),
    "q31_clinical_pipeline_strict" -> oracle("PARTITION BY UID"),
    "q65_clinical_month_cohort" -> oracleMonth,
    "q67_clinical_expr_cohort" -> oracleExprCohort)
}

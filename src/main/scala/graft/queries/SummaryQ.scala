package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clinical.{Pipeline, PipelineConfig}
import graft.sources.Tables

/** The beyond-parity layer from SURVEY.md §7.5: a groupBy().agg()
  * summary that collapses the windowed clinical metrics per cohort, a
  * funnel sequence query, and generator (explode) coverage.
  */
object SummaryQ {

  /** Per-(ClinicID, week) cohort summary over the full clinical
    * pipeline output — the reporting collapse the reference never had.
    * Distinct-count of users, metric means. Oracle re-derives the whole
    * pipeline in SQL (strict mode) and aggregates identically.
    */
  def clinicalSummary(spark: SparkSession, dir: String): DataFrame = {
    val cfg = PipelineConfig(cohort = "week", gender = "all",
      minAge = 18, maxAge = 72, clinicId = 1, dedup = false, strictCohorts = true)
    val wide = Pipeline.run(
      Clinical.syntheticUsers(spark, dir),
      Clinical.syntheticWeights(spark, dir),
      Clinical.syntheticTreatments(spark, dir), cfg)
    // value sums are emitted as scaled integers (×1e5): the inputs are
    // exact multiples of 1e-5, so rounded AVERAGES land systematically
    // on rounding boundaries where engine summation order flips the
    // last digit — integer totals are boundary-free
    wide.groupBy(col("ClinicID"), col("week"))
      .agg(
        countDistinct(col("UID")).as("n_users"),
        count(lit(1)).as("n_weighins"),
        sum(floor(col("Weight") * 100000 + 0.5).cast("long")).as("total_weight_e5"),
        sum(floor(col("treatment_TBWL") * 100000 + 0.5).cast("long")).as("total_tmt_tbwl_e5"),
        sum(col("WIR")).as("total_wir"))
  }

  /** Conversion funnel on events: users whose first 'signup' is later
    * followed by a 'purchase' within 24h — min-over-window sequence
    * detection, SQL-expressible for the oracle.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    // the signup and purchase legs are TWO consumers of the written
    // events projection (floored µs, the q36/q106 negative-ts rule)
    val ev = EventsQ.eventsUs(spark, dir)
    val firstSignup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("signup_us"))
    val firstPurchaseAfter = ev.filter(col("event_type") === "purchase")
      .join(firstSignup, Seq("user_id"))
      .filter(col("ts_us") >= col("signup_us"))
      .groupBy(col("user_id"), col("signup_us"))
      .agg(min(col("ts_us")).as("purchase_us"))
    firstPurchaseAfter
      .withColumn("converted_24h",
        (col("purchase_us") - col("signup_us")) <= lit(24L * 3600 * 1000000))
      .select(col("user_id"), col("signup_us"), col("purchase_us"), col("converted_24h"))
  }

  /** Generator coverage: explode each document into its tokens with
    * position (posexplode ≡ unnest WITH ORDINALITY), then top token
    * frequencies.
    */
  def tokenExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.TextFunctions.tokens(col("text"))).as(Seq("pos", "token")))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("doc_freq"),
        min(col("pos")).as("earliest_pos"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_clinical_summary" -> (clinicalSummary _),
    "q61_funnel" -> (funnel _),
    "q62_token_explode" -> (tokenExplode _))

  private val clinicalSummaryOracle: String = {
    // the synthetic-tables CTE prefix is Clinical's shared spelling —
    // a change to the clinical synthetic arithmetic updates BOTH gate
    // families or neither (this block hand-copied it before r11, with
    // the epoch constants re-hardcoded)
    val inner =
      s"""WITH ${Clinical.syntheticCtePrefix()},
        |fw AS (
        |  SELECT *,
        |    ${Clinical.wirSql("week")},
        |    ${Clinical.tswSql},
        |    ${Clinical.tewSql}
        |  FROM derived)
        |SELECT UID, ClinicID, week, Weight, WIR, TEW - TSW AS treatment_TBWL
        |FROM fw
        |WHERE Age BETWEEN 18 AND 72 AND ClinicID = 1""".stripMargin
    s"""WITH pipeline AS ($inner)
       |SELECT ClinicID, week,
       |  count(DISTINCT UID) AS n_users,
       |  count(*) AS n_weighins,
       |  CAST(sum(CAST(floor(Weight * 100000 + 0.5) AS BIGINT)) AS BIGINT) AS total_weight_e5,
       |  CAST(sum(CAST(floor(treatment_TBWL * 100000 + 0.5) AS BIGINT)) AS BIGINT) AS total_tmt_tbwl_e5,
       |  CAST(sum(WIR) AS BIGINT) AS total_wir
       |FROM pipeline GROUP BY ClinicID, week""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q60_clinical_summary" -> clinicalSummaryOracle,
    "q61_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |fs AS (SELECT user_id, min(ts_us) AS signup_us FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (SELECT ev.user_id, fs.signup_us, min(ev.ts_us) AS purchase_us
        |       FROM ev JOIN fs ON ev.user_id = fs.user_id
        |       WHERE ev.event_type = 'purchase' AND ev.ts_us >= fs.signup_us
        |       GROUP BY ev.user_id, fs.signup_us)
        |SELECT user_id, signup_us, purchase_us,
        |  (purchase_us - signup_us) <= 86400000000 AS converted_24h
        |FROM fp""".stripMargin,
    "q62_token_explode" ->
      // DuckDB 1.0 lacks WITH ORDINALITY; parallel unnests zip instead
      """WITH arrs AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(toks) AS token,
        |    CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos
        |  FROM arrs)
        |SELECT token, count(*) AS n, count(DISTINCT doc_id) AS doc_freq,
        |  min(pos) AS earliest_pos
        |FROM toks GROUP BY token""".stripMargin)
}

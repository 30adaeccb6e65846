package graft.clinical

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import java.sql.Timestamp

/** Hand-computed unit checks for the metrics — the SURVEY.md §7.4 trap
  * list: TEW is the treatment's LAST weight on every row, null-skipping,
  * the §2.9 diff(-1) boundary quirk, day-diff floor semantics.
  */
class MetricsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // A 2-user wide-table fragment, already joined/renamed. u1 has two
  // cohorts (week 0 with 2 rows, week 1 with 1 row); u2 one cohort.
  // Global sort order = listing order.
  private def wideFixture = Seq(
    // UID, UIDCreatedDate, TreatmentTypeID, Tmt_StartDate, Wts_CreatedDate, Wts_UpdatedDate, Weight, week
    ("u1", ts("2023-01-01 00:00:00"), 1L, ts("2023-01-01 00:00:00"), ts("2023-01-01 00:00:00"), Some(ts("2023-01-01 00:00:00")), 100.0, 0),
    ("u1", ts("2023-01-01 00:00:00"), 1L, ts("2023-01-01 00:00:00"), ts("2023-01-03 00:00:00"), None,                            98.0, 0),
    ("u1", ts("2023-01-01 00:00:00"), 1L, ts("2023-01-01 00:00:00"), ts("2023-01-08 00:00:00"), Some(ts("2023-01-08 00:00:00")), 97.0, 1),
    ("u2", ts("2023-01-02 00:00:00"), 1L, ts("2023-01-02 00:00:00"), ts("2023-01-02 00:00:00"), Some(ts("2023-01-02 00:00:00")), 90.0, 0),
    ("u2", ts("2023-01-02 00:00:00"), 1L, ts("2023-01-02 00:00:00"), ts("2023-01-04 00:00:00"), Some(ts("2023-01-04 00:00:00")), 95.0, 0)
  ).toDF("UID", "UIDCreatedDate", "TreatmentTypeID", "Tmt_StartDate",
         "Wts_CreatedDate", "Wts_UpdatedDate", "Weight", "week")

  private def metricRows(strict: Boolean) = {
    val cfg = PipelineConfig(cohort = "week", strictCohorts = strict)
    Pipeline.withMetrics(wideFixture, cfg)
      .orderBy(Metrics.sortKeys: _*)
      .select("UID", "week", "WIR", "PSW", "TSW", "TEW", "treatment_TBWL", "patient_TBWL")
      .collect()
  }

  test("WIR counts only non-null Wts_UpdatedDate (pandas transform('count') parity)") {
    val rows = metricRows(strict = false)
    // u1 week 0 has 2 rows but one null UpdatedDate → WIR = 1
    assert(rows(0).getLong(2) == 1 && rows(1).getLong(2) == 1)
    assert(rows(2).getLong(2) == 1)      // u1 week 1, single non-null row
    assert(rows(3).getLong(2) == 2)      // u2 week 0, both non-null
  }

  test("PSW/TSW are first weight in sort order; TEW is last (full frame)") {
    val rows = metricRows(strict = false)
    assert(rows.take(3).forall(_.getDouble(3) == 100.0))   // u1 PSW
    assert(rows.take(3).forall(_.getDouble(4) == 100.0))   // u1 TSW
    // TEW must be 97.0 on EVERY u1 row — the treatment's last weight,
    // not the last weight seen so far
    assert(rows.take(3).forall(_.getDouble(5) == 97.0))
    assert(rows.take(3).forall(_.getDouble(6) == -3.0))    // treatment_TBWL
    assert(rows.drop(3).forall(_.getDouble(5) == 95.0))    // u2 TEW
  }

  test("bug-compatible diff(-1) crosses user boundaries (SURVEY §2.9)") {
    val rows = metricRows(strict = false)
    // cohort-first weights in global order: [100,100,97,90,90]
    // diff(-1):                            [0, 3, 7, 0, null]
    // patient_TBWL = max per cohort:       u1w0→3, u1w1→7 (crosses into u2!), u2w0→0
    assert(rows(0).getDouble(7) == 3.0)
    assert(rows(1).getDouble(7) == 3.0)
    assert(rows(2).getDouble(7) == 7.0)  // the boundary-crossing quirk
    assert(rows(3).getDouble(7) == 0.0)
  }

  test("strict mode scopes the diff per user — no cross-user leakage") {
    val rows = metricRows(strict = true)
    // within u1: fw=[100,100,97] → diff=[0,3,null] → w0 max 3, w1 max null
    assert(rows(0).getDouble(7) == 3.0)
    assert(rows(2).isNullAt(7))          // nothing after u1w1 within u1
    assert(rows(3).getDouble(7) == 0.0)
  }

  test("dayDiff floors toward -inf like pandas timedelta.days") {
    val df = Seq(
      (ts("2023-01-02 04:00:00"), ts("2023-01-01 20:00:00")),  // +8h  → 0
      (ts("2023-01-01 20:00:00"), ts("2023-01-02 04:00:00")),  // -8h  → -1
      (ts("2023-01-05 00:00:00"), ts("2023-01-01 00:00:00")))  // 4d   → 4
      .toDF("a", "b")
      .select(Metrics.dayDiff(col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, -1L, 4L))
  }

  test("month/week derivation matches the reference formula") {
    val df = Seq(
      (ts("2023-01-31 00:00:00"), ts("2023-01-01 00:00:00")),  // 30d → month 0, week 4
      (ts("2023-02-01 00:00:00"), ts("2023-01-01 00:00:00")))  // 31d → month 1, week 4
      .toDF("Wts_CreatedDate", "Tmt_StartDate")
      .select(Metrics.monthCol.as("m"), Metrics.weekCol.as("w"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((0, 4), (1, 4)))
  }

  test("PipelineConfig validates like argparse choices") {
    assertThrows[IllegalArgumentException](PipelineConfig(cohort = "day"))
    assertThrows[IllegalArgumentException](PipelineConfig(gender = "unknown"))
    assertThrows[IllegalArgumentException](PipelineConfig(minAge = 50, maxAge = 20))
  }

  test("filters: gender 'all' is a no-op; age interval is closed; clinic always applied") {
    val df = Seq(
      ("Male", 18L, 5066L), ("Female", 18L, 5066L),
      ("Male", 17L, 5066L), ("Male", 72L, 5066L), ("Male", 73L, 5066L),
      ("Male", 30L, 9999L))
      .toDF("Gender", "Age", "ClinicID")
    def kept(cfg: PipelineConfig) = df.filter(Filters.predicate(cfg)).count()
    assert(kept(PipelineConfig()) == 3)                   // both genders, 18..72, clinic
    assert(kept(PipelineConfig(gender = "Female")) == 1)
    assert(kept(PipelineConfig(minAge = 17, maxAge = 17)) == 1)
  }

  test("runWithCohortExpr(col) == run(cohort=col) for a validated choice") {
    // the generalized path with expression `ClinicID` must reproduce the
    // string-validated path exactly (fixture lacks ClinicID — use week)
    val dfW = Pipeline.withMetricsCohort(wideFixture, "week", strict = true)
    val viaExpr = Pipeline.withMetricsCohort(
      wideFixture.withColumn("myCohort", col("week")), "myCohort", strict = true)
    def canon(d: org.apache.spark.sql.DataFrame) = d
      .select("UID", "week", "WIR", "PSW", "TSW", "TEW", "treatment_TBWL", "patient_TBWL")
      .collect().map(_.toString).sorted.toSeq
    assert(canon(dfW) == canon(viaExpr))
  }

  test("dayDiff is exact at extreme spans (integer floor, r18)") {
    import org.apache.spark.sql.functions._
    // delta = K days minus 1 microsecond over a ~2.9M-day span: the
    // old double division rounded UP to K; the true floor is K - 1
    val df = Seq((
      java.sql.Timestamp.valueOf("9999-12-26 00:00:00"),
      new java.sql.Timestamp(java.sql.Timestamp.valueOf("1970-01-01 00:00:00").getTime) {
        setNanos(1000) // +1 microsecond
      })).toDF("a", "b")
    val got = df.select(Metrics.dayDiff(col("a"), col("b"))).as[Long].head()
    val wholeDays = df.select(
      (unix_micros(col("a")) - unix_micros(col("b"))).as("us"))
      .as[Long].head()
    assert(wholeDays % 86400000000L != 0, "fixture must be off a day boundary")
    assert(got == wholeDays / 86400000000L, s"floor must truncate: got $got")
  }

  test("cohort name colliding with a base column refuses loudly (r18)") {
    import org.apache.spark.sql.functions._
    val dir = "fixtures/clinical"
    val (u, w, t) = (Sources.usersCsv(spark, dir),
      Sources.weightsCsv(spark, dir), Sources.treatmentsCsv(spark, dir))
    val e = intercept[IllegalArgumentException] {
      Pipeline.runWithCohortExpr(u, w, t, floor(col("Weight") / 10), "Weight")
    }
    assert(e.getMessage.contains("collides with an input/base column"))
    // the built-in self-reference path stays legal
    assert(Pipeline.runWithCohortExpr(u, w, t, col("month"), "month").count() > 0)
  }

  test("the metric pass fails loudly past its per-user row bound, naming the UID") {
    val rows = wideFixture.orderBy(Metrics.sortKeys: _*).collect()
    def pass(bound: Int) = new UserPass(wideFixture.schema, wideFixture.columns,
      "week", withSuccessor = false, maxRowsPerUser = bound)
    assert(pass(3)(rows.iterator).size == rows.length)   // u1 has exactly 3 rows
    val e = intercept[IllegalStateException](pass(2)(rows.iterator).size)
    assert(e.getMessage.contains("UID 'u1'") && e.getMessage.contains("more than 2 rows"),
      e.getMessage)
  }

  test("each partition takes the head of the next NON-EMPTY partition") {
    // partition 1 is empty and partition 3's lowest user has no weight:
    // 0 and 1 take partition 2's head, 2 takes the null, 3 gets no row
    val heads = Seq((0, Some(1.0)), (2, Some(3.0)), (3, None)).toDF("_hpid", "_head")
    val got = Metrics.nextHeads(heads).collect()
      .map(r => r.getInt(0) -> Option(r.get(1))).toMap
    assert(got == Map(0 -> Some(3.0), 1 -> Some(3.0), 2 -> None), got)
  }
}

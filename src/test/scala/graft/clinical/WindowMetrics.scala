package graft.clinical

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The window formulation of the five metrics, kept only as the
  * executable reference that [[PipelinePropertySpec]] compares the
  * per-user metric pass against. It follows the reference's order of
  * operations literally: metrics over the UNFILTERED frame, then the
  * demographic filter, then dedup; and the bug-compatible `.diff(-1)`
  * is a lead over the whole frame in global sort order (one
  * single-partition window — fine at test scale).
  */
object WindowMetrics {

  private val treatmentKeys = Seq(col("UID"), col("TreatmentTypeID"), col("Tmt_StartDate"))

  /** Ordered windows default to `unboundedPreceding → currentRow`;
    * `last` needs the whole partition.
    */
  private def fullFrame(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  def withMetrics(df: DataFrame, cohort: String, strict: Boolean): DataFrame = {
    val cohortKeys = treatmentKeys :+ col(cohort)
    val byCohort = Window.partitionBy(cohortKeys: _*)
    val byUser = fullFrame(Window.partitionBy(col("UID")).orderBy(Metrics.sortKeys: _*))
    val byTreatment =
      fullFrame(Window.partitionBy(treatmentKeys: _*).orderBy(Metrics.sortKeys: _*))
    val byCohortOrdered =
      fullFrame(Window.partitionBy(cohortKeys: _*).orderBy(Metrics.sortKeys: _*))
    val nextRow =
      if (strict) Window.partitionBy(col("UID")).orderBy(Metrics.sortKeys: _*)
      else Window.orderBy(Metrics.sortKeys: _*)
    def firstWeight(w: WindowSpec): Column = first(col("Weight"), ignoreNulls = true).over(w)
    df.withColumns(Map(
        "WIR" -> count(col("Wts_UpdatedDate")).over(byCohort),
        "PSW" -> firstWeight(byUser),
        "TSW" -> firstWeight(byTreatment),
        "TEW" -> last(col("Weight"), ignoreNulls = true).over(byTreatment)))
      .withColumn("treatment_TBWL", col("TEW") - col("TSW"))
      .withColumn("_fw", firstWeight(byCohortOrdered))
      .withColumn("_wgt_diff", col("_fw") - lead(col("_fw"), 1).over(nextRow))
      .withColumn("patient_TBWL", max(col("_wgt_diff")).over(byCohort))
      .drop("_fw", "_wgt_diff")
  }

  /** [[Pipeline.runWithCohortExpr]] in the window formulation. */
  def run(users: DataFrame, weights: DataFrame, treatments: DataFrame,
          cohortExpr: Column, cohortName: String, cfg: PipelineConfig): DataFrame = {
    val base = Pipeline.withDerived(Pipeline.joined(users, weights, treatments))
      .withColumn(cohortName, cohortExpr)
    val out = withMetrics(base, cohortName, cfg.strictCohorts)
      .filter(Filters.predicate(cfg))
    if (cfg.dedup) out.dropDuplicates() else out
  }
}

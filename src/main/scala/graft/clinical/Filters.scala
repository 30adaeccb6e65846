package graft.clinical

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** Presentation filters (pandas_DataModel.py:6-31).
  *
  * The reference filters the finished frame, after the metrics:
  * PSW/TSW/TBWL are defined over the user's full unfiltered history
  * (SURVEY.md §4). The three predicates are constant per user (users
  * holds one row per UID) and every metric group is a user or finer, so
  * [[Pipeline]] evaluates [[predicate]] on the joined frame instead,
  * below the metric pass: in strict mode the pass never sorts or walks
  * rows the filter discards. The one cross-user metric, the
  * bug-compatible diff, needs every user as a successor, so there the
  * predicate is a keep flag and the pass emits only the kept rows.
  */
object Filters {

  /** The three demographic predicates as one user-constant conjunction. */
  def predicate(cfg: PipelineConfig): Column = {
    val gender =
      if (cfg.gender == "all") lit(true) else col("Gender") === cfg.gender
    gender && col("Age").between(cfg.minAge, cfg.maxAge) &&
      col("ClinicID") === cfg.clinicId
  }
}

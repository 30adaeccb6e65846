package graft.clinical

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** Presentation filters (pandas_DataModel.py:6-31).
  *
  * The reference filters the finished frame, after the metrics:
  * PSW/TSW/TBWL are defined over the user's full unfiltered history
  * (SURVEY.md §4). The three predicates are constant per user (users
  * holds one row per UID) and every metric group is a user or finer, so
  * [[Pipeline]] applies [[predicate]] to the joined frame instead, below
  * the metric pass: the pass never sorts or walks rows the filter
  * discards. The one cross-user metric, the bug-compatible diff, reads
  * its successor table from the unfiltered frame.
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

package graft.clinical

/** Parameter surface of the pipeline — mirrors the reference CLI
  * (pandas_DataModel.py:164-186) with the validation decisions from
  * SURVEY.md §2.8 (validate gender/cohort like argparse `choices` does;
  * pandas' silent fall-through for unknown gender strings is rejected).
  *
  * @param cohort       grouping column for the per-cohort metrics:
  *                     `week`, `month`, or `ClinicID`
  * @param gender       `all`, `Male`, or `Female`
  * @param minAge       closed lower bound on Age
  * @param maxAge       closed upper bound on Age
  * @param clinicId     equality filter on ClinicID (always applied)
  * @param strictCohorts false = bug-compatible with the reference's
  *                     `diff(-1)` (the per-cohort weight diff crosses
  *                     user/treatment boundaries in global sort order —
  *                     SURVEY.md §2.9, pandas_DataModel.py:139-142);
  *                     true = the corrected semantic (diff scoped per
  *                     user, never crosses users — and avoids the
  *                     single-partition global window, which matters at
  *                     scale)
  * @param dedup        apply the final full-row drop_duplicates
  *                     (pandas_DataModel.py:161; polars omits it —
  *                     decision per README.md:11 is to dedup)
  */
final case class PipelineConfig(
    cohort: String = "week",
    gender: String = "all",
    minAge: Long = 18,
    maxAge: Long = 72,
    clinicId: Long = 5066,
    strictCohorts: Boolean = false,
    dedup: Boolean = true) {

  require(PipelineConfig.cohorts.contains(cohort),
    s"cohort must be one of ${PipelineConfig.cohorts.mkString(", ")}; got '$cohort'")
  require(PipelineConfig.genders.contains(gender),
    s"gender must be one of ${PipelineConfig.genders.mkString(", ")}; got '$gender'")
  require(minAge <= maxAge, s"minAge ($minAge) must be <= maxAge ($maxAge)")
}

object PipelineConfig {
  val cohorts: Set[String] = Set("week", "month", "ClinicID")
  val genders: Set[String] = Set("all", "Male", "Female")
}

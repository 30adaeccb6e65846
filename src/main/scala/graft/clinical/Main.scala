package graft.clinical

import org.apache.spark.sql.SparkSession

/** CLI mirroring the reference's argparse surface (README.md:33-40,
  * pandas_DataModel.py:164-186):
  *
  * {{{
  * sbt "runMain graft.clinical.Main --path_to_data Data/ --cohort week \
  *      --gender all --min_age 18 --max_age 72 --ClinicID 5066"
  * }}}
  */
object Main {

  private def parse(args: Array[String]): (String, PipelineConfig) = {
    def bad(msg: String): Nothing = {
      System.err.println(msg)
      System.err.println(
        "usage: --path_to_data DIR [--cohort week|month|ClinicID] " +
          "[--gender all|Male|Female] [--min_age N] [--max_age N] [--ClinicID N] " +
          "[--strict_cohorts true|false] [--dedup true|false]")
      sys.exit(2)
    }
    // ONE pass validates AND collects (r17 review: sliding(2,2) built
    // the map while a second grouped(2) traversal validated — two
    // spellings of the same pairing that could drift apart)
    val m = args.grouped(2).map {
      case Array(k, _) if !k.startsWith("--") =>
        bad(s"expected a --flag, got '$k'")
      case Array(k) => bad(s"flag $k is missing a value")
      // a forgotten value would otherwise silently consume the NEXT
      // flag as its value ('--path_to_data --cohort' reads a directory
      // literally named --cohort) and fail far away with a confusing
      // error
      case Array(k, v) if v.startsWith("--") =>
        bad(s"flag $k is missing a value (got the flag '$v' instead)")
      case Array(k, v) => k -> v
    }.toMap
    val known = Set("--path_to_data", "--cohort", "--gender", "--min_age",
      "--max_age", "--ClinicID", "--strict_cohorts", "--dedup")
    m.keys.find(!known(_)).foreach(k => bad(s"unknown flag $k"))
    val dir = m.getOrElse("--path_to_data", "Data/")
    try {
      val cfg = PipelineConfig(
        cohort = m.getOrElse("--cohort", "week"),
        gender = m.getOrElse("--gender", "all"),
        minAge = m.getOrElse("--min_age", "18").toLong,
        maxAge = m.getOrElse("--max_age", "72").toLong,
        clinicId = m.getOrElse("--ClinicID", "5066").toLong,
        strictCohorts = m.get("--strict_cohorts").exists(_.toBoolean),
        dedup = m.get("--dedup").forall(_.toBoolean))
      (dir, cfg)
    } catch {
      case e: IllegalArgumentException => bad(e.getMessage)
    }
  }

  def main(args: Array[String]): Unit = {
    val (dir, cfg) = parse(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("clinical-pipeline")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = Pipeline.runFromCsv(spark, dir, cfg)
    Pipeline.present(out).show(50, truncate = false)
    spark.stop()
  }
}

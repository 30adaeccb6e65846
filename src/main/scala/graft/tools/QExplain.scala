package graft.tools

/** Print a registry query's formatted physical plan — the ".explain
  * the plan you ship" discipline as a one-liner:
  * `runMain graft.tools.QExplain q202_image_near_dups`.
  * Uses the RAW (bench) surface, so the hash-gate's total sort doesn't
  * obscure the operator's own plan.
  */
object QExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.LocalSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { n =>
      println(s"==== $n ====")
      graft.SparkEntry.rawQueries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

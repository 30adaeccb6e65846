package graft

import org.apache.spark.sql.SparkSession

/** The one spelling of a local session's shared settings: master,
  * shuffle partitions, UI off and a UTC session time zone (the oracle's
  * naive timestamps). Entry points read their own deployment env
  * (`SPARK_GRAFT_CPUS`, `SPARK_MASTER`) and add what only they need.
  */
object LocalSession {

  /** `local[cpus]` with one shuffle partition per core. */
  def builder(cpus: String): SparkSession.Builder = builder(s"local[$cpus]", cpus)

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}

package graft

import org.apache.spark.sql.SparkSession

/** One lazily-created local session shared across all suites in the JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession.builder("4").appName("graft-tests").getOrCreate()
}

trait SparkTestSession {
  lazy val spark: SparkSession = SparkTestSession.spark
}

package graft.clinical

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers for the three clinical source tables.
  *
  * CSV is the reference's only source format (pandas_DataModel.py:51-53),
  * and the only one read here. Explicit schemas make ingestion
  * deterministic; `mode=FAILFAST` surfaces malformed rows instead of
  * silently nulling them.
  */
object Sources {

  private def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .option("mode", "FAILFAST")
      .csv(path)

  def usersCsv(spark: SparkSession, dir: String): DataFrame =
    csv(spark, s"$dir/users.csv", Schemas.users)
  def weightsCsv(spark: SparkSession, dir: String): DataFrame =
    csv(spark, s"$dir/weights.csv", Schemas.weights)
  def treatmentsCsv(spark: SparkSession, dir: String): DataFrame =
    csv(spark, s"$dir/treatments.csv", Schemas.treatments)
}

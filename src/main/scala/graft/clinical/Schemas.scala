package graft.clinical

import org.apache.spark.sql.types._

/** Source-table schemas for the clinical weight data model.
  *
  * Reconstructed from the reference's `.info()` dumps
  * (pandas_DataModel.ipynb:cell 2-4 outputs; see FIXTURES.md). Explicit
  * `StructType`s: fail-fast typed ingestion instead of the reference's
  * CSV inference + imperative `to_datetime` re-typing
  * (pandas_DataModel.py:51-53,77-81).
  */
object Schemas {

  val users: StructType = StructType(Seq(
    StructField("UID", StringType),
    StructField("Name", StringType),
    StructField("LastName", StringType),
    StructField("Gender", StringType),
    StructField("Unit", LongType),
    StructField("Birthday", TimestampType),
    StructField("Age", LongType),
    StructField("Height", LongType),
    StructField("CreatedDate", TimestampType),
    StructField("IsActive", BooleanType),
    StructField("ClinicID", LongType),
    StructField("loginId", DoubleType),
    StructField("success", BooleanType)))

  val weights: StructType = StructType(Seq(
    StructField("MasterUserID", StringType),
    StructField("Weight", DoubleType),
    StructField("BMI", DoubleType),
    StructField("BodyFat", DoubleType),
    StructField("BodyWater", DoubleType),
    StructField("Bone", DoubleType),
    StructField("VisceralFat", DoubleType),
    StructField("BMR", DoubleType),
    StructField("MuscleMass", DoubleType),
    StructField("CreatedDate", TimestampType),
    StructField("UpdatedDate", TimestampType),
    StructField("IsActive", BooleanType),
    StructField("IsDelete", BooleanType)))

  val treatments: StructType = StructType(Seq(
    StructField("MasterUserID", StringType),
    StructField("TreatmentTypeID", LongType),
    StructField("StartDate", TimestampType)))
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** The two private[sql] steps of `Dataset.localCheckpoint` that
  * [[graft.operators.Materialize]] needs around its own RDD step:
  * executing a DataFrame's plan under a SQL execution id, and wrapping
  * the resulting RDD in a `LogicalRDD` that keeps the DataFrame's
  * output partitioning and ordering.
  */
object CheckpointBridge {

  /** `df`'s executed rows, passed through `keep` inside the same SQL
    * execution Spark's own checkpoint action opens, as a DataFrame
    * over the RDD `keep` returns.
    */
  def overRdd(df: DataFrame)(keep: RDD[InternalRow] => RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("localCheckpoint")) {
      val rdd = keep(ds.queryExecution.executedPlan.execute())
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    }
  }

  /** The RDD under a DataFrame that [[overRdd]] returned. */
  def rddOf(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.logical match {
      case r: LogicalRDD => Some(r.rdd)
      case _ => None
    }
}

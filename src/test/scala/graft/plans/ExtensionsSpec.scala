package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit}
import graft.SparkTestSession
import graft.clinical.Sources

/** The documented registration path — `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` — must inject the pushdown
  * rule into a session's optimizer.
  */
class ExtensionsSpec extends AnyFunSuite with SparkTestSession {

  test("GraftExtensions injects the pushdown rule into a new session") {
    spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(extended ne spark)
      // the clinical declaration in miniature: the users table's Gender
      // declared constant per UID, a UID-partitioned window, then a
      // Gender filter (the clinical pipeline itself no longer has a
      // window to push through)
      val users = Sources.usersCsv(extended, "fixtures/clinical")
      val plan = Fd.declareConstantPer(users, "UID", Seq("Gender"))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("UID"))))
        .filter(col("Gender") === "Male")
        .queryExecution.optimizedPlan
      // with the rule active, a Window node must have a Filter on Gender below it
      var pushedBelowWindow = false
      plan.foreach {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
          w.child.foreach {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter
                if f.condition.references.exists(_.name == "Gender") =>
              pushedBelowWindow = true
            case _ =>
          }
        case _ =>
      }
      assert(pushedBelowWindow, s"no Gender filter below any Window:\n$plan")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}

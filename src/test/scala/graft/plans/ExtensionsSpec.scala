package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import graft.SparkTestSession

/** The documented registration path — `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` — must inject the graft SQL
  * functions into a new session, resolving to the same kernels the
  * DataFrame battery calls.
  */
class ExtensionsSpec extends AnyFunSuite with SparkTestSession {

  test("GraftExtensions injects the graft SQL functions into a new session") {
    spark // force the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extended = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(extended ne spark)
      GraftFunctions.registrations.foreach { case (name, _, _) =>
        assert(extended.catalog.functionExists(name), s"$name not injected")
      }
      val sql = extended.sql("SELECT graft_md5_low60('abc') AS h").head().getLong(0)
      val kernel = extended.range(1)
        .select(graft.functions.Md5Functions.md5_low60(lit("abc")))
        .head().getLong(0)
      assert(sql == kernel)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}

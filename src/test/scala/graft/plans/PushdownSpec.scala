package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
  LogicalPlan, MapPartitions, RepartitionByExpression}
import graft.SparkTestSession
import graft.clinical.{Pipeline, PipelineConfig}

/** The clinical pipeline applies its demographic filters itself, below
  * its metric pass: both modes' plans must keep every Gender filter
  * under the pass's `UID` exchange.
  */
class PushdownSpec extends AnyFunSuite with SparkTestSession {

  private val fixtureDir = "fixtures/clinical"

  /** The clinical pipeline applies its demographic filter itself, below
    * the metric pass: the topmost `UID` repartition under the pass (a
    * MapPartitions) must hold every Filter that touches Gender, and at
    * least one. Returns the plan as the failure message otherwise.
    */
  private def assertGenderFilterBelowPass(plan: LogicalPlan): Unit = {
    def genderFilters(p: LogicalPlan) = p.collect {
      case f: LFilter if f.condition.references.exists(_.name == "Gender") => f
    }
    val belowExchange = plan.collectFirst { case m: MapPartitions => m }.flatMap(
      _.collectFirst {
        case r: RepartitionByExpression
            if r.partitionExpressions.exists(_.references.exists(_.name == "UID")) => r
      })
    assert(belowExchange.exists(r =>
        genderFilters(r).nonEmpty && genderFilters(r).size == genderFilters(plan).size),
      s"the Gender filter must sit below the metric pass and its UID exchange:\n$plan")
  }

  test("strict mode: gender filter sits below the metric pass and its UID exchange") {
    val cfg = PipelineConfig(gender = "Male", minAge = 10, maxAge = 80, strictCohorts = true)
    assertGenderFilterBelowPass(
      Pipeline.runFromCsv(spark, fixtureDir, cfg).queryExecution.optimizedPlan)
  }

  test("bug-compatible mode: gender filter sits below the metric pass and exchange") {
    // the successor table is built from the unfiltered frame and joined
    // in on UID below the exchange; no Gender filter may appear above
    // the pass or on that side
    val cfg = PipelineConfig(gender = "Male", minAge = 10, maxAge = 80, strictCohorts = false)
    assertGenderFilterBelowPass(
      Pipeline.runFromCsv(spark, fixtureDir, cfg).queryExecution.optimizedPlan)
  }
}

package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{Alias, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
  LogicalPlan, MapPartitions, Project, RepartitionByExpression}
import graft.SparkTestSession
import graft.clinical.{Pipeline, PipelineConfig}

/** The clinical pipeline evaluates its demographic filters itself,
  * below its metric pass's `UID` exchange: as a Filter in strict mode,
  * as the pass's keep flag in bug-compatible mode.
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

  test("bug-compatible mode: Gender is the keep flag below the range exchange") {
    // a user the filter drops can still be another user's successor, so
    // the pass walks the unfiltered frame: the predicate is evaluated
    // below the pass's UID range exchange as the `_keep` flag, and no
    // Gender Filter sits above the pass (nor anywhere else)
    val cfg = PipelineConfig(gender = "Male", minAge = 10, maxAge = 80, strictCohorts = false)
    val plan = Pipeline.runFromCsv(spark, fixtureDir, cfg).queryExecution.optimizedPlan
    val rangeExchange = plan.collectFirst { case m: MapPartitions => m }.flatMap(
      _.collectFirst {
        case r: RepartitionByExpression if r.partitionExpressions.exists {
          case o: SortOrder => o.child.references.exists(_.name == "UID")
          case _ => false
        } => r
      })
    val keepFlags = rangeExchange.toSeq.flatMap(_.collect { case p: Project =>
      p.projectList.collect {
        case a: Alias if a.name == "_keep" && a.references.exists(_.name == "Gender") => a
      }
    }.flatten)
    assert(keepFlags.nonEmpty,
      s"the Gender predicate must be the keep flag below the UID range exchange:\n$plan")
    val filters = plan.collect {
      case f: LFilter if f.condition.references.exists(_.name == "Gender") => f
    }
    assert(filters.isEmpty, s"bug-compatible mode must not filter on Gender:\n$plan")
  }
}

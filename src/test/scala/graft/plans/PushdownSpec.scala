package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
  MapPartitions, Project, RepartitionByExpression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, MapGroupsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.SparkTestSession
import graft.clinical.{Pipeline, PipelineConfig}

/** The clinical pipeline evaluates its demographic filters itself,
  * below its metric pass's `UID` exchange: as a Filter in strict mode,
  * as the pass's keep flag in bug-compatible mode.
  */
class PushdownSpec extends AnyFunSuite with SparkTestSession {

  private val fixtureDir = "fixtures/clinical"

  /** The clinical pipeline applies its demographic filter itself, below
    * the metric pass: in the physical plan, the users side's `UID` hash
    * exchange under the pass (a MapGroups) must hold every Filter that
    * touches Gender, and at least one. Returns the plan as the failure
    * message otherwise.
    */
  private def assertGenderFilterBelowPass(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def genderFilters(p: SparkPlan) = p.collect {
      case f: FilterExec if f.condition.references.exists(_.name == "Gender") => f
    }
    val belowExchange = plan.collectFirst { case m: MapGroupsExec => m }.flatMap(
      _.collectFirst {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning => h.references.exists(_.name == "UID")
          case _ => false
        }) => e
      })
    assert(belowExchange.exists(e =>
        genderFilters(e).nonEmpty && genderFilters(e).size == genderFilters(plan).size),
      s"the Gender filter must sit below the metric pass and its UID exchange:\n$plan")
  }

  test("strict mode: gender filter sits below the metric pass and its UID exchange") {
    val cfg = PipelineConfig(gender = "Male", minAge = 10, maxAge = 80, strictCohorts = true)
    assertGenderFilterBelowPass(Pipeline.runFromCsv(spark, fixtureDir, cfg))
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

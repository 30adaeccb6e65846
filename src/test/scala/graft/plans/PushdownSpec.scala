package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Window => LWindow,
  LogicalPlan, MapPartitions, RepartitionByExpression}
import graft.SparkTestSession
import graft.clinical.{Pipeline, PipelineConfig}

/** The custom optimizer rule must (1) move user-constant predicates
  * below UID-partitioned windows, (2) stop wherever the declared
  * dependency may not hold (unions, outer joins, expands, same-named
  * columns, nondeterministic conjuncts), and (3) never change results.
  * The clinical pipeline no longer needs the rule — it has no window
  * and filters before its metric pass — so its two plan tests pin that
  * placement instead.
  */
class PushdownSpec extends AnyFunSuite with SparkTestSession {

  private val fixtureDir = "fixtures/clinical"

  private def withRule[T](f: => T): T = {
    spark.experimental.extraOptimizations = Seq(UserConstantPredicatePushdown)
    try f finally { spark.experimental.extraOptimizations = Nil }
  }

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

  test("a window keyed by a DIFFERENT column merely NAMED like the anchor is not crossed") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Gender is declared constant per the REAL UID; then a session id is
    // renamed to "UID" and a window partitions by IT — name matches the
    // anchor, token does not, so the filter must stay above the window
    val declared = graft.plans.Fd.declareConstantPer(
      Seq(("u1", "F", 10), ("u1", "F", 11), ("u2", "M", 12))
        .toDF("UID", "Gender", "session_id"),
      "UID", Seq("Gender"))
    val df = declared
      .drop("UID")
      .withColumnRenamed("session_id", "UID")
      .withColumn("mx", max($"UID").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"UID")))
      .filter($"Gender" === "F")
    val plan = withRule { df.queryExecution.optimizedPlan }
    var sawWindowFirst = false
    var decided = false
    def walk(p: LogicalPlan): Unit = p match {
      case _: LWindow =>
        if (!decided) { sawWindowFirst = true; decided = true }
        p.children.foreach(walk)
      case f: LFilter if f.condition.references.exists(_.name == "Gender") =>
        if (!decided) decided = true
        f.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    assert(decided && !sawWindowFirst,
      "an FD-tagged filter crossed a window keyed by a token-less same-named column")
  }

  test("a Union below the window blocks the push (merged rows never declared)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    withRule {
      val declared = Fd.declareConstantPer(
        Seq((1L, "F", 1.0), (2L, "M", 2.0)).toDF("UID", "Gender", "v"),
        "UID", Seq("Gender"))
      // same UID, DIFFERENT gender — the FD does not hold for the
      // union, but Union's output attrs carry the left child's tokens
      val undeclared = Seq((1L, "M", 9.0)).toDF("UID", "Gender", "v")
      val mixed = declared.unionByName(undeclared)
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter($"Gender" === "F")
      // pushing the filter below the window would shrink UID 1's
      // partition from 2 rows to 1 — cnt must stay 2
      assert(mixed.select($"UID", $"cnt").as[(Long, Long)]
        .collect().toSet == Set((1L, 2L)))
      // and the optimized plan keeps the Gender FILTER above the window
      val lines = mixed.queryExecution.optimizedPlan.toString.linesIterator.toSeq
      val winAt = lines.indexWhere(_.contains("Window"))
      assert(winAt >= 0 &&
        !lines.drop(winAt + 1).exists(l =>
          l.contains("Filter") && l.contains("Gender")),
        s"Gender predicate crossed the window despite the Union:\n${lines.mkString("\n")}")
    }
  }

  test("a full outer join below the window blocks the push (null-extended rows merge)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    withRule {
      // genuine declared row with a NULL anchor + a full join that
      // null-extends unmatched events into the SAME null-UID partition
      // (r18 review): pushing Gender === "F" below the window would
      // shrink that partition from 2 rows to 1
      val users = Fd.declareConstantPer(
        Seq((Option.empty[Long], "F"), (Some(2L), "M")).toDF("UID", "Gender"),
        "UID", Seq("Gender"))
      val events = Seq((10L, 1.0)).toDF("EUID", "v")
      val joined = events.join(users, $"EUID" === $"UID", "full")
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter($"Gender" === "F")
      assert(joined.select($"cnt").as[Long].collect().toSeq == Seq(2L),
        "the genuine null-UID row must still see the null-extended row in its window")
      val lines = joined.queryExecution.optimizedPlan.toString.linesIterator.toSeq
      val winAt = lines.indexWhere(_.contains("Window"))
      assert(winAt >= 0 &&
        !lines.drop(winAt + 1).exists(l =>
          l.contains("Filter") && l.contains("Gender")),
        s"Gender predicate crossed the window despite the outer join:\n${lines.mkString("\n")}")
    }
  }

  test("declared dim on the PRESERVED side of a left join still pushes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    withRule {
      // the clinical shape in miniature: users (declared) ⟕ weights —
      // preserved-side (anchor, dep) pairs are always genuine, so the
      // r18 outer-join guard must NOT refuse this
      val users = Fd.declareConstantPer(
        Seq((1L, "F"), (2L, "M")).toDF("UID", "Gender"), "UID", Seq("Gender"))
      val weights = Seq((1L, 70.0), (1L, 69.0)).toDF("MUID", "w")
      val joined = users.join(weights, $"UID" === $"MUID", "left")
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter($"Gender" === "F")
      assert(joined.select($"UID", $"cnt").as[(Long, Long)]
        .collect().toSet == Set((1L, 2L)))
      val lines = joined.queryExecution.optimizedPlan.toString.linesIterator.toSeq
      val winAt = lines.indexWhere(_.contains("Window"))
      assert(winAt >= 0 &&
        lines.drop(winAt + 1).exists(l =>
          l.contains("Filter") && l.contains("Gender")),
        s"preserved-side FD push must fire below the window:\n${lines.mkString("\n")}")
    }
  }

  test("re-declaring dependents for the same anchor keeps both declarations live") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    withRule {
      // r18 review: the second declaration used to stamp a FRESH
      // anchor token, orphaning Gender from the first
      val d1 = Fd.declareConstantPer(
        Seq((1L, "F", 30), (1L, "F", 30), (2L, "M", 40)).toDF("UID", "Gender", "Age"),
        "UID", Seq("Gender"))
      val d2 = Fd.declareConstantPer(d1, "UID", Seq("Age"))
      val out = d2
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter($"Gender" === "F" && $"Age" < 35)
      assert(out.select($"cnt").as[Long].collect().toSeq == Seq(2L, 2L))
      val lines = out.queryExecution.optimizedPlan.toString.linesIterator.toSeq
      val winAt = lines.indexWhere(_.contains("Window"))
      assert(winAt >= 0 &&
        lines.drop(winAt + 1).exists(l =>
          l.contains("Filter") && l.contains("Gender") && l.contains("Age")),
        s"both FD declarations must push below the window:\n${lines.mkString("\n")}")
    }
  }

  test("a deterministic conjunct behind a nondeterministic one stays put (span discipline)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    withRule {
      val declared = Fd.declareConstantPer(
        Seq((1L, "F", 1.0), (1L, "F", 2.0), (2L, "M", 3.0))
          .toDF("UID", "Gender", "v"),
        "UID", Seq("Gender"))
      // non-foldable rand predicate (an always-true rand < 2.0 gets
      // simplified away before this rule ever runs)
      val filtered = declared
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter(rand(42) < 0.99 && $"Gender" === "F")
      // the rule must not move Gender='F' past the seeded rand() —
      // Catalyst's span rule: only the deterministic PREFIX may move
      // (rand consumes a different row sequence otherwise, r16)
      val lines = filtered.queryExecution.optimizedPlan.toString
        .linesIterator.toSeq
      val winAt = lines.indexWhere(_.contains("Window"))
      // the inferred isnotnull(Gender) legitimately precedes rand in
      // the conjunction (deterministic prefix) — only the EQUALITY
      // must stay above the window
      assert(winAt >= 0 && !lines.drop(winAt + 1).exists(l =>
          l.contains("Filter") && l.contains("= F")),
        s"Gender = F crossed the window past a nondeterministic conjunct:\n${lines.mkString("\n")}")
      // and the deterministic-prefix case still pushes: Gender FIRST
      val pushedPlan = declared
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter($"Gender" === "F" && rand(42) < 0.99)
        .queryExecution.optimizedPlan.toString.linesIterator.toSeq
      val winAt2 = pushedPlan.indexWhere(_.contains("Window"))
      assert(winAt2 >= 0 && pushedPlan.drop(winAt2 + 1).exists(l =>
          l.contains("Filter") && l.contains("= F")),
        s"the deterministic PREFIX must still push:\n${pushedPlan.mkString("\n")}")
    }
  }

  test("a cube/rollup (Expand) below the window blocks the push (null-anchor rows merge)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    withRule {
      val declared = Fd.declareConstantPer(
        Seq((1L, "F", 1.0), (2L, "M", 2.0)).toDF("UID", "Gender", "v"),
        "UID", Seq("Gender"))
      // cube's grouping-set rows NULL the UID anchor while keeping
      // Gender values — the NULL-UID partition holds mixed genders,
      // so the declared FD does not hold below the window (r16)
      val cubed = declared.cube($"UID", $"Gender")
        .agg(sum($"v").as("sv"))
        .withColumn("cnt", count(lit(1)).over(WSpec.partitionBy($"UID")))
        .filter($"Gender" === "F")
      val expected = cubed.collect().toSet // rule on — compare against off
      val lines = cubed.queryExecution.optimizedPlan.toString
        .linesIterator.toSeq
      val winAt = lines.indexWhere(_.contains("Window"))
      assert(winAt >= 0 && !lines.drop(winAt + 1).exists(l =>
          l.contains("Filter") && l.contains("Gender")),
        s"Gender crossed the window despite the Expand:\n${lines.mkString("\n")}")
      spark.experimental.extraOptimizations = Nil
      assert(cubed.collect().toSet == expected,
        "rule on/off must agree on the cube plan")
    }
  }

  test("undeclared column with a UID window is NOT pushed (FD is per-plan, not by name)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // per-EVENT 'success' — NOT constant per UID, and no Fd declaration
    val df = Seq(("u1", 1, true), ("u1", 2, false), ("u2", 3, true))
      .toDF("UID", "v", "success")
      .withColumn("mx", max($"v").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"UID")))
      .filter($"success")
    val plan = withRule { df.queryExecution.optimizedPlan }
    // the filter must remain ABOVE the window: walking down, we must hit
    // the success-filter BEFORE any Window node
    var sawWindowFirst = false
    var decided = false
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = p match {
      case _: LWindow =>
        if (!decided) { sawWindowFirst = true; decided = true }
        p.children.foreach(walk)
      case f: LFilter if f.condition.references.exists(_.name == "success") =>
        if (!decided) decided = true
        f.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    assert(decided && !sawWindowFirst,
      "a coincidentally-named per-event column must not cross the window")
  }

  for (strict <- Seq(true, false)) {
    test(s"results are identical with and without the rule (strict=$strict)") {
      val cfg = PipelineConfig(gender = "Female", minAge = 10, maxAge = 80,
        strictCohorts = strict)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val plain = canon(Pipeline.runFromCsv(spark, fixtureDir, cfg))
      val ruled = withRule { canon(Pipeline.runFromCsv(spark, fixtureDir, cfg)) }
      assert(plain == ruled)
    }
  }
}

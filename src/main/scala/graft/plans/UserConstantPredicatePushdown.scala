package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Pushes filters through Window operators when the predicate is
  * partition-determined by DECLARED functional dependencies.
  *
  * The motivating case was the clinical pipeline (SURVEY.md §4), whose
  * gender/age/clinic filters the reference applies after the metrics —
  * but those predicates are constant per user, and every window
  * partitioned by `UID`, so filtering BEFORE the windows removes whole
  * partitions and cannot change any surviving row's metrics. (The
  * pipeline now applies them below its window-free metric pass itself,
  * so the rule no longer fires there.) Catalyst's stock PushPredicateThroughNonJoin only
  * pushes predicates over the window's own partition keys; this rule
  * generalizes: a predicate may cross a Window node iff every column it
  * references is either (a) one of the node's window partition keys
  * (attribute identity), or (b) FD-tagged with a declaration TOKEN that
  * one of those partition keys anchors (see [[Fd]]).
  *
  * The dependency set is NOT a rule-level constant: it rides on column
  * metadata declared per-DataFrame, matched by token rather than by
  * name, so the rule is safe to register session-globally — on plans
  * with no declarations it matches nothing, and a column that merely
  * shares the anchor's NAME (a renamed session id, another table's
  * UID) never qualifies (round-1 advice, tightened in round 2).
  *
  * Registered through SparkSessionExtensions ([[GraftExtensions]]) or
  * `spark.experimental.extraOptimizations`.
  */
object UserConstantPredicatePushdown extends Rule[LogicalPlan]
    with PredicateHelper {

  private def partitionKeyAttrs(w: Window): Seq[Attribute] =
    w.partitionSpec.collect { case a: Attribute => a }

  /** Attribute is usable below a window with partition keys `keys`:
    * either it IS a partition key (attribute identity, not name), or it
    * carries an FD token ANCHORED by one of the keys — token matching,
    * so a key that merely shares the anchor's NAME never qualifies.
    */
  private def determinedBy(a: Attribute, keys: Seq[Attribute]): Boolean =
    keys.exists(_.exprId == a.exprId) ||
      Fd.tokenOf(a).exists(t => keys.exists(k => Fd.anchorTokenOf(k).contains(t)))

  private def pushable(cond: Expression, w: Window): Boolean = {
    val keys = partitionKeyAttrs(w)
    cond.deterministic &&
      cond.references.nonEmpty &&
      // at least one FD tag must be doing work — pure-partition-key
      // predicates are stock Catalyst's job, not ours
      cond.references.exists(a => Fd.tokenOf(a).isDefined) &&
      cond.references.forall(determinedBy(_, keys)) &&
      // referenced columns must come from below the window, not be
      // window outputs
      cond.references.subsetOf(w.child.outputSet) &&
      // a Union anywhere below merges rows from branches that never
      // made the declaration (its output attrs carry the LEFT child's
      // metadata), so the FD claim need not hold for the merged
      // partition contents — refuse; declare on the union result
      // instead if the dependency genuinely holds there. Expand
      // (cube/rollup/grouping sets) is the same row-merge class (r16
      // review finding): grouping-set rows NULL the anchor column
      // while keeping dependent values, so the null-anchor partition
      // is not dependent-constant. A NULL-EXTENDING join is the same
      // class AGAIN (r18 review) when the declared columns ride the
      // null-producing side: null-extended rows carry (anchor = null,
      // dep = null) and merge into the genuine null-anchor partition,
      // which is then not dependent-constant. The push survives only
      // when the FD-CARRIED references and the keys anchoring their
      // tokens all provably ride the PRESERVED side (attribute
      // identity — an alias above the join breaks the proof and
      // refuses, conservative but sound): a preserved row's
      // (anchor, dep) pair is always a genuine declared-table pair,
      // so every anchor group — the null group included — holds only
      // declared values. References that ARE partition keys and keys
      // that anchor nothing referenced (e.g. derived month/week keys,
      // which only split partitions finer) need no proof: a partition
      // key is constant within its partition by definition, nulled or
      // not. The clinical shape (declared dim on the preserved side
      // of users ⟕ weights ⟕ treatments) keeps its pushdown.
      !w.child.exists {
        case _: Union | _: Expand => true
        case j: Join =>
          import org.apache.spark.sql.catalyst.plans._
          val preserved = j.joinType match {
            case LeftOuter  => Some(j.left.outputSet)
            case RightOuter => Some(j.right.outputSet)
            case FullOuter  => Some(AttributeSet.empty)
            case _          => None // inner/cross/semi/anti: no null extension
          }
          preserved.exists { p =>
            val fdRefs = cond.references.filter(a =>
              !keys.exists(_.exprId == a.exprId) && Fd.tokenOf(a).isDefined)
            val usedTokens = fdRefs.toSeq.flatMap(Fd.tokenOf).toSet
            val anchors = keys.filter(k =>
              Fd.anchorTokenOf(k).exists(usedTokens.contains))
            !(fdRefs.forall(p.contains) && anchors.forall(p.contains))
          }
        case _ => false
      }
  }

  /** Is this predicate carried by FD-tagged (or matching-anchor)
    * columns only? Used for the Project hop so the rule never moves
    * unrelated filters around.
    */
  private def fdCarried(cond: Expression): Boolean = {
    val tokens = cond.references.flatMap(Fd.tokenOf).toSet
    cond.deterministic && cond.references.nonEmpty && tokens.nonEmpty &&
      cond.references.forall(a =>
        Fd.tokenOf(a).isDefined ||
          Fd.anchorTokenOf(a).exists(tokens.contains))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, w: Window) =>
      // only the DETERMINISTIC PREFIX of the conjunction may move
      // (Catalyst's span discipline, r16 review finding): pushing a
      // deterministic conjunct past a nondeterministic one (seeded
      // rand()) changes which row sequence the nondeterministic
      // predicate consumes, changing the sampled row set
      val conjuncts = splitConjunctivePredicates(cond)
      val (detPrefix, ndTail) = conjuncts.span(_.deterministic)
      val (push, keepDet) = detPrefix.partition(pushable(_, w))
      val keep = keepDet ++ ndTail
      if (push.isEmpty) f
      else {
        val pushed = w.copy(child = Filter(push.reduce(And), w.child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }

    // carry our predicates through deterministic Projects so the push
    // cascades across the window stack (the stock filter-through-project
    // rule ran in an earlier batch and does not re-fire here)
    case f @ Filter(cond, p: Project)
        if p.projectList.forall(_.deterministic) && p.child.isInstanceOf[Window] =>
      val aliasMap = p.projectList.collect {
        case a: Alias => a.toAttribute.exprId -> a.child
      }.toMap
      def substitute(e: Expression): Expression = e.transformUp {
        case a: Attribute => aliasMap.getOrElse(a.exprId, a)
      }
      // same deterministic-prefix discipline as the Window case
      val conjuncts = splitConjunctivePredicates(cond)
      val (detPrefix, ndTail) = conjuncts.span(_.deterministic)
      val (push0, keepDet) = detPrefix.partition(fdCarried)
      val keep = keepDet ++ ndTail
      val push = push0.map(substitute).filter(e =>
        fdCarried(e) && e.references.subsetOf(p.child.outputSet))
      if (push.isEmpty || push.size != push0.size) f
      else {
        val pushed = p.copy(child = Filter(push.reduce(And), p.child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }

}

/** Session extension registering the graft optimizer rules and the
  * SQL-callable graft functions:
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * or `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * Safe for arbitrary sessions: the pushdown rule only acts on plans
  * whose DataFrames declared functional dependencies via [[Fd]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => UserConstantPredicatePushdown)
    GraftFunctions.registrations.foreach { case (name, info, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder))
    }
  }
}

/** The graft custom expressions as NAMED SQL functions, so `spark.sql`
  * text (the q37 entry path) can call the same codegen kernels the
  * DataFrame battery uses. One definition serves both registration
  * paths: [[GraftExtensions]] for `spark.sql.extensions`-configured
  * clusters, [[GraftFunctions.register]] for an already-built session
  * (idempotent — re-registration replaces the same builder).
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  // arity checked in the builder (r18 review): without it, extra SQL
  // arguments were silently IGNORED (plausible wrong numbers from a
  // miscalled function) and too few threw a raw IndexOutOfBounds
  // instead of a function-arity error at analysis time
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${args.length}")
      build(args)
    }

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      ("graft_cosine_similarity",
        new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
          "graft_cosine_similarity"),
        arity("graft_cosine_similarity", 2)(args =>
          graft.functions.CosineSimilarity(args(0), args(1)))),
      ("graft_md5_low60",
        new ExpressionInfo(classOf[graft.functions.Md5Low60].getName,
          "graft_md5_low60"),
        arity("graft_md5_low60", 1)(args => graft.functions.Md5Low60(args(0)))),
      ("graft_simhash60",
        new ExpressionInfo(classOf[graft.functions.SimHash60].getName,
          "graft_simhash60"),
        arity("graft_simhash60", 1)(args => graft.functions.SimHash60(args(0)))))

  /** Register on a live session (the driver builds its own session, so
    * gate queries can't rely on `spark.sql.extensions`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registrations.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
    }
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension registering the SQL-callable graft functions
  * ([[GraftFunctions]]):
  * {{{ SparkSession.builder().withExtensions(new GraftExtensions) }}}
  * or `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
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

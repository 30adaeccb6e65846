package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator (SURVEY.md §2
  * plus the training-data extensions), assembled from the per-domain
  * modules under [[graft.queries]]; `oracleSql` holds the
  * DuckDB-equivalent SQL the driver hash-compares against at sf0.01.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full clinical pipeline — scan, broadcast left joins,
    * derivations, filters, all five metrics — is the engine's
    * reason to exist, so it is the smoke test.
    */
  def entry(spark: SparkSession): DataFrame =
    Clinical.pipeline(spark, "/root/testdata/sf0.001")

  /** One row per query module: (name, queries, oracles). Named and
    * `private[graft]` so QIndex iterates THIS list instead of a
    * hand-maintained copy (r11 review: two lists drifted one module
    * behind each other only by luck of the size check).
    */
  private[graft] val modules: Seq[(String,
      Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      ("Relational", Relational.queries, Relational.oracles),
      ("Joins", Joins.queries, Joins.oracles),
      ("Shapes", Shapes.queries, Shapes.oracles),
      ("WindowsQ", WindowsQ.queries, WindowsQ.oracles),
      ("Clinical", Clinical.queries, Clinical.oracles),
      ("EventsQ", EventsQ.queries, EventsQ.oracles),
      ("TextQ", TextQ.queries, TextQ.oracles),
      ("CurationQ", CurationQ.queries, CurationQ.oracles),
      ("RetrievalQ", RetrievalQ.queries, RetrievalQ.oracles),
      ("EvalQ", EvalQ.queries, EvalQ.oracles),
      ("VectorQ", VectorQ.queries, VectorQ.oracles),
      ("MediaQ", MediaQ.queries, MediaQ.oracles),
      ("AdvancedQ", AdvancedQ.queries, AdvancedQ.oracles),
      ("SummaryQ", SummaryQ.queries, SummaryQ.oracles),
      ("SketchQ", SketchQ.queries, SketchQ.oracles),
      ("StreamQ", StreamQ.queries, StreamQ.oracles),
      ("SinkQ", SinkQ.queries, SinkQ.oracles))

  /** Battery-wide deterministic output order (r7, VERDICT r6 #2): the
    * gate surface ends in an explicit total sort over ALL output
    * columns, and [[oracleSql]] wraps every oracle in the matching
    * `ORDER BY ALL NULLS FIRST` — so the two sides agree row-for-row
    * in FILE order and no order-sensitive hash methodology can flip on
    * partition scheduling or a DuckDB hash-table iteration order. Rows
    * tying on every column are identical rows, so the order is total
    * on both engines (Spark default ASC NULLS FIRST ≡ the oracle
    * wrapper; strings compare binary on both). Cost: one range-sort of
    * an already-final gate result — noise at any scale, and at 100 TB
    * a production caller simply drops the wrapper, not the operator.
    */
  private def deterministicOrder(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => df(c).asc_nulls_first).toIndexedSeq: _*)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    mergedOrFail(modules.map(_._2), "query").map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => deterministicOrder(fn(s, dir)))
    }

  /** The modules' maps merged into one, failing on a key two modules
    * share: `Map ++` keeps the later entry, so a duplicate would
    * SILENTLY shadow one implementation (never benched or gated) or
    * replace one query's oracle SQL with another's — fail at every
    * entry point instead.
    */
  private def mergedOrFail[V](maps: Seq[Map[String, V]], what: String): Map[String, V] = {
    val merged = maps.reduce(_ ++ _)
    require(merged.size == maps.map(_.size).sum,
      s"duplicate $what key across modules: " +
        maps.flatMap(_.keys).groupBy(identity)
          .collect { case (k, vs) if vs.size > 1 => k }.mkString(", "))
    merged
  }

  /** The module queries WITHOUT the deterministic-order wrapper — the
    * bench surface (r11). The battery-wide total sort exists for the
    * hash gate's row-order stability, not for the operator; a
    * production caller drops it (the [[deterministicOrder]] scaladoc's
    * own point), so timing it would charge every query a
    * harness-artifact sort. Verify keeps the wrapped [[queries]].
    */
  private[graft] def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    mergedOrFail(modules.map(_._2), "query")

  /** Gate-corpus cap preflights (r14, ADVICE): for each capped gate
    * whose oracle models the cap-free ideal, a guard returning
    * (cap description, over-cap bucket count) pairs. Verify evaluates
    * a query's guard BEFORE dumping it and fails the query loudly —
    * naming the cap — if the corpus crossed a threshold the oracle
    * doesn't model, instead of leaving a bare hash mismatch.
    */
  private[graft] def capGuards: Map[String,
      (SparkSession, String) => Seq[(String, Long)]] =
    MediaQ.capGuards ++ TextQ.capGuards ++ VectorQ.capGuards

  /** Queries deliberately gated rows-only (no DuckDB-expressible
    * oracle). Currently empty — every registered query carries an
    * oracle — and kept explicit so a FUTURE rows-only gate is a
    * reviewed decision here, never an accident [[oracleSql]]'s
    * coverage guard would otherwise hide.
    */
  private[graft] val rowsOnlyQueries: Set[String] = Set.empty

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = {
    val merged = mergedOrFail(modules.map(_._3), "oracle")
    // a typo'd oracle name would orphan its query into the driver's
    // weaker rows-only check without anyone deciding that: key-set
    // equality (minus the explicit rows-only allowlist) makes that
    // drift a failure at every entry point too
    val qKeys = modules.flatMap(_._2.keys).toSet
    val orphanOracles = merged.keySet -- qKeys
    val uncheckedQueries = qKeys -- merged.keySet -- rowsOnlyQueries
    require(orphanOracles.isEmpty && uncheckedQueries.isEmpty,
      s"oracle/query key drift — oracles without a query: " +
        s"${orphanOracles.toSeq.sorted.mkString(",")}; queries without an " +
        s"oracle (add SQL or the rowsOnlyQueries allowlist): " +
        s"${uncheckedQueries.toSeq.sorted.mkString(",")}")
    merged.map { case (name, sql) =>
      name -> s"SELECT * FROM (\n$sql\n) _gate ORDER BY ALL NULLS FIRST"
    }
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Filters, projections, sorts, dedup, set operations, multi-level
  * aggregates and the scalar-function surface — the query shapes the
  * reference either has (filters #19-21, sort #7, dedup #23, projection
  * #22, scalar arithmetic #8-10) or conspicuously lacks (SURVEY.md §2
  * "no representative" list: set ops, limits, rollup/cube, string/math
  * functions).
  */
object Shapes {

  /** Range + equality filter with a 2-column projection — the shape that
    * must reach the parquet scan as PushedFilters + pruned ReadSchema.
    */
  def filterPushdown(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").between(10, 20) && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_quantity"))

  /** Global multi-key sort + top-k (deterministic: full key is unique). */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .limit(100)

  /** DISTINCT projection (reference op #23's SQL-visible half). */
  def distinctProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_orderpriority")).distinct()

  /** Deterministic dedup-keep-first: first order per customer in
    * (date, orderkey) order. `dropDuplicates(subset)` keeps an ARBITRARY
    * row — this is the reproducible form, and what our engine prescribes
    * when the choice of survivor matters.
    */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
  }

  /** CASE-expression bucketing + aggregate. */
  def caseBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("o_totalprice")), 2).as("avg_price"))

  /** Datetime function surface: trunc/extract/datediff/add. */
  def datetimeFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_start_epoch"),
        datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date")).as("days_since_92"),
        col("o_orderkey"))

  /** String function surface on part. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        lower(col("p_type")).as("type_lower"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_extract(col("p_type"), "([A-Z]+)", 1).as("first_word"),
        when(col("p_type").contains("BRASS"), 1).otherwise(0).as("is_brass"),
        trim(lit("  pad  ")).as("trimmed"))

  /** Math scalar surface (floor/ceil/round/abs/pow/sqrt/ln/mod). */
  def mathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") / 1000.0).as("price_k_floor"),
        ceil(col("l_discount") * 100).as("disc_pct_ceil"),
        round(col("l_extendedprice") * col("l_tax"), 3).as("tax_amt"),
        abs(col("l_quantity") - 25).as("qty_dev"),
        round(pow(col("l_quantity"), 2), 6).as("qty_sq"),
        round(sqrt(col("l_extendedprice")), 6).as("price_sqrt"),
        round(log(col("l_extendedprice")), 6).as("price_ln"),
        (col("l_orderkey") % 10).as("key_mod"))

  /** UNION ALL of disjoint slices + UNION (distinct) of overlapping ones. */
  def unionAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val hi = o.filter(col("o_totalprice") > 250000)
      .select(col("o_orderkey"), lit("high").as("band"))
    val lo = o.filter(col("o_totalprice") < 20000)
      .select(col("o_orderkey"), lit("low").as("band"))
    hi.unionAll(lo)
  }

  /** INTERSECT / EXCEPT via order-year slices of customers. Years
    * 1995/1996 — the fixture's order dates START at 1995, so the
    * original 1994 slice was empty and BOTH set-op legs returned 0
    * rows at every SF: the gate passed trivially for any
    * implementation returning empty (the r18-verdict vacuous-gate
    * class). 1995∩1996 and 1995∖1996 are both populated.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan + distinct feeds all four set-op legs (r19 review: the
    // per-year derivation was planned independently per leg — orders
    // scanned and distinct-shuffled FOUR times; Spark does not dedupe
    // identical subplans). The intersect/except operators themselves
    // stay — they are the surface this gate exists to exercise.
    val buyersByYear = graft.operators.Materialize.local(Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(year(col("o_orderdate")).as("y"), col("o_custkey"))
      .distinct(), "Shapes.setOps buyers by year (aggregate)")
    def buyers(y: Int) =
      buyersByYear.filter(col("y") === y).select(col("o_custkey"))
    val both = buyers(1995).intersect(buyers(1996))
      .withColumn("relation", lit("both_95_96"))
    val only95 = buyers(1995).except(buyers(1996))
      .withColumn("relation", lit("only_95"))
    both.unionAll(only95)
  }

  /** ROLLUP: subtotals + grand total over two group keys. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))

  /** CUBE over two independent dimensions. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"))

  /** GROUPING SETS — the explicit form rollup/cube desugar to, with an
    * ASYMMETRIC set list neither of them can express ((flag, status),
    * (status), ()): one scan, one expand, per-set subtotals.
    * grouping_id() disambiguates a NULL group key from a subtotal row
    * (same bit order as DuckDB's GROUPING(flag, status): flag = MSB).
    */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty[org.apache.spark.sql.Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("grp"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("grp"),
        col("n"), col("qty"))

  /** Aggregate-function surface: min/max/avg/stddev/count distinct +
    * conditional aggregation (the FILTER/CASE pattern pivot reduces to).
    */
  def aggFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_customers"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        round(avg(col("o_totalprice")), 2).as("avg_price"),
        // Spark's stddev_samp is NaN for a 1-row group, DuckDB's is
        // NULL (r18 review) — pin the SQL semantics so a small group
        // can never flip the hash gate
        when(!isnan(stddev_samp(col("o_totalprice"))),
          round(stddev_samp(col("o_totalprice")), 2)).as("sd_price"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"))

  /** Manual pivot: one column per order-priority class (groupBy().pivot()
    * reduces to exactly this conditional-agg plan).
    */
  def pivotPriorities(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def cnt(p: String) = count(when(col("o_orderpriority") === p, 1)).as("p" + p.charAt(0))
    o.groupBy(col("o_orderstatus"))
      .agg(cnt("1-URGENT"), cnt("2-HIGH"), cnt("3-MEDIUM"), cnt("4-NOT SPECIFIED"), cnt("5-LOW"))
  }

  /** q152 — UNPIVOT (melt), the inverse of q23's pivot: the per-status
    * priority counts relational-ized back to long form (status, metric,
    * n) via `Dataset.unpivot` — wide→long is a pure per-row expansion
    * (zero shuffle beyond the source aggregate), and the pair proves
    * the two reshapes round-trip.
    */
  def unpivotPriorities(spark: SparkSession, dir: String): DataFrame =
    pivotPriorities(spark, dir).unpivot(
      ids = Array(col("o_orderstatus")),
      values = Array(col("p1"), col("p2"), col("p3"), col("p4"), col("p5")),
      variableColumnName = "metric",
      valueColumnName = "n")

  /** Correlated scalar subquery: orders above 1.5× their customer's
    * average — membership decided in EXACT integer cents (r17 review:
    * `price > avg(price) * 1.5` put a float mean — whose partial-sum
    * order differs by partitioning AND engine, the q124 class — on a
    * row-MEMBERSHIP boundary that no output tolerance can absorb;
    * cents > 1.5·sum/n cross-multiplies to 2·n·cents > 3·sum_cents,
    * exact on both engines, decimal(38,0) so the products can't wrap).
    */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("cents",
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
    val per = o.groupBy(col("o_custkey").as("k"))
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
    // plain equi-join, NOT a forced broadcast (r18 review): `per` has
    // one row per CUSTOMER — unbounded cardinality, never a bounded
    // dimension — and a broadcast hint would collect it to the driver
    // at scale; both sides key on o_custkey, so the shuffle equi-join
    // is the 100 TB shape (AQE may still broadcast at gate scale)
    o.join(per, col("o_custkey") === col("k"))
      .filter(expr("2 * cast(cents as decimal(38,0)) * n" +
        " > 3 * cast(sum_cents as decimal(38,0))"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_filter_pushdown" -> (filterPushdown _),
    "q11_sort_limit" -> (sortLimit _),
    "q12_distinct" -> (distinctProjection _),
    "q13_dedup_keep_first" -> (dedupKeepFirst _),
    "q14_case_buckets" -> (caseBuckets _),
    "q15_datetime_funcs" -> (datetimeFuncs _),
    "q16_string_funcs" -> (stringFuncs _),
    "q17_math_funcs" -> (mathFuncs _),
    "q18_union_all" -> (unionAll _),
    "q19_set_ops" -> (setOps _),
    "q20_rollup" -> (rollupAgg _),
    "q21_cube" -> (cubeAgg _),
    "q22_agg_funcs" -> (aggFuncs _),
    "q23_pivot" -> (pivotPriorities _),
    "q152_unpivot" -> (unpivotPriorities _),
    "q24_scalar_subquery" -> (scalarSubquery _),
    "q127_grouping_sets" -> (groupingSetsAgg _))

  val oracles: Map[String, String] = Map(
    "q10_filter_pushdown" ->
      """SELECT l_orderkey, l_quantity FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'""".stripMargin,
    "q11_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin,
    "q12_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "q13_dedup_keep_first" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q14_case_buckets" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders GROUP BY 1""".stripMargin,
    "q15_datetime_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  CAST(quarter(o_orderdate) AS INT) AS q,
        |  CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start_epoch,
        |  CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_92,
        |  o_orderkey
        |FROM orders""".stripMargin,
    "q16_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_upper, lower(p_type) AS type_lower,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
        |  CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
        |  trim('  pad  ') AS trimmed
        |FROM part""".stripMargin,
    "q17_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
        |  CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
        |  round(l_extendedprice * l_tax, 3) AS tax_amt,
        |  abs(l_quantity - 25) AS qty_dev,
        |  round(pow(l_quantity, 2), 6) AS qty_sq,
        |  round(sqrt(l_extendedprice), 6) AS price_sqrt,
        |  round(ln(l_extendedprice), 6) AS price_ln,
        |  l_orderkey % 10 AS key_mod
        |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
    "q18_union_all" ->
      """SELECT o_orderkey, 'high' AS band FROM orders WHERE o_totalprice > 250000
        |UNION ALL
        |SELECT o_orderkey, 'low' AS band FROM orders WHERE o_totalprice < 20000""".stripMargin,
    "q19_set_ops" ->
      """WITH b95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     b96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'both_95_96' AS relation FROM (SELECT * FROM b95 INTERSECT SELECT * FROM b96)
        |UNION ALL
        |SELECT o_custkey, 'only_95' AS relation FROM (SELECT * FROM b95 EXCEPT SELECT * FROM b96)""".stripMargin,
    "q20_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "q21_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q127_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS grp,
        |  count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_linestatus), ())""".stripMargin,
    "q22_agg_funcs" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(avg(o_totalprice), 2) AS avg_price,
        |  round(stddev_samp(o_totalprice), 2) AS sd_price,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q23_pivot" ->
      """SELECT o_orderstatus,
        |  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
        |  count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
        |  count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
        |  count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
        |  count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q152_unpivot" ->
      """WITH w AS (
        |  SELECT o_orderstatus,
        |    count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p1,
        |    count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p2,
        |    count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p3,
        |    count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p4,
        |    count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p5
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, u.metric, u.n
        |FROM w, LATERAL (VALUES ('p1', p1), ('p2', p2), ('p3', p3),
        |                        ('p4', p4), ('p5', p5)) u(metric, n)""".stripMargin,
    "q24_scalar_subquery" ->
      """WITH c AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |p AS (SELECT o_custkey AS k, sum(cents) AS sum_cents,
        |             count(*) AS n
        |      FROM c GROUP BY 1)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM c JOIN p ON c.o_custkey = p.k
        |WHERE 2 * cents * n > 3 * sum_cents""".stripMargin)
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group order statistics by two-phase distributed
  * selection — no per-group global sort. `percentile`-style exact
  * answers funnel each group through one task's sort (the
  * low-cardinality-group cliff); here phase 1 histograms values into
  * coarse buckets (intermediate rows bounded by groups ×
  * value-range/width — CONFIG, not data), walks the tiny cumulative
  * table to find each group's rank-holding bucket, and phase 2
  * re-aggregates ONLY that bucket's rows (≤ bucketWidth distinct
  * values per group, config-bounded again) to pick the exact ranked
  * value. Both windows run over bounded tables; the big table is
  * touched by two partial-agg scans and one broadcast-filtered join.
  *
  * Contract: `value` is an integral column (LONG); rank picked is
  * (n+1) div 2 — the LOWER median — via [[medianByGroup]], or any
  * rank expression via the `rankOf` parameter.
  */
object DistributedSelection {

  /** Floor-division bucket id. `div` truncates toward zero, so for
    * signed data bucket 0 would span (−width, +width) — up to
    * 2×width−1 distinct values, double the documented phase-2 memory
    * bound; the CASE term turns truncation into a true floor, so
    * every bucket spans exactly `width` values. Spelled WITHOUT the
    * earlier `v − pmod(v, w)` (r16 review finding): that subtraction
    * underflowed Long for v within `width` of Long.MinValue — a
    * common corrupt-data sentinel — and Spark 4's default ANSI
    * arithmetic turned it into a query-killing ArithmeticException.
    * `v div w` with w > 0 can never overflow.
    */
  private def bucketSql(width: Long): String =
    s"(v div ${width}L) + (CASE WHEN v % ${width}L < 0 THEN -1L ELSE 0L END)"

  /** (group, n, rank_idx, value) — exact order statistics at SEVERAL
    * ranks per group in one two-phase pass (r11; the per-group
    * `percentile` aggregate this replaces buffers every distinct value
    * of a group in one task's memory — the exact cliff this object
    * exists to remove, and q38/q64's exact sides were its last
    * callers). `rankSqls` are 1-based rank expressions over the
    * group-size column `n` (e.g. `"1L + CAST(floor(0.5 * (n - 1)) AS
    * BIGINT)"`); `rank_idx` is the expression's position. Phase 1
    * histograms once for ALL ranks; the cumulative walk marks each
    * (group, rank)'s bucket; phase 2 re-aggregates only the picked
    * buckets, each ≤ bucketWidth distinct values per (group, rank) —
    * config-bounded, never data-bounded.
    */
  def orderStatsByGroup(df: DataFrame, groupCol: String, valueCol: String,
                        rankSqls: Seq[String],
                        bucketWidth: Long = 10000L): DataFrame = {
    require(bucketWidth > 0 && rankSqls.nonEmpty)
    // NULL values are excluded and n counts non-null rows — the SQL
    // aggregate convention (DuckDB's median/quantile ignore NULLs the
    // same way). Before this filter (r16 review finding) NULLs formed
    // a nulls-first bucket that inflated n and, when a rank landed in
    // it, the NULL === NULL join mismatch silently ERASED the whole
    // group from the output. A group with no non-null values is
    // absent, as in SQL.
    val o = df.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val coarse = Materialize.local(o.groupBy(col("g"),
        expr(bucketSql(bucketWidth)).as("cb"))
      .agg(count(lit(1)).as("cnt")), "DistributedSelection histogram (aggregate)")
    val nstat = coarse.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    // (g, n, rank_idx, r): every requested rank, resolved from n
    // a rank outside [1, n] (or NULL, e.g. a typo'd expression) would
    // land in no bucket and the (group, rank) pair would silently
    // vanish — fail LOUDLY instead (assert_true rides the filter so
    // column pruning cannot elide it)
    val ranks = nstat.select(col("g"), col("n"),
      posexplode(array(rankSqls.map(s => expr(s)): _*))
        .as(Seq("rank_idx", "r")))
      .filter(assert_true(
        col("r").isNotNull && col("r") >= 1L && col("r") <= col("n"),
        concat(lit("orderStatsByGroup: rank expression out of [1, n]: r="),
          col("r").cast("string"), lit(" n="), col("n").cast("string")))
        .isNull)
    val wc = Window.partitionBy(col("g")).orderBy(col("cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-SAFE group joins throughout (r18 review): groupBy keeps a
    // NULL group — the SQL semantics — but g === g never matches it,
    // so the null group's rows silently vanished from every consumer
    // (medianByGroup reported no median, topFracByGroup dropped the
    // rows even at keepFrac = 1)
    val pick = coarse
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(wc), lit(0L)))
      .join(ranks.withColumnRenamed("g", "r_g"), col("g") <=> col("r_g"))
      .drop("r_g")
      .filter(col("cum_before") < col("r") &&
        col("r") <= col("cum_before") + col("cnt"))
      .select(col("g").as("p_g"), col("cb").as("p_cb"),
        col("cum_before"), col("n"), col("rank_idx"), col("r"))
    // phase-2 cumulative runs per (g, rank): two ranks sharing a
    // bucket each get their own bounded re-count
    val wf = Window.partitionBy(col("g"), col("rank_idx")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    o.join(broadcast(pick),
        col("g") <=> col("p_g") &&
          expr(bucketSql(bucketWidth)) === col("p_cb"))
      .groupBy(col("g"), col("v"), col("cum_before"), col("n"),
        col("rank_idx"), col("r"))
      .agg(count(lit(1)).as("cnt2"))
      .withColumn("cum2", coalesce(sum(col("cnt2")).over(wf), lit(0L)))
      .filter(col("cum_before") + col("cum2") < col("r") &&
        col("r") <= col("cum_before") + col("cum2") + col("cnt2"))
      .select(col("g").as(groupCol), col("n"), col("rank_idx"),
        col("v").as("value"))
  }

  /** Per-group top-fraction filter (r14): the rows whose `valueCol` is
    * ≥ the group's keep-threshold — the value at ascending rank
    * n − ⌈keepFrac·n⌉ + 1 — i.e. keep each group's top ⌈keepFrac·n⌉
    * rows BY VALUE, ties kept. Membership depends only on a row's
    * value, never an arbitrary tiebreak, so the kept set is stable
    * across partitionings (ties can push the count above the target —
    * the honest deterministic spelling; a row_number cut would be
    * partition-scheduling-dependent). This is the curation primitive
    * "keep the top p% per domain by quality score".
    *
    * Scale shape: thresholds come from [[orderStatsByGroup]] (two
    * bounded passes — never a per-group sort, which would buffer a
    * whole domain in one task), land in a #groups-row table (bounded:
    * groups are domains/sources), BROADCAST back onto the stream, and
    * the filter is map-side. No window over data rows, no global sort.
    */
  def topFracByGroup(df: DataFrame, groupCol: String, valueCol: String,
                     keepFrac: Double, bucketWidth: Long = 10000L): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    // toPlainString: a bare interpolation prints small fractions in
    // scientific notation, which is not valid SQL in a rank expression
    val f = java.math.BigDecimal.valueOf(keepFrac).toPlainString
    val thr = orderStatsByGroup(df, groupCol, valueCol,
        Seq(s"n - CAST(ceil($f * n) AS BIGINT) + 1L"), bucketWidth)
      .select(col(groupCol).as("_thr_g"), col("value").as("_thr"))
    // null-SAFE join (r18 review): groupBy keeps NULL as a group and
    // emits its threshold, but an equi-join on the key never matches
    // it — every null-group row silently vanished even at keepFrac=1,
    // where medianByGroup happily reports that same group's median
    df.join(broadcast(thr), col(groupCol) <=> col("_thr_g"))
      .filter(col(valueCol).cast("long") >= col("_thr"))
      .drop("_thr_g", "_thr")
  }

  /** (group, n, median) — exact lower median of `valueCol` per group.
    * A 3-line wrapper over [[orderStatsByGroup]] at rank (n+1) div 2
    * (r16: the former inline copy of the two-phase machinery had
    * already drifted in shape from the multi-rank path — one spelling
    * means the NULL, overflow, and loud-rank fixes apply once).
    */
  def medianByGroup(df: DataFrame, groupCol: String, valueCol: String,
                    bucketWidth: Long = 10000L): DataFrame =
    orderStatsByGroup(df, groupCol, valueCol,
        Seq("(n + 1L) div 2L"), bucketWidth)
      .select(col(groupCol), col("n"), col("value").as("median"))
}

package graft.clinical

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import scala.collection.immutable.ArraySeq
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** Metric definitions — the heart of the data model.
  *
  * The reference establishes one global 6-key sort
  * (pandas_DataModel.py:85-90) and then computes every metric with
  * order-sensitive `groupby(...).transform(...)` calls. Every metric
  * group is a user or finer, so the sort only has to hold within a
  * user: one hash exchange on `UID`, one sort within partitions on
  * [[Metrics.sortKeys]], and one walk over each user's rows
  * ([[UserPass]]) compute all five metrics. Six window specs used to
  * re-sort the ~40-column joined row once each; that formulation now
  * lives on only as the reference the equivalence spec compares
  * against.
  *
  * The pandas `transform('first'/'last'/'max'/'count')` calls skip
  * nulls, and so does the pass (SURVEY.md §7.4).
  */
object Metrics {

  /** The reference's global sort order (pandas_DataModel.py:85-90).
    * pandas `sort_values` places NaT/NaN last — hence asc_nulls_last.
    */
  val sortKeys: Seq[Column] = Seq(
    col("UID").asc_nulls_last,
    col("UIDCreatedDate").asc_nulls_last,
    col("TreatmentTypeID").asc_nulls_last,
    col("Tmt_StartDate").asc_nulls_last,
    col("Wts_CreatedDate").asc_nulls_last,
    col("Wts_UpdatedDate").asc_nulls_last)

  private val treatmentKeys = Seq(col("UID"), col("TreatmentTypeID"), col("Tmt_StartDate"))
  private def cohortKeys(cohort: String) = treatmentKeys :+ col(cohort)

  /** Days between two timestamps with pandas semantics:
    * `(a - b).dt.days` floors the true timedelta toward -inf
    * (pandas_DataModel.py:97), which differs from Spark's `datediff`
    * (day-boundary count) whenever the times-of-day differ. Computed
    * over MICROSECONDS — `unix_timestamp` truncates each side to whole
    * seconds first, which breaks the floor-of-timedelta parity on
    * sub-second times (0.5 s short of a full day truncated UP to a
    * day). INTEGER floor (r18 review): the earlier double division was
    * only exact while the micro delta stayed within double's 2^53 —
    * beyond ~2^17-day spans a delta one microsecond short of a whole
    * day rounded UP to the next day, off-by-one vs pandas .dt.days.
    * Subtracting the non-negative pmod makes the numerator an exact
    * multiple of a day (true floor for negative deltas too, matching
    * timedelta.days' floor-toward−∞); the final double quotient of
    * that multiple has relative error ~1e-16 over a quotient ≤ ~1e8,
    * so round() recovers the exact integer (the IntervalJoin/Tables
    * div discipline, spelled with Column ops). No underflow risk: the
    * delta of two representable timestamps is ≤ ~2e17 µs.
    */
  def dayDiff(a: Column, b: Column): Column = {
    val us = unix_micros(a) - unix_micros(b)
    val day = 86400000000L
    round((us - pmod(us, lit(day))).cast("double") / lit(day.toDouble))
      .cast("long")
  }

  /** Months since treatment start: floor(days / 30.417) — pandas whole-day
    * truncation semantics (SURVEY.md §2.8 decision 1;
    * pandas_DataModel.py:97-99). Int per the polars cast
    * (polars_DataModel.py:102-103).
    */
  def monthCol: Column =
    floor(dayDiff(col("Wts_CreatedDate"), col("Tmt_StartDate")) / lit(30.417)).cast("int")

  /** Weeks since treatment start: floor(days / 7) (pandas_DataModel.py:102-103). */
  def weekCol: Column =
    floor(dayDiff(col("Wts_CreatedDate"), col("Tmt_StartDate")) / lit(7.0)).cast("int")

  /** A column wrapped so struct-MIN ordering matches `asc_nulls_last`:
    * the leading isNull flag makes every null sort after every value.
    */
  private def nullsLast(c: Column): Column = struct(c.isNull.as("n"), c.as("v"))

  /** Each user's within-user global-sort key as one orderable struct
    * (the [[sortKeys]] after UID, each null-last). Lets MIN-aggregates
    * stand in for "first row in sort order" without a window sort.
    */
  private val userOrd: Column = struct(
    nullsLast(col("UIDCreatedDate")).as("k1"),
    nullsLast(col("TreatmentTypeID")).as("k2"),
    nullsLast(col("Tmt_StartDate")).as("k3"),
    nullsLast(col("Wts_CreatedDate")).as("k4"),
    nullsLast(col("Wts_UpdatedDate")).as("k5"))

  /** One row per user: (`_b_uid`, `_ufw`) where `_ufw` is the fw (the
    * cohort's first non-null Weight) of the user's globally-FIRST row — i.e. the
    * first non-null Weight of the user's first cohort. Formulated as two
    * partial-aggregating GROUP BYs (per-cohort argmin, then per-user
    * argmin over cohort groups) instead of a window: no sort, map-side
    * combine on both levels, and Catalyst prunes the input to the six
    * key/weight columns. Validated value-identical to the window
    * formulation on all three sfs; the per-user pass itself never needs
    * it — only the bug-compatible successor does.
    */
  def boundaryTable(src: DataFrame, cohort: String): DataFrame = {
    src
      .groupBy(cohortKeys(cohort): _*)
      .agg(
        // the cohort-group's first-row key...
        min(userOrd).as("_k"),
        // ...and its first non-null Weight in sort order (null when the
        // whole cohort has no weights — matching first(ignoreNulls))
        min(when(col("Weight").isNotNull,
          struct(userOrd.as("o"), col("Weight").as("w")))).as("_fwp"))
      .groupBy(col("UID"))
      // the user's first row lives in the cohort-group with minimal _k;
      // ties are impossible (_k embeds every within-user sort key and
      // the cohort keys are functions of them).
      // Tie semantics WITHIN a cohort group (_fwp): rows with identical
      // sort keys but different Weights resolve to the SMALLEST weight
      // (struct-min), deterministically. The window/pandas forms are
      // no better there — Spark window order and pandas stable sort
      // both depend on physical row order, which a distributed engine
      // cannot reproduce; the fixtures are tie-free (validated
      // value-identical to the window form at all three sfs).
      .agg(min(struct(col("_k").as("k"), col("_fwp").getField("w").as("w")))
        .as("_m"))
      .select(col("UID").as("_b_uid"), col("_m").getField("w").as("_ufw"))
  }

  /** Each user's successor first weight for the bug-compatible
    * `.diff(-1)`: one row per user, (`UID`, `_next_ufw`), where
    * `_next_ufw` is the `_ufw` of the next UID in ascending order (null
    * for the last). Built from `src` — the UNFILTERED frame — so the
    * cross-user quirk sees every user whatever the demographic filter
    * keeps. [[graft.operators.DistributedLead]]'s rank-idiom self-join
    * gives partition-consistent ranks at scale; its two
    * construction-time driver jobs run over the cheap [[boundaryTable]]
    * aggregate, not over the metric pass.
    */
  def successorFirstWeights(src: DataFrame, cohort: String): DataFrame =
    graft.operators.DistributedLead
      .withSuccessorValue(boundaryTable(src, cohort), col("_b_uid"), col("_ufw"),
        "_next_ufw")
      .select(col("_b_uid").as("UID"), col("_next_ufw"))

  /** The columns [[withCohortMetrics]] appends, in output order. */
  val metricColumns: Seq[String] =
    Seq("WIR", "PSW", "TSW", "TEW", "treatment_TBWL", "patient_TBWL")

  /** The five metrics (pandas_DataModel.py:112-151) in one sorted
    * per-user pass: `df` is hash-partitioned by `UID`, sorted within
    * partitions by [[sortKeys]], and [[UserPass]] walks each user's rows
    * once. Appends [[metricColumns]] to `df`'s columns, in `df`'s order.
    *
    * The reference's `.diff(-1)` is x[i] − x[i+1] over the WHOLE frame
    * in global sort order, where x is the row's cohort-first weight; it
    * crosses cohort, treatment and even user boundaries (SURVEY.md
    * §2.9). With `successor = None` (strict mode) the diff stays inside
    * each user: a user's last row has a null diff. With `successor`
    * given (bug-compatible mode, a [[successorFirstWeights]] table),
    * only each user's last row sees a cross-user value, and because UID
    * leads the global sort that value is the next UID's first-row
    * weight: the pass reads it from the `_next_ufw` column the left join
    * on `UID` attaches.
    */
  def withCohortMetrics(df: DataFrame, cohort: String,
                        successor: Option[DataFrame]): DataFrame = {
    val clash = (metricColumns :+ "_next_ufw").filter(df.columns.contains)
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(", ")} are derived by the metric pass — rename first")
    require(df.schema("Weight").dataType == DoubleType,
      s"Weight must be a double column, not ${df.schema("Weight").dataType}")
    val input = successor.fold(df)(df.join(_, Seq("UID"), "left"))
    val out = StructType(df.schema.fields ++
      (StructField("WIR", LongType, nullable = false) +:
        metricColumns.tail.map(StructField(_, DoubleType))))
    val pass = new UserPass(input.schema, df.columns, cohort, successor.isDefined)
    input.repartition(col("UID"))
      .sortWithinPartitions(sortKeys: _*)
      .mapPartitions(pass(_))(Encoders.row(out))
      // the encoder drops column metadata; `to` restores the input's
      .to(out)
  }
}

/** The per-user walk behind [[Metrics.withCohortMetrics]]. Input rows
  * arrive grouped by UID (a null UID is one group) and in [[Metrics
  * .sortKeys]] order within each user; a user's rows are buffered, its
  * groups aggregated, and each row is emitted with, in the pandas
  * `groupby(...).transform` semantics (pandas_DataModel.py:112-151):
  *  - WIR: count of non-null `Wts_UpdatedDate` per cohort group, a long;
  *  - PSW: the user's first non-null Weight in sort order;
  *  - TSW / TEW: first / last non-null Weight per treatment;
  *  - treatment_TBWL = TEW − TSW;
  *  - patient_TBWL: max over the cohort group of wgt_diff = fw − fw of
  *    the next row (fw: the cohort's first non-null Weight), nulls
  *    skipped and NaN ranking largest like Spark's `max`.
  *
  * Treatment and cohort groups are keyed through hash maps, not by
  * contiguity: a cohort expression need not be monotone in sort order.
  * Group keys compare like Spark's grouping: -0.0 equals 0.0, every NaN
  * equals every other, binary by content.
  *
  * A user holding more than `maxRowsPerUser` rows (262,144 in the
  * pipeline — about 250 MB of buffered rows at ~1 KB a row) fails the
  * task with an error naming the UID and the bound, rather than
  * exhausting the executor's heap.
  */
private[clinical] final class UserPass(in: StructType, outColumns: Array[String],
    cohort: String, withSuccessor: Boolean,
    maxRowsPerUser: Int = UserPass.MaxRowsPerUser) extends Serializable {
  import UserPass._

  private val uid = in.fieldIndex("UID")
  private val treatment = in.fieldIndex("TreatmentTypeID")
  private val start = in.fieldIndex("Tmt_StartDate")
  private val cohortAt = in.fieldIndex(cohort)
  private val weight = in.fieldIndex("Weight")
  private val updated = in.fieldIndex("Wts_UpdatedDate")
  private val nextUfw = if (withSuccessor) in.fieldIndex("_next_ufw") else -1
  private val project = outColumns.map(in.fieldIndex)

  def apply(rows: Iterator[Row]): Iterator[Row] = {
    val it = rows.buffered
    Iterator.continually(it).takeWhile(_.hasNext).flatMap(user)
  }

  /** Consumes one user's rows from `it` and returns them with metrics. */
  private def user(it: collection.BufferedIterator[Row]): Iterator[Row] = {
    val key = groupKey(it.head.get(uid))
    val rows = ArrayBuffer.empty[Row]
    while (it.hasNext && groupKey(it.head.get(uid)) == key) {
      if (rows.length == maxRowsPerUser)
        throw new IllegalStateException(s"UID '${it.head.get(uid)}' has more " +
          s"than $maxRowsPerUser rows, the per-user bound of the clinical metric pass")
      rows += it.next()
    }
    val n = rows.length
    val treatments = HashMap.empty[(Any, Any), Treatment]
    val cohorts = HashMap.empty[(Any, Any, Any), Cohort]
    val byTreatment = new Array[Treatment](n)
    val byCohort = new Array[Cohort](n)
    var psw: JDouble = null
    var i = 0
    while (i < n) {
      val r = rows(i)
      val tk = (groupKey(r.get(treatment)), groupKey(r.get(start)))
      val t = treatments.getOrElseUpdate(tk, new Treatment)
      val c = cohorts.getOrElseUpdate((tk._1, tk._2, groupKey(r.get(cohortAt))), new Cohort)
      if (!r.isNullAt(updated)) c.wir += 1
      if (!r.isNullAt(weight)) {
        val w: JDouble = r.getDouble(weight)
        if (psw == null) psw = w
        if (t.first == null) t.first = w
        t.last = w
        if (c.fw == null) c.fw = w
      }
      byTreatment(i) = t
      byCohort(i) = c
      i += 1
    }
    i = 0
    while (i < n) {
      val next: JDouble =
        if (i + 1 < n) byCohort(i + 1).fw
        else if (withSuccessor && !rows(i).isNullAt(nextUfw)) rows(i).getDouble(nextUfw)
        else null
      byCohort(i).observe(minus(byCohort(i).fw, next))
      i += 1
    }
    Iterator.tabulate(n) { j =>
      val r = rows(j)
      val t = byTreatment(j)
      val c = byCohort(j)
      val out = new Array[Any](project.length + 6)
      var k = 0
      while (k < project.length) { out(k) = r.get(project(k)); k += 1 }
      out(k) = c.wir
      out(k + 1) = psw
      out(k + 2) = t.first
      out(k + 3) = t.last
      out(k + 4) = minus(t.last, t.first)
      out(k + 5) = c.maxDiff
      Row.fromSeq(ArraySeq.unsafeWrapArray(out))
    }
  }
}

private[clinical] object UserPass {
  val MaxRowsPerUser: Int = 1 << 18

  private type JDouble = java.lang.Double

  private final class Treatment {
    var first: JDouble = null
    var last: JDouble = null
  }

  private final class Cohort {
    var wir = 0L
    var fw: JDouble = null
    var maxDiff: JDouble = null
    /** Spark's `max`: nulls skipped; among equals the earlier value stays. */
    def observe(d: JDouble): Unit =
      if (d != null && (maxDiff == null || compare(d, maxDiff) > 0)) maxDiff = d
  }

  /** Spark's double ordering: NaN above everything, -0.0 equal to 0.0. */
  private def compare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def minus(a: JDouble, b: JDouble): JDouble =
    if (a == null || b == null) null else a - b

  /** A value as a grouping key: equal exactly when Spark groups it equal. */
  private def groupKey(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case other => other
  }
}

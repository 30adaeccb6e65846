package graft.clinical

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Scratch
import scala.collection.immutable.ArraySeq
import scala.collection.mutable.{ArrayBuffer, HashMap}

/** Metric definitions — the heart of the data model.
  *
  * The reference establishes one global 6-key sort
  * (pandas_DataModel.py:85-90) and then computes every metric with
  * order-sensitive `groupby(...).transform(...)` calls. Every metric
  * group is a user or finer, so the sort only has to hold within a
  * user: one exchange on `UID`, one sort within partitions, and one
  * walk over each user's rows ([[UserPass]]) compute all five metrics
  * in both diff modes. Six window specs used to
  * re-sort the ~40-column joined row once each; that formulation now
  * lives on only as the reference the equivalence spec compares
  * against.
  *
  * The pandas `transform('first'/'last'/'max'/'count')` calls skip
  * nulls, and so does the pass (SURVEY.md §7.4).
  */
object Metrics {

  /** The reference's global sort order (pandas_DataModel.py:85-90), by
    * column. pandas `sort_values` places NaT/NaN last — hence
    * asc_nulls_last in [[sortKeys]].
    */
  private[clinical] val sortColumns: Seq[String] = Seq("UID", "UIDCreatedDate",
    "TreatmentTypeID", "Tmt_StartDate", "Wts_CreatedDate", "Wts_UpdatedDate")

  val sortKeys: Seq[Column] = sortColumns.map(col(_).asc_nulls_last)

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

  /** The columns [[withCohortMetrics]] appends, in output order. */
  val metricColumns: Seq[String] =
    Seq("WIR", "PSW", "TSW", "TEW", "treatment_TBWL", "patient_TBWL")

  /** The five metrics (pandas_DataModel.py:112-151) in one sorted
    * per-user pass: `df` is partitioned by `UID`, each partition is
    * sorted so a user's rows arrive together and in [[sortKeys]] order,
    * and [[UserPass]] walks each user's rows once. Appends
    * [[metricColumns]] to `df`'s columns, in `df`'s order. `keep`, when
    * given, keeps only the rows it holds for (null counts as false);
    * like the reference's demographic filter (pandas_DataModel.py:6-31)
    * it acts on the finished frame: no metric depends on it.
    *
    * The reference's `.diff(-1)` is x[i] − x[i+1] over the WHOLE frame
    * in global sort order, where x is the row's cohort-first weight; it
    * crosses cohort, treatment and even user boundaries (SURVEY.md
    * §2.9). Only a user's last row sees a cross-user value, and because
    * UID leads the global sort that value is the next UID's `_ufw`: the
    * first weight of the cohort holding that user's first row.
    *
    * Strict mode keeps the diff inside each user (a user's last row has
    * a null diff). Every metric group is then a user or finer, so a
    * user-constant `keep` is applied first, and the pass runs on one
    * `UID` hash exchange.
    *
    * Bug-compatible mode walks the UNFILTERED frame, because a user that
    * `keep` drops can still be another user's successor:
    *  - `keep` becomes the `_keep` flag, evaluated below the exchange;
    *    the walk emits only the rows it holds for;
    *  - one range exchange on `UID` into exactly P =
    *    `spark.sql.shuffle.partitions` partitions. AQE never coalesces a
    *    REPARTITION_BY_NUM exchange, and both of its consumers below take
    *    every column (the summary is an opaque `mapPartitions`, so column
    *    pruning cannot narrow its branch into a second exchange): they
    *    read the same partitions from one exchange and one range sample
    *    (the second read is a ReusedExchange). Two independently sampled
    *    exchanges could disagree on the partition ids;
    *  - within a partition users arrive in DESCENDING UID order, so a
    *    user's successor is the user walked just before it, and the walk
    *    carries that user's `_ufw`;
    *  - each partition's first-walked user needs the `_ufw` of the
    *    lowest UID in the next non-empty partition. [[UserPass.head]]
    *    summarizes each partition's lowest UID in one row; for every
    *    partition id the lowest non-empty partition above it is picked
    *    from those at most P rows, and the result is joined back on the
    *    partition id through a broadcast below the sort (a sort under a
    *    join is dropped by EliminateSorts).
    */
  def withCohortMetrics(df: DataFrame, cohort: String, strict: Boolean,
                        keep: Option[Column] = None): DataFrame = {
    Scratch.requireFree("the clinical metric pass", df.columns,
      (metricColumns ++ Seq("_keep", "_pid", "_next_ufw")).contains)
    require(df.schema("Weight").dataType == DoubleType,
      s"Weight must be a double column, not ${df.schema("Weight").dataType}")
    val out = StructType(df.schema.fields ++
      (StructField("WIR", LongType, nullable = false) +:
        metricColumns.tail.map(StructField(_, DoubleType))))
    def walk(input: DataFrame, order: Seq[Column]): DataFrame = {
      val pass = new UserPass(input.schema, df.columns, cohort, withSuccessor = !strict)
      input.sortWithinPartitions(order: _*).mapPartitions(pass(_))(Encoders.row(out))
    }
    val metrics =
      if (strict) walk(keep.fold(df)(df.filter).repartition(col("UID")), sortKeys)
      else {
        val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        val ranged = df.withColumn("_keep", keep.fold(lit(true))(coalesce(_, lit(false))))
          .repartitionByRange(p, col("UID").asc_nulls_last)
          .withColumn("_pid", spark_partition_id())
        val summary = new UserPass(ranged.schema, df.columns, cohort, withSuccessor = true)
        val heads = ranged.mapPartitions(summary.head(_))(
          Encoders.row(StructType.fromDDL("_hpid INT NOT NULL, _head DOUBLE")))
        walk(ranged.join(broadcast(nextHeads(heads)), Seq("_pid"), "left"),
          col("UID").desc_nulls_first +: sortKeys.tail)
      }
    // the encoder drops column metadata; `to` restores the input's
    metrics.to(out)
  }

  /** Per partition id, the `_head` of the lowest higher partition that
    * has one (`_hpid`, `_head` rows from [[UserPass.head]]), as
    * (`_pid`, `_next_ufw`): each head goes to every lower id (at most
    * P²/2 rows, PrefixScan's carry-in) and the lowest wins. The guard
    * keeps partition 0 off Spark's descending sequence.
    */
  private[clinical] def nextHeads(heads: DataFrame): DataFrame =
    heads.select(explode(when(col("_hpid") > 0, sequence(lit(0), col("_hpid") - 1)))
        .as("_pid"), col("_hpid"), col("_head"))
      .groupBy("_pid").agg(min_by(col("_head"), col("_hpid")).as("_next_ufw"))
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
  * With `withSuccessor` (bug-compatible mode) users arrive in
  * descending UID order and a user's last row diffs against its
  * successor's `_ufw` (its first row's fw): the previous user's, or for
  * the partition's first user the `_next_ufw` column its rows carry.
  * Without it a user's last row diffs against null. Only rows whose
  * `_keep` column holds are emitted; every row when there is none.
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
  private val withinUser = Metrics.sortColumns.tail.map(in.fieldIndex).toArray
  private val treatment = in.fieldIndex("TreatmentTypeID")
  private val start = in.fieldIndex("Tmt_StartDate")
  private val cohortAt = in.fieldIndex(cohort)
  private val weight = in.fieldIndex("Weight")
  private val updated = in.fieldIndex("Wts_UpdatedDate")
  private val keep = in.fieldNames.indexOf("_keep")
  private val nextUfw = in.fieldNames.indexOf("_next_ufw")
  private val project = outColumns.map(in.fieldIndex)

  def apply(rows: Iterator[Row]): Iterator[Row] = {
    val it = rows.buffered
    var next: JDouble = if (nextUfw >= 0 && it.hasNext) it.head.getAs[JDouble](nextUfw) else null
    Iterator.continually(it).takeWhile(_.hasNext).flatMap { it =>
      val user = new User(take(it))
      val out = user.emit(next)
      if (withSuccessor) next = user.ufw
      out
    }
  }

  /** A range partition's summary for the bug-compatible walk: one row
    * (`_hpid`, `_head`) holding the partition id and the `_ufw` of its
    * lowest UID (nulls last), or no row for an empty partition. The rows
    * arrive unsorted, so the lowest UID's rows are collected, put in
    * [[Metrics.sortKeys]] order (ties keep arrival order) and aggregated
    * like any walked user.
    */
  def head(rows: Iterator[Row]): Iterator[Row] = {
    val low = ArrayBuffer.empty[Row]
    rows.foreach { r =>
      val c = if (low.isEmpty) 0 else order(r.get(uid), low(0).get(uid))
      if (c < 0) low.clear()
      if (c <= 0) add(low, r)
    }
    val sorted = low.sortWith((a, b) =>
      withinUser.iterator.map(k => order(a.get(k), b.get(k))).find(_ != 0).exists(_ < 0))
    sorted.headOption.map(r => Row(r.getAs[Int]("_pid"), new User(sorted).ufw)).iterator
  }

  private def add(rows: ArrayBuffer[Row], r: Row): Unit = {
    if (rows.length == maxRowsPerUser)
      throw new IllegalStateException(s"UID '${r.get(uid)}' has more " +
        s"than $maxRowsPerUser rows, the per-user bound of the clinical metric pass")
    rows += r
  }

  /** Consumes one user's rows from `it`. */
  private def take(it: collection.BufferedIterator[Row]): ArrayBuffer[Row] = {
    val key = groupKey(it.head.get(uid))
    val rows = ArrayBuffer.empty[Row]
    while (it.hasNext && groupKey(it.head.get(uid)) == key) add(rows, it.next())
    rows
  }

  /** One user's rows in sort order, with their groups aggregated. */
  private final class User(rows: ArrayBuffer[Row]) {
    private val n = rows.length
    private val byTreatment = new Array[Treatment](n)
    private val byCohort = new Array[Cohort](n)
    private var psw: JDouble = null
    private val treatments = HashMap.empty[(Any, Any), Treatment]
    private val cohorts = HashMap.empty[(Any, Any, Any), Cohort]
    for (i <- 0 until n) {
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
    }

    /** The user's `_ufw`: the fw of the cohort holding its first row. */
    def ufw: JDouble = byCohort(0).fw

    /** The kept rows with their metrics; `next` is the fw the last row
      * diffs against.
      */
    def emit(next: JDouble): Iterator[Row] = {
      for (i <- 0 until n)
        byCohort(i).observe(minus(byCohort(i).fw, if (i + 1 < n) byCohort(i + 1).fw else next))
      (0 until n).iterator.filter(j => keep < 0 || rows(j).getBoolean(keep)).map { j =>
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

  /** Spark's ascending order, nulls last, over the external values of
    * the sort key types (`Schemas`): strings by their UTF-8 bytes,
    * doubles as [[compare]], the rest by their own `compareTo`.
    */
  private def order(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => 1
    case (_, null) => -1
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Double, y: Double) => compare(x, y)
    case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

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

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for every left row, the single right row with the
  * nearest timestamp at-or-before (backward) or at-or-after (forward)
  * the left timestamp, within the same key group.
  *
  * Implemented as union → one window pass (the scalable idiom):
  * tag the two inputs, union them, sort each key partition by
  * (ts, side) and carry the last (backward) / first (forward) non-null
  * right payload across rows. ONE shuffle on the key, no range-join
  * pair explosion, no custom physical operator needed — this is
  * preference (a) "compose built-ins" from the build plan, and it beats
  * a broadcast-range-join at any scale where the right side is big.
  *
  * Ties (left.ts == right.ts) match, like DuckDB/pandas `merge_asof`
  * with allow_exact_matches: the right row sorts before (backward) /
  * after (forward) the left row at equal timestamps.
  *
  * @param tolerance optional max |left.ts − right.ts| in the ts column's
  *                  own units; matches farther than this become null.
  */
object AsOfJoin {

  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               tolerance: Option[Long] = None): DataFrame =
    join(left, right, keys, leftTs, rightTs, forward = false, tolerance)

  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTs: String, rightTs: String,
              tolerance: Option[Long] = None): DataFrame =
    join(left, right, keys, leftTs, rightTs, forward = true, tolerance)

  private def join(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, forward: Boolean,
                   tolerance: Option[Long]): DataFrame = {
    val rightValueCols = right.columns.filterNot(c => keys.contains(c)).toSeq
    require(rightValueCols.contains(rightTs), s"right must carry $rightTs")
    val dupCols = left.columns.toSet.intersect(rightValueCols.toSet)
    require(dupCols.isEmpty,
      s"right value columns collide with left: ${dupCols.mkString(", ")} — rename first")
    Scratch.requireFree("AsOfJoin", left.columns ++ right.columns,
      Set("_ts", "_side", "_rpay", "_match"))
    Scratch.requireFree("AsOfJoin", left.columns, _.startsWith("_l_"))
    // the tolerance distance derives its long conversion from the LEFT
    // ts type and applies it to both sides (r16 ADVICE): if the sides
    // differed but union-coerced (DateType left + TimestampType right
    // → timestamp), both legs would fall to cast("long") SECONDS and
    // the documented microsecond unit would silently be wrong — refuse
    // mixed ts types loudly instead of guessing a unit. Scoped to the
    // tolerance path: a tolerance-less mixed-type join has no unit to
    // get wrong (union coercion + window ordering are sound) and
    // worked before the guard. Field lookup mirrors Spark's default
    // case-insensitive resolution (exact name first) — a bare
    // schema(name) apply would throw on case-variant spellings that
    // col(name) resolves fine.
    def tsTypeOf(schema: org.apache.spark.sql.types.StructType,
                 name: String): org.apache.spark.sql.types.DataType =
      schema.fields.find(_.name == name)
        .orElse(schema.fields.find(_.name.equalsIgnoreCase(name)))
        .getOrElse(throw new IllegalArgumentException(
          s"timestamp column $name not found")).dataType
    if (tolerance.isDefined)
      require(tsTypeOf(left.schema, leftTs) == tsTypeOf(right.schema, rightTs),
        s"asof timestamp types must match under tolerance: left $leftTs is " +
          s"${tsTypeOf(left.schema, leftTs)} but right $rightTs is " +
          s"${tsTypeOf(right.schema, rightTs)} — cast one side first")

    // right rows must win ties: for backward they sort BEFORE an equal-ts
    // left row (so last() sees them); for forward AFTER (so first() does)
    val rightSide = if (forward) 1 else 0
    val leftSide = 1 - rightSide

    val lTagged = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(leftSide))
      .withColumn("_rpay", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(rightValueCols.map(col): _*).schema.fields)))
    // null-timestamp right rows would sort first (asc puts NULLs first)
    // and become everyone's "earliest" match — merge_asof / DuckDB ASOF
    // ignore them, so drop them before tagging. NULL-KEY right rows
    // drop too (r16 review finding): Window.partitionBy groups NULL
    // keys into one partition (GROUP BY semantics), so a null-key
    // right row would match null-key left rows — DuckDB ASOF /
    // merge_asof never match on NULL keys. Null-key LEFT rows still
    // flow through and emit with a NULL payload (their partition holds
    // no right rows), the left-join contract.
    val rTagged = right
      .filter(col(rightTs).isNotNull)
      // reduceOption: keys may legitimately be empty (a GLOBAL as-of
      // join — one partition by construction, the caller's choice);
      // a bare reduce threw on the empty list (r18 review)
      .filter(keys.map(col(_).isNotNull).reduceOption(_ && _).getOrElse(lit(true)))
      .select((keys.map(col) :+
        struct(rightValueCols.map(col): _*).as("_rpay")): _*)
      .withColumn("_ts", col("_rpay").getField(rightTs))
      .withColumn("_side", lit(rightSide))
    val lAligned = lTagged.select(
      (keys.map(col) :+ col("_rpay") :+ col("_ts") :+ col("_side")) ++
        left.columns.map(c => col(c).as(s"_l_$c")): _*)
    val rAligned = rTagged.select(
      (keys.map(col) :+ col("_rpay") :+ col("_ts") :+ col("_side")) ++
        left.columns.map(c => lit(null).cast(left.schema(c).dataType).as(s"_l_$c")): _*)

    // _rpay as the final order key (r18 review): several right rows
    // sharing (key, ts) tied on (_ts, _side), so first()/last() picked
    // a shuffle-order-dependent payload — run-to-run output
    // instability no downstream sort can repair. Struct ordering is
    // total over the payload fields, so backward deterministically
    // takes the LARGEST tied payload and forward the smallest; rows
    // tying on every payload field are identical matches. Left rows
    // all carry a null _rpay and tie harmlessly (their match frames
    // are unaffected by order within the same side).
    // Only ORDERABLE payload fields join the tie-break (r18 ADVICE):
    // ordering by the whole _rpay made every right value column an
    // ordering key, so a MapType payload — legal in the join itself —
    // failed analysis. Project the orderable fields into the order
    // struct; rows tying on those but differing in an unorderable
    // field remain a documented nondeterminism (no total order
    // exists for them without serializing the map).
    val orderablePay = rightValueCols.filter(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(c).dataType))
    val tieBreak =
      if (orderablePay.isEmpty) Nil
      else Seq(struct(orderablePay.map(f =>
        col("_rpay").getField(f).as(f)): _*).asc_nulls_first)
    val w0 = Window.partitionBy(keys.map(col): _*)
      .orderBy(Seq(col("_ts").asc, col("_side").asc) ++ tieBreak: _*)
    val matchExpr =
      if (forward)
        first(col("_rpay"), ignoreNulls = true)
          .over(w0.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else
        last(col("_rpay"), ignoreNulls = true)
          .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow))

    val matched = lAligned.unionByName(rAligned)
      // a null-ts LEFT row has no defined as-of position → no match
      .withColumn("_match", when(col("_ts").isNotNull, matchExpr))
      .filter(col("_side") === leftSide)

    val withTol = tolerance match {
      case Some(tol) =>
        // unit-preserving distance (r16 review finding): casting a
        // TimestampType to long FLOORS to whole seconds, misjudging
        // sub-second distances in both directions — timestamps
        // measure in microseconds (Spark's own unit; document
        // tolerance accordingly), everything else in its native units
        def asLong(c: Column, dt: org.apache.spark.sql.types.DataType) =
          dt match {
            case org.apache.spark.sql.types.TimestampType => unix_micros(c)
            // CAST(date AS BIGINT) is invalid SQL — the mixed-type
            // guard admits matching DateType sides, so tolerance must
            // measure them in their native unit (days) explicitly
            // (r18 review: the fallback arm crashed analysis)
            case org.apache.spark.sql.types.DateType =>
              datediff(c, to_date(lit("1970-01-01"))).cast("long")
            case _ => c.cast("long")
          }
        val tsType = tsTypeOf(left.schema, leftTs)
        val dist = abs(asLong(col("_ts"), tsType) -
          asLong(col("_match").getField(rightTs), tsType))
        matched.withColumn("_match",
          when(col("_match").isNotNull && dist <= tol, col("_match")))
      case None => matched
    }

    withTol.select(
      left.columns.map(c => col(s"_l_$c").as(c)).toSeq ++
        rightValueCols.map(c => col("_match").getField(c).as(c)): _*)
  }
}

/** Skew-resistant equi-join: salt the (skewed) left side into
  * `saltFactor` sub-keys and replicate the right side across all salts.
  * AQE's skew-join handles sort-merge skew at runtime; explicit salting
  * is for the cases AQE can't re-split (e.g. a hot key inside a
  * broadcast-defeating aggregate-join chain) and for engines/pipelines
  * where the skew is known ahead of time.
  *
  * Results are identical to `left.join(right, keys)` (inner) — proven
  * by the spec and by the oracle query sharing plain-join SQL.
  */
object SkewJoin {

  def saltedInner(left: DataFrame, right: DataFrame, keys: Seq[String],
                  saltFactor: Int = 8): DataFrame = {
    require(saltFactor > 0)
    Scratch.requireFree("SkewJoin", left.columns ++ right.columns, Set("_salt"))
    // salt by physical row identity, not a content hash (r16): exact
    // duplicate rows of the hot key all hashed to ONE salt (the skew
    // survived salting), and xxhash64 rejects unhashable column types
    // (MapType) the plain join accepts. Placement-only: any salt in
    // [0, saltFactor) joins the replicated right side identically, so
    // the OUTPUT is deterministic even though the salt is not
    val leftSalted = left.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(saltFactor.toLong)))
    val rightExploded = right.withColumn("_salt",
      explode(array((0 until saltFactor).map(lit(_)): _*)))
    leftSalted.join(rightExploded, keys :+ "_salt").drop("_salt")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin
import graft.sources.Tables

/** Event-log analytics over the `events` table: semi-structured (JSON)
  * extraction, time bucketing, and gap-based sessionization. These are
  * the batch shapes of the streaming module ([[graft.streaming]]) —
  * identical logic, bounded input.
  */
object EventsQ {

  /** The skinny events projection q106, q136, q150 and the funnel read
    * from several consumers each, written once per (session, dir) so
    * every consumer scans a narrow columnar table instead of the events
    * file. `ts_us` is FLOORED µs (r17/r18 reviews: `div 1000` truncates
    * a negative pre-1970 ts_ns 1 µs late against the oracle's
    * epoch_us(ts), and `Tables.deriveEventTs` floors `ts` the same way,
    * so `timestamp_micros(ts_us)` is exactly `ts`).
    */
  private[queries] def eventsUs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.parquet(spark, dir, "events_us")(
      Tables.events(spark, dir).select(col("user_id"), col("event_id"), col("event_type"),
        expr("(ts_ns - pmod(ts_ns, 1000)) div 1000").as("ts_us"), col("value")))

  /** JSON extraction from the props column + grouped aggregate. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"),
        // scaled-integer total, not round(sum(double)) (r19 review):
        // double summation ORDER differs between Spark's partition
        // combine and DuckDB's sequential sum, so a group total
        // landing on a half-cent boundary flips the rounded digit —
        // integer cents are boundary-free (the q60 rule; floor of
        // the same IEEE double is engine-exact)
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_value_cents"))

  /** Tumbling 1-hour buckets per event type. At scale this is the
    * pre-aggregation shape: map-side partial agg per (bucket, type), tiny
    * shuffle.
    */
  def timeBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("hour_epoch", unix_timestamp(date_trunc("hour", col("ts"))))
      .groupBy(col("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // integer cents, the q32 rule (r19 review)
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("total_value_cents"))

  /** Gap-based sessionization (gap > 30 min ⇒ new session), the
    * lag-flag-cumsum idiom, then per-user session stats. The batch twin
    * of streaming `flatMapGroupsWithState` sessionization.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val sess = Window.partitionBy(col("user_id"), col("session_id"))
    Tables.events(spark, dir)
      .withColumn("sec", unix_timestamp(col("ts")))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(byUser))
      .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sess_events", count(lit(1)).over(sess))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("total_events"),
        max(col("sess_events")).as("max_session_events"))
  }

  /** Per-type event share. The denominator is a global scalar joined
    * back via broadcast-on-constant-key — NOT an unpartitioned window
    * over the grouped result: a Window over Exchange SinglePartition is
    * the exact plan shape that melts on unbounded key cardinality, and
    * PlanContractSpec bans it battery-wide. (A global scalar AGGREGATE
    * still single-partitions — one partial row per task, which is fine
    * and unavoidable.)
    */
  def typeShare(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_total"))
    counts.crossJoin(broadcast(total))
      .select(col("event_type"), col("n"),
        round(col("n") / col("_total"), 6).as("share"))
  }

  /** q106 — time-series resample + forward-fill: each user's value
    * series re-gridded to hourly points over the user's own [min, max]
    * span, every grid point carrying the last observation at-or-before
    * it (the gap-fill idiom: sensors, prices, metrics). Composition of
    * existing scale-safe parts — integer-µs grid via `sequence`
    * (pure long arithmetic; a double `floor(ts/step)` would lose
    * precision above 2^53), then ONE backward [[AsOfJoin]] keyed by
    * user. The observation table is deduped to one row per (user, µs)
    * first so the as-of match is engine-deterministic even if two
    * events collide on a microsecond. Oracle: DuckDB's native ASOF
    * LEFT JOIN over the same integer grid.
    */
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    // obs and the grid bounds BOTH read ev
    val ev = eventsUs(spark, dir)
    val obs = ev.groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("value")).as("obs_value"))
      .withColumnRenamed("ts_us", "obs_us")
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("_t0"), max(col("ts_us")).as("_t1"))
      .select(col("user_id"),
        explode(sequence(
          col("_t0") - pmod(col("_t0"), lit(hourUs)),
          col("_t1") - pmod(col("_t1"), lit(hourUs)),
          lit(hourUs))).as("grid_us"))
    AsOfJoin.backward(grid, obs, Seq("user_id"), "grid_us", "obs_us")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_points"),
        count(col("obs_value")).as("n_filled"),
        sum(when(col("obs_value").isNotNull,
          floor(col("obs_value") * 1000000.0 + 0.5).cast("long")).otherwise(0L))
          .as("ffill_millionths"))
  }

  /** q136 — retention cohort matrix, the canonical product-analytics
    * rollup: users cohorted by first-active week, then counted per
    * (cohort, week-offset) cell, with retention as an exact scaled
    * rational. Two partial-agg groupBys and one equi-join on user_id —
    * at 100 TB the per-user first-week aggregate and the distinct
    * (user, week) activity table both shuffle once on user_id and the
    * cell counts are map-side combinable. Weeks anchor on the fixture
    * epoch (the generator's start date), keeping the bucketing a pure
    * per-row projection.
    */
  def retentionMatrix(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (cohort, cohort sizes, distinct activity) of the
    // written events projection.
    // greatest(0, ·) before the div: Spark div truncates toward zero,
    // DuckDB // floors — they differ on negatives, so clamp the
    // day-delta at the epoch anchor on BOTH sides (the fixture starts
    // exactly at the anchor; the clamp makes that an invariant, not a
    // latent hash divergence)
    val a = eventsUs(spark, dir)
      .select(col("user_id"),
        expr("greatest(0L, CAST(datediff(CAST(timestamp_micros(ts_us) AS DATE), " +
          "DATE '2024-01-01') AS BIGINT)) div 7L").as("wk"))
    val cohort = a.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val cohortSize = cohort.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_size"))
    a.distinct()
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .join(cohortSize, Seq("cohort_wk"))
      .select(col("cohort_wk"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        expr("n_users * 1000000L div cohort_size").as("retention_micro"))
  }

  /** q137 — first-order Markov transition matrix over per-user event
    * sequences: lag(1) within a user (PARTITIONED window — never
    * global), (prev → next) counts, and row-normalized transition
    * probabilities as exact millionths. The (ts, event_id) tiebreak is
    * the q34 determinism contract shared with the DuckDB oracle.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val tr = Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
    tr.join(tot, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"), col("n_from"),
        // quotient decomposition, not n·1e6 (r19 review): the raw
        // product wraps int64 past ~9.2e12 transitions of one
        // prev_type — inside 100 TB scale — where DuckDB's HUGEINT
        // keeps computing; (n div d)·1e6 + (n % d)·1e6 div d is exact
        // with every operand bounded by 1e6·d (the q145/q147 rule)
        expr("(n div n_from) * 1000000L + ((n % n_from) * 1000000L) div n_from")
          .as("p_micro"))
  }

  /** q142 — top opening paths (path mining, the funnel-DISCOVERY
    * complement to q61's fixed funnel): each user's first three event
    * types in (ts, event_id) order concatenated into a path, counted,
    * top-20 by (count desc, path asc). One partitioned window pass +
    * two partial-agg groupBys; the unpartitioned top-20 window stays a
    * WindowGroupLimit partial top-k (the q116 idiom), never a global
    * sort. concat_ws skips the NULLs short histories leave in t2/t3 —
    * identical semantics in DuckDB.
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val wTop = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_users").desc, col("path").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(max(when(col("rn") === 1, col("event_type"))).as("t1"),
        max(when(col("rn") === 2, col("event_type"))).as("t2"),
        max(when(col("rn") === 3, col("event_type"))).as("t3"))
      .select(concat_ws(">", col("t1"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .withColumn("rn", row_number().over(wTop).cast("int"))
      .filter(col("rn") <= 20)
  }

  /** q150 — last-touch attribution: every purchase attributes to the
    * user's most recent click/view within a 7-day lookback, ties on
    * equal timestamps broken by largest event_id (a total order both
    * engines state). The candidate join is user-keyed — an ordinary
    * co-partitioned equi-join whose band predicate rides the join, so
    * candidate volume is bounded by per-user activity, never
    * users×events — and the argmax is a partial-aggregable struct-max
    * (the q141 idiom). Purchases with no touch in the window surface
    * with a null attribution (left join), because "how much converts
    * unattributed" is the number the analyst actually wants.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val lookbackUs = 7L * 86400L * 1000000L
    // p anchors BOTH the candidate join and the final left join, c is
    // the second consumer: each scans the written events projection,
    // its event-type filter pushed into the scan
    val ev = eventsUs(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("p_ts"))
    val c = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts_us").as("c_ts"))
    val att = p.join(c, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts") &&
        col("p_ts") - col("c_ts") <= lookbackUs)
      .groupBy(col("user_id"), col("purchase_id"), col("p_ts"))
      .agg(max(struct(col("c_ts").as("t"), col("c_id").as("i"))).as("m"),
        count(lit(1)).as("n_candidates"))
      .select(col("user_id"), col("purchase_id"),
        col("m.i").as("attributed_id"),
        (col("p_ts") - col("m.t")).as("gap_us"), col("n_candidates"))
    p.select(col("user_id"), col("purchase_id"))
      .join(att, Seq("user_id", "purchase_id"), "left")
      .select(col("user_id"), col("purchase_id"), col("attributed_id"),
        col("gap_us"), coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
  }

  /** q154 — SCD TYPE-2 dimension build from the event stream: collapse
    * each user's event-type sequence into versioned validity intervals
    * (`eff_from_us`, `eff_to_us`, `version`, `is_current`) — the
    * classic warehouse slowly-changing-dimension construction, as one
    * declarative pass. A run starts where `lag(attr)` differs (or is
    * null); `row_number` over the run-start rows is the version and
    * `lead(eff_from)` closes the interval (null = current row, the
    * open-ended version).
    *
    * Scale shape: both window batches key on `user_id` with the same
    * (ts, event_id) sort, so Catalyst plans ONE exchange + sort and the
    * post-filter windows reuse it; state per user is bounded by that
    * user's run count. Timestamps cross the gate as exact integer
    * microseconds (the q150 floored `ts_ns` → µs idiom), never as floats.
    */
  def scd2Dimension(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        // floor, not truncation — the q106/funnel negative-ts
        // discipline (r18 review: the truncating spelling diverged
        // from the oracle's floored epoch_us on a nanos-encoded
        // pre-1970 event by 1 µs)
        expr("(ts_ns - pmod(ts_ns, 1000)) div 1000").as("ts_us"),
        col("event_type"))
      .withColumn("prev_attr", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_attr").isNull || col("prev_attr") =!= col("event_type"))
      .withColumn("version", row_number().over(byUser).cast("long"))
      .withColumn("eff_to_us", lead(col("ts_us"), 1).over(byUser))
      .select(col("user_id"), col("event_type").as("attr"),
        col("version"), col("ts_us").as("eff_from_us"), col("eff_to_us"),
        col("eff_to_us").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q154_scd2_dimension" -> (scd2Dimension _),
    "q150_attribution" -> (attribution _),
    "q142_top_paths" -> (topPaths _),
    "q136_retention_matrix" -> (retentionMatrix _),
    "q137_event_transitions" -> (eventTransitions _),
    "q106_resample_ffill" -> (resampleFfill _),
    "q32_json_extract" -> (jsonExtract _),
    "q33_time_buckets" -> (timeBuckets _),
    "q34_sessionize" -> (sessionize _),
    "q35_type_share" -> (typeShare _))

  val oracles: Map[String, String] = Map(
    "q154_scd2_dimension" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |g AS (
        |  SELECT *, lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_attr
        |  FROM ev),
        |starts AS (
        |  SELECT * FROM g WHERE prev_attr IS NULL OR prev_attr <> event_type)
        |SELECT user_id, event_type AS attr,
        |  CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version,
        |  ts_us AS eff_from_us,
        |  lead(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) AS eff_to_us,
        |  lead(ts_us) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL AS is_current
        |FROM starts""".stripMargin,
    "q150_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS p_ts
        |      FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS c_id, ts_us AS c_ts
        |      FROM ev WHERE event_type IN ('click', 'view')),
        |j AS (
        |  SELECT p.user_id, p.purchase_id, p.p_ts, c.c_id, c.c_ts,
        |    row_number() OVER (PARTITION BY p.user_id, p.purchase_id
        |      ORDER BY c.c_ts DESC, c.c_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY p.user_id, p.purchase_id)
        |      AS n_candidates
        |  FROM p JOIN c ON c.user_id = p.user_id
        |    AND c.c_ts <= p.p_ts AND p.p_ts - c.c_ts <= 604800000000)
        |SELECT p.user_id, p.purchase_id,
        |  j.c_id AS attributed_id,
        |  p.p_ts - j.c_ts AS gap_us,
        |  CAST(coalesce(j.n_candidates, 0) AS BIGINT) AS n_candidates
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
        |  ON j.user_id = p.user_id AND j.purchase_id = p.purchase_id""".stripMargin,
    "q142_top_paths" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    concat_ws('>',
        |      max(CASE WHEN rn = 1 THEN event_type END),
        |      max(CASE WHEN rn = 2 THEN event_type END),
        |      max(CASE WHEN rn = 3 THEN event_type END)) AS path
        |  FROM r WHERE rn <= 3 GROUP BY user_id),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |      FROM p GROUP BY path)
        |SELECT path, n_users, rn FROM (
        |  SELECT path, n_users,
        |    CAST(row_number() OVER (ORDER BY n_users DESC, path ASC) AS INT) AS rn
        |  FROM c)
        |WHERE rn <= 20""".stripMargin,
    "q136_retention_matrix" ->
      """WITH a AS (
        |  SELECT user_id,
        |    CAST(greatest(0, CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT) AS wk
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY 1),
        |cs AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM c GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, wk FROM a),
        |r AS (
        |  SELECT c.cohort_wk, act.wk - c.cohort_wk AS week_offset,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM act JOIN c ON act.user_id = c.user_id
        |  GROUP BY 1, 2)
        |SELECT r.cohort_wk, r.week_offset, r.n_users, cs.cohort_size,
        |  CAST(r.n_users * 1000000 // cs.cohort_size AS BIGINT) AS retention_micro
        |FROM r JOIN cs ON r.cohort_wk = cs.cohort_wk""".stripMargin,
    "q137_event_transitions" ->
      """WITH g AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev_type
        |  FROM events),
        |tr AS (
        |  SELECT prev_type, event_type AS next_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
        |        FROM tr GROUP BY 1)
        |SELECT tr.prev_type, tr.next_type, tr.n, tot.n_from,
        |  CAST((tr.n // tot.n_from) * 1000000
        |    + ((tr.n % tot.n_from) * 1000000) // tot.n_from AS BIGINT) AS p_micro
        |FROM tr JOIN tot ON tr.prev_type = tot.prev_type""".stripMargin,
    "q106_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, "value" FROM events),
        |obs AS (
        |  SELECT user_id, ts_us AS obs_us, max("value") AS obs_value
        |  FROM ev GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id,
        |    -- floor alignment for every sign (r17): bare % is
        |    -- sign-of-dividend in DuckDB, pmod-floor in the engine
        |    unnest(range(t0 - ((t0 % 3600000000) + 3600000000) % 3600000000,
        |                 t1 - ((t1 % 3600000000) + 3600000000) % 3600000000 + 1,
        |                 3600000000)) AS grid_us
        |  FROM (SELECT user_id, min(ts_us) AS t0, max(ts_us) AS t1
        |        FROM ev GROUP BY user_id)),
        |j AS (
        |  SELECT g.user_id, g.grid_us, o.obs_value
        |  FROM grid g ASOF LEFT JOIN obs o
        |    ON g.user_id = o.user_id AND g.grid_us >= o.obs_us)
        |SELECT user_id, count(*) AS n_points,
        |  count(obs_value) AS n_filled,
        |  CAST(sum(CASE WHEN obs_value IS NOT NULL
        |    THEN CAST(floor(obs_value * 1000000.0 + 0.5) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS ffill_millionths
        |FROM j GROUP BY user_id""".stripMargin,
    "q32_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY 1""".stripMargin,
    "q33_time_buckets" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // the cumulative session counter must order by FULL-precision ts
    // (+ event_id), exactly like the gap lag above it and the Spark
    // window — ordering by the truncated second could place two
    // same-second events differently on the two sides whenever their
    // event_id order inverts their sub-second ts order
    "q34_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |sid AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM s),
        |se AS (
        |  SELECT *, count(*) OVER (PARTITION BY user_id, session_id) AS sess_events
        |  FROM sid)
        |SELECT user_id, max(session_id) AS n_sessions, count(*) AS total_events,
        |  max(sess_events) AS max_session_events
        |FROM se GROUP BY user_id""".stripMargin,
    "q35_type_share" ->
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
        |SELECT event_type, n, round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS share
        |FROM c""".stripMargin)
}

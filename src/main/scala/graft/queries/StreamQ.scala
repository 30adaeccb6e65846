package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.ArtifactStore.{staged, stagedDir}
import graft.streaming.Streaming
import scala.jdk.CollectionConverters._

/** Structured Streaming under the driver's hash gate.
  *
  * The streaming operators' correctness otherwise rests only on
  * batch-twin ScalaTest comparisons; this entry runs the REAL streaming
  * path — readStream → watermark → stateful windowed aggregation →
  * memory sink — over a bounded copy of the events table, then lets the
  * driver hash-compare the emitted result against DuckDB computing the
  * same tumbling windows in SQL. Window bounds go out as epoch seconds
  * (5-minute aligned, so the cast is exact) to dodge timestamp-unit
  * skew between parquet writers.
  */
object StreamQ {

  // file-source streams read a DIRECTORY: stage the single source
  // parquet once per (session, source dir) — the gate entries (and
  // their warm/timed bench runs) share the copy
  private def stagedCopy(spark: SparkSession, dir: String,
                         file: String): String =
    stagedDir(spark, dir, s"stream_${file.stripSuffix(".parquet")}") { o =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(dir, file),
        java.nio.file.Paths.get(o, file))
    }
  private def stagedEvents(spark: SparkSession, dir: String): String =
    stagedCopy(spark, dir, "events.parquet")
  private def stagedDocs(spark: SparkSession, dir: String): String =
    stagedCopy(spark, dir, "documents.parquet")

  /** Stage `batches` under `stage` as single parquet files with
    * strictly increasing mtimes (pins the file-source batch order) and
    * return a `maxFilesPerTrigger=1` stream over them, schema'd from the
    * batches' own projection — ONE spelling shared by q164/q177 (r17
    * review: each hand-built the loop plus a field-by-field StructType
    * copy of a schema the written frame already carried). The listing
    * closes its handle and an empty write fails with the path named
    * (the bare `.next()` leaked a directory stream per batch and threw
    * a bare NoSuchElementException on a partless write).
    */
  private def stagedBatchStream(spark: SparkSession, stage: String,
                                batches: Seq[DataFrame]): DataFrame = {
    val src = java.nio.file.Paths.get(stage, "src")
    java.nio.file.Files.createDirectories(src)
    for ((b, i) <- batches.zipWithIndex) {
      val tmp = java.nio.file.Paths.get(stage, s"tmp$i")
      b.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      val part = try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .headOption.getOrElse(sys.error(s"no parquet part written under $tmp"))
      finally listing.close()
      val dest = src.resolve(s"part-$i.parquet")
      java.nio.file.Files.move(part, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
  }

  /** The CDC-apply fold shared by q191/q197 (r17 review: the signed
    * delta accumulator existed verbatim in both tails): a fresh
    * per-source (n, sum) state plus the per-commit apply callback,
    * counting commits per tail run through the passed counter.
    */
  private def cdcAccumulator(): (
      scala.collection.mutable.HashMap[String, (Long, Long)],
      java.util.concurrent.atomic.AtomicInteger => (DataFrame, Int) => Unit) = {
    val acc = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    def applyChanges(counter: java.util.concurrent.atomic.AtomicInteger)
        : (DataFrame, Int) => Unit = (changes, _) => {
      counter.incrementAndGet()
      val sign = when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)
      changes.select(col("source"), sign.as("sgn"), col("n_chars"))
        .groupBy(col("source"))
        .agg(sum(col("sgn")).as("dn"),
          sum(col("sgn") * col("n_chars")).as("ds"))
        .collect() // |sources| rows per commit — metadata-sized
        .foreach { r =>
          val (n0, s0) = acc.getOrElse(r.getString(0), (0L, 0L))
          acc(r.getString(0)) = (n0 + r.getLong(1), s0 + r.getLong(2))
        }
    }
    (acc, applyChanges)
  }

  /** 5-minute tumbling counts per event type, via the streaming engine. */
  def streamWindowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val res = Streaming.runToMemory(
      Streaming.windowedCounts(Streaming.eventStream(spark, stagedEvents(spark, dir))),
      name = "q66_stream_windowed_counts_mem",
      mode = OutputMode.Complete,
      skipNoDataBatch = true)
    res.select(
      col("window_start").cast("long").as("window_start_epoch"),
      col("window_end").cast("long").as("window_end_epoch"),
      col("event_type"), col("n"), col("total_value"))
  }

  /** Streaming stateful dedup under the gate: dropDuplicatesWithinWatermark
    * over the bounded stream (one micro-batch → dedup state covers the
    * whole input → exact distinct), projected to the dedup KEY columns
    * so the surviving representative's identity cannot matter.
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val res = Streaming.runToMemory(
      // ENFORCE the documented key projection (r17 review: the
      // scaladoc claimed it, the code didn't — any non-key column
      // reaching the sink depends on WHICH duplicate survives, and
      // full-width rows were retained in memory for nothing)
      Streaming.dedupWithinWatermark(Streaming.eventStream(spark, stagedEvents(spark, dir)))
        .select(col("user_id"), col("value"), col("event_type")),
      name = "q73_stream_dedup_mem",
      mode = OutputMode.Append,
      skipNoDataBatch = true)
    res.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_unique"),
        round(sum(col("value")), 2).as("unique_value_sum"))
  }

  /** Custom-state streaming under the gate: gap-based sessionization via
    * flatMapGroupsWithState + event-time timeout. Emits every CLOSED
    * session: non-final sessions close in the data batch (a successor
    * event more than the 30-min gap later arrives in-batch); each
    * user's final session closes only if its event-time timeout —
    * timeout_ms = (last_us + gap_us) / 1000, Long-truncated — fires,
    * i.e. is strictly below the final watermark (max event ms − 10 min,
    * both ms-floored). The trailing no-data micro-batch is REQUIRED
    * here (it advances the watermark that fires those timeouts), so
    * this entry does not use skipNoDataBatch. The oracle restates the
    * same arithmetic over the bounded input in SQL.
    */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val res = Streaming.runToMemory(
      Streaming.sessionize(Streaming.eventStream(spark, stagedEvents(spark, dir))).toDF(),
      name = "q91_stream_sessions_mem",
      mode = OutputMode.Append)
    res.select(col("user_id"), col("start_us"), col("end_us"),
      col("n_events"), round(col("total_value"), 2).as("total_value"))
  }

  /** Stream-static join under the gate: the events stream enriched with
    * the customer dimension, then windowed per market segment. Complete
    * mode re-emits the full aggregate each batch, so the data batches
    * alone carry the final answer (skipNoDataBatch safe, as q66).
    */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val res = Streaming.runToMemory(
      Streaming.enrichedWindowedCounts(
        Streaming.eventStream(spark, stagedEvents(spark, dir)), dim),
      name = "q94_stream_static_join_mem",
      mode = OutputMode.Complete,
      skipNoDataBatch = true)
    res.select(
      col("window_start").cast("long").as("window_start_epoch"),
      col("window_end").cast("long").as("window_end_epoch"),
      col("segment"), col("n"), col("total_value"))
  }

  /** Stream-stream interval join under the gate: purchases × same-user
    * clicks in the preceding hour, both sides watermarked. An INNER
    * interval join emits each qualifying pair in the data batch where
    * both sides are present — the pair set is deterministic whatever
    * the batching — but the trailing no-data batch stays ON (default):
    * it lets the engine close out join state exactly as production
    * would. Timestamps go out as epoch µs.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    // 4 state partitions, not runToMemory's default 8: a stream-stream
    // join commits FOUR state stores per partition per micro-batch
    // (keyToNumValues / keyWithIndexToValue on each side) — the only
    // double-stateful operator in the battery — and the per-partition
    // commit constant dominates at gate scale (8→4 ≈ 3.4s→2.6s
    // measured; flat below 4). State volume is micro-batch-bounded
    // here; a production deployment sizes the partition count to state
    // volume instead.
    val res = Streaming.runToMemory(
      Streaming.purchasesWithRecentClicks(
        Streaming.eventStream(spark, stagedEvents(spark, dir))),
      name = "q95_stream_stream_join_mem",
      mode = OutputMode.Append,
      extraConfs = Map("spark.sql.shuffle.partitions" -> "4"))
    res.select(col("p_id"), col("user_id"),
      unix_micros(col("p_ts")).as("p_us"),
      col("c_id"), unix_micros(col("c_ts")).as("c_us"))
  }

  /** q164 — STREAMING VERSIONED LAKE PUBLISH: a bounded event stream
    * (3 staged files, one micro-batch each under `maxFilesPerTrigger=1`,
    * file order pinned by strictly increasing modification times)
    * commits one [[graft.sources.Snapshots]] APPEND per non-empty
    * micro-batch — the Delta/Iceberg streaming-sink semantics on the
    * manifest store: every batch is an atomic, time-travelable commit.
    * The gate then time-travels to EVERY version and reports its
    * cumulative aggregates: version v must hold exactly batches 1..v
    * (splits event_id % 3 < v), so a lost batch, an out-of-order
    * commit, or a version leaking later files each break a distinct
    * row. Integer-only columns (the float-gate rule).
    */
  def streamVersionedPublish(spark: SparkSession, dir: String): DataFrame = {
    val root = staged(spark, dir, "vpub_gate") { o =>
      val src = graft.sources.Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val stream = stagedBatchStream(spark, o,
        (0 to 2).map(i => src.filter(pmod(col("event_id"), lit(3)) === i)))
      Streaming.runForeachBatchSnapshotAppend(stream, s"$o/snap")
      s"$o/snap"
    }
    def row(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .select(lit(v).as("version"), col("n_events"), col("n_users"),
          col("min_id"), col("max_id"))
    row(1).unionByName(row(2)).unionByName(row(3))
  }

  /** q177 — STREAMING UPSERT into the snapshot store (the CDC-apply /
    * streaming-MERGE-INTO shape): three staged batches under
    * `maxFilesPerTrigger=1` — the full base table, then an update
    * slice (doc_id % 4 = 0, n_chars + 100), then another (doc_id % 6
    * = 0, n_chars + 200, derived from BASE so a % 12 key's final value
    * proves last-writer-wins replaced rather than accumulated). Batch
    * 1 creates the table; batches 2-3 each commit ONE atomic merge
    * version. The gate time-travels to all three versions: row count
    * is CONSTANT (pure upserts — a dropped tombstone would inflate
    * it), and each version's sum carries exactly its prefix of update
    * deltas. DuckDB recomputes every version from the base table.
    */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = staged(spark, dir, "upsert_gate") { o =>
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val stream = stagedBatchStream(spark, o, Seq(
        docs,
        docs.filter(pmod(col("doc_id"), lit(4)) === 0)
          .withColumn("n_chars", col("n_chars") + 100),
        docs.filter(pmod(col("doc_id"), lit(6)) === 0)
          .withColumn("n_chars", col("n_chars") + 200)))
      Streaming.runForeachBatchSnapshotUpsert(stream, s"$o/snap", "doc_id")
      s"$o/snap"
    }
    def row(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
          col("min_id"), col("max_id"))
    row(1).unionByName(row(2)).unionByName(row(3))
  }

  /** The streaming WRITE path under the gate: the same windowed
    * aggregation as q66, published to parquet per micro-batch through
    * `foreachBatch` with an idempotent full-overwrite — the standard
    * "stream a dashboard table into the lake" pattern (Complete-mode
    * aggregates can't use the append-only native file sink). After the
    * bounded stream drains, the gate READS THE WRITTEN FILES and lets
    * the driver hash-compare them against q66's batch oracle, so a
    * lost micro-batch, a partial overwrite, or a mangled file breaks
    * the match. Output dir staged per (session, source dir) like q81's.
    */
  // the OUTPUT DIRECTORY is staged per (session, source dir); THIS stream
  // re-runs on every invocation, and re-running into the same path is
  // exactly the idempotent-replay story: the overwrite leaves the same
  // final state. Scope note (r19 review — the old comment overclaimed
  // "streaming entries are never memoized"): the lakehouse-lifecycle
  // gates q164/q177/q191/q197 DO memoize their stream execution per
  // (session, dir) — their correctness gate is the written/derived state,
  // and replaying a publish pipeline per bench run would re-commit
  // snapshots into the shared store. Streaming OPERATOR cost is priced
  // by the non-memoized entries (q95/q101/q107/q117/q118/q66/q73/q91/
  // q94/q125); the memoized four price their read-back surface.
  def streamSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = stagedDir(spark, dir, "stream_sink")(_ => ())
    val res = Streaming.windowedCounts(Streaming.eventStream(spark, stagedEvents(spark, dir)))
      .select(
        col("window_start").cast("long").as("window_start_epoch"),
        col("window_end").cast("long").as("window_end_epoch"),
        col("event_type"), col("n"), col("total_value"))
    Streaming.runForeachBatchOverwrite(res, s"$out/windows", OutputMode.Complete)
    spark.read.parquet(s"$out/windows")
  }

  /** Streaming incremental dedup — the streaming twin of q96: the new
    * batch arrives as a STREAM and dedups in flight against the same
    * history artifacts (the broadcast-style bloom rides to executors
    * inside the codegen'd probe; the confirm is a stream-static left
    * join on the 128-bit hash, stateless on the stream side). The
    * ingest-time shape of "drop what the 100 TB history already has"
    * — no stream state accumulates, so the watermark machinery isn't
    * needed. The gate aggregates the memory-sink rows per source and
    * DuckDB recomputes the truth by canonical-text semi-join.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val history = graft.sources.Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // schema FROM the staged frame, not a hand-built copy (r19 review,
    // the q164/q177 stagedBatchStream rule): a re-encoded or renamed
    // documents column would adapt in the batch loader while a
    // hardcoded StructType silently read nulls or threw — q107 would
    // break while its batch twin q96 kept passing
    val batchStream = spark.readStream
      .schema(spark.read.parquet(stagedDocs(spark, dir)).schema)
      .option("maxFilesPerTrigger", "1").parquet(stagedDocs(spark, dir))
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val ann = graft.operators.IncrementalDedup.annotateAgainst(
        batchStream, history, CurationQ.historyBloom(spark, dir))
      .select(col("doc_id"), col("source"), col("bloom_hit"), col("is_dup"))
    val res = Streaming.runToMemory(ann,
      name = "q107_stream_incremental_dedup_mem",
      mode = OutputMode.Append,
      skipNoDataBatch = true)
    res.groupBy(col("source"))
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_new"),
        (sum(when(col("is_dup") && !col("bloom_hit"), 1L).otherwise(0L)) === 0L)
          .as("no_false_negatives"))
  }

  /** q117 — streaming windowed APPROXIMATE distinct users: the HLL
    * state rides inside the streaming aggregation (per-window per-key
    * sketches merge across micro-batches like counts), so distinct
    * stays bounded-state where exact would hold every id. The gate
    * emits the estimate's error bound as a boolean per row (the q63
    * pattern) beside the exact per-window count DuckDB computes.
    */
  def streamWindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val res = Streaming.runToMemory(
      Streaming.windowedDistinctUsers(Streaming.eventStream(spark, stagedEvents(spark, dir))),
      name = "q117_stream_windowed_distinct_mem",
      mode = OutputMode.Complete,
      skipNoDataBatch = true)
    // truth leg: exact per-window distinct from a BATCH read of the
    // same staged file — the stream can't afford exact distinct (the
    // sketch exists precisely because of that), so the gate verifies
    // the streaming sketch against batch truth
    // FLOOR end-to-end in integer arithmetic (r17 review): `div`
    // truncates toward zero, so a pre-1970 ts_ns bucketed one window
    // late vs the stream's window() and the oracle's `//` — the
    // deriveEventTs pmod-floor discipline applies to both steps
    val exact = graft.sources.Tables.events(spark, stagedEvents(spark, dir))
      .groupBy(
        expr("""(ts_ns - pmod(ts_ns, 1000000000)) div 1000000000
               | - pmod((ts_ns - pmod(ts_ns, 1000000000)) div 1000000000,
               |        300)""".stripMargin.replace("\n", " "))
          .cast("long").as("window_start_epoch"),
        col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    res.select(col("window_start").cast("long").as("window_start_epoch"),
        col("event_type"), col("n"), col("approx_users"))
      // LEFT join from the stream side (r17 review): an inner join
      // silently DROPPED a ghost window emitted by the streaming agg
      // (the extra-emission failure mode this gate exists to police);
      // a ghost now surfaces with NULL exact_users and hash-fails
      .join(exact, Seq("window_start_epoch", "event_type"), "left")
      .select(col("window_start_epoch"), col("event_type"), col("n"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(2.0), col("exact_users") * 0.05)).as("approx_within_5pct"))
  }

  /** q118 — SLIDING windows under the gate (10-min length, 5-min
    * slide): every event lands in exactly two overlapping windows, so
    * the oracle unnests the two aligned starts per event and groups —
    * overlap handling is what distinguishes this from q66's tumbling
    * path, and a slide-assignment bug doubles or drops rows.
    */
  def streamSlidingRates(spark: SparkSession, dir: String): DataFrame = {
    val res = Streaming.runToMemory(
      Streaming.slidingRates(Streaming.eventStream(spark, stagedEvents(spark, dir))),
      name = "q118_stream_sliding_rates_mem",
      mode = OutputMode.Complete,
      skipNoDataBatch = true)
    res.select(
      col("window_start").cast("long").as("window_start_epoch"),
      col("event_type"), col("n"))
  }

  /** q125 — the Spark 4.x `transformWithState` API under the gate: a
    * per-user running-mean exceedance monitor
    * ([[Streaming.RunningMeanProcessor]]) with RocksDB-backed typed
    * ValueState (transformWithState requires the RocksDB provider —
    * multiple column families; set for this query only and restored).
    * Order-sensitive BY DESIGN — the fold visits events in (ts,
    * event_id) order, pinned by an explicit in-batch sort — and every
    * comparison is exact-integer (cents·n > sum, cross-multiplied), so
    * the streaming fold must reproduce DuckDB's window recompute
    * bit-for-bit.
    */
  def streamRunningMean(spark: SparkSession, dir: String): DataFrame =
    Streaming.runToMemory(
      Streaming.runningMeanExceedance(
        Streaming.eventStream(spark, stagedEvents(spark, dir))).toDF(),
      name = "q125_stream_running_mean_mem",
      mode = OutputMode.Append,
      skipNoDataBatch = true,
      extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  /** q191 — STREAMING CDC TAIL ([[Streaming.tailChanges]]): the
    * consumption side of the change feed as a REAL Structured
    * Streaming query — the table's manifest log is the file stream,
    * each discovered commit resolves to its typed CDC rows, and a
    * downstream view (per-source n/sum rollup) is incrementally
    * maintained with the q184 self-maintainability algebra. The gate
    * stages a full history (append, merge, compaction, equality
    * delete, append), tails it, then COMMITS MORE AND RESTARTS the
    * tail on the same durable checkpoint — the maintained view must
    * equal DuckDB's replay of the final state, the first run must
    * have seen exactly the 4 data-changing commits (compaction is
    * invisible to the feed), and the resumed run exactly the 1 new
    * one (a replayed commit would double-apply and break sum_chars;
    * a skipped one would lose the v6 delta).
    */
  def streamCdcTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (view, firstRun, resumedRun) = staged(spark, dir, "cdc_tail_gate") { o =>
      // the table and the tail's checkpoint share the staged directory
      val (root, ck) = (s"$o/table", s"$o/ck")
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val S = graft.sources.Snapshots
      S.append(docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .repartition(2, col("doc_id")), root)                          // v1
      val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
      val inserts = docs.filter(pmod(col("doc_id"), lit(11)) === 5)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("n_chars", col("n_chars") + 700)
      S.merge(spark, root, "doc_id",
        updates.unionByName(inserts).repartition(1))                   // v2
      S.compact(spark, root, targetFiles = 2)                          // v3
      S.deleteWhere(spark, root, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select(col("doc_id")))                                      // v4
      S.append(docs.filter(pmod(col("doc_id"), lit(7)) === 3)
        .repartition(1), root)                                         // v5
      val (acc, applyChanges) = cdcAccumulator()
      val c1 = new java.util.concurrent.atomic.AtomicInteger()
      Streaming.tailChanges(spark, root, ck)(applyChanges(c1))
      // "process death": more commits land, then the tail resumes on
      // the same checkpoint and must replay ONLY the unseen commit
      S.append(docs.filter(pmod(col("doc_id"), lit(13)) === 1)
        .withColumn("n_chars", col("n_chars") + 9).repartition(1), root) // v6
      val c2 = new java.util.concurrent.atomic.AtomicInteger()
      Streaming.tailChanges(spark, root, ck)(applyChanges(c2))
      (acc.toSeq.map { case (s, (n, su)) => (s, n, su) }.sortBy(_._1),
        c1.get(), c2.get())
    }
    view.toDF("source", "n_docs", "sum_chars")
      .withColumn("first_run_commits", lit(firstRun))
      .withColumn("resumed_run_commits", lit(resumedRun))
  }

  /** q197 — BRANCH-AWARE CDC TAIL ([[Streaming.tailChanges]] on a
    * BRANCHED table, r11): once refs exist the commit log is the ref
    * chain `_refs/main/<seq>.ref`, so the tail streams ref files —
    * dense seqs, orphan-free, other branches' version numbers never in
    * the stream. The gate runs the full WAP choreography around the
    * feed: a fast-forwarded audit commit arrives as an ordinary feed
    * entry, a merge on main lands typed update/insert rows, a
    * compaction advances the ref but is skipped (no apply), a NOISE
    * branch commits concurrently and must never surface, and the tail
    * restarts on its durable checkpoint to replay exactly the one
    * unseen main commit. The maintained per-source view must equal
    * DuckDB's replay of main's final state; the commit counters pin
    * exactly-once across the restart and branch isolation (a leaked
    * noise commit, a double-applied replay, or an applied rewrite each
    * break a pinned cell).
    */
  def branchCdcTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (view, firstRun, resumedRun) = staged(spark, dir, "branch_tail_gate") { o =>
      // the table and the tail's checkpoint share the staged directory
      val (root, ck) = (s"$o/table", s"$o/ck")
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val S = graft.sources.Snapshots
      S.append(docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .repartition(2, col("doc_id")), root)                          // v1 main
      S.createBranch(root, "audit")
      // TWO audit commits before the publish: the fast-forward then
      // advances main's ref by one seq naming a version two commits
      // past the old head, and the tail must replay the whole (v1, v3]
      // window — a tail that applies only the named head's own delta
      // silently loses v2 (the r11 review finding, now gated)
      S.appendTo(docs.filter(pmod(col("doc_id"), lit(3)) === 1)
        .repartition(1), root, "audit")                                // v2 audit
      S.appendTo(docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        .filter(col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") + 40)
        .repartition(1), root, "audit")                                // v3 audit
      S.fastForward(root, "main", "audit")                             // main→v3
      // merge ON MAIN: %9 keys (⊂ the v1 slice) update +500, shifted
      // %7 keys insert +300 — typed update pairs + inserts in the feed
      S.merge(spark, root, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(9)) === 0)
          .withColumn("n_chars", col("n_chars") + 500)
          .unionByName(docs.filter(pmod(col("doc_id"), lit(7)) === 2)
            .withColumn("doc_id", col("doc_id") + 3000000L)
            .withColumn("n_chars", col("n_chars") + 300))
          .repartition(1))                                             // v4 main
      val (acc, applyChanges) = cdcAccumulator()
      val c1 = new java.util.concurrent.atomic.AtomicInteger()
      Streaming.tailChanges(spark, root, ck)(applyChanges(c1))
      // between runs: a rewrite on main (ref advances, feed skips), a
      // NOISE branch commit (never in main's ref chain), one real
      // main append
      S.compact(spark, root, targetFiles = 2)                          // v5 main
      S.createBranch(root, "noise")
      S.appendTo(docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .repartition(1), root, "noise")                                // v6 noise
      S.append(docs.filter(pmod(col("doc_id"), lit(5)) === 1)
        .withColumn("n_chars", col("n_chars") + 9)
        .repartition(1), root)                                         // v7 main
      val c2 = new java.util.concurrent.atomic.AtomicInteger()
      Streaming.tailChanges(spark, root, ck)(applyChanges(c2))
      (acc.toSeq.map { case (s, (n, su)) => (s, n, su) }.sortBy(_._1),
        c1.get(), c2.get())
    }
    view.toDF("source", "n_docs", "sum_chars")
      .withColumn("first_run_commits", lit(firstRun))
      .withColumn("resumed_run_commits", lit(resumedRun))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_branch_cdc_tail" -> (branchCdcTail _),
    "q191_stream_cdc_tail" -> (streamCdcTail _),
    "q125_stream_running_mean" -> (streamRunningMean _),
    "q118_stream_sliding_rates" -> (streamSlidingRates _),
    "q117_stream_windowed_distinct" -> (streamWindowedDistinct _),
    "q107_stream_incremental_dedup" -> (streamIncrementalDedup _),
    "q101_stream_sink_roundtrip" -> (streamSinkRoundtrip _),
    "q66_stream_windowed_counts" -> (streamWindowedCounts _),
    "q73_stream_dedup" -> (streamDedup _),
    "q91_stream_sessions" -> (streamSessions _),
    "q94_stream_static_join" -> (streamStaticJoin _),
    "q95_stream_stream_join" -> (streamStreamJoin _),
    "q164_stream_versioned_publish" -> (streamVersionedPublish _),
    "q177_stream_upsert" -> (streamUpsert _))

  val oracles: Map[String, String] = Map(
    // replay of MAIN's final state: the %3=0 base with its %9 keys
    // updated +500, BOTH fast-forwarded audit slices (the publish
    // advances one seq across a 2-commit window — a tail applying only
    // the named head's own delta loses the %3=1 slice), the merge
    // inserts and the resumed-run append; the noise branch's %2=0
    // slice is absent by construction. Counters: first run = v1 + the
    // two published audit commits + the merge (4 applies), resumed =
    // the one unseen main append (compaction skipped, noise invisible)
    "q197_branch_cdc_tail" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |final AS (
        |  SELECT source, n_chars AS nc FROM d
        |  WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0
        |  UNION ALL SELECT source, n_chars + 500 FROM d WHERE doc_id % 9 = 0
        |  UNION ALL SELECT source, n_chars FROM d WHERE doc_id % 3 = 1
        |  UNION ALL SELECT source, n_chars + 40 FROM d
        |  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
        |  UNION ALL SELECT source, n_chars + 300 FROM d WHERE doc_id % 7 = 2
        |  UNION ALL SELECT source, n_chars + 9 FROM d WHERE doc_id % 5 = 1)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  4 AS first_run_commits, 1 AS resumed_run_commits
        |FROM final GROUP BY source""".stripMargin,
    // replay of the final table state (v1 survivors with their v2
    // updates, minus the v4 deletes, plus the merge inserts and both
    // appended slices), grouped by source; the commit counters pin
    // feed exactly-once across the restart
    "q191_stream_cdc_tail" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |final AS (
        |  SELECT source,
        |    n_chars + CASE WHEN doc_id % 10 = 0 THEN 1000 ELSE 0 END AS nc
        |  FROM d WHERE doc_id % 2 = 0 AND doc_id % 20 <> 0
        |  UNION ALL SELECT source, n_chars + 700 FROM d WHERE doc_id % 11 = 5
        |  UNION ALL SELECT source, n_chars FROM d WHERE doc_id % 7 = 3
        |  UNION ALL SELECT source, n_chars + 9 FROM d WHERE doc_id % 13 = 1)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS sum_chars,
        |  4 AS first_run_commits, 1 AS resumed_run_commits
        |FROM final GROUP BY source""".stripMargin,
    // version v = the cumulative union of the first v micro-batches
    // (splits event_id % 3 < v) — a lost batch, an out-of-order
    // commit, or a leaked later file each break a distinct row
    // constant row count across versions (pure upserts), per-version
    // sums carrying exactly the prefix of update deltas; the v3 CASE
    // order states last-writer-wins (a %12 key gets +200, never +300)
    "q177_stream_upsert" ->
      """SELECT 1 AS version, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(n_chars +
        |    CASE WHEN doc_id % 4 = 0 THEN 100 ELSE 0 END) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents
        |UNION ALL
        |SELECT 3, count(*),
        |  CAST(sum(n_chars + CASE WHEN doc_id % 6 = 0 THEN 200
        |    WHEN doc_id % 4 = 0 THEN 100 ELSE 0 END) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents""".stripMargin,
    "q164_stream_versioned_publish" ->
      """SELECT 1 AS version, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_id % 3 < 1
        |UNION ALL
        |SELECT 2, count(*), count(DISTINCT user_id), min(event_id), max(event_id)
        |FROM events WHERE event_id % 3 < 2
        |UNION ALL
        |SELECT 3, count(*), count(DISTINCT user_id), min(event_id), max(event_id)
        |FROM events""".stripMargin,
    "q125_stream_running_mean" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT user_id, cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) - 1 AS k,
        |    coalesce(sum(cents) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN cents * k > prior THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above_running_mean
        |FROM w GROUP BY user_id""".stripMargin,
    // each event belongs to windows starting at the two 5-min-aligned
    // points in (ts - 10min, ts]
    "q118_stream_sliding_rates" ->
      """WITH w AS (
        |  SELECT event_type,
        |    unnest([epoch_us(ts) // 300000000 * 300,
        |            epoch_us(ts) // 300000000 * 300 - 300]) AS window_start_epoch
        |  FROM events)
        |SELECT CAST(window_start_epoch AS BIGINT) AS window_start_epoch,
        |  event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin,
    "q117_stream_windowed_distinct" ->
      """SELECT
        |  CAST(epoch_us(ts) // 300000000 * 300 AS BIGINT) AS window_start_epoch,
        |  event_type, count(*) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS approx_within_5pct
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q107_stream_incremental_dedup" ->
      """WITH h AS (
        |  SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS ct
        |  FROM documents WHERE doc_id % 10 <> 0),
        |b AS (
        |  SELECT source, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS ct
        |  FROM documents WHERE doc_id % 10 = 0),
        |m AS (SELECT b.source,
        |        CASE WHEN EXISTS (SELECT 1 FROM h WHERE h.ct = b.ct)
        |             THEN 1 ELSE 0 END AS dup
        |      FROM b)
        |SELECT source, count(*) AS n_batch,
        |  CAST(sum(dup) AS BIGINT) AS n_dup,
        |  CAST(sum(1 - dup) AS BIGINT) AS n_new,
        |  TRUE AS no_false_negatives
        |FROM m GROUP BY source""".stripMargin,
    // the files the foreachBatch sink wrote must reproduce q66's batch
    // truth — same tumbling-window SQL
    "q101_stream_sink_roundtrip" ->
      """SELECT
        |  CAST(epoch_us(ts) // 300000000 * 300 AS BIGINT) AS window_start_epoch,
        |  CAST(epoch_us(ts) // 300000000 * 300 + 300 AS BIGINT) AS window_end_epoch,
        |  event_type, count(*) AS n, round(sum("value"), 2) AS total_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q73_stream_dedup" ->
      """WITH u AS (SELECT DISTINCT user_id, event_type, "value" FROM events)
        |SELECT user_id, count(*) AS n_unique,
        |  round(sum("value"), 2) AS unique_value_sum
        |FROM u GROUP BY user_id""".stripMargin,
    "q66_stream_windowed_counts" ->
      """SELECT
        |  CAST(epoch_us(ts) // 300000000 * 300 AS BIGINT) AS window_start_epoch,
        |  CAST(epoch_us(ts) // 300000000 * 300 + 300 AS BIGINT) AS window_end_epoch,
        |  event_type, count(*) AS n, round(sum("value"), 2) AS total_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q94_stream_static_join" ->
      """SELECT
        |  CAST(epoch_us(ts) // 300000000 * 300 AS BIGINT) AS window_start_epoch,
        |  CAST(epoch_us(ts) // 300000000 * 300 + 300 AS BIGINT) AS window_end_epoch,
        |  c_mktsegment AS segment, count(*) AS n, round(sum("value"), 2) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q95_stream_stream_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us, "value"
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
        |           FROM events WHERE event_type = 'click')
        |SELECT p.p_id, p.user_id, p.p_us, c.c_id, c.c_us
        |FROM p JOIN c ON p.user_id = c.c_user
        | AND c.c_us >= p.p_us - 3600000000 AND c.c_us <= p.p_us""".stripMargin,
    // streaming emission restated: µs gaps (NOT the batch q34 second
    // floors), sessions closed in-batch ∪ final sessions whose
    // ms-floored timeout is strictly below the ms-floored watermark
    "q91_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, "value" FROM events),
        |wm AS (
        |  -- truncating us->ms like the engine's Long /1000 (r17): `//`
        |  -- floors, which is 1 ms earlier on negative pre-1970 values;
        |  -- subtracting the C-style remainder first makes the dividend
        |  -- an exact multiple, so `//` then equals truncation
        |  SELECT (max(us) - (max(us) % 1000)) // 1000 - 600000 AS wm_ms FROM e),
        |g AS (
        |  SELECT user_id, event_id, us, "value",
        |    CASE WHEN us - lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
        |sid AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g),
        |s AS (
        |  SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us,
        |    count(*) AS n_events, round(sum("value"), 2) AS total_value
        |  FROM sid GROUP BY user_id, session_id),
        |f AS (
        |  SELECT s.*, max(session_id) OVER (PARTITION BY user_id) AS last_sid FROM s)
        |SELECT user_id, start_us, end_us, n_events, total_value
        |FROM f, wm
        |WHERE session_id < last_sid
        |   OR ((end_us + 1800000000)
        |       - ((end_us + 1800000000) % 1000)) // 1000 < wm_ms""".stripMargin)
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.functions.TextFunctions
import graft.sources.{Sinks, Tables}
import graft.sources.ArtifactStore.{staged, stagedDir}

/** The write paths and the lakehouse under the oracle hash gate.
  * Every other gate entry reads the generated input parquet; these
  * read back what the engine itself WROTE:
  *   - format sinks and layouts: partitioned parquet (q81), bucketed
  *     tables (q99), JSONL/CSV/ORC text fidelity (q109/q110/q151) and
  *     mergeSchema evolution (q111);
  *   - the [[graft.sources.Snapshots]] store: time travel, compaction,
  *     expiration, stats/bloom/partition/manifest pruning, schema and
  *     partition-spec evolution, every DML verb with its checked and
  *     concurrent forms, CDC, metadata tables, branches, tags and
  *     retention (q126–q224).
  * Each gate stages its store once per (session, input dir) through
  * [[graft.sources.ArtifactStore.staged]] and reads it on every call;
  * DuckDB recomputes the same answer from the source tables, and the
  * engine's own invariants (file, segment and version counts,
  * refusals) are stated literally in the oracle.
  */
object SinkQ {

  /** The content aggregate the snapshot gates report: a row count
    * named `n`, the n_chars sum and, with `range`, the doc_id extremes
    * — grouped by `by`, or one global row.
    */
  private def content(n: String = "n_docs", range: Boolean = true,
      by: Seq[Column] = Nil)(df: DataFrame): DataFrame = {
    val cols = Seq(count(lit(1)).as(n), sum(col("n_chars")).as("sum_chars")) ++
      (if (range) Seq(min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id")) else Nil)
    df.groupBy(by: _*).agg(cols.head, cols.tail: _*)
  }

  /** q81 — project the documents table, write it hive-partitioned by
    * `source` through [[Sinks.parquet]], re-read the written tree with
    * a partition filter (pruned to one directory — SinksSpec asserts
    * the PartitionFilters plan shape), and aggregate. The oracle
    * computes the same aggregate straight from the source table, so a
    * corrupted write (lost rows, mangled values, broken partition
    * layout) breaks the hash match.
    */
  def writeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = stagedDir(spark, dir, "sink_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
      Sinks.parquet(docs, o, partitionBy = Seq("source"))
    }
    spark.read.parquet(out)
      .filter(col("source") === "src1")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** The bucketed-layout write path: both join sides pre-hashed into
    * the same bucket layout at WRITE time, so every later equi-join on
    * the bucket key runs with zero shuffle exchanges — the primitive
    * that amortizes one shuffle across every downstream join of a
    * 100 TB fact table. Staged once per (session, source dir) as external
    * bucketed tables in a temp warehouse path; the gate joins them and
    * aggregates, so a broken bucket layout (rows routed to the wrong
    * bucket drop out of the zero-exchange join) breaks the hash match.
    * PlanContractSpec asserts the no-Exchange plan shape; the oracle
    * computes the same aggregate from a plain join.
    */
  // the catalog registration is session-local, which the (session,
  // dir) memo key matches; the collision-free counter (not
  // dir.hashCode) names the tables
  private val bucketSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val suffix = staged(spark, dir, "bucket_gate") { o =>
      val sfx = s"g${bucketSeq.incrementAndGet()}"
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$o/orders_b").mode("overwrite")
        .saveAsTable(s"orders_b_$sfx")
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$o/lineitem_b").mode("overwrite")
        .saveAsTable(s"lineitem_b_$sfx")
      sfx
    }
    spark.table(s"orders_b_$suffix")
      .join(spark.table(s"lineitem_b_$suffix"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("o_orderkey")).as("min_orderkey"),
        max(col("o_orderkey")).as("max_orderkey"))
  }

  /** q109/q110 — the non-parquet source/sink formats, each carrying
    * the FULL document text (newlines, quotes, unicode) through a
    * write-then-reread so escaping fidelity is what's gated: a sink
    * that mangles one hostile character changes a raw-text md5
    * downstream and breaks the match against the oracle's direct read
    * of the original table. JSONL is schema-on-read with an explicit
    * StructType; CSV needs header+escape+multiLine (embedded newlines
    * split records without it). Trees staged once per (session, dir).
    */
  private def roundtripAgg(df: DataFrame): DataFrame =
    // RAW-text md5 (not canonicalText): whitespace normalization would
    // wash out exactly the newline/tab mangling this gate exists for
    df.select(col("doc_id"), col("source"), md5(col("text")).as("ch"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("ch")).as("n_distinct_texts"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  /** the (doc_id, text, source) projection both roundtrips carry. */
  private val roundtripSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
  }

  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = stagedDir(spark, dir, "jsonl_gate") { o =>
      Sinks.json(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source")), s"$o/docs")
    }
    roundtripAgg(spark.read.schema(roundtripSchema).json(s"$out/docs"))
  }

  /** q151 — ORC write→reread fidelity: the q109/q110 roundtrip for
    * Spark's OTHER built-in columnar format, raw-text md5 legs and
    * all. Columnar formats carry strings as length-prefixed bytes so
    * this should be trivially faithful — which is exactly why it's
    * gated: a quiet charset or null-handling regression in either
    * direction flips a distinct-md5 count.
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = stagedDir(spark, dir, "orc_gate") { o =>
      Sinks.orc(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source")), s"$o/docs")
    }
    roundtripAgg(spark.read.schema(roundtripSchema).orc(s"$out/docs"))
  }

  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = stagedDir(spark, dir, "csv_gate") { o =>
      Sinks.csv(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source")), s"$o/docs")
    }
    // nullValue sentinel: the writer distinguishes null (bare empty
    // field) from empty string (quoted "") — without remapping
    // nullValue away from "", the reader folds BOTH to null and an
    // empty-text doc changes its md5 leg (CsvFidelitySpec pins this)
    roundtripAgg(spark.read.schema(roundtripSchema)
      .option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .option("nullValue", "\u0000")
      .csv(s"$out/docs"))
  }

  /** q111 — schema evolution on read: two parquet batches written with
    * DIFFERENT schemas (an early crawl without `lang`, a later one
    * with it — the drift every long-lived corpus accumulates), read
    * back as one table under `mergeSchema`; the missing column
    * null-fills. The oracle recomputes the same aggregate from the
    * original table with the batch split as a CASE — so a mergeSchema
    * regression (dropped column, misaligned fill) breaks the match.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = stagedDir(spark, dir, "evo_gate") { o =>
      val docs = Tables.documents(spark, dir)
      docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"), col("source"))
        .write.mode("overwrite").parquet(s"$o/docs/batch=0")
      docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"), col("source"), col("lang"))
        .write.mode("overwrite").parquet(s"$o/docs/batch=1")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$out/docs")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("lang")).as("n_with_lang"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_legacy"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** q126 — snapshot versioning / time travel
    * ([[graft.sources.Snapshots]]): v1 commits the `doc_id % 3 != 0`
    * slice, v2 APPENDS the rest (reusing v1's files via the manifest —
    * nothing rewritten), then the gate reads BOTH versions while v2
    * exists and reports per-version aggregates. A time-travel bug has
    * nowhere to hide: v1 leaking v2's files breaks the v1 row, v2
    * missing v1's carried-over files breaks the v2 row. Oracle is the
    * same CASE split over the base table.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "snap_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0), o)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), o)
    }
    def agg(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .transform(content())
        .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
          col("min_id"), col("max_id"))
    agg(1).unionByName(agg(2))
  }

  /** q214 — TIMESTAMP time travel (Iceberg `FOR SYSTEM_TIME AS OF` /
    * Delta `timestampAsOf`; [[graft.sources.Snapshots.versionAsOf]]):
    * three appends (doc_id % 3 slices), then four resolution legs —
    * each commit's own stamp must resolve to exactly that commit
    * (commit stamps are strictly monotone along a lineage, the
    * property the engine enforces at commit time), and a far-future
    * timestamp resolves to the head. Wall time itself is
    * non-deterministic, so the gate surface is the RESOLVED version +
    * its content count (both deterministic) — the q51 engine-measured-
    * invariant convention; a pre-history timestamp must REFUSE
    * (returning the oldest snapshot would silently misdate it), and
    * that refusal is the gate's boolean.
    */
  def timestampTravel(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "ts_travel_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      (0 to 2).foreach(i => S.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === i), o))
    }
    val legs = (1 to 3).map { v =>
      (s"${v}_at_commit_ts", S.versionAsOf(root, S.commitTimeOf(root, v)))
    } :+ (("4_beyond_head", S.versionAsOf(root, Long.MaxValue)))
    val refused =
      try { S.versionAsOf(root, S.commitTimeOf(root, 1) - 1); false }
      catch { case _: IllegalArgumentException => true }
    legs.map { case (leg, rv) =>
      S.read(spark, root, rv).agg(count(lit(1)).as("n_docs"))
        .select(lit(leg).as("leg"), lit(rv).as("resolved_version"),
          col("n_docs"), lit(refused).as("pre_history_refused"))
    }.reduce(_.unionByName(_))
  }

  /** q216 — METADATA-ONLY manifest rewrite
    * ([[graft.sources.Snapshots.compactManifests]] — Iceberg's
    * `rewrite_manifests`): six appends + one MoR delete accumulate a
    * 7-pointer head list; the rewrite packs it to ONE segment with
    * ZERO data I/O. Three legs prove the contract: pre-rewrite state
    * (7 segments / 6 files), post-rewrite (1 segment, SAME 6 files —
    * an engine boolean pins file-set identity, and the delete line
    * rode through verbatim so the MoR subtraction still applies),
    * and time travel back to the pre-rewrite version (its own list
    * untouched). `n_cdc_rows` = the change feed across the rewrite
    * commit — 0, because it publishes `rewrite=true` (Delta's
    * dataChange=false) and CDC readers skip it. Segment/file counts
    * and the CDC zero are engine-defined invariants the oracle states
    * literally (the q210/q158 pattern); content aggregates are
    * recomputed by DuckDB under the same `% 17` delete split.
    */
  def manifestRewrite(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "manifest_rewrite_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      (0 to 5).foreach(i => S.append(
        docs.filter(pmod(col("doc_id"), lit(6)) === i).coalesce(1), o))
      S.deleteWhere(spark, o, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(17)) === 0).select(col("doc_id")))
      S.compactManifests(o)
    }
    val (vPre, vPost) = (S.latestVersion(root) - 1, S.latestVersion(root))
    val filesSame = S.files(root, vPre) == S.files(root, vPost)
    // a rewrite-ONLY window is refused outright ("no data-changing
    // commits" — the stronger contract); span the delete + rewrite
    // commits instead: the feed must carry exactly the delete's rows
    // and NOTHING from the rewrite
    val nCdc = S.changesBetween(spark, root, vPre - 1, vPost).count()
    def leg(name: String, v: Int): DataFrame =
      S.read(spark, root, v)
        .transform(content(range = false))
        .select(lit(name).as("leg"),
          lit(S.manifestsTable(spark, root, v).count()).as("n_segments"),
          lit(S.files(root, v).size).as("n_files"),
          col("n_docs"), col("sum_chars"))
    leg("1_pre_rewrite", vPre)
      .unionByName(leg("2_post_rewrite", vPost))
      .unionByName(leg("3_time_travel_pre", vPre))
      .withColumn("files_identical", lit(filesSame))
      .withColumn("n_cdc_rows", lit(nCdc))
  }

  /** The ONE spelling of the q218/q221 gate (r15 review: the two were
    * near-verbatim copies): append the eight contiguous doc_id eighths
    * in `ingestOrder`, rewrite at `targetLines = 2` (optionally
    * clustered), then run the four pruning legs metering
    * [[graft.sources.Snapshots.segmentReads]]. The two gates differ
    * ONLY in ingest order and the clusterBy arg — which is exactly the
    * claim: clustering restores the ordered ingest's geometry on a
    * shuffled one.
    */
  private def manifestPruneLegs(spark: SparkSession, dir: String,
      name: String, ingestOrder: Seq[Int],
      clusterBy: Option[String], distributed: Boolean = false): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, name) { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      val span = mx - mn + 1
      ingestOrder.foreach { i =>
        val lo = mn + span * i / 8
        val hi = mn + span * (i + 1) / 8 // exclusive
        S.append(docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1), o)
      }
      if (distributed)
        // threshold 0 forces the Spark-job path at any body size
        S.rewriteManifests(spark, o, targetLines = 2,
          clusterBy = clusterBy, maxDriverSortLines = 0L)
      else
        S.compactManifests(o, targetLines = 2, clusterBy = clusterBy)
    }
    val v = S.latestVersion(root)
    // the rewrite is metadata-only: same files, packed 8 → 4 segments.
    // ORDERED equality for the plain rewrite (entries ride verbatim —
    // the r14 q216 strength, kept by the shared helper); clustering
    // deliberately reorders, so q221 pins the SET
    val filesSame =
      if (clusterBy.isEmpty) S.files(root, v) == S.files(root, v - 1)
      else S.files(root, v).toSet == S.files(root, v - 1).toSet
    val stats = S.fileStats(spark, root, v, "doc_id")
    val (mn, mx) = (stats.map(_._2).min, stats.map(_._3).max)
    val span = mx - mn + 1
    val legs = Seq(
      ("1_point", mn, mn),
      ("2_second_half", mn + span * 4 / 8, mx),
      ("3_full", mn, mx),
      ("4_empty", mn - 10, mn - 1)).map { case (name, lo, hi) =>
      // thread-LOCAL delta (r16, ADVICE): resolution runs synchronously
      // on this thread, so a concurrent reader elsewhere in the JVM
      // cannot skew the segments_opened arithmetic
      val s0 = S.segmentReadsHere
      val nScanned = S.prunedFiles(spark, root, v, "doc_id", lo, hi).size
      (name, nScanned, (S.segmentReadsHere - s0).toInt, lo, hi)
    }
    val nSegs = S.manifestsTable(spark, root, v).count().toInt
    legs.map { case (name, nScanned, opened, lo, hi) =>
      S.readPruned(spark, root, v, "doc_id", lo, hi)
        .transform(content(range = false))
        .select(lit(name).as("leg"), lit(nScanned).as("n_files_scanned"),
          lit(opened).as("segments_opened"), col("n_docs"), col("sum_chars"))
    }.reduce(_.unionByName(_))
      .withColumn("n_segments_total", lit(nSegs))
      .withColumn("files_identical", lit(filesSame))
  }

  /** q218 — SIZE-BOUNDED manifest packing preserves pruning (r15; the
    * missing half of q216's contract): a rewrite that packs a
    * multi-commit list into ONE table-spanning segment is metadata-
    * correct but destroys the two-level skip structure q210 exists to
    * protect — the packed pointer's aggregate min/max covers the whole
    * table, so every lookup opens it. [[graft.sources.Snapshots
    * .compactManifests]] now bin-packs at a line target (Iceberg's
    * `rewrite_manifests` target size), keeping packed stats
    * commit-order-local. The gate stages EIGHT appends of contiguous
    * doc_id eighths (an 8-pointer head list), rewrites with
    * `targetLines = 2` → exactly 4 packed segments of 2 entries, then
    * runs four pruning legs AFTER the rewrite metering
    * [[graft.sources.Snapshots.segmentReads]]: a point lookup opens 1
    * of 4 segments and scans 1 file, a half-range opens 2, full scan
    * 4, below-range 0 — invariants the oracle states literally (the
    * q210 pattern), with content aggregates recomputed by DuckDB over
    * the same integer-eighth WHERE ranges so a wrong packed aggregate
    * surfaces as lost rows.
    */
  def packedManifestPruning(spark: SparkSession, dir: String): DataFrame =
    manifestPruneLegs(spark, dir, "packed_prune_gate", 0 until 8, clusterBy = None)

  /** The q218/q221 shared oracle: the eighth-pair leg geometry stated
    * literally, content aggregates over the same integer-eighth WHERE
    * ranges (see [[manifestPruneLegs]]).
    */
  private val eighthPruneOracle: String =
    """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx,
      |             max(doc_id) - min(doc_id) + 1 AS span
      |           FROM documents)
      |SELECT '1_point' AS leg, 1 AS n_files_scanned, 1 AS segments_opened,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  4 AS n_segments_total, TRUE AS files_identical
      |FROM documents WHERE doc_id = (SELECT mn FROM b)
      |UNION ALL
      |SELECT '2_second_half', 4, 2, count(*), CAST(sum(n_chars) AS BIGINT),
      |  4, TRUE
      |FROM documents WHERE doc_id >= (SELECT mn + span * 4 // 8 FROM b)
      |UNION ALL
      |SELECT '3_full', 8, 4, count(*), CAST(sum(n_chars) AS BIGINT), 4, TRUE
      |FROM documents
      |UNION ALL
      |SELECT '4_empty', 0, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
      |  4, TRUE""".stripMargin

  /** q221 — CLUSTERED manifest rewrite (r15; Iceberg
    * `rewrite_manifests` cluster-by, completing q218): commit-order
    * packing keeps segment stats tight only when values correlate
    * with ingest order. Here the eight contiguous doc_id eighths are
    * appended in a SHUFFLED order (0,4,1,5,2,6,3,7 — a backfill's
    * shape), so commit-order pairs would each span half the table and
    * a point lookup would open every segment;
    * `compactManifests(clusterBy = doc_id)` sorts entries by their
    * manifest-recorded min before cutting, restoring the q218
    * geometry exactly: 4 packed segments of adjacent eighths, point
    * lookup opens 1, second half 2, full 4, below-range 0. Engine
    * invariants stated literally; content aggregates recomputed by
    * DuckDB over the same integer-eighth ranges (sound because
    * clustering reorders manifest ENTRIES only — file set, rows, and
    * delete scoping ride through untouched, which files_identical
    * pins).
    */
  def clusteredManifestPruning(spark: SparkSession, dir: String): DataFrame =
    manifestPruneLegs(spark, dir, "clustered_prune_gate",
      Seq(0, 4, 1, 5, 2, 6, 3, 7), clusterBy = Some("doc_id"))

  /** q223 — DISTRIBUTED manifest rewrite (r16; Iceberg runs
    * `rewrite_manifests` as a Spark action for exactly this reason):
    * the r15 driver-side cluster sort holds O(table data files) entry
    * strings in driver memory — GBs at 10⁷ files.
    * [[graft.sources.Snapshots.rewriteManifests]] bounds it: above
    * `maxDriverSortLines` the body resolves on EXECUTORS, the cluster
    * sort becomes a range-shuffle on (group, statMin, position), and
    * each sorted partition cuts and writes its own content-addressed
    * segments — the driver holds only pointer lines. The gate is
    * q221's exact scenario (shuffled-eighth ingest, clusterBy doc_id)
    * with the job path FORCED (threshold 0): identical oracle,
    * identical geometry — 4 packed segments, point lookup opens 1,
    * second half 2, full 4, below-range 0 — proving the distributed
    * sort reproduces the driver sort's body ordering byte-for-byte
    * where it matters (entries, stats, file set).
    */
  def distributedManifestPruning(spark: SparkSession, dir: String): DataFrame =
    manifestPruneLegs(spark, dir, "distributed_prune_gate",
      Seq(0, 4, 1, 5, 2, 6, 3, 7), clusterBy = Some("doc_id"),
      distributed = true)

  /** q224 — CHECKED DELETE (r16;
    * [[graft.sources.Snapshots.deleteChecked]] — closing the checked-
    * DML surface's delete gap): a parent table commits the even
    * doc_ids; an external CHILD frame references the doc_id % 4 == 0
    * subset under a declared
    * [[graft.operators.QualityChecks.InboundRef]]. Deleting the
    * referenced keys would orphan every child row — REFUSED with the
    * check named, staged tombstones deleted, no version minted —
    * while deleting the UNREFERENCED evens (% 4 == 2) publishes
    * normally. The gate reads both versions' live rows and DuckDB
    * recomputes them from the base table under the same modulus
    * arithmetic; versions and the refusal are engine invariants
    * stated literally (the q217/q219 convention).
    */
  def checkedDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityChecks.InboundRef
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "checked_delete_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      val parent = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      S.append(parent, o)
      val child = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id").as("ref_doc_id"))
      val checks = Seq(InboundRef("child_refs_covered", child,
        col("ref_doc_id"), col("doc_id")))
      val refused =
        try {
          S.deleteChecked(spark, o, "doc_id",
            parent.filter(pmod(col("doc_id"), lit(4)) === 0), checks)
          false
        } catch { case e: IllegalStateException =>
          e.getMessage.contains("child_refs_covered") }
      require(refused, "orphaning delete must be refused naming the check")
      S.deleteChecked(spark, o, "doc_id",
        parent.filter(pmod(col("doc_id"), lit(4)) === 2), checks)
    }
    // the refusal minted NOTHING: the clean delete is version 2, not 3
    val noVersionMinted = S.latestVersion(root) == 2
    def leg(name: String, v: Int): DataFrame =
      S.read(spark, root, v).transform(content(range = false))
        .select(lit(name).as("leg"), lit(v).as("version"), col("n_docs"),
          col("sum_chars"),
          lit(noVersionMinted).as("refusal_minted_no_version"))
    leg("1_parent_table", 1).unionByName(leg("2_after_checked_delete", 2))
  }

  /** q217 — CHECKED APPEND (Delta CHECK constraints / expectations
    * with fail-the-write semantics;
    * [[graft.sources.Snapshots.appendChecked]]): three legs — a clean
    * batch commits under declared constraints (unique key, NOT NULL,
    * range); a batch with a planted duplicate key is REFUSED with the
    * staged files deleted and NOTHING published (no version, no
    * manifest, no ref movement — the table still reads as leg 1);
    * a clean retry then commits normally. Versions and refusal are
    * engine invariants the oracle states literally; row counts are
    * recomputed from the same `% 2` split. Validation runs against
    * the WRITTEN bytes (one columnar re-read), so the gate also pins
    * that the staged-write → validate → publish pipeline round-trips.
    */
  def checkedAppend(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityChecks.{RowPredicate, Unique}
    val S = graft.sources.Snapshots
    val checks = Seq(
      Unique("unique_doc_id", col("doc_id")),
      RowPredicate("doc_id_not_null", col("doc_id").isNull),
      RowPredicate("n_chars_nonneg", col("n_chars") < 0))
    val root = stagedDir(spark, dir, "checked_append_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      S.appendChecked(even, o, checks)
      val refused =
        try { S.appendChecked(odd.unionByName(odd.limit(1)), o, checks); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("unique_doc_id") }
      require(refused, "violating batch must be refused naming the check")
      S.appendChecked(odd, o, checks)
    }
    // the refusal minted NOTHING: the clean retry is version 2, not 3
    val noVersionMinted = S.latestVersion(root) == 2
    def leg(name: String, v: Int): DataFrame =
      S.read(spark, root, v).agg(count(lit(1)).as("n_docs"))
        .select(lit(name).as("leg"), lit(v).as("version"), col("n_docs"),
          lit(noVersionMinted).as("refusal_minted_no_version"))
    leg("1_clean_append", 1).unionByName(leg("2_clean_after_refusal", 2))
  }

  /** q219 — CHECKED MERGE ([[graft.sources.Snapshots.mergeChecked]] —
    * the q217 CHECK contract on the upsert path): a table committed
    * under constraints (unique key, value range) first sees a merge
    * whose source plants a NEGATIVE n_chars — REFUSED with staged data
    * AND delete files removed, no version minted — then the clean
    * version of the same merge (doc_id % 5 == 0 rows with n_chars
    * shifted by +1000) publishes as v2. The gate reads the POST-IMAGE
    * and DuckDB recomputes it from the base table under the same
    * %5 arithmetic — "a clean merge hash-matches the oracle's
    * post-image" is the whole point; versions and the refusal boolean
    * are engine invariants stated literally.
    */
  def checkedMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityChecks.{RowPredicate, Unique}
    val S = graft.sources.Snapshots
    val checks = Seq(
      Unique("unique_doc_id", col("doc_id")),
      RowPredicate("n_chars_nonneg", col("n_chars") < 0))
    val root = stagedDir(spark, dir, "checked_merge_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      S.appendChecked(docs, o, checks)
      val fifth = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val refused =
        try {
          S.mergeChecked(spark, o, "doc_id",
            fifth.withColumn("n_chars", lit(-1L)), checks); false
        } catch { case e: IllegalStateException =>
          e.getMessage.contains("n_chars_nonneg") }
      require(refused, "violating merge must be refused naming the check")
      S.mergeChecked(spark, o, "doc_id",
        fifth.withColumn("n_chars", col("n_chars") + 1000L), checks)
    }
    // the refusal minted NOTHING: the clean merge is version 2, not 3
    val noVersionMinted = S.latestVersion(root) == 2
    def leg(name: String, v: Int): DataFrame =
      S.read(spark, root, v)
        .transform(content(range = false))
        .select(lit(name).as("leg"), lit(v).as("version"), col("n_docs"),
          col("sum_chars"), lit(noVersionMinted).as("refusal_minted_no_version"))
    leg("1_pre_merge", 1).unionByName(leg("2_post_merge", 2))
  }

  /** q220 — CHECKED UPDATE ([[graft.sources.Snapshots.updateChecked]]
    * — the q217/q219 CHECK contract completing the DML surface): an
    * update whose SET drives n_chars negative on the doc_id % 7 == 0
    * rows is REFUSED (staged tombstones + images deleted, nothing
    * published), then the clean doubling of the same rows publishes
    * as v2 and its post-image hash-matches DuckDB's CASE arithmetic.
    */
  def checkedUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityChecks.{RowPredicate, Unique}
    val S = graft.sources.Snapshots
    val checks = Seq(
      Unique("unique_doc_id", col("doc_id")),
      RowPredicate("n_chars_nonneg", col("n_chars") < 0))
    val root = stagedDir(spark, dir, "checked_update_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      S.appendChecked(docs, o, checks)
      val refused =
        try {
          S.updateChecked(spark, o,
            pmod(col("doc_id"), lit(7)) === 0,
            Map("n_chars" -> lit(-1L)), checks); false
        } catch { case e: IllegalStateException =>
          e.getMessage.contains("n_chars_nonneg") }
      require(refused, "violating update must be refused naming the check")
      S.updateChecked(spark, o,
        pmod(col("doc_id"), lit(7)) === 0,
        Map("n_chars" -> (col("n_chars") * 2L)), checks)
    }
    val noVersionMinted = S.latestVersion(root) == 2
    def leg(name: String, v: Int): DataFrame =
      S.read(spark, root, v)
        .transform(content(range = false))
        .select(lit(name).as("leg"), lit(v).as("version"), col("n_docs"),
          col("sum_chars"), lit(noVersionMinted).as("refusal_minted_no_version"))
    leg("1_pre_update", 1).unionByName(leg("2_post_update", 2))
  }

  /** q158 — snapshot COMPACTION preserving time travel
    * ([[graft.sources.Snapshots.compact]]): four appends (doc_id % 4
    * slices, each written as 2 files) accumulate an 8-file manifest —
    * the small-file problem every append-only store develops — then
    * `compact` rewrites the latest version into 2 consolidated files
    * as v5. The gate reads three versions AFTER the compaction ran and
    * reports (version, n_files, content aggregates):
    *   v1 — time travel across the compaction boundary: still exactly
    *        the first slice, still its original 2 files (a compaction
    *        that deleted or rewrote old files in place breaks this row);
    *   v4 — the full pre-compaction table behind 8 files (a manifest
    *        leak of rewritten files breaks n_files);
    *   v5 — the SAME content behind 2 files (a lost or duplicated row
    *        in the rewrite breaks the aggregates).
    * File counts are engine-defined invariants the oracle states
    * literally (the q96 pattern); content aggregates are recomputed by
    * DuckDB from the base table.
    */
  def snapshotCompaction(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "compact_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (i <- 0 to 3)
        graft.sources.Snapshots.append(
          docs.filter(pmod(col("doc_id"), lit(4)) === i)
            .repartition(2, col("doc_id")),
          o)
      graft.sources.Snapshots.compact(spark, o, targetFiles = 2)
    }
    def row(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .transform(content())
        .select(lit(v).as("version"),
          lit(graft.sources.Snapshots.files(root, v).size).as("n_files"),
          col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
    row(1).unionByName(row(4)).unionByName(row(5))
  }

  /** q159 — snapshot EXPIRATION after compaction
    * ([[graft.sources.Snapshots.expire]]), the GC half of q158: the
    * same 4-append + compact staging on its OWN store, then
    * `expire(keepFrom = 5)` deletes the 8 pre-compaction files and
    * manifests 1–4. The scalar contract row carries the
    * engine-measured invariants as literals the oracle restates
    * (the q96 pattern) — n_deleted = 8 (reference-counted: nothing
    * retained references them), n_disk_files = 2 (the store holds
    * exactly the compacted files afterwards), expired_unreadable
    * (time travel to v4 now fails loudly at manifest resolution) —
    * plus the v5 content aggregates DuckDB recomputes from the base
    * table, which prove the retained version reads intact AFTER the
    * deletion sweep.
    */
  def snapshotExpiration(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "expire_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      for (i <- 0 to 3)
        graft.sources.Snapshots.append(
          docs.filter(pmod(col("doc_id"), lit(4)) === i)
            .repartition(2, col("doc_id")),
          o)
      graft.sources.Snapshots.compact(spark, o, targetFiles = 2)
      graft.sources.Snapshots.expire(o, keepFrom = 5)
    }
    // rebuild the engine-measured invariants from the post-expire store
    // (idempotent across invocations — the memoized staging ran once)
    val nDiskFiles = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.count(p =>
        p.toString.endsWith(".parquet") &&
          p.getParent.getFileName.toString.startsWith("data_v"))
      finally s.close()
    }
    val expiredUnreadable =
      try { graft.sources.Snapshots.files(root, 4); false }
      catch { case _: IllegalArgumentException => true }
    graft.sources.Snapshots.read(spark, root, 5)
      .transform(content())
      .select(lit(5).as("version"),
        lit(graft.sources.Snapshots.files(root, 5).size).as("n_files"),
        lit(nDiskFiles).as("n_disk_files"),
        lit(expiredUnreadable).as("expired_unreadable"),
        col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
  }

  /** q160 — stats-based DATA SKIPPING over a clustered compaction
    * ([[graft.sources.Snapshots.readPruned]]): append the documents
    * table, `compact(targetFiles = 4, sortBy = doc_id)` so each file
    * covers a disjoint doc_id range, then read three ranges through
    * footer min/max pruning — the Iceberg manifest-stats / Delta
    * OPTIMIZE-then-skip contract:
    *   point — [min_id, min_id] plans exactly ONE of the 4 files;
    *   full  — [min_id, max_id] plans all 4 (no file lost to stats);
    *   empty — [min_id−10, min_id−1] plans ZERO files (skip-all).
    * n_files_scanned comes from the pruning planner (an engine
    * invariant the oracle states literally); the content aggregates
    * per leg are recomputed by DuckDB with the same WHERE ranges, so a
    * wrong skip surfaces as lost rows, not just a wrong count.
    */
  /** One staged (doc_id, n_chars) store, compacted to 4 doc_id-sorted
    * files — SHARED by q160 and q165 (r17 review: the two gates staged
    * byte-identical copies, each paying a full-table write plus a
    * clustered compaction). Both gates only READ the store (the
    * destructive q158/q159 pair keeps separate stores for exactly the
    * opposite reason).
    */
  private def statsStagedRoot(spark: SparkSession, dir: String): String =
    stagedDir(spark, dir, "prune_gate") { o =>
      graft.sources.Snapshots.append(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")), o)
      graft.sources.Snapshots.compact(spark, o, targetFiles = 4,
        sortBy = Some("doc_id"))
    }

  def prunedSnapshotRead(spark: SparkSession, dir: String): DataFrame = {
    val root = statsStagedRoot(spark, dir)
    val v = graft.sources.Snapshots.latestVersion(root)
    // global bounds from the footer stats themselves — metadata only
    val stats = graft.sources.Snapshots.fileStats(spark, root, v, "doc_id")
    val (minId, maxId) = (stats.map(_._2).min, stats.map(_._3).max)
    def leg(name: String, lo: Long, hi: Long): DataFrame = {
      val nScanned =
        graft.sources.Snapshots.prunedFiles(spark, root, v, "doc_id", lo, hi).size
      graft.sources.Snapshots.readPruned(spark, root, v, "doc_id", lo, hi)
        .transform(content())
        .select(lit(name).as("leg"), lit(nScanned).as("n_files_scanned"),
          col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
    }
    leg("point", minId, minId)
      .unionByName(leg("full", minId, maxId))
      .unionByName(leg("empty", minId - 10, minId - 1))
  }

  /** q165 — MANIFEST-stored column statistics (the r9 Snapshots
    * contract): stats are written into the manifest at commit time, so
    * split planning — [[graft.sources.Snapshots.fileStats]] /
    * `prunedFiles` — is a manifest parse with ZERO data-file footer
    * opens on the query path (the Iceberg manifest-stats / Delta
    * Add-action shape; before r9 `fileStats` opened every footer from
    * the driver per query, an O(files) sequential driver-side scan that
    * caps out around 100k files). The gate stages an append + clustered
    * compact (4 disjoint doc_id ranges), then runs the same three
    * pruning legs as q160 while metering
    * [[graft.sources.Snapshots.queryPathFooterReadsHere]] around ALL the
    * planning calls: `n_stats_files` (engine invariant: all 4 manifest
    * entries carry commit-time doc_id stats) and `footer_reads_plan`
    * (the zero) are stated literally by the oracle; the per-leg
    * scanned-file counts and content aggregates are recomputed by
    * DuckDB with the same WHERE ranges, so wrong stats surface as lost
    * rows, not just a wrong count.
    */
  def manifestStatsPruning(spark: SparkSession, dir: String): DataFrame = {
    val root = statsStagedRoot(spark, dir)  // shared with q160, read-only
    val v = graft.sources.Snapshots.latestVersion(root)
    val before = graft.sources.Snapshots.queryPathFooterReadsHere
    val stats = graft.sources.Snapshots.fileStats(spark, root, v, "doc_id")
    val (minId, maxId) = (stats.map(_._2).min, stats.map(_._3).max)
    val legs = Seq(
      ("point", minId, minId), ("full", minId, maxId),
      ("empty", minId - 10, minId - 1)).map { case (name, lo, hi) =>
      val nScanned = graft.sources.Snapshots
        .prunedFiles(spark, root, v, "doc_id", lo, hi).size
      (name, lo, hi, nScanned)
    }
    // ALL planning (fileStats + every leg's prunedFiles + readPruned's
    // internal prune below) must be manifest-only; the counter delta is
    // taken after the last leg's plan is constructed
    val plans = legs.map { case (name, lo, hi, nScanned) =>
      graft.sources.Snapshots.readPruned(spark, root, v, "doc_id", lo, hi)
        .transform(content(range = false))
        .select(lit(name).as("leg"), lit(nScanned).as("n_files_scanned"),
          col("n_docs"), col("sum_chars"))
    }
    val footerReads = graft.sources.Snapshots.queryPathFooterReadsHere - before
    plans.reduce(_.unionByName(_))
      .withColumn("n_stats_files", lit(stats.size))
      .withColumn("footer_reads_plan", lit(footerReads).cast("int"))
  }

  /** q210 — TWO-LEVEL manifest pruning (the r13 Snapshots contract):
    * each commit writes one content-addressed manifest SEGMENT whose
    * list pointer carries aggregate column stats, so stats pruning
    * plans from the LIST and opens only overlapping segments — at
    * 100 TB the per-snapshot manifest is itself big data, and this is
    * what keeps planning O(commits), not O(files). The gate stages
    * four appends of contiguous doc_id quarters (one 1-file segment
    * each), then runs four pruning legs while metering
    * [[graft.sources.Snapshots.segmentReads]] (the segment analogue of
    * q165's footer meter) and the footer counter: the planner
    * invariants — files scanned, segments opened (1/1/4/0), segment
    * total from [[graft.sources.Snapshots.manifestsTable]], zero
    * footer opens — are stated literally by the oracle, and each leg's
    * content aggregates are recomputed by DuckDB over the same
    * quarter-arithmetic WHERE ranges, so a wrong pointer aggregate
    * surfaces as lost rows, not just a wrong count.
    */
  def manifestSegmentPruning(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "segment_prune_gate") { o =>
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      val span = mx - mn + 1
      (0 until 4).foreach { i =>
        val lo = mn + span * i / 4
        val hi = mn + span * (i + 1) / 4 // exclusive
        S.append(docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1), o)
      }
    }
    val v = S.latestVersion(root)
    // COUNTER-METERING CONVENTION (r16, ADVICE): the per-leg deltas
    // below read THREAD-LOCAL counters (segmentReadsHere /
    // queryPathFooterReadsHere) — resolution runs synchronously on
    // this thread, so concurrent snapshot activity elsewhere in the
    // JVM cannot pollute the arithmetic.
    // table extremes from the MANIFEST (commit-time stats — one list +
    // four segment reads, zero data I/O), so the leg arithmetic is the
    // same integer-quarter formula the oracle replays over the table
    val stats = S.fileStats(spark, root, v, "doc_id")
    val (mn, mx) = (stats.map(_._2).min, stats.map(_._3).max)
    val span = mx - mn + 1
    val (b1, b2) = (mn + span / 4, mn + span * 2 / 4)
    val legs = Seq(
      ("1_point", mn, mn),
      ("2_quarter2", b1, b2 - 1),
      ("3_full", mn, mx),
      ("4_empty", mn - 10, mn - 1)).map { case (name, lo, hi) =>
      val f0 = S.queryPathFooterReadsHere
      val s0 = S.segmentReadsHere
      val nScanned = S.prunedFiles(spark, root, v, "doc_id", lo, hi).size
      (name, lo, hi, nScanned, (S.segmentReadsHere - s0).toInt,
        (S.queryPathFooterReadsHere - f0).toInt)
    }
    val nSegs = S.manifestsTable(spark, root, v).count().toInt
    legs.map { case (name, lo, hi, nScanned, opened, _) =>
      S.readPruned(spark, root, v, "doc_id", lo, hi)
        .transform(content(range = false))
        .select(lit(name).as("leg"), lit(nScanned).as("n_files_scanned"),
          lit(opened).as("segments_opened"), col("n_docs"), col("sum_chars"))
    }.reduce(_.unionByName(_))
      .withColumn("n_segments_total", lit(nSegs))
      .withColumn("footer_reads_plan", lit(legs.map(_._6).sum))
  }

  /** q166 — SCHEMA EVOLUTION on the snapshot store (the q111
    * mergeSchema semantics moved into the manifest, where a lakehouse
    * keeps them): v1 appends (doc_id, n_chars); v2 appends the
    * remaining docs WITH a new `source` column. Each manifest pins its
    * version's schema, so the gate proves all four evolution
    * contracts at once:
    *   v1 read AFTER the widening commit still has 2 columns (a
    *     reader of the old version never sees the new column);
    *   v2 has 3 columns, with `source` NULL exactly for the rows that
    *     live in v1's files (explicit-schema clipping null-fills —
    *     no mergeSchema footer sweep at planning time);
    *   v2 still reuses v1's files (n_files invariant — evolution is a
    *     metadata commit, not a rewrite);
    *   content aggregates survive (DuckDB recomputes them from the
    *     base table with the same doc_id % 3 split).
    */
  def snapshotSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "evo_snap_gate") { o =>
      val docs = Tables.documents(spark, dir)
      // file counts are gate invariants — pin them (the q158 pattern)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(col("doc_id"), col("n_chars"))
          .repartition(2, col("doc_id")), o)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), col("n_chars"), col("source"))
          .repartition(2, col("doc_id")), o)
    }
    val v1 = graft.sources.Snapshots.read(spark, root, 1)
    val v2 = graft.sources.Snapshots.read(spark, root, 2)
    val leg1 = v1
      .transform(content(range = false))
      .select(lit(1).as("version"),
        lit(v1.schema.size).as("n_cols"),
        lit(graft.sources.Snapshots.files(root, 1).size).as("n_files"),
        col("n_docs"), col("sum_chars"),
        lit(null).cast("long").as("n_src_null"),
        lit(null).cast("long").as("n_src_set"))
    val leg2 = v2
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_src_null"),
        sum(when(col("source").isNotNull, 1L).otherwise(0L)).as("n_src_set"))
      .select(lit(2).as("version"),
        lit(v2.schema.size).as("n_cols"),
        lit(graft.sources.Snapshots.files(root, 2).size).as("n_files"),
        col("n_docs"), col("sum_chars"), col("n_src_null"), col("n_src_set"))
    leg1.unionByName(leg2)
  }

  /** q167 — TWO-DIMENSION Z-ORDER clustered compaction
    * ([[graft.sources.Snapshots.compact]] `zorderBy`, composing the
    * q134 Morton machinery with the q158/q160 lifecycle): append the
    * documents table, rewrite it into 8 files clustered on the
    * interleaved (doc_id, n_chars) code, then prune through the
    * manifest stats on EACH dimension separately — the Delta OPTIMIZE
    * ZORDER BY (x, y) contract a single-column sort cannot give (its
    * second dimension's min/max spans every file, so nothing skips).
    * Exact engine invariants stated literally by the oracle: full
    * range scans all 8 files, a disjoint range scans 0, and each
    * point-range leg (min doc_id; min n_chars) scans AT MOST HALF the
    * files (`bounded_scan` — the q63/q64 error-bound pattern for a
    * layout-quality property; measured 2–4 of 8 at all three sfs).
    * Content aggregates per leg are recomputed by DuckDB with the same
    * WHERE, so a wrong skip surfaces as lost rows.
    */
  def zorderCompactionPruning(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "zorder_gate") { o =>
      graft.sources.Snapshots.append(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        o)
      graft.sources.Snapshots.compact(spark, o, targetFiles = 8,
        zorderBy = Seq("doc_id", "n_chars"))
    }
    val v = graft.sources.Snapshots.latestVersion(root)
    def bounds(column: String): (Long, Long) = {
      val s = graft.sources.Snapshots.fileStats(spark, root, v, column)
      (s.map(_._2).min, s.map(_._3).max)
    }
    val (minId, maxId) = bounds("doc_id")
    val (minCh, _) = bounds("n_chars")
    def leg(name: String, column: String, lo: Long, hi: Long,
            exactFiles: Option[Int]): DataFrame = {
      val nScanned = graft.sources.Snapshots
        .prunedFiles(spark, root, v, column, lo, hi).size
      graft.sources.Snapshots.readPruned(spark, root, v, column, lo, hi)
        .transform(content(range = false))
        .select(lit(name).as("leg"),
          lit(exactFiles.getOrElse(-1)).as("n_files_scanned"),
          lit(exactFiles.map(_ == nScanned)
            .getOrElse(nScanned >= 1 && nScanned <= 4)).as("bounded_scan"),
          col("n_docs"), col("sum_chars"))
    }
    // full/empty are exact invariants (8 / 0, echoed in
    // n_files_scanned); the point legs' file counts are
    // layout-dependent, so they emit -1 there and carry the layout
    // claim through bounded_scan: scanned at least 1, at most HALF the
    // files — which a single-column sort provably fails on its second
    // dimension (every file spans the full n_chars range)
    leg("point_x", "doc_id", minId, minId, None)
      .unionByName(leg("point_y", "n_chars", minCh, minCh, None))
      .unionByName(leg("full", "doc_id", minId, maxId, Some(8)))
      .unionByName(leg("empty", "doc_id", minId - 10, minId - 1, Some(0)))
  }

  /** q168 — ROW-LEVEL EQUALITY DELETE, merge-on-read
    * ([[graft.sources.Snapshots.deleteWhere]] — the Iceberg v2 delete-
    * file shape; the one surface the store's scaladoc still listed as
    * "deliberately NOT here"): v1 appends the doc_id % 3 ≠ 0 slice;
    * v2 commits a DELETE of every doc_id % 5 = 0 key (an O(|keys|)
    * metadata commit — the gate pins that NO data file was rewritten);
    * v3 APPENDS the doc_id % 3 = 0 slice, which RE-INSERTS keys the
    * delete tombstoned (doc_id % 15 = 0) — sequence-number scoping
    * must keep them (a delete applies only to data files committed
    * before it; an unscoped global anti-join would silently swallow
    * re-inserts, the classic merge-on-read bug); v4 compacts, which
    * PURGES the tombstones (rewrites the merged read, commits a
    * delete-free manifest). Four rows: (version, n_files,
    * n_delete_sets — manifest invariants stated literally) + content
    * aggregates DuckDB recomputes with the matching WHERE per version.
    */
  def equalityDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "delete_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .repartition(2, col("doc_id")), o)
      graft.sources.Snapshots.deleteWhere(spark, o, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(5)) === 0).select(col("doc_id")))
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .repartition(2, col("doc_id")), o)
      graft.sources.Snapshots.compact(spark, o, targetFiles = 2)
    }
    def row(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .transform(content())
        .select(lit(v).as("version"),
          lit(graft.sources.Snapshots.files(root, v).size).as("n_files"),
          lit(graft.sources.Snapshots.deleteSets(root, v).size)
            .as("n_delete_sets"),
          col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
    row(1).unionByName(row(2)).unionByName(row(3)).unionByName(row(4))
  }

  /** q170 — OPTIMISTIC CONCURRENT COMMITS: four writers append
    * disjoint doc_id % 4 slices to the same snapshot store AT THE SAME
    * TIME (a thread pool, real racing Spark jobs). The manifest
    * hard-link is the version CAS (POSIX rename silently replaces — a
    * rename "CAS" loses updates, which the SnapshotsSpec race test
    * proved the hard way); losers rebase: rename their already-written
    * data dir to the new version, re-carry the winner's entries, retry.
    * WHICH writer gets WHICH version is nondeterministic, so the gate
    * states only the interleaving-independent invariants: latest = 4,
    * every version 1..4 resolves with strictly increasing row counts
    * (`monotone_history` — any lost update breaks it), and the final
    * content is the whole table (DuckDB recomputes — a dropped or
    * double-committed slice breaks the aggregates).
    */
  def concurrentAppends(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "concurrent_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val latch = new java.util.concurrent.CountDownLatch(4)
        val fs = (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = {
              latch.countDown(); latch.await() // maximize the race
              graft.sources.Snapshots.append(
                docs.filter(pmod(col("doc_id"), lit(4)) === i)
                  .repartition(1), o)
            }
          })
        }
        fs.foreach(_.get())
      } finally pool.shutdown()
    }
    val counts = (1 to 4).map(v =>
      graft.sources.Snapshots.read(spark, root, v).count())
    val monotone = counts.sliding(2).forall { case Seq(a, b) => a < b }
    graft.sources.Snapshots.read(spark, root, 4)
      .transform(content())
      .select(
        lit(graft.sources.Snapshots.latestVersion(root)).as("latest_version"),
        lit(monotone).as("monotone_history"),
        col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
  }

  /** q172 — MERGE (upsert) into the snapshot store: v1 appends the
    * base table, v2 is ONE merge commit whose source is updates (every
    * doc_id % 7 = 0 row with n_chars + 1000) plus inserts (every
    * doc_id % 11 = 3 row re-keyed to doc_id + 10⁶ with n_chars + 500),
    * v3 compacts. The gate states the upsert contracts literally:
    * matched keys replaced and unmatched inserted in a single version
    * (latest = 3, v2 = one commit carrying one delete set), time travel
    * to v1 still reads the unmodified base, and compaction purges the
    * tombstones without changing content (v3 row equals v2 row except
    * files/delete-set counts). DuckDB recomputes every version's
    * aggregates from the base table with the same update/insert
    * expressions — a lost update, a vanished insert, or a
    * double-applied delta breaks sum_chars exactly.
    */
  private def mergedRoot(spark: SparkSession, dir: String): String =
    stagedDir(spark, dir, "merge_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.append(
        docs.repartition(2, col("doc_id")), o)
      val updates = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
      val inserts = docs.filter(pmod(col("doc_id"), lit(11)) === 3)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("n_chars", col("n_chars") + 500)
      graft.sources.Snapshots.merge(spark, o, "doc_id",
        updates.unionByName(inserts).repartition(1))
      graft.sources.Snapshots.compact(spark, o, targetFiles = 2)
    }

  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = mergedRoot(spark, dir)
    def row(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .transform(content())
        .select(lit(v).as("version"),
          lit(graft.sources.Snapshots.files(root, v).size).as("n_files"),
          lit(graft.sources.Snapshots.deleteSets(root, v).size)
            .as("n_delete_sets"),
          col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
    row(1).unionByName(row(2)).unionByName(row(3))
  }

  /** q173 — CDC READ of the q172 history ([[mergedRoot]] — the shared
    * staged table is itself the artifact discipline): `changesBetween
    * (0, 3)` typed per commit. v1 feeds every base row as `insert`;
    * v2 (the merge) splits into update_preimage/update_postimage for
    * the doc_id % 7 = 0 keys that existed and plain `insert` for the
    * re-keyed % 11 = 3 rows; v3 (compaction, rewrite=true) contributes
    * NOTHING — the Delta dataChange=false contract stated by omission:
    * the oracle has no version-3 group, so a compaction that leaked
    * into the feed adds rows and breaks the hash. Aggregated per
    * (commit_version, change_type) with sums DuckDB recomputes from
    * the base table; preimage sums use the ORIGINAL n_chars and
    * postimage sums the +1000 delta, so swapped or mislabeled images
    * break the hash exactly.
    */
  def cdcChanges(spark: SparkSession, dir: String): DataFrame = {
    val root = mergedRoot(spark, dir)
    graft.sources.Snapshots.changesBetween(spark, root, 0, 3)
      .transform(content("n_rows",
        by = Seq(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))))
  }

  /** q174 — METADATA TABLES on the q172 history: Iceberg's
    * `table.snapshots`/`table.files` and the metadata-only `count(*)`
    * pushdown, all resolved from manifests with ZERO data-file opens
    * (`zero_footer_opens` meters [[graft.sources.Snapshots
    * .queryPathFooterReadsHere]] around every call — the q165
    * discipline; THREAD-LOCAL since r17 so a concurrent reader in the
    * same JVM can never skew the zero-assertion).
    * Per version: manifest file/delete-set counts, the rewrite flag,
    * the manifest-summed PHYSICAL rows, and `meta_count` — which
    * REFUSES (−1) on v2 because merge-on-read tombstones make physical
    * ≠ logical there: a metadata count that answered anyway would be
    * wrong, and the oracle states the refusal literally. v1/v3 answer
    * from metadata alone and DuckDB recomputes both from the base
    * table. The 3-row collect is manifest metadata — the planner-held
    * scale (O(versions)), not data.
    */
  def metadataTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mergedRoot(spark, dir)
    val before = graft.sources.Snapshots.queryPathFooterReadsHere
    val hist = graft.sources.Snapshots.snapshotsTable(spark, root)
      .as[(Int, Int, Int, Long, Boolean)].collect().sortBy(_._1)
    val meta = hist.map(h =>
      try graft.sources.Snapshots.metadataCount(root, h._1)
      catch { case _: IllegalArgumentException => -1L })
    val zero = graft.sources.Snapshots.queryPathFooterReadsHere == before
    hist.toSeq.zip(meta).map { case ((v, nf, nd, fr, rw), mc) =>
      (v, nf, nd, fr, rw, mc, zero)
    }.toDF("version", "n_files", "n_delete_sets", "file_rows",
      "is_rewrite", "meta_count", "zero_footer_opens")
  }

  /** q176 — BLOOM-FILTER FILE SKIPPING for string point lookups (the
    * Parquet/Iceberg bloom write property, manifest-hosted): the
    * append is written with `bloomCols = source` — one extra
    * single-column columnar pass over the just-written files builds a
    * 1024-bit, 4-hash salted md5-low-60 bitset per file into the
    * manifest. The hit leg looks up one source value: hash clustering
    * put it in ONE file, so `bounded_scan` pins pruning to ≤ half the
    * table (min/max stats CANNOT skip here — every file's string range
    * spans the alphabet; blooms are the only metadata that can). The
    * miss leg looks up an absent value and must touch ZERO files —
    * bloom misses answer from the manifest alone. The exact equality
    * predicate keeps correctness on top (false positives only cost a
    * scan), and DuckDB recomputes both legs' aggregates from the base
    * table.
    */
  def bloomPointLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "bloom_gate") { o =>
      graft.sources.Snapshots.append(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .repartition(8, col("source")),
        o, bloomCols = Seq("source"))
    }
    def leg(name: String, value: String, lo: Int, hi: Int): DataFrame = {
      val scanned = graft.sources.Snapshots
        .bloomPrunedFiles(root, 1, "source", value).size
      graft.sources.Snapshots
        .readBloomPruned(spark, root, 1, "source", value)
        .transform(content("n_rows", range = false))
        .select(lit(name).as("leg"),
          lit(graft.sources.Snapshots.files(root, 1).size)
            .as("n_files_total"),
          lit(scanned >= lo && scanned <= hi).as("bounded_scan"),
          col("n_rows"), col("sum_chars"))
    }
    leg("hit", "src3", 1, 4).unionByName(leg("miss", "src_absent", 0, 0))
  }

  /** q178 — HIDDEN PARTITIONING (Iceberg's identity + bucket
    * transforms): two layouts of the documents table, one partitioned
    * by `source` identity (a directory per value — 20 files), one by
    * `bucket(8, doc_id)` (the transform for high-cardinality keys a
    * directory-per-value layout can't serve). Point lookups never name
    * partitions — the reader derives the literal's partition from the
    * manifest `#part:` tokens and prunes EXACTLY: the identity hit
    * scans 1 of 20 files, the identity miss scans 0 (unlike the
    * probabilistic bloom miss, partition misses are certain), the
    * bucket hit scans 1 of 8. n_scanned is a deterministic literal in
    * the oracle — one file per partition value by construction — and
    * DuckDB recomputes every leg's content from the base table.
    */
  def partitionPruning(spark: SparkSession, dir: String): DataFrame = {
    // two stores in subdirectories of the one staged directory
    val (idRoot, bkRoot) = staged(spark, dir, "part_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.appendPartitioned(docs, s"$o/identity",
        graft.sources.Snapshots.IdentityPartition("source"))
      graft.sources.Snapshots.appendPartitioned(docs, s"$o/bucket",
        graft.sources.Snapshots.BucketPartition("doc_id", 8))
      (s"$o/identity", s"$o/bucket")
    }
    def leg(name: String, root: String,
            spec: graft.sources.Snapshots.PartitionSpec,
            literal: String): DataFrame =
      graft.sources.Snapshots
        .readPartitionPruned(spark, root, 1, spec, literal)
        .transform(content("n_rows", range = false))
        .select(lit(name).as("leg"),
          lit(graft.sources.Snapshots.files(root, 1).size)
            .as("n_files_total"),
          lit(graft.sources.Snapshots
            .partitionPrunedFiles(root, 1, spec, literal).size)
            .as("n_scanned"),
          col("n_rows"), col("sum_chars"))
    val idSpec = graft.sources.Snapshots.IdentityPartition("source")
    val bkSpec = graft.sources.Snapshots.BucketPartition("doc_id", 8)
    leg("identity_hit", idRoot, idSpec, "src5")
      .unionByName(leg("identity_miss", idRoot, idSpec, "src_absent"))
      .unionByName(leg("bucket_hit", bkRoot, bkSpec, "137"))
  }

  /** q180 — TAGS + RETENTION (Iceberg refs): v1 (the even-doc_id
    * slice) is tagged `baseline`, v2 appends the rest, v3 compacts,
    * then `expire(keepFrom = 3)` sweeps the history. The gate states
    * the ref contract literally: the TAGGED v1 survives the sweep in
    * full (its row recomputes the even slice), the untagged v2 is
    * GONE (`v2_readable = false` — reading it fails loudly at
    * manifest resolution), and latest is intact. Tags are immutable
    * hard-linked refs — the same CAS primitive as the commit itself.
    */
  def snapshotTags(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "tag_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartition(2, col("doc_id")), o)
      graft.sources.Snapshots.tag(o, "baseline", 1)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
          .repartition(2, col("doc_id")), o)
      graft.sources.Snapshots.compact(spark, o, targetFiles = 2)
      graft.sources.Snapshots.expire(o, keepFrom = 3)
    }
    val v2Readable =
      try { graft.sources.Snapshots.read(spark, root, 2); true }
      catch { case _: IllegalArgumentException => false }
    def row(name: String, df: DataFrame): DataFrame =
      df.transform(content())
        .select(lit(name).as("leg"),
          lit(graft.sources.Snapshots.tagVersion(root, "baseline"))
            .as("tag_version"),
          lit(v2Readable).as("v2_readable"),
          col("n_docs"), col("sum_chars"), col("min_id"), col("max_id"))
    row("tagged_v1", graft.sources.Snapshots.readTag(spark, root, "baseline"))
      .unionByName(row("latest", graft.sources.Snapshots.read(spark, root)))
  }

  /** q181 — ORPHAN FILE CLEANUP: two live appends plus planted debris
    * (a data dir and a delete dir no manifest references — exactly
    * what a writer that died before its CAS leaves; the optimistic
    * protocol makes such debris NORMAL and this procedure is its
    * janitor). The sweep removes exactly the two orphan parquet
    * files, a second sweep removes zero (idempotent), and both
    * versions' content is untouched — DuckDB recomputes the halves.
    */
  def orphanCleanup(spark: SparkSession, dir: String): DataFrame = {
    val (root, first, second) = staged(spark, dir, "orphan_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), o)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(2)) =!= 0), o)
      docs.limit(5).repartition(1).write.parquet(s"$o/data_v9_deadbeef")
      docs.select(col("doc_id")).limit(3).repartition(1)
        .write.parquet(s"$o/delete_v9_deadbeef")
      // age 0 is the explicit test-scale opt-in: no writer is in
      // flight inside this staged gate table
      (o, graft.sources.Snapshots.removeOrphans(o, olderThanMillis = 0L),
        graft.sources.Snapshots.removeOrphans(o, olderThanMillis = 0L))
    }
    graft.sources.Snapshots.read(spark, root)
      .transform(content(range = false))
      .select(lit(first).as("n_orphans_removed"),
        lit(second).as("rerun_removed"),
        lit(graft.sources.Snapshots.read(spark, root, 1).count())
          .as("n_docs_v1"),
        col("n_docs"), col("sum_chars"))
  }

  /** q182 — METADATA-ONLY AGGREGATES on the q172 history: count +
    * min/max for two columns answered from MANIFEST stats alone
    * (Iceberg's aggregate pushdown), metered to zero footer opens.
    * v3 (compacted, tombstone-free) answers; v2 REFUSES both count
    * and extremes — merge-on-read tombstones make physical facts
    * unsound, and the refusals are stated as literals. DuckDB
    * recomputes the v3 numbers from the merged state.
    */
  def metadataAggregates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = mergedRoot(spark, dir)
    val before = graft.sources.Snapshots.queryPathFooterReadsHere
    val n = graft.sources.Snapshots.metadataCount(root, 3)
    val (mnI, mxI) = graft.sources.Snapshots.metadataMinMax(root, 3, "doc_id")
    val (mnC, mxC) = graft.sources.Snapshots.metadataMinMax(root, 3, "n_chars")
    val v2CountRefused =
      try { graft.sources.Snapshots.metadataCount(root, 2); false }
      catch { case _: IllegalArgumentException => true }
    val v2MinMaxRefused =
      try { graft.sources.Snapshots.metadataMinMax(root, 2, "doc_id"); false }
      catch { case _: IllegalArgumentException => true }
    val zero = graft.sources.Snapshots.queryPathFooterReadsHere == before
    Seq((n, mnI, mxI, mnC, mxC, v2CountRefused, v2MinMaxRefused, zero))
      .toDF("meta_count", "min_id", "max_id", "min_chars", "max_chars",
        "v2_count_refused", "v2_minmax_refused", "zero_footer_opens")
  }

  /** q184 — CDC-DRIVEN VIEW MAINTENANCE: keep a per-source rollup
    * current by applying the TYPED change feed instead of recomputing
    * — the self-maintainability algebra (count/sum absorb +postimage /
    * −preimage deltas under updates and deletes; min/max deliberately
    * NOT here, they are not self-maintainable under deletes and a
    * correct engine recomputes them). The materialization is the v1
    * rollup; `changesBetween(1, 3)` supplies v2's typed rows (v3 is a
    * rewrite and feeds nothing); the maintained result must equal the
    * direct recompute of the latest version, which is exactly what
    * the oracle states by recomputing the merged state per source —
    * one sign error, one double-applied image, or a rewrite leaking
    * into the feed shifts a sum and breaks the hash. This is q113's
    * append-only partial-merge IVM upgraded to the update/delete
    * world every lakehouse rollup lives in.
    */
  def cdcIvm(spark: SparkSession, dir: String): DataFrame = {
    val root = mergedRoot(spark, dir)
    val base = graft.sources.Snapshots.read(spark, root, 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
    val sign = when(col("_change_type")
      .isin("insert", "update_postimage"), 1L).otherwise(-1L)
    val delta = graft.sources.Snapshots.changesBetween(spark, root, 1, 3)
      .select(col("source"), sign.as("sgn"), col("n_chars"))
      .groupBy(col("source"))
      .agg(sum(col("sgn")).as("dn"),
        sum(col("sgn") * col("n_chars")).as("ds"))
    base.join(delta, Seq("source"), "full_outer")
      .na.fill(0L, Seq("n", "s", "dn", "ds"))
      .select(col("source"), (col("n") + col("dn")).as("n_docs"),
        (col("s") + col("ds")).as("sum_chars"))
  }

  /** q185 — SNAPSHOT CONTENT DIFF on the q172 history: the net
    * difference between v1 and v3 as two exceptAll directions —
    * `added` must be exactly the update NEW images plus the inserts,
    * `removed` exactly the update OLD images, and nothing else (the
    * compaction between them rewrote every byte yet contributes
    * NOTHING — content diff sees states, not files). Complement of
    * q173: the feed replays history, the diff nets it.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = mergedRoot(spark, dir)
    graft.sources.Snapshots.diffVersions(spark, root, 1, 3)
      .groupBy(col("_diff").as("direction"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** q187 — TYPE PROMOTION on snapshot-store schema evolution (the
    * Iceberg promotion matrix, completing q166's ADD COLUMN): v1
    * appends (doc_id int, w float, d decimal(5,2)); v2 appends the
    * complementary slice with (bigint, double, decimal(12,2)) — the
    * commit PROMOTES the table schema in place, no file is rewritten
    * (n_files pins it). The gate states the read contracts literally:
    * v1 read under ITS schema (type strings are gate columns), v2
    * reads pre-promotion files widened — the sums only match DuckDB's
    * recompute if int32/float/decimal(5,2) bytes surface as
    * bigint/double/decimal(12,2) values exactly. All aggregates gate
    * as scaled integers (w ends in .5 → ×2 is exact; d in cents).
    *
    * Fixture-scale bounds, stated (r17 review): the v1 leg's casts
    * assume doc_id < 2³¹ (int) and n_chars < 2²³ (n_chars + 0.5f must
    * be float-exact for ×2 to round-trip) — true of every driver
    * fixture by generator construction. A corpus past either bound
    * would diverge the gate's OWN staging, not the engine; these are
    * deliberate narrow-type inputs (the gate tests promotion), not
    * the engine's production arithmetic.
    */
  def typePromotion(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "promo_gate") { o =>
      val docs = Tables.documents(spark, dir)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(col("doc_id").cast("int").as("doc_id"),
            (col("n_chars").cast("float") + lit(0.5f)).as("w"),
            expr("cast(cast(n_chars % 900 as decimal(5,2)) + 0.25" +
              " as decimal(5,2))").as("d"))
          .repartition(2, col("doc_id")), o)
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id").cast("long").as("doc_id"),
            (col("n_chars").cast("double") + lit(0.5d)).as("w"),
            expr("cast(cast(n_chars % 1000 as decimal(12,2)) * 1000000" +
              " + 0.25 as decimal(12,2))").as("d"))
          .repartition(2, col("doc_id")), o)
    }
    def leg(v: Int): DataFrame = {
      val t = graft.sources.Snapshots.read(spark, root, v)
      t.agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("sum_id"),
          sum((col("w") * 2).cast("long")).as("sum_w2"),
          sum((col("d") * 100).cast("long")).as("sum_d_cents"))
        .select(lit(v).as("version"),
          lit(t.schema("doc_id").dataType.simpleString).as("id_type"),
          lit(t.schema("w").dataType.simpleString).as("w_type"),
          lit(t.schema("d").dataType.simpleString).as("d_type"),
          lit(graft.sources.Snapshots.files(root, v).size).as("n_files"),
          col("n_docs"), col("sum_id"), col("sum_w2"), col("sum_d_cents"))
    }
    leg(1).unionByName(leg(2))
  }

  /** q188 — SERIALIZABLE MERGE under a real race: two deterministic
    * interleaves (latch-parked merge source, concurrent append landing
    * inside the merge's unseen window — the q170 thread discipline
    * made reproducible). Overlapping keys: the merge ABORTS with
    * `ConcurrentModificationException` instead of silently
    * last-writer-winning over the append, and the caller re-runs
    * against the new snapshot (the documented retry contract —
    * n_aborted = 1 is a gate column). Disjoint keys: the merge rebases
    * and BOTH commits survive. The final content aggregates are
    * interleaving-independent by serializability — DuckDB replays the
    * serial schedule (append, merge, append, merge) from the base
    * table; a lost append row, a double-applied merge, or a phantom
    * abort breaks the hash.
    */
  def serializableMergeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (root, nAborted) = staged(spark, dir, "sermerge_gate") { o =>
      graft.sources.Snapshots.append(
        Tables.documents(spark, dir).filter(col("doc_id") <= 20)
          .select(col("doc_id"), col("n_chars")).repartition(1), o)
      var aborts = 0
      def interleaved(srcRows: Seq[(Long, Long)],
                      concurrent: (Long, Long)): Unit = {
        // latches keyed per staged ROOT (r17 review): object-level
        // singleton cells cross-wired two concurrent stagings of
        // different dirs in one JVM; the UDF closes over the root
        // string and derefs the map, so local-mode tasks still reach
        // the same cells
        val rootKey = o
        serLatches.put(rootKey, (new java.util.concurrent.CountDownLatch(1),
          new java.util.concurrent.CountDownLatch(1)))
        // the entry is removed in the finally below once the worker is
        // joined (r17 ADVICE): latch pairs otherwise accumulate for the
        // JVM lifetime, and a FAILED run would leave a counted-down
        // pair that a later staging of the same root would reuse stale
        try {
        val wait = udf(() => {
          val (gate, entered) = SinkQ.serLatches(rootKey)
          entered.countDown()
          gate.await()
          true
        })
        val src = srcRows.toDF("doc_id", "n_chars").filter(wait())
        val worker = new java.util.concurrent.FutureTask(() =>
          graft.sources.Snapshots.merge(spark, o, "doc_id", src))
        new Thread(worker, "gate-merge").start()
        // the merge is parked inside its first action, after its base
        // capture — the unseen window is deterministically open. Await
        // WITH a loud timeout (r17 review): if the merge dies before
        // evaluating its parked source — the exact regression class
        // this gate polices — the latch never counts down, and a bare
        // await would hang the whole battery instead of failing the
        // gate; surface the worker's exception instead
        if (!serLatches(rootKey)._2.await(
            120, java.util.concurrent.TimeUnit.SECONDS)) {
          serLatches(rootKey)._1.countDown()
          worker.get()  // rethrows the worker's real failure, if any
          throw new IllegalStateException(
            "q188: merge never parked on its source within 120 s")
        }
        graft.sources.Snapshots.append(
          Seq(concurrent).toDF("doc_id", "n_chars").repartition(1), o)
        serLatches(rootKey)._1.countDown()
        try { worker.get(); () } catch {
          case e: java.util.concurrent.ExecutionException
              if e.getCause.isInstanceOf[java.util.ConcurrentModificationException] =>
            aborts += 1
            // the documented recovery: re-read, re-run on the new base
            graft.sources.Snapshots.merge(spark, o, "doc_id",
              srcRows.toDF("doc_id", "n_chars").repartition(1))
        }
        // every non-exceptional exit above has joined the worker
        // (worker.get() runs on both the success and the timeout path);
        // counting down the removed gate latch is a no-op then, and on
        // a failure BEFORE the countdown it releases the parked worker
        // so nothing awaits a latch the map no longer owns
        } finally serLatches.remove(rootKey).foreach(_._1.countDown())
      }
      interleaved(Seq((5L, -100L), (1000001L, -1L)), (5L, 55L))
      interleaved(Seq((7L, -700L), (1000002L, -2L)), (888888L, 88L))
      (o, aborts)
    }
    graft.sources.Snapshots.read(spark, root)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_payload"))
      .select(lit(nAborted).as("n_aborted"),
        col("n_docs"), col("sum_id"), col("sum_payload"))
  }

  // latches for q188's deterministic interleave — an object-level MAP
  // keyed by staged root because the parked UDF is serialized into
  // tasks and must deref the SAME cells in local mode, while two
  // stagings of different dirs must never cross-wire (r17 review):
  // (gate, entered) per root. A latch registry, not a memo: entries
  // live only while one interleave runs
  private[queries] val serLatches = scala.collection.concurrent.TrieMap.empty[
    String, (java.util.concurrent.CountDownLatch, java.util.concurrent.CountDownLatch)]

  /** q189 — PARTITION-SPEC EVOLUTION (the Iceberg spec-id contract,
    * completing q178): one table whose LAYOUT changed across commits —
    * v1 identity(source), v2 bucket(8, source), v3 not partitioned at
    * all — and a point lookup where each file prunes under the spec
    * it was written with. The gate states the mixed-layout arithmetic
    * exactly, all oracle-computed (file-per-partition-value is the
    * writer invariant; DuckDB replays the md5-low-60 bucket): a hit
    * scans identity's one home file + the literal's one bucket file +
    * the unpartitioned file (always scanned — pre-partitioning files
    * carry no token); a miss drops the identity term ENTIRELY
    * (identity misses are certain) but still scans the absent
    * literal's home bucket (bucket pruning routes, it cannot prove
    * absence) and the untokened file. Content recomputes from the
    * base table — the three slices partition it.
    */
  def partitionSpecEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "specevo_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.appendPartitioned(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), o,
        graft.sources.Snapshots.IdentityPartition("source"))
      graft.sources.Snapshots.appendPartitioned(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), o,
        graft.sources.Snapshots.BucketPartition("source", 8))
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(3)) === 2).repartition(1), o)
    }
    val specs: Seq[graft.sources.Snapshots.PartitionSpec] = Seq(
      graft.sources.Snapshots.IdentityPartition("source"),
      graft.sources.Snapshots.BucketPartition("source", 8))
    def leg(name: String, literal: String): DataFrame =
      graft.sources.Snapshots
        .readPartitionPruned(spark, root, 3, specs, literal)
        .transform(content("n_rows", range = false))
        .select(lit(name).as("leg"),
          lit(graft.sources.Snapshots.files(root, 3).size)
            .as("n_files_total"),
          lit(graft.sources.Snapshots
            .partitionPrunedFiles(root, 3, specs, literal).size)
            .as("n_scanned"),
          col("n_rows"), col("sum_chars"))
    leg("hit", "src1").unionByName(leg("miss", "src_absent"))
  }

  /** q192 — POSITIONAL DELETE (Iceberg v2's second delete flavor,
    * completing q168's equality leg): v1 appends the documents table
    * PLUS a physically duplicated slice (same doc_id keys, payload+1 —
    * the duplicates an equality delete on the key could only kill
    * together); v2 `deleteWhereMatching(n_chars % 2 = 1)` tombstones
    * exactly the odd-payload PHYSICAL rows — one copy of a pair dies,
    * the other survives, which is the whole point of (file, pos)
    * tombstones; v3 appends rows that all MATCH the predicate and must
    * survive (sequence scoping: tombstones bind to older files only).
    * DuckDB replays each version's row multiset from the base table;
    * the tombstone-set count pins merge-on-read (no rewrite happened).
    */
  def positionalDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "posdel_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Snapshots.append(
        docs.unionByName(docs.filter(pmod(col("doc_id"), lit(4)) === 0)
            .withColumn("n_chars", col("n_chars") + 1))
          .repartition(2, col("doc_id")), o)                           // v1
      graft.sources.Snapshots.deleteWhereMatching(
        spark, o, pmod(col("n_chars"), lit(2)) === 1)                  // v2
      graft.sources.Snapshots.append(
        docs.filter(pmod(col("doc_id"), lit(9)) === 4)
          .withColumn("n_chars", col("n_chars") * 2 + 1)
          .repartition(1), o)                                          // v3
    }
    def leg(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .transform(content("n_rows", range = false))
        .select(lit(v).as("version"), col("n_rows"), col("sum_chars"),
          lit(graft.sources.Snapshots.posDeleteSets(root, v).size)
            .as("n_posdel_sets"))
    leg(1).unionByName(leg(2)).unionByName(leg(3))
  }

  /** q194 — ROW-LEVEL UPDATE (merge-on-read, completing the DML
    * surface: append q126, MERGE q172/q188, equality delete q168,
    * positional delete q192): v2 updates every src3 row's payload in
    * ONE atomic commit (position tombstones + updated images, bound
    * by sequence scoping so the images survive their own commit's
    * delete); v3 updates the SAME rows again — update-of-update, the
    * case that proves the v2 images are ordinary older files to the
    * next commit. Row count is invariant across all three versions (a
    * cardinality-changing "update" is the classic MoR double-apply
    * bug), sums recompute exactly, and the tombstone-set count pins
    * merge-on-read (no rewrite happened).
    */
  def rowUpdate(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "rowupd_gate") { o =>
      graft.sources.Snapshots.append(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .repartition(2, col("doc_id")), o)                            // v1
      graft.sources.Snapshots.updateWhere(spark, o,
        col("source") === "src3", Map("n_chars" -> (col("n_chars") + 500L))) // v2
      graft.sources.Snapshots.updateWhere(spark, o,
        col("source") === "src3", Map("n_chars" -> (col("n_chars") + 7L)))   // v3
    }
    def leg(v: Int): DataFrame =
      graft.sources.Snapshots.read(spark, root, v)
        .transform(content("n_rows", range = false))
        .select(lit(v).as("version"), col("n_rows"), col("sum_chars"),
          lit(graft.sources.Snapshots.posDeleteSets(root, v).size)
            .as("n_posdel_sets"))
    leg(1).unionByName(leg(2)).unionByName(leg(3))
  }

  /** q195 — COMMIT HISTORY (Delta `DESCRIBE HISTORY` / Iceberg
    * `table.history`): a six-commit table exercising every DML verb —
    * append, merge, compaction, equality delete, row update,
    * positional delete — then one metadata-only readout of
    * [[graft.sources.Snapshots.history]]: per version, the recorded
    * OPERATION, the rows its new data files added (summed from
    * manifest `#rows` tokens, zero data-file opens) and the delete
    * sets it added. The oracle restates the whole audit trail
    * literally: a mislabeled commit, a rewrite counted as data
    * change, or a delete set charged to the wrong version each break
    * a different cell.
    */
  /** q196 — WRITABLE BRANCHES / Write-Audit-Publish (r11): the gate
    * drives the full ref lifecycle on one staged table. An `audit`
    * branch accumulates two commits while `main` stays pinned (the WAP
    * audit step), then publishes via fast-forward (one ref swap, no
    * data I/O); an `exp` branch forks from v1 and diverges from main
    * for good; a main commit lands after the publish; the audit ref is
    * dropped; and `expire` cuts main's history below the fork while
    * the exp lineage anchors the fork-point version. The output is
    * each surviving ref's STATE — row count, content sum, and its
    * branch-aware history length after expiration — which the oracle
    * recomputes from the base table and the construction's arithmetic:
    * main = slices {0,1,2,4}, its post-expire history truncated to 2
    * commits (expiring v2 broke main's chain there, so the walk stops
    * at {3,5} even though the exp-anchored v1 still exists); exp =
    * slices {0,3} with its full 2-commit lineage {1,4}. A
    * branch read leaking another ref's rows, a fast-forward moving
    * data, expire eating a branch-anchored version, or history
    * walking raw version numbers each break a different cell.
    */
  def branchWap(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "branch_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      def slice(r: Int) =
        docs.filter(pmod(col("doc_id"), lit(5)) === r)
      S.append(slice(0).repartition(2, col("doc_id")), o)           // v1 main
      S.createBranch(o, "audit")
      S.appendTo(slice(1).repartition(1), o, "audit")               // v2 audit
      S.appendTo(slice(2).repartition(1), o, "audit")               // v3 audit
      // the audit step: branch commits are INVISIBLE on main until
      // published
      require(S.read(spark, o).count() == slice(0).count(),
        "audit-branch commits leaked into main before publish")
      require(S.fastForward(o, "main", "audit") == 3,
        "fast-forward did not land main on the audit head")         // main→v3
      S.createBranch(o, "exp", from = 1)
      S.appendTo(slice(3).repartition(1), o, "exp")                 // v4 exp
      S.append(slice(4).repartition(1), o)                          // v5 main
      S.dropBranch(o, "audit")
      // main chain {1,2,3,5}: cutoff 3 expires v2 (audit is dropped);
      // v1 survives as exp's fork anchor
      S.expire(o, keepFrom = 3)
      require(!scala.util.Try(S.read(spark, o, 2)).isSuccess,
        "time travel to the expired v2 should fail loudly")
      require(scala.util.Try(S.read(spark, o, 1)).isSuccess,
        "expire ate the exp branch's fork-point version")
    }
    Seq("exp", "main").map { b =>
      S.readBranch(spark, root, b)
        .transform(content("n_rows", range = false))
        .select(lit(b).as("ref"), col("n_rows"), col("sum_chars"),
          lit(S.history(spark, root, b).count()).as("n_commits"))
    }.reduce(_.unionByName(_))
  }

  /** q198 — CHERRY-PICK onto a diverged ref (r11): main and a feature
    * branch diverge (fast-forward verifiably refuses), then ONE audited
    * append is picked from the branch onto main. The construction pins
    * the sequence-number half of the contract: main commits an
    * equality-delete for keys that only EXIST on the branch BEFORE the
    * pick, so a naive pick that reused the source's `data_v2` paths
    * would let the older tombstone kill the arriving rows — the
    * hard-linked `data_v4` spelling gives them the new commit's
    * sequence number and they survive exactly as a fresh append would.
    * Output is both refs' states; the oracle recomputes them from the
    * base table (main = the %4=0 base minus its %8=0 deletes, plus the
    * picked %4=1 slice INTACT — its %8=1 keys included).
    */
  def cherryPickGate(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "pick_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      S.append(docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .repartition(2, col("doc_id")), o)                           // v1 main
      S.createBranch(o, "feat")
      S.appendTo(docs.filter(pmod(col("doc_id"), lit(4)) === 1)
        .repartition(1), o, "feat")                                  // v2 feat
      S.deleteWhere(spark, o, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(8)) <= 1)
          .select(col("doc_id")))                                    // v3 main
      require(!scala.util.Try(S.fastForward(o, "main", "feat")).isSuccess,
        "diverged refs must refuse a fast-forward")
      S.cherryPick(spark, o, "main", 2)                              // v4 main
    }
    Seq("feat", "main").map { b =>
      S.readBranch(spark, root, b)
        .transform(content("n_rows", range = false))
        .select(lit(b).as("ref"), col("n_rows"), col("sum_chars"))
    }.reduce(_.unionByName(_))
  }

  /** q205 — PER-REF RETENTION (r12): a long-lived side branch sweeps
    * its own aged history by count ([[graft.sources.Snapshots.expireRefs]]
    * `minSnapshotsToKeep`, with `maxAgeMillis = 0` so the gate is
    * deterministic) while every OTHER retention owner survives — the
    * main lineage, a tag pinned mid-branch, and the branch's own
    * recent window. The staging asserts the destructive half (expired
    * versions fail loudly, protected ones read); the output gates the
    * surviving states (main head, branch head, the pinned tag) against
    * DuckDB's recomputation from the source slices.
    */
  def branchRetention(spark: SparkSession, dir: String): DataFrame = {
    val S = graft.sources.Snapshots
    val root = stagedDir(spark, dir, "retain_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      def slice(r: Int) =
        docs.filter(pmod(col("doc_id"), lit(6)) === r)
      S.append(slice(0).repartition(2, col("doc_id")), o)           // v1 main
      S.createBranch(o, "logs")
      S.appendTo(slice(1).repartition(1), o, "logs")                // v2 logs
      S.appendTo(slice(2).repartition(1), o, "logs")                // v3 logs
      S.appendTo(slice(3).repartition(1), o, "logs")                // v4 logs
      S.appendTo(slice(4).repartition(1), o, "logs")                // v5 logs
      S.tag(o, "pin3", 3)
      // logs chain {1,2,3,4,5}, keep-count 1 → candidates {1,2,3,4};
      // v1 survives as main's lineage+head, v3 as the tag → {2,4}
      // sweep. Every swept file is carried forward by v5's manifest,
      // so refcounting must delete ZERO data files.
      require(S.expireRefs(o, "logs", minSnapshotsToKeep = 1,
        maxAgeMillis = 0L) == 0,
        "append-only lineage: every expired version's files are " +
          "carried forward — refcounting must spare them all")
      require(!scala.util.Try(S.read(spark, o, 2)).isSuccess &&
        !scala.util.Try(S.read(spark, o, 4)).isSuccess,
        "aged branch versions beyond the keep window must be expired")
      require(scala.util.Try(S.read(spark, o, 3)).isSuccess,
        "the tagged mid-branch version must survive retention")
      require(S.history(spark, o, "logs").count() == 1,
        "the branch walk should truncate at the expired parent")
    }
    Seq("main", "logs").map { b =>
      S.readBranch(spark, root, b)
        .transform(content("n_rows", range = false))
        .select(lit(b).as("ref"), col("n_rows"), col("sum_chars"))
    }.reduce(_.unionByName(_))
      .unionByName(S.read(spark, root, 3)
        .transform(content("n_rows", range = false))
        .select(lit("pin3").as("ref"), col("n_rows"), col("sum_chars")))
  }

  def commitHistory(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedDir(spark, dir, "hist_gate") { o =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val S = graft.sources.Snapshots
      S.append(docs.repartition(2, col("doc_id")), o)                  // v1
      S.merge(spark, o, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(6)) === 1)
          .withColumn("n_chars", col("n_chars") + 50).repartition(1))  // v2
      S.compact(spark, o, targetFiles = 2)                             // v3
      S.deleteWhere(spark, o, "doc_id",
        docs.filter(pmod(col("doc_id"), lit(15)) === 2)
          .select(col("doc_id")))                                      // v4
      S.updateWhere(spark, o, col("source") === "src5",
        Map("n_chars" -> (col("n_chars") + 9L)))                       // v5
      S.deleteWhereMatching(spark, o,
        pmod(col("n_chars"), lit(2)) === 1 && col("source") === "src2") // v6
    }
    graft.sources.Snapshots.history(spark, root)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q210_manifest_segment_pruning" -> (manifestSegmentPruning _),
    "q205_branch_retention" -> (branchRetention _),
    "q198_cherry_pick" -> (cherryPickGate _),
    "q196_branch_wap" -> (branchWap _),
    "q195_commit_history" -> (commitHistory _),
    "q194_row_update" -> (rowUpdate _),
    "q192_positional_delete" -> (positionalDelete _),
    "q189_partition_spec_evolution" -> (partitionSpecEvolution _),
    "q187_type_promotion" -> (typePromotion _),
    "q188_serializable_merge" -> (serializableMergeGate _),
    "q185_snapshot_diff" -> (snapshotDiff _),
    "q184_cdc_ivm" -> (cdcIvm _),
    "q180_snapshot_tags" -> (snapshotTags _),
    "q181_orphan_cleanup" -> (orphanCleanup _),
    "q182_metadata_aggregates" -> (metadataAggregates _),
    "q178_partition_pruning" -> (partitionPruning _),
    "q176_bloom_point_lookup" -> (bloomPointLookup _),
    "q174_metadata_tables" -> (metadataTables _),
    "q173_cdc_changes" -> (cdcChanges _),
    "q172_snapshot_merge" -> (snapshotMerge _),
    "q170_concurrent_appends" -> (concurrentAppends _),
    "q168_equality_delete" -> (equalityDelete _),
    "q167_zorder_compaction" -> (zorderCompactionPruning _),
    "q166_snapshot_schema_evolution" -> (snapshotSchemaEvolution _),
    "q165_manifest_stats_pruning" -> (manifestStatsPruning _),
    "q160_pruned_snapshot_read" -> (prunedSnapshotRead _),
    "q159_snapshot_expiration" -> (snapshotExpiration _),
    "q158_snapshot_compaction" -> (snapshotCompaction _),
    "q126_time_travel" -> (timeTravel _),
    "q214_timestamp_travel" -> (timestampTravel _),
    "q216_manifest_rewrite" -> (manifestRewrite _),
    "q217_checked_append" -> (checkedAppend _),
    "q218_packed_manifest_pruning" -> (packedManifestPruning _),
    "q219_checked_merge" -> (checkedMerge _),
    "q220_checked_update" -> (checkedUpdate _),
    "q221_clustered_manifest_pruning" -> (clusteredManifestPruning _),
    "q223_distributed_manifest_rewrite" -> (distributedManifestPruning _),
    "q224_checked_delete" -> (checkedDelete _),
    "q81_write_roundtrip" -> (writeRoundtrip _),
    "q99_bucketed_join" -> (bucketedJoin _),
    "q109_jsonl_roundtrip" -> (jsonlRoundtrip _),
    "q110_csv_roundtrip" -> (csvRoundtrip _),
    "q151_orc_roundtrip" -> (orcRoundtrip _),
    "q111_schema_evolution" -> (schemaEvolution _))

  val oracles: Map[String, String] = Map(
    // each surviving ref's state recomputed from the base table: main
    // published the audit slices {1,2} on top of {0} then appended
    // {4}; exp forked at v1 ({0}) and added {3}. History lengths are
    // the construction's chain arithmetic: expire(keepFrom=3) removed
    // v2, truncating main's parent walk to {3,5} = 2 commits; exp's
    // lineage {1,4} = 2 commits survives untouched
    // both refs recomputed from the base table; the main row breaks
    // if the v3 tombstones (committed before the pick) kill the picked
    // slice's %8=1 keys — the sequence-number contract
    "q198_cherry_pick" ->
      """SELECT 'feat' AS ref, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 4 IN (0, 1)
        |UNION ALL
        |SELECT 'main', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents
        |WHERE (doc_id % 4 = 0 AND doc_id % 8 <> 0) OR doc_id % 4 = 1""".stripMargin,
    // retention survivors recomputed from the slices: main = slice 0;
    // planner invariants (files scanned / segments opened / segment
    // total / zero footer opens) stated literally — the quarter layout
    // makes them exact: 1/1/4/0 per the leg geometry; content
    // aggregates re-run the same integer-quarter WHERE ranges
    "q210_manifest_segment_pruning" ->
      """WITH b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx,
        |             max(doc_id) - min(doc_id) + 1 AS span
        |           FROM documents)
        |SELECT '1_point' AS leg, 1 AS n_files_scanned, 1 AS segments_opened,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  4 AS n_segments_total, 0 AS footer_reads_plan
        |FROM documents WHERE doc_id = (SELECT mn FROM b)
        |UNION ALL
        |SELECT '2_quarter2', 1, 1, count(*), CAST(sum(n_chars) AS BIGINT), 4, 0
        |FROM documents
        |WHERE doc_id >= (SELECT mn + span // 4 FROM b)
        |  AND doc_id < (SELECT mn + span * 2 // 4 FROM b)
        |UNION ALL
        |SELECT '3_full', 4, 4, count(*), CAST(sum(n_chars) AS BIGINT), 4, 0
        |FROM documents
        |UNION ALL
        |SELECT '4_empty', 0, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |  4, 0""".stripMargin,
    // the logs head carries every appended slice (0-4); the pinned v3
    // is the chain through slice 2. The swept {v2, v4} are staging
    // requires, destructively asserted engine-side.
    "q205_branch_retention" ->
      """SELECT 'main' AS ref, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 6 = 0
        |UNION ALL
        |SELECT 'logs', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 6 IN (0, 1, 2, 3, 4)
        |UNION ALL
        |SELECT 'pin3', count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 6 IN (0, 1, 2)""".stripMargin,
    "q196_branch_wap" ->
      """SELECT 'exp' AS ref, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, 2 AS n_commits
        |FROM documents WHERE doc_id % 5 IN (0, 3)
        |UNION ALL
        |SELECT 'main', count(*), CAST(sum(n_chars) AS BIGINT), 2
        |FROM documents WHERE doc_id % 5 IN (0, 1, 2, 4)""".stripMargin,
    // the audit trail stated literally: ops by construction, rows
    // added per commit from the base table (the update's count
    // excludes keys the v4 delete already removed), delete sets per
    // the verb's shape (merge/delete/update each add one; append and
    // rewrite none)
    "q195_commit_history" ->
      """WITH d AS (SELECT doc_id, source FROM documents)
        |SELECT 1 AS version, 'append' AS operation,
        |  (SELECT count(*) FROM d) AS rows_added, 0 AS delete_sets_added
        |UNION ALL SELECT 2, 'merge',
        |  (SELECT count(*) FROM d WHERE doc_id % 6 = 1), 1
        |UNION ALL SELECT 3, 'rewrite', (SELECT count(*) FROM d), 0
        |UNION ALL SELECT 4, 'delete', 0, 1
        |UNION ALL SELECT 5, 'update',
        |  (SELECT count(*) FROM d
        |   WHERE source = 'src5' AND doc_id % 15 <> 2), 1
        |UNION ALL SELECT 6, 'delete', 0, 1""".stripMargin,
    // row count invariant across versions; sums recompute with the
    // cumulative src3 deltas; tombstone sets accumulate one per update
    "q194_row_update" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        |s3 AS (SELECT count(*) AS c FROM d WHERE source = 'src3')
        |SELECT 1 AS version, (SELECT count(*) FROM d) AS n_rows,
        |  CAST((SELECT sum(n_chars) FROM d) AS BIGINT) AS sum_chars,
        |  0 AS n_posdel_sets
        |UNION ALL SELECT 2, (SELECT count(*) FROM d),
        |  CAST((SELECT sum(n_chars) FROM d) + 500 * (SELECT c FROM s3)
        |    AS BIGINT), 1
        |UNION ALL SELECT 3, (SELECT count(*) FROM d),
        |  CAST((SELECT sum(n_chars) FROM d) + 507 * (SELECT c FROM s3)
        |    AS BIGINT), 2""".stripMargin,
    // per-version row multisets replayed from the base table: v1 =
    // base + duplicated %4 slice, v2 = v1 minus the odd-payload
    // physical rows, v3 = v2 plus the all-odd (surviving) append
    "q192_positional_delete" ->
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |v1 AS (SELECT n_chars FROM d
        |       UNION ALL SELECT n_chars + 1 FROM d WHERE doc_id % 4 = 0),
        |v2 AS (SELECT n_chars FROM v1 WHERE n_chars % 2 = 0),
        |v3 AS (SELECT n_chars FROM v2
        |       UNION ALL SELECT n_chars * 2 + 1 FROM d WHERE doc_id % 9 = 4)
        |SELECT 1 AS version, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, 0 AS n_posdel_sets
        |FROM v1
        |UNION ALL SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT), 1 FROM v2
        |UNION ALL SELECT 3, count(*), CAST(sum(n_chars) AS BIGINT), 1 FROM v3""".stripMargin,
    // mixed-layout scan arithmetic, all computed from the base table:
    // identity files = distinct sources of slice 0, bucket files =
    // distinct md5-low-60 buckets of slice 1, plus the one untokened
    // file; the hit/miss legs add the home-file terms per spec
    "q189_partition_spec_evolution" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |bk AS (SELECT doc_id, source, n_chars,
        |  CAST('0x' || substr(md5(source), 18, 15) AS BIGINT) % 8 AS b
        |  FROM d),
        |total AS (SELECT CAST(
        |    (SELECT count(DISTINCT source) FROM d WHERE doc_id % 3 = 0)
        |  + (SELECT count(DISTINCT b) FROM bk WHERE doc_id % 3 = 1)
        |  + 1 AS INTEGER) AS nf)
        |SELECT 'hit' AS leg, (SELECT nf FROM total) AS n_files_total,
        |  CAST((SELECT count(DISTINCT source) FROM d
        |        WHERE doc_id % 3 = 0 AND source = 'src1')
        |    + (SELECT count(DISTINCT b) FROM bk WHERE doc_id % 3 = 1
        |       AND b = CAST('0x' || substr(md5('src1'), 18, 15) AS BIGINT) % 8)
        |    + 1 AS INTEGER) AS n_scanned,
        |  (SELECT count(*) FROM d WHERE source = 'src1') AS n_rows,
        |  (SELECT CAST(sum(n_chars) AS BIGINT) FROM d
        |   WHERE source = 'src1') AS sum_chars
        |UNION ALL
        |SELECT 'miss', (SELECT nf FROM total),
        |  CAST((SELECT count(DISTINCT source) FROM d
        |        WHERE doc_id % 3 = 0 AND source = 'src_absent')
        |    + (SELECT count(DISTINCT b) FROM bk WHERE doc_id % 3 = 1
        |       AND b = CAST('0x' || substr(md5('src_absent'), 18, 15) AS BIGINT) % 8)
        |    + 1 AS INTEGER),
        |  CAST(0 AS BIGINT), CAST(NULL AS BIGINT)""".stripMargin,
    // the promoted reads recompute exactly from the base table: w ends
    // in .5 so 2w = 2·n_chars + 1 exactly at every width, d is exact
    // cents at both precisions; the type strings pin the schema
    // surface itself
    "q187_type_promotion" ->
      """SELECT 1 AS version, 'int' AS id_type, 'float' AS w_type,
        |  'decimal(5,2)' AS d_type, 2 AS n_files,
        |  count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
        |  CAST(sum(2 * n_chars + 1) AS BIGINT) AS sum_w2,
        |  CAST(sum((n_chars % 900) * 100 + 25) AS BIGINT) AS sum_d_cents
        |FROM documents WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT 2, 'bigint', 'double', 'decimal(12,2)', 4,
        |  count(*),
        |  CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(2 * n_chars + 1) AS BIGINT),
        |  CAST(sum(CASE WHEN doc_id % 3 <> 0
        |    THEN (n_chars % 900) * 100 + 25
        |    ELSE (n_chars % 1000) * 100000000 + 25 END) AS BIGINT)
        |FROM documents""".stripMargin,
    // the serial schedule (append, merge, append, merge) replayed from
    // the base: both merges land exactly once, the overlapping append
    // row exists then is merged away, n_aborted pins that the
    // overlapping interleave ABORTED rather than last-writer-won
    "q188_serializable_merge" ->
      """SELECT 1 AS n_aborted,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id <= 20)
        |    + 3 AS BIGINT) AS n_docs,
        |  CAST((SELECT sum(doc_id) FROM documents WHERE doc_id <= 20)
        |    + 1000001 + 1000002 + 888888 AS BIGINT) AS sum_id,
        |  CAST((SELECT sum(n_chars) FROM documents
        |        WHERE doc_id <= 20 AND doc_id NOT IN (5, 7))
        |    - 100 - 700 - 1 - 2 + 88 AS BIGINT) AS sum_payload""".stripMargin,
    // added = update new images + inserts, removed = update old
    // images, nothing else — the compaction between the endpoints is
    // invisible to a content diff
    "q185_snapshot_diff" ->
      """SELECT 'added' AS direction, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM (SELECT source, n_chars + 1000 AS n_chars
        |      FROM documents WHERE doc_id % 7 = 0
        |      UNION ALL
        |      SELECT source, n_chars + 500
        |      FROM documents WHERE doc_id % 11 = 3)
        |UNION ALL
        |SELECT 'removed', count(*), CAST(sum(n_chars) AS BIGINT),
        |  count(DISTINCT source)
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,
    // the maintained rollup must equal the direct recompute of the
    // merged state — the self-maintainability contract stated as one
    // GROUP BY
    "q184_cdc_ivm" ->
      """WITH merged AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, n_chars + 500
        |  FROM documents WHERE doc_id % 11 = 3)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY 1""".stripMargin,
    // the tagged v1 slice and the post-expiry latest recomputed from
    // the base table; tag_version and the v2 tombstone are literals
    "q180_snapshot_tags" ->
      """SELECT 'tagged_v1' AS leg, 1 AS tag_version, FALSE AS v2_readable,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'latest', 1, FALSE, count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents""".stripMargin,
    // exactly the two planted orphans removed, zero on rerun; both
    // versions' content intact
    "q181_orphan_cleanup" ->
      """SELECT 2 AS n_orphans_removed, 0 AS rerun_removed,
        |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
        |    AS n_docs_v1,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,
    // v3 facts recomputed from the merged state; v2 refusals literal
    "q182_metadata_aggregates" ->
      """WITH merged AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, n_chars + 500
        |  FROM documents WHERE doc_id % 11 = 3)
        |SELECT count(*) AS meta_count, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars, TRUE AS v2_count_refused,
        |  TRUE AS v2_minmax_refused, TRUE AS zero_footer_opens
        |FROM merged""".stripMargin,
    // all three legs' content recomputed from the base table;
    // n_scanned are deterministic literals (one file per partition
    // value): identity 1-of-20 hit / 0-of-20 miss, bucket 1-of-8 hit
    "q178_partition_pruning" ->
      """SELECT 'identity_hit' AS leg, 20 AS n_files_total, 1 AS n_scanned,
        |  count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source = 'src5'
        |UNION ALL
        |SELECT 'identity_miss', 20, 0, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE source = 'src_absent'
        |UNION ALL
        |SELECT 'bucket_hit', 8, 1, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id = 137""".stripMargin,
    // both legs recomputed from the base table; the hit leg's
    // bounded_scan states bloom pruning reached <= half the files, the
    // miss leg's states ZERO files touched (count 0, NULL sum on both
    // engines)
    "q176_bloom_point_lookup" ->
      """SELECT 'hit' AS leg, 8 AS n_files_total, TRUE AS bounded_scan,
        |  count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source = 'src3'
        |UNION ALL
        |SELECT 'miss', 8, TRUE, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE source = 'src_absent'""".stripMargin,
    // per-version manifest facts recomputed from the base table:
    // physical rows count tombstoned-but-unpurged rows (v2 = base +
    // merge source), meta_count refuses (-1) exactly where delete sets
    // apply, and the footer-open meter stays TRUE on every row
    "q174_metadata_tables" ->
      """WITH n AS (SELECT count(*) AS base FROM documents),
        |u AS (SELECT count(*) AS nu FROM documents WHERE doc_id % 7 = 0),
        |i AS (SELECT count(*) AS ni FROM documents WHERE doc_id % 11 = 3)
        |SELECT 1 AS version, 2 AS n_files, 0 AS n_delete_sets,
        |  base AS file_rows, FALSE AS is_rewrite,
        |  base AS meta_count, TRUE AS zero_footer_opens FROM n
        |UNION ALL
        |SELECT 2, 3, 1, base + nu + ni, FALSE, CAST(-1 AS BIGINT), TRUE
        |FROM n, u, i
        |UNION ALL
        |SELECT 3, 2, 0, base + ni, TRUE, base + ni, TRUE FROM n, i""".stripMargin,
    // four typed CDC groups recomputed from the base table; no
    // version-3 group (compaction is dataChange=false); preimage uses
    // original n_chars, postimage the +1000 delta
    "q173_cdc_changes" ->
      """SELECT 1 AS commit_version, 'insert' AS change_type,
        |  count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |UNION ALL
        |SELECT 2, 'update_preimage', count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 2, 'update_postimage', count(*),
        |  CAST(sum(n_chars + 1000) AS BIGINT), min(doc_id), max(doc_id)
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 2, 'insert', count(*), CAST(sum(n_chars + 500) AS BIGINT),
        |  min(doc_id + 1000000), max(doc_id + 1000000)
        |FROM documents WHERE doc_id % 11 = 3""".stripMargin,
    // the merged state recomputed from the base table with the same
    // update/insert expressions; versions 1..3 pin time travel, the
    // one-commit upsert (v2: +1 file, 1 delete set), and the
    // content-preserving tombstone purge (v3 = v2 aggregates)
    "q172_snapshot_merge" ->
      """WITH merged AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, n_chars + 500
        |  FROM documents WHERE doc_id % 11 = 3)
        |SELECT 1 AS version, 2 AS n_files, 0 AS n_delete_sets,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |UNION ALL
        |SELECT 2, 3, 1, count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id) FROM merged
        |UNION ALL
        |SELECT 3, 2, 0, count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id) FROM merged""".stripMargin,
    // concurrency invariants stated literally: 4 racing appends produce
    // versions 1..4 exactly (latest 4), history is strictly monotone
    // (lost updates break it), and the final version carries the whole
    // table, which DuckDB recomputes from the base table
    "q170_concurrent_appends" ->
      """SELECT 4 AS latest_version, TRUE AS monotone_history,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents""".stripMargin,
    // merge-on-read invariants stated literally: the delete is a
    // metadata commit (v2 keeps v1's 2 files), the tombstone set rides
    // until compaction purges it (n_delete_sets 0/1/1/0), and the
    // content WHEREs encode sequence scoping — v3 re-inserts keys the
    // v2 delete tombstoned, so its predicate restores the whole
    // doc_id % 3 = 0 slice including % 15 = 0
    "q168_equality_delete" ->
      """SELECT 1 AS version, 2 AS n_files, 0 AS n_delete_sets,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT 2, 2, 1, count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 <> 0
        |UNION ALL
        |SELECT 3, 4, 1, count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents
        |WHERE (doc_id % 3 <> 0 AND doc_id % 5 <> 0) OR doc_id % 3 = 0
        |UNION ALL
        |SELECT 4, 2, 0, count(*), CAST(sum(n_chars) AS BIGINT),
        |  min(doc_id), max(doc_id)
        |FROM documents
        |WHERE (doc_id % 3 <> 0 AND doc_id % 5 <> 0) OR doc_id % 3 = 0""".stripMargin,
    // z-order invariants stated literally: full scans all 8 files,
    // disjoint scans 0, each point leg scans 1..4 of 8 (bounded_scan —
    // the error-bound boolean pattern); aggregates re-run the same
    // WHERE over the base table
    "q167_zorder_compaction" ->
      """SELECT 'point_x' AS leg, -1 AS n_files_scanned,
        |  TRUE AS bounded_scan, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id = (SELECT min(doc_id) FROM documents)
        |UNION ALL
        |SELECT 'point_y', -1, TRUE, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents WHERE n_chars = (SELECT min(n_chars) FROM documents)
        |UNION ALL
        |SELECT 'full', 8, TRUE, count(*), CAST(sum(n_chars) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'empty', 0, TRUE, CAST(0 AS BIGINT), CAST(NULL AS BIGINT)""".stripMargin,
    // schema-evolution invariants stated literally: v1 keeps 2 columns
    // and 2 files after the widening commit, v2 has 3 columns over
    // 4 files (v1's 2 reused + 2 new — a metadata commit, no rewrite),
    // and source is NULL exactly for the rows living in v1's files
    "q166_snapshot_schema_evolution" ->
      """SELECT 1 AS version, 2 AS n_cols, 2 AS n_files, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(NULL AS BIGINT) AS n_src_null, CAST(NULL AS BIGINT) AS n_src_set
        |FROM documents WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT 2, 3, 4, count(*), CAST(sum(n_chars) AS BIGINT),
        |  CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents""".stripMargin,
    // manifest-stats invariants stated literally: all 4 files carry
    // commit-time doc_id stats, planning opened ZERO footers, and the
    // per-leg scanned counts match the clustered layout (1/4/0); the
    // aggregates re-run the same WHERE ranges over the base table
    "q165_manifest_stats_pruning" ->
      """SELECT 'point' AS leg, 1 AS n_files_scanned, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, 4 AS n_stats_files,
        |  0 AS footer_reads_plan
        |FROM documents WHERE doc_id = (SELECT min(doc_id) FROM documents)
        |UNION ALL
        |SELECT 'full', 4, count(*), CAST(sum(n_chars) AS BIGINT), 4, 0
        |FROM documents
        |UNION ALL
        |SELECT 'empty', 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), 4, 0""".stripMargin,
    // n_files_scanned values are pruning-planner invariants stated
    // literally: a clustered 4-file layout plans 1 file for the point
    // range, 4 for the full range, 0 for the disjoint range; the
    // aggregates re-run the same WHERE ranges over the base table
    "q160_pruned_snapshot_read" ->
      """SELECT 'point' AS leg, 1 AS n_files_scanned, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM documents WHERE doc_id = (SELECT min(doc_id) FROM documents)
        |UNION ALL
        |SELECT 'full', 4, count(*), CAST(sum(n_chars) AS BIGINT), min(doc_id),
        |  max(doc_id)
        |FROM documents
        |UNION ALL
        |SELECT 'empty', 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)""".stripMargin,
    // post-expire invariants stated literally: only v5's 2 compacted
    // files remain on disk, the 8 pre-compaction files are deleted,
    // v4's manifest no longer resolves — and v5's content (recomputed
    // by DuckDB from the base table) survives the sweep intact
    "q159_snapshot_expiration" ->
      """SELECT 5 AS version, 2 AS n_files, 2 AS n_disk_files,
        |  TRUE AS expired_unreadable, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM documents""".stripMargin,
    // n_files values are engine-defined manifest invariants stated
    // literally (the q96 pattern): 4 appends x 2 files = 8 before
    // compaction, 2 after, and v1's original 2 survive the rewrite
    "q158_snapshot_compaction" ->
      """SELECT 1 AS version, 2 AS n_files, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT 4, 8, count(*), CAST(sum(n_chars) AS BIGINT), min(doc_id),
        |  max(doc_id)
        |FROM documents
        |UNION ALL
        |SELECT 5, 2, count(*), CAST(sum(n_chars) AS BIGINT), min(doc_id),
        |  max(doc_id)
        |FROM documents""".stripMargin,
    // versions and the refusal invariant are engine facts stated
    // literally; counts recomputed under the same %2 split
    "q217_checked_append" ->
      """SELECT '1_clean_append' AS leg, 1 AS version,
        |  count(*) AS n_docs, TRUE AS refusal_minted_no_version
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT '2_clean_after_refusal', 2, count(*), TRUE
        |FROM documents""".stripMargin,
    // segment/file counts and the CDC zero are engine invariants
    // stated literally; content recomputed under the same %17 delete
    "q216_manifest_rewrite" ->
      """WITH k AS (SELECT count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT count(*) FROM documents WHERE doc_id % 17 = 0) AS n_del
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT '1_pre_rewrite' AS leg, CAST(7 AS BIGINT) AS n_segments,
        |  6 AS n_files, n_docs, sum_chars, TRUE AS files_identical,
        |  n_del AS n_cdc_rows FROM k
        |UNION ALL
        |SELECT '2_post_rewrite', CAST(1 AS BIGINT), 6, n_docs, sum_chars,
        |  TRUE, n_del FROM k
        |UNION ALL
        |SELECT '3_time_travel_pre', CAST(7 AS BIGINT), 6, n_docs, sum_chars,
        |  TRUE, n_del FROM k""".stripMargin,
    // versions and the refusal invariant are engine facts stated
    // literally; the post-image recomputed under the same %5 shift
    "q219_checked_merge" ->
      """SELECT '1_pre_merge' AS leg, 1 AS version, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  TRUE AS refusal_minted_no_version
        |FROM documents
        |UNION ALL
        |SELECT '2_post_merge', 2, count(*),
        |  CAST(sum(n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END)
        |    AS BIGINT), TRUE
        |FROM documents""".stripMargin,
    // same shape for the UPDATE path under the %7 doubling
    "q220_checked_update" ->
      """SELECT '1_pre_update' AS leg, 1 AS version, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  TRUE AS refusal_minted_no_version
        |FROM documents
        |UNION ALL
        |SELECT '2_post_update', 2, count(*),
        |  CAST(sum(CASE WHEN doc_id % 7 = 0 THEN n_chars * 2 ELSE n_chars END)
        |    AS BIGINT), TRUE
        |FROM documents""".stripMargin,
    // planner invariants after the size-bounded rewrite (files
    // scanned / segments opened / 4 packed segments / identical file
    // set) stated literally per the eighth-pair geometry; content
    // aggregates re-run the same integer-eighth WHERE ranges. q221
    // (the clustered rewrite of a SHUFFLED ingest) restores exactly
    // q218's geometry, so the two gates share one oracle BY DESIGN
    "q218_packed_manifest_pruning" -> eighthPruneOracle,
    "q221_clustered_manifest_pruning" -> eighthPruneOracle,
    // q223 forces the SPARK-JOB rewrite path on q221's scenario: a
    // lossless re-plumbing of the same sort must land the same
    // geometry, so the three gates share one oracle BY DESIGN
    "q223_distributed_manifest_rewrite" -> eighthPruneOracle,
    // both versions' live rows recomputed under the same modulus
    // split; versions and the refusal stated literally (q217/q219)
    "q224_checked_delete" ->
      """SELECT '1_parent_table' AS leg, 1 AS version,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  TRUE AS refusal_minted_no_version
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT '2_after_checked_delete', 2, count(*),
        |  CAST(sum(n_chars) AS BIGINT), TRUE
        |FROM documents WHERE doc_id % 4 = 0""".stripMargin,
    // resolved versions are engine invariants under strict stamp
    // monotonicity, stated literally; content counts recomputed
    "q214_timestamp_travel" ->
      """SELECT '1_at_commit_ts' AS leg, 1 AS resolved_version,
        |  count(*) AS n_docs, TRUE AS pre_history_refused
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT '2_at_commit_ts', 2, count(*), TRUE
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT '3_at_commit_ts', 3, count(*), TRUE FROM documents
        |UNION ALL
        |SELECT '4_beyond_head', 3, count(*), TRUE FROM documents""".stripMargin,
    "q126_time_travel" ->
      """SELECT 1 AS version, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM documents WHERE doc_id % 3 <> 0
        |UNION ALL
        |SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT), min(doc_id),
        |  max(doc_id)
        |FROM documents""".stripMargin,
    "q81_write_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0))) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE source = 'src1' GROUP BY lang""".stripMargin,
    "q111_schema_evolution" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_lang,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_langs
        |FROM documents GROUP BY source""".stripMargin,
    // both roundtrips must reproduce the ORIGINAL table's aggregate —
    // any escaping loss in the written files shifts a text hash
    "q109_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text))
        |    AS n_distinct_texts,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,
    "q110_csv_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text))
        |    AS n_distinct_texts,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,
    "q151_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text))
        |    AS n_distinct_texts,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY source""".stripMargin,
    "q99_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  sum(l_quantity) AS sum_qty,
        |  min(o_orderkey) AS min_orderkey, max(o_orderkey) AS max_orderkey
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin)
}

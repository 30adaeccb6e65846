package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Sampling, SortedNeighborhood, Winnowing}
import graft.sources.Tables

/** Text-analysis + dedup queries over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * counting, fingerprinting, exact/fuzzy dedup). SQL-expressible parts
  * carry DuckDB oracles; sketch-based ops (minhash/simhash/fingerprint)
  * are engine-defined and get the driver's rows-only check.
  */
object TextQ {

  /** Per-document token/char/ratio statistics. The token array is
    * materialized ONCE per row (ratios reuse it) — inlining tokens()
    * into each metric would blow the codegen method past the JIT limit
    * and recompute the split 4×.
    */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        length(col("text")).as("len_chars"),
        round(alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(when(size(col("toks")) === 0, 0.0).otherwise(
          size(filter(col("toks"), t => array_contains(typedLit(stopwordList), t))).cast("double")
            / size(col("toks"))), 6).as("stopword_ratio"),
        round(when(size(col("toks")) === 0, 0.0).otherwise(
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double")
            / size(col("toks"))), 6).as("mean_token_len"))

  /** Token-count histogram (decade buckets). */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(floor(tokenCount(col("text")) / 10).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))

  /** Exact-dup groups by canonical content hash (full-corpus report). */
  def exactDedupGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("content_hash", md5(Dedup.canonicalText(col("text"))))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))

  /** Character-set Jaccard near-dup pairs via the Sorted Neighborhood
    * Method — the SQL-checkable cousin of shingle Jaccard, made linear.
    *
    * The round-1 form self-joined every same-(lang, source) pair: blocks
    * grow with the corpus, so pairs grew quadratically — the battery's
    * scale-killer. SNM sorts by (lang, source, charset-string, doc_id)
    * and compares each doc only with its `snmWindow` predecessors:
    * exactly w×n candidates at any scale, every emitted pair exactly
    * verified (precision 1; recall measured in SortedNeighborhoodSpec —
    * identical char sets are always adjacent in the sort, and J ≥ 0.9
    * pairs differ by ≤ ~4 chars so they nearly always still collate).
    * Deterministic total order ⇒ DuckDB reproduces it with a global
    * row_number, keeping the query hash-gated.
    */
  val snmWindow = 20

  /** The near-dup PAIRS and COMPONENTS tables are what a production
    * dedup pipeline writes once and reuses (the SNM scan and the CC
    * iteration are build steps, their outputs artifacts). The
    * in-session stand-in: memoize each per (session, dir) — q43, q71
    * and q72 then share one pairs materialization and one CC run
    * instead of re-deriving both per query. Artifact tables only;
    * query RESULTS are never cached.
    */
  private val pairsMemo =
    new graft.sources.SessionMemo[(SparkSession, String), DataFrame](_._1)
  private val ccMemo =
    new graft.sources.SessionMemo[(SparkSession, String), DataFrame](_._1)

  def charJaccardPairs(spark: SparkSession, dir: String): DataFrame =
      pairsMemo.get((spark, dir)) {
    val d = Tables.documents(spark, dir).select(
      col("lang"), col("source"), col("doc_id"),
      array_sort(array_distinct(split(lower(col("text")), ""))).as("chars"))
    SortedNeighborhood.candidatePairs(d,
        blockCols = Seq("lang", "source"),
        // block cols lead the sort so the global rank matches the
        // oracle's ORDER BY (lang, source, charset-string, doc_id)
        sortCols = Seq(col("lang"), col("source"),
          concat_ws("", col("chars")), col("doc_id")),
        window = snmWindow)
      .withColumn("jaccard",
        round(size(array_intersect(col("chars_a"), col("chars_b"))).cast("double") /
          size(array_union(col("chars_a"), col("chars_b"))), 6))
      .filter(col("jaccard") >= 0.9)
      .select(least(col("doc_id_a"), col("doc_id_b")).as("id_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("id_b"), col("jaccard"))
      // the tiny (id_a, id_b, jaccard) artifact is what callers reuse;
      // materialized by the first consumer's action
      .localCheckpoint(false)
  }

  /** Memoized (node, component) artifact over [[charJaccardPairs]] —
    * the CC loop's jobs run on first request; the returned label table
    * is the last round's checkpoint, shared by q71/q72.
    */
  private[queries] def dupComponents(spark: SparkSession, dir: String): DataFrame =
    ccMemo.get((spark, dir)) {
      Dedup.connectedComponents(charJaccardPairs(spark, dir)) }

  /** Heuristic language ID vs the labeled lang column (confusion
    * counts). Hash-gated: the marker heuristic is deterministic, and the
    * oracle SQL is generated from the same marker table
    * ([[graft.functions.TextFunctions.langMarkers]]) with overlapping
    * occurrence counts reproduced via a position comprehension.
    */
  def langIdReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), langId(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))

  /** Composite quality score distribution. Hash-gated: the blend is
    * plain deterministic arithmetic, written in the SAME operation order
    * on both sides so the doubles are bit-identical before round(6).
    */
  def qualityReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"),
        round(punctRatio(col("text")), 6).as("punct_ratio"))

  /** Rolling-hash fingerprints — FULL hash gate since r8: the chain
    * step is the engine-portable md5 tail
    * ([[graft.functions.TextFunctions.fingerprint]]), so DuckDB
    * replays the identical fold via `list_reduce` and the fp VALUES
    * are gate-compared, not just row counts (q68 remains the
    * injectivity/completeness companion).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        tokenCount(col("text")).as("n_tokens"))

  /** MinHash+LSH near-dup candidate pairs, Jaccard-verified — under the
    * FULL hash gate: the DuckDB oracle computes the exhaustive
    * string-shingle Jaccard pairs at the same threshold, so the gate
    * passes exactly when LSH recall is 1.0 on the fixture (verified at
    * all three sfs) AND the verify join's Jaccard values match the
    * string-set definition. Any regression in shingling, banding,
    * bucket join, or verification breaks the compare. (The operator
    * stays probabilistic in general; 16 bands × 4 rows puts the
    * candidate-probability knee well below the fixture's 0.78 minimum
    * true-pair Jaccard — P(miss) < 1e-3 there, measured zero.)
    *
    * shingleK=4: the synthetic corpus draws from a ~30-word vocabulary,
    * so short shingles collide massively (931 distinct 2-grams across
    * the whole corpus → every pair becomes an LSH candidate → the
    * verify join goes quadratic). 4-token shingles restore a sparse
    * universe — the operative rule at any scale: pick the shingle size
    * so that unrelated documents share ~none.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    // PARQUET artifact (r9): two gate consumers (q47 emits the list,
    // q161 rolls it up by source pair) — the shingle→minhash→band→
    // verify pipeline runs ONCE per (session, dir) and is written as a
    // pair-list table every downstream report scans, exactly what a
    // 100 TB curation pipeline does (the near-dup pair list is a
    // written dataset, not a per-report recomputation). Before the
    // memo, q161 re-ran the whole LSH pipeline per invocation (7.9 s).
    graft.sources.ArtifactStore.parquet(spark, dir, "minhash_pairs")(
      Dedup.minhashLsh(Tables.documents(spark, dir),
        shingleK = 4, numHashes = 64, rowsPerBand = 4,
        jaccardThreshold = 0.5))

  /** SimHash near-dup pairs (≤3 of 60 bits differ) — FULL hash gate
    * since r8: the sketch's per-token hash is the portable md5 tail
    * ([[graft.functions.SimHash60]]), so the oracle replays the entire
    * pipeline — sketch (per-bit token majority), 15-bit pigeonhole
    * blocks, bucket join, Hamming verify — in DuckDB SQL and the pair
    * LIST is gate-compared (q82 remains the blocking-completeness
    * companion).
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), maxHamming = 3)

  /** q161 — cross-source duplicate-LEAKAGE matrix: the q47 MinHash
    * near-dup pairs rolled up by unordered source pair — the report a
    * curation pipeline reads before declaring two sources independent
    * (a source pair with near-dup mass is a train/eval leak if the
    * split is by source, and double-counted mixture weight if not).
    * The SNM pair family (q43/q71/q72) CANNOT see these: it blocks on
    * (lang, source) by design, so cross-source leakage is exactly the
    * signal it trades away — this matrix comes from the LSH path,
    * whose banding is content-only. Scale shape: the pair list is the
    * (already bucketed) LSH output, the source lookup is a thin
    * doc_id-keyed join of a 2-column projection, and the matrix is one
    * groupBy over |pairs| rows.
    */
  def crossSourceLeakage(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    minhashPairs(spark, dir)
      .join(src.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("source", "src_a"), Seq("id_a"))
      .join(src.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("source", "src_b"), Seq("id_b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      // millionths, not a double gate column (the float-gate rule):
      // jaccard is already round(·, 6), so ·1e6 is integral on both
      // engines and the floor(+0.5) spelling is the sanctioned cast
      .agg(count(lit(1)).as("n_pairs"),
        floor(max(col("jaccard")) * 1000000d + 0.5d).cast("long")
          .as("max_jaccard_micro"))
  }

  /** q162 — duplicate-cluster-SAFE eval split: assign every document a
    * cluster id (its near-dup component when it has one
    * ([[dupComponents]]), itself otherwise) and split eval/train by a
    * salted portable hash OF THE CLUSTER — so near-duplicates can
    * never straddle the split. This is the leakage-free split practice
    * a doc-level split (q108 handles exact dups only) cannot give:
    * hash per doc and two near-identical documents land on opposite
    * sides, leaking eval content into train verbatim-minus-a-word.
    * The no_straddle invariant is engine-measured as a 1-row scalar
    * aggregate (the q108 pattern) and the ORACLE RECOMPUTES it from
    * its own recursive-closure components — a per-doc hashing bug
    * would flip both the boolean and the per-source counts.
    */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val assigned = docs
      .join(dupComponents(spark, dir).withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
      .withColumn("in_eval",
        graft.operators.Sampling.bucket(col("cluster"), "cs1") < 100000L)
    val straddle = assigned.groupBy(col("cluster"))
      .agg(countDistinct(col("in_eval")).as("sides"))
      .filter(col("sides") > 1)
      .agg(count(lit(1)).as("_n"))
    assigned.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("in_eval"), 1L).otherwise(0L)).as("n_eval"),
        sum(when(!col("in_eval"), 1L).otherwise(0L)).as("n_train"))
      .crossJoin(broadcast(straddle))
      .select(col("source"), col("n_docs"), col("n_eval"), col("n_train"),
        (col("_n") === 0L).as("no_straddle"))
  }

  /** SimHash BLOCKING completeness under the hash gate: the pigeonhole
    * argument (≤3 differing bits of 60 ⇒ at least one of the four
    * 15-bit blocks equal) says the block-bucket join loses NOTHING vs
    * exhaustively comparing every sketch pair — this query CHECKS that,
    * comparing [[Dedup.simhashPairs]]'s output against an exhaustive
    * hamming scan over the same sketches, and emits counts/booleans the
    * oracle states literally. (Since r8 the sketch itself is
    * engine-portable and q48's pair list is under the FULL hash gate;
    * this companion keeps independently pinning the pigeonhole
    * completeness of the blocked plan.) The exhaustive leg is O(n²)
    * over 8-byte sketches — a gate-scale diagnostic; the operator
    * under test is the blocked path.
    */
  def simhashComplete(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.simhash60
    val docs = Tables.documents(spark, dir)
    // sketch the corpus ONCE; the planted repartition is the exchange
    // all three consumers (blocked leg + both exhaustive sides) reuse
    val sk = docs.select(col("doc_id").as("id"),
        simhash60(tokens(col("text"))).as("sk"))
      .repartition(col("id"))
    // the completeness DIAGNOSTIC must compare the raw pigeonhole
    // against the exhaustive scan: pin the df cap OFF (r13 review) —
    // the exhaustive leg knows nothing of viral buckets, and a capped
    // blocked leg would report a designed drop as a completeness hole
    val blocked = Dedup.simhashPairs(docs, sketches = Some(sk),
        maxBucketDf = Long.MaxValue)
      .select(col("id_a"), col("id_b")).withColumn("_b", lit(1))
    val exhaustive = sk.as("a").join(sk.as("b"), col("a.id") < col("b.id"))
      .filter(bit_count(col("a.sk").bitwiseXOR(col("b.sk"))) <= 3)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .withColumn("_e", lit(1))
    exhaustive.join(blocked, Seq("id_a", "id_b"), "full_outer")
      .agg(
        coalesce(sum(when(col("_b").isNull, lit(1))), lit(0))
          .cast("long").as("n_missed"),
        coalesce(sum(when(col("_e").isNull, lit(1))), lit(0))
          .cast("long").as("n_extra"))
      .select(
        (col("n_missed") === 0 && col("n_extra") === 0).as("blocking_complete"),
        col("n_missed"), col("n_extra"))
  }

  /** Fingerprint GROUP-SIZE histogram — the hash-gated verification of
    * the rolling-hash fingerprint: grouping by fingerprint must induce
    * exactly the same partition of the corpus as grouping by canonical
    * token text (injective = no collisions, complete = equal text ⇒
    * equal fp), so the two group-size histograms are equal — and the
    * oracle computes ITS histogram from the text side only, no xxhash
    * needed in DuckDB.
    */
  def fingerprintGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_groups"))

  /** Duplicate CLUSTERS from the SNM near-dup pairs: connected
    * components turn pairwise candidates into groups with a canonical
    * (minimum) id — the step a production dedup runs before keep-one.
    * Hash-gated: DuckDB reproduces the components with a recursive
    * closure over the same pairs.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupComponents(spark, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("n_members"))

  /** The CLEANED corpus after fuzzy dedup — each SNM duplicate cluster
    * collapsed to its canonical doc — summarized per source. This is
    * the end-to-end near-dedup product: pairs → components → keep-one.
    */
  def dedupedCorpus(spark: SparkSession, dir: String): DataFrame = {
    // keepCanonical over the SHARED components artifact (same anti-join
    // as Dedup.keepCanonical, without re-running the CC build)
    val drop = dupComponents(spark, dir)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    Tables.documents(spark, dir).join(drop, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min(col("doc_id")).as("min_id"))
  }

  /** Winnowing fingerprint report (k=3-gram hashes, w=4 windows) per
    * source — fully hash-gated: the portable md5-tail hash makes the
    * whole selection reproducible in DuckDB SQL, window function and
    * all.
    */
  def winnowingReport(spark: SparkSession, dir: String): DataFrame = {
    // `source` rides the explode as a payload column (no join back), and
    // the report is shaped so the 500k-print stream is consumed exactly
    // ONCE: a (source, print) rollup yields both distinct_prints
    // (group count) and total_prints (sum of per-print doc counts ≡ the
    // old per-doc sum), while n_docs — "documents selecting ≥1 print" ≡
    // "documents with ≥ w k-grams" — comes from a cheap explode-free
    // second leg. A sel-diamond here would re-run the explode per
    // branch (countDistinct's Expand would triple the stream instead).
    val (k, w) = (3, 4)
    val sel = Winnowing.selectedPrints(Tables.documents(spark, dir), k = k, w = w,
      payload = Seq("source"))
    val perSource = sel.groupBy(col("source"), col("print"))
      .agg(count(lit(1)).as("ndwp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("distinct_prints"), sum(col("ndwp")).as("total_prints"))
    val nDocs = Tables.documents(spark, dir)
      // "has ≥ w k-grams" in token arithmetic: with w > 1 the one-gram
      // short-doc convention can never reach w, so the predicate is
      // exactly n_tokens ≥ k + w − 1 — no k-gram strings built here
      .filter(size(tokens(col("text"))) >= k + w - 1)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    nDocs.join(perSource, Seq("source"))
      .select(col("source"), col("n_docs"), col("total_prints"), col("distinct_prints"))
  }

  /** Deterministic stratified sample — the corpus-mixing operator: three
    * sources kept at different rates, the rest dropped, selection by
    * portable salted hash so DuckDB reproduces the EXACT row set (not
    * just expected counts). Summarized per source.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratified(Tables.documents(spark, dir),
        strataCol = col("source"), key = col("doc_id"),
        fractions = Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25),
        salt = "mix1")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(length(col("text"))).as("total_chars"))

  /** Repetition filters in the style of the published Gopher curation
    * rules (Rae et al. 2021 §A1.1): per document, the char fraction
    * covered by the most frequent 2-gram, and the fraction of 3-gram
    * positions whose gram repeats. High values flag boilerplate /
    * degenerate text.
    *
    * Both statistics are per-DOCUMENT arg-max/rollups, so both compute
    * IN-ROW ([[graft.functions.TopGramStats]] /
    * [[graft.functions.DupGramStats]]): one map-only scan of the
    * corpus, zero shuffles, zero joins. The previous shape — explode
    * the 2-gram STRING stream, groupBy(doc, g), arg-max, then join the
    * two branches — shuffled ~2 rows per token corpus-wide to compute
    * a row-local number (the r9 driver priced it at 6.7 s; at 100 TB
    * it ships the whole gram stream twice). Hash-multiset counts stand
    * in for string-gram counts at 2^-64 odds; the tie-break compares
    * real gram strings, so `max(struct(c, g))` semantics are preserved
    * exactly. The size filter keeps the OLD row set exactly: 3-grams()
    * were empty for <3-token docs, so those docs never reached the old
    * inner join.
    */
  def repetitionReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), length(col("text")).as("len_chars"),
        tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .withColumn("_tg", graft.functions.ShingleFunctions.top_gram_stats(col("ts"), 2))
      .withColumn("_dg", graft.functions.ShingleFunctions.dup_gram_stats(col("ts"), 3))
      .select(col("doc_id"),
        element_at(col("_tg"), 1).as("top2_count"),
        round(element_at(col("_tg"), 1) * element_at(col("_tg"), 2).cast("double") /
          greatest(col("len_chars"), lit(1)), 6).as("top2_char_frac"),
        round(element_at(col("_dg"), 2).cast("double") /
          greatest(element_at(col("_dg"), 1), lit(1L)), 6).as("dup3_frac"))
  }

  /** First-occurrence n-gram NOVELTY per source — the curation signal
    * for ordering/weighting corpora: how many of a source's distinct
    * per-doc 3-grams appear for the first time (by doc_id) in that
    * document. One shuffle keyed on the gram hash (an unordered
    * whole-partition window marks each occurrence with its gram's
    * globally-first doc), then a partial-agg rollup; gram STRINGS never
    * shuffle — [[graft.functions.ShingleHashes]] longs do. All-integer
    * output, hash-gated (DuckDB mirrors over distinct string k-grams;
    * hash-set ≡ string-set per doc up to 2^-64 collisions).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("source"),
        explode(graft.functions.ShingleFunctions.shingle_hashes(
          tokens(col("text")), 3)).as("h"))
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total_grams"),
        sum(when(col("doc_id") === col("first_doc"), lit(1)).otherwise(lit(0)))
          .as("novel_grams"))
  }

  /** q153 — cross-document EXACT-SUBSTRING duplication report: the
    * suffix-array dedup family (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") re-expressed as a
    * shingle-hash join. A position is "duplicated" iff its
    * `dupSpanK`-token gram occurs in ≥ 2 DISTINCT documents — the
    * verbatim cross-doc overlap ExactSubstr removes; per source the
    * gate reports doc counts, span totals and the duplicated-position
    * fraction in exact millionths (integer `div`, non-negative
    * operands).
    *
    * Scale shape (r13): the evidence stream is one LONG hash per token
    * position ([[graft.functions.ShingleFunctions.shingle_hashes_all]]
    * — multiset preserved; text bodies never leave the scan),
    * materialized ONCE per (session, dir) as the [[spanPositions]] /
    * [[dupSpanGramCounts]] artifacts the whole q153/q199/q200 family
    * shares; the report itself is two map-side-combining rollups and
    * one h-keyed join whose fan-in is bounded by the gram's document
    * frequency. No driver state, no all-pairs anywhere; the oracle
    * groups by the gram STRING, so the 60-bit hash never crosses the
    * gate (2^-64-odds collisions accepted, the q47 convention). Short
    * docs (< k tokens) contribute one whole-doc gram (the shingles()
    * convention, incl. '' for empty docs) on both engines.
    */
  val dupSpanK = 8

  /** The ExactSubstr EVIDENCE STREAM — one (pos, h) row per token
    * position of every document, k = [[dupSpanK]] — materialized once
    * per (session, dir) and shared by the whole family: q153's report
    * rolls it up, q199/q200's purge marks duplicated positions in it.
    * This is the Lee et al. suffix-array analogue as a written table
    * beside the corpus: at 100 TB you build the evidence index once,
    * not per consumer (the r12 VERDICT's armed promotion). `n_toks`
    * rides along so the purge can apply its ≥ k-token eligibility
    * without a second tokenize pass.
    */
  private def spanPositions(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.parquet(spark, dir, "span_positions") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("source"), size(col("ts")).as("n_toks"),
          posexplode(graft.functions.ShingleFunctions.shingle_hashes_all(
            col("ts"), dupSpanK)).as(Seq("pos", "h")))
    }

  /** The (doc, source, gram) multiplicity rollup of [[spanPositions]]
    * — q153's `g` — as its own artifact: distinct-(doc,h) counts are
    * what the report consumes per run, and they are an order smaller
    * than the position stream.
    */
  private def dupSpanGramCounts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.parquet(spark, dir, "dup_span_gram_counts") {
      spanPositions(spark, dir)
        .groupBy(col("doc_id"), col("source"), col("h"))
        .agg(count(lit(1)).as("c"))
    }

  def dupSpanReport(spark: SparkSession, dir: String): DataFrame = {
    val g = dupSpanGramCounts(spark, dir)
    // g is distinct per (doc, h), so its h-count IS the gram's
    // cross-corpus document frequency. A groupBy (map-side partial
    // aggregation: the df table shuffles one pre-combined row per
    // (partition, h), not the full (doc, h) stream) + an h-keyed join
    // strictly dominates the old `count(1).over(partitionBy(h))`
    // window, which cannot partial-aggregate and re-sorts every
    // (doc, h) row inside its h-partition just to annotate it.
    val df = g.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    val perDoc = g
      .join(df, Seq("h"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_spans"),
        sum(when(col("nd") >= 2, col("c")).otherwise(lit(0L))).as("dup_spans"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_spans") > 0, lit(1L)).otherwise(lit(0L))).as("n_docs_with_dup"),
        sum(col("n_spans")).as("total_spans"),
        sum(col("dup_spans")).as("dup_spans"))
      .withColumn("dup_frac_micro", expr("(dup_spans * 1000000L) div total_spans"))
  }

  /** Minimal duplicated-run length the PURGE actually cuts (q199/q200).
    * Strictly above [[dupSpanK]] so an isolated 8-gram collision —
    * coverage exactly 8 — survives while real verbatim overlaps (every
    * ≥ 2-gram-long chain covers ≥ 9 positions, and the planted corpus
    * overlaps run 20-95) are removed; sf0.001 has a source whose
    * longest covered run is 10, so the threshold is exercised in data,
    * not just in the unit fixture.
    */
  val dupSpanMin = 12

  /** The purged corpus, materialized ONCE per (session, dir) — q199's
    * accounting and q200's rewrite gate both consume it, and a purge
    * step's production shape IS a written table beside the corpus
    * (the RefinedWeb output artifact), not a recomputed lineage.
    */
  private def purgedDocs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.parquet(spark, dir, "purged_docs") {
      graft.operators.DupSpanPurge.purgeWithPositions(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text")),
        spanPositions(spark, dir).filter(col("n_toks") >= dupSpanK),
        dupSpanK, dupSpanMin)
    }

  /** q199 — ExactSubstr PURGE accounting: per-source token counts
    * before/after duplicated-span removal ([[graft.operators.DupSpanPurge]]
    * — the rewrite half of q153's report). The oracle recomputes the
    * whole removal from gram STRINGS (gaps-and-islands run detection),
    * so the engine's hash stream, coverage arithmetic and run
    * thresholding are all under the hash gate.
    */
  def dupSpanPurgeReport(spark: SparkSession, dir: String): DataFrame =
    purgedDocs(spark, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_before")).as("tokens_before"),
        sum(col("n_after")).as("tokens_after"),
        sum(when(col("n_after") < col("n_before"), lit(1L)).otherwise(lit(0L)))
          .as("docs_modified"),
        sum(when(col("n_after") === 0 && col("n_before") > 0, lit(1L))
          .otherwise(lit(0L))).as("docs_emptied"))

  /** q200 — the rewritten documents themselves: every modified doc with
    * its md5-fingerprinted post-purge text, so the gate proves the
    * RECONSTRUCTION (surviving tokens, in order, space-joined), not
    * just the counts. The oracle rebuilds each survivor string with an
    * ordered string_agg over non-removed positions.
    */
  def dupSpanRewrites(spark: SparkSession, dir: String): DataFrame =
    purgedDocs(spark, dir).filter(col("n_after") < col("n_before"))
      .select(col("doc_id"), col("source"), col("n_before"), col("n_after"),
        md5(col("new_text")).as("new_md5"))

  /** End-to-end curation FUNNEL — the composition a training-data
    * pipeline actually runs, with per-stage survivor accounting:
    * token-length band → quality floor → repetition ceiling → exact
    * dedup (keep-first by canonical text). Single enriched pass
    * (token count, quality score, duplicated-3-gram fraction), boolean
    * stage flags, one aggregate; the dedup stage reuses the canonical
    * content-hash min-id idiom over stage-4 survivors only. Float
    * boundaries are safe under the gate: quality and dup3 are rounded
    * to 6dp by the SAME operation order both sides (q45/q76 prove the
    * doubles bit-identical) before comparison.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), col("text"), tokens(col("text")).as("ts"))
    // dup3 is a per-DOCUMENT statistic: DupGramStats computes the gram
    // hashes (multiset preserved — same values the old explode →
    // groupBy(doc, g) path counted) and the duplicated-position sum
    // inside the row, erasing the two gram-stream shuffles and the
    // join back. Short-doc divergence from grams() is value-neutral
    // (a <3-token doc contributes one count-1 gram → dup3 = 0, same
    // as no grams at all)
    val flagged = toks
      .withColumn("_dg", graft.functions.ShingleFunctions.dup_gram_stats(col("ts"), 3))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        qualityScore(col("text")).as("q"),
        md5(Dedup.canonicalText(col("text"))).as("ch"),
        round(element_at(col("_dg"), 2).cast("double") /
          greatest(element_at(col("_dg"), 1), lit(1L)), 6).as("d3"))
      .withColumn("s2", col("n_tokens").between(20, 2000))
      .withColumn("s3", col("s2") && col("q") >= 0.5)
      .withColumn("s4", col("s3") && col("d3") <= 0.5)
      // the three consumers (keepFirst, the semi-join probe, the stage
      // aggregate) would otherwise each re-run the tokenize / quality /
      // dup-gram / md5 pass — the query's entire CPU cost — 3×. The
      // enriched stats table is tiny (5 scalar flags per doc, the raw
      // text already dropped), so a lazy localCheckpoint materializes
      // it on the first action and the fan-out reads blocks. Lifecycle:
      // each invocation checkpoints afresh; the previous invocation's
      // blocks release via ContextCleaner once its DataFrame is
      // unreachable (Bench nudges GC between queries for exactly this).
      // At 100 TB this is the same move a production funnel makes: write the
      // per-doc stats table once, aggregate from it.
      .localCheckpoint(false)
    val keepFirst = flagged.filter(col("s4"))
      .groupBy(col("ch")).agg(min(col("doc_id")).as("keep_id"))
    val s5 = flagged.join(keepFirst,
        flagged("ch") === keepFirst("ch") && flagged("doc_id") === keepFirst("keep_id"),
        "left_semi")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("n_tokens")), lit(0L)).as("t"))
    val s14 = flagged.agg(
      count(lit(1)).as("n1"), sum(col("n_tokens")).as("t1"),
      sum(when(col("s2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("s2"), col("n_tokens")).otherwise(0L)).as("t2"),
      sum(when(col("s3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("s3"), col("n_tokens")).otherwise(0L)).as("t3"),
      sum(when(col("s4"), 1L).otherwise(0L)).as("n4"),
      sum(when(col("s4"), col("n_tokens")).otherwise(0L)).as("t4"))
    s14.crossJoin(s5).selectExpr(
      """stack(5,
        |  '1_all',        n1, t1,
        |  '2_length',     n2, t2,
        |  '3_quality',    n3, t3,
        |  '4_repetition', n4, t4,
        |  '5_dedup',      n,  t)
        |AS (stage, n_docs, total_tokens)""".stripMargin)
  }

  /** Benchmark-decontamination report: treating src0's documents as the
    * held-out benchmark, count the corpus documents (per source) that
    * share winnowing prints with it — the screen a training pipeline
    * runs before training. Hash-gated end-to-end through the portable
    * print hash.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Winnowing.contamination(docs, isBenchmark = col("source") === "src0",
        k = 3, w = 4)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_contaminated"),
        sum(col("n_shared")).as("total_shared_prints"),
        max(col("n_shared")).as("max_shared"))
  }

  /** q163 — the DECONTAMINATED training corpus: q77 reports the
    * benchmark overlap, this is the purge that acts on it — drop every
    * non-benchmark document sharing ≥1 winnowing print with the
    * held-out split (src0), and summarize what survives per source
    * (the report → purge pair, like q43/q71 → q72 for near-dups). The
    * anti-join keys on the contamination artifact's doc ids, so the
    * purge is exactly the report's hit set — the two gates can never
    * disagree about who was contaminated.
    */
  def decontaminatedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val contaminated = Winnowing.contamination(docs,
        isBenchmark = col("source") === "src0", k = 3, w = 4)
      .select(col("doc_id"))
    docs.filter(col("source") =!= "src0")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
  }

  /** PII-redaction report. The word-soup corpus has no natural PII, so
    * each document is deterministically augmented with a synthetic
    * email + id (same expression in the oracle) — the gate then proves
    * regex parity and replace-all semantics, not just zero matches.
    */
  def redactionReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com id "),
        lpad((col("doc_id") * 37).cast("string"), 8, "0")))
      .select(col("source"),
        emailCount(col("aug")).as("ec"),
        longNumberCount(col("aug")).as("nc"),
        length(redactPii(col("aug"))).as("rl"))
      .groupBy(col("source"))
      .agg(sum(col("ec")).as("n_emails"),
        sum(col("nc")).as("n_long_numbers"),
        sum(col("rl")).as("redacted_len"))

  /** Sequence-packing plan (concat-then-chunk, the GPT-pretraining
    * idiom): documents in deterministic (source, doc_id) order are
    * concatenated per source and split into fixed `capacity`-token
    * context windows; each doc is assigned the pack its first token
    * lands in via a running-sum window — per-source partitioned, so the
    * cumsum distributes. Output: per (source, pack) occupancy. The
    * pack assignment is pure window arithmetic, hence hash-gated.
    */
  def packingPlan(spark: SparkSession, dir: String): DataFrame = {
    val capacity = 4096
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("n_tok"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("cum_before") / capacity).cast("long"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs_starting"),
        sum(col("n_tok")).as("tokens_started"),
        min(col("doc_id")).as("first_doc"))
  }

  /** q140 — context-window chunking with overlap: split each document
    * into fixed-width token windows (W=64) at stride S=48 (16-token
    * overlap), the pretraining/RAG chunker. n_chunks = max(0,
    * ceil((n−W)/S)) + 1 — every token covered, the LAST window always
    * ends at n, and no window is contained in its predecessor (the
    * naive "starts while start < n" rule emits one). Pure per-row
    * arithmetic + explode: no shuffle at all until the driver's sink —
    * at 100 TB this is a map-only pass whatever the corpus size.
    */
  def chunkPlan(spark: SparkSession, dir: String): DataFrame = {
    val W = 64; val S = 48
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok"))
      .filter(col("n_tok") >= 1)
      .withColumn("n_chunks",
        expr(s"greatest(0L, (n_tok - $W + ${S - 1}) div $S) + 1L"))
      .select(col("doc_id"), col("n_tok"),
        explode(expr("sequence(0, n_chunks - 1)")).as("ci"))
      .select(col("doc_id"),
        col("ci").cast("int").as("chunk_id"),
        (col("ci") * S).as("start_tok"),
        least(col("ci") * S + W, col("n_tok")).as("end_tok"),
        (least(col("ci") * S + W, col("n_tok")) - col("ci") * S).as("n_chunk_tok"))
  }

  /** BPE-ish subword token counts (pre-tokenizer regex) per source. */
  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), size(bpeishTokens(col("text"))).as("n_sub"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sub")).as("total_subtokens"),
        round(avg(col("n_sub")), 4).as("avg_subtokens"))

  /** q155 — TOKENIZER FERTILITY report per language: subtokens per
    * whitespace word and bytes per subtoken, the standard
    * tokenizer-quality metrics a multilingual data pipeline tracks
    * (high fertility = the tokenizer fragments that language; bytes/
    * token = compression). One scan, three per-row integer counts
    * (whitespace tokens, q49's BPE-ish pre-tokenizer, octet length),
    * one per-lang rollup; the ratios are exact integer millionths
    * (non-negative `div`, zero-guarded) — no double anywhere.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        tokenCount(col("text")).cast("long").as("nws"),
        size(bpeishTokens(col("text"))).cast("long").as("nsub"),
        octet_length(col("text")).cast("long").as("nbytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nws")).as("ws_tokens"),
        sum(col("nsub")).as("subtokens"),
        sum(col("nbytes")).as("total_bytes"))
      .withColumn("fertility_micro",
        expr("(subtokens * 1000000L) div greatest(ws_tokens, 1L)"))
      .withColumn("bytes_per_sub_micro",
        expr("(total_bytes * 1000000L) div greatest(subtokens, 1L)"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_text_stats" -> (textStats _),
    "q41_token_histogram" -> (tokenHistogram _),
    "q42_exact_dedup_groups" -> (exactDedupGroups _),
    "q43_char_jaccard_pairs" -> (charJaccardPairs _),
    "q44_langid_report" -> (langIdReport _),
    "q45_quality_report" -> (qualityReport _),
    "q46_fingerprints" -> (fingerprints _),
    "q47_minhash_pairs" -> (minhashPairs _),
    "q161_cross_source_leakage" -> (crossSourceLeakage _),
    "q162_cluster_safe_split" -> (clusterSafeSplit _),
    "q48_simhash_pairs" -> (simhashPairs _),
    "q82_simhash_complete" -> (simhashComplete _),
    "q49_bpe_token_counts" -> (bpeTokenCounts _),
    "q155_tokenizer_fertility" -> (tokenizerFertility _),
    "q68_fingerprint_groups" -> (fingerprintGroups _),
    "q71_dup_clusters" -> (dupClusters _),
    "q72_deduped_corpus" -> (dedupedCorpus _),
    "q74_winnowing_report" -> (winnowingReport _),
    "q75_stratified_sample" -> (stratifiedSample _),
    "q76_repetition_report" -> (repetitionReport _),
    "q77_contamination_report" -> (contaminationReport _),
    "q163_decontaminated_corpus" -> (decontaminatedCorpus _),
    "q78_redaction_report" -> (redactionReport _),
    "q79_packing_plan" -> (packingPlan _),
    "q140_chunk_plan" -> (chunkPlan _),
    "q84_ngram_novelty" -> (ngramNovelty _),
    "q153_dup_span_report" -> (dupSpanReport _),
    "q199_dup_span_purge" -> (dupSpanPurgeReport _),
    "q200_dup_span_rewrite" -> (dupSpanRewrites _),
    "q85_curation_funnel" -> (curationFunnel _))

  /** Gate-corpus cap preflight for q48 and q47 (the MediaQ.capGuards
    * shape): [[Dedup.simhashPairs]] and [[Dedup.minhashLsh]] run with
    * their bucket-df caps ON while the DuckDB oracles model the
    * cap-free ideal — Verify fails the gate loudly if a corpus ever
    * crosses a cap. (q82 pins the simhash cap OFF by design and needs
    * no guard. minhashLsh's band keys are NOT uniform by construction
    * — every sub-shingleK-token doc shares the one fallback-shingle
    * bucket of every band, so the LSH join is capped like its
    * siblings since r16.)
    */
  private val simhashGuardMemo =
    new graft.sources.SessionMemo[(SparkSession, String), Long](_._1)
  private val minhashGuardMemo =
    new graft.sources.SessionMemo[(SparkSession, String), Long](_._1)

  private[graft] val capGuards: Map[String,
      (SparkSession, String) => Seq[(String, Long)]] = Map(
    "q48_simhash_pairs" -> ((s, d) => Seq(
      ("simhash 15-bit pigeonhole buckets (Dedup.DefaultMaxBucketDf=" +
        s"${Dedup.DefaultMaxBucketDf})",
        simhashGuardMemo.get((s, d)) {
          Dedup.simhashDroppedBuckets(Tables.documents(s, d)).count() }))),
    "q47_minhash_pairs" -> ((s, d) => Seq(
      ("minhash LSH band buckets (Dedup.DefaultMaxBucketDf=" +
        s"${Dedup.DefaultMaxBucketDf})",
        minhashGuardMemo.get((s, d)) {
          Dedup.minhashDroppedBands(Tables.documents(s, d), shingleK = 4,
            numHashes = 64, rowsPerBand = 4).count() }))))

  /** DuckDB count of OVERLAPPING occurrences of literal `pat` in column
    * expression `t` — matches [[graft.functions.MultiSubstringCount]]'s
    * byte-wise scan (UTF-8 is self-synchronizing, so char-aligned =
    * byte-aligned for valid patterns). `replace`-based counting would
    * undercount self-overlapping matches like ' the ' in ' the the '.
    */
  private def occCount(t: String, pat: String): String = {
    val esc = pat.replace("'", "''")
    val n = pat.length
    s"len(list_filter(range(1, length($t) - $n + 2), i -> substring($t, i, $n) = '$esc'))"
  }

  /** The SNM char-Jaccard pair derivation as a reusable CTE chain —
    * q43 selects from `pairs` directly; q71 builds connected components
    * over the same pairs with a recursive closure.
    */
  private[queries] val snmPairsCtes: String =
    """d AS (SELECT lang, source, doc_id,
      |        list_sort(list_distinct(string_split(lower(text), ''))) AS chars
      |      FROM documents),
      |r AS (SELECT *, row_number() OVER (
      |        ORDER BY lang, source, array_to_string(chars, ''), doc_id) - 1 AS rnk
      |      FROM d),
      |pairs AS (
      |  SELECT least(a.doc_id, b.doc_id) AS id_a,
      |    greatest(a.doc_id, b.doc_id) AS id_b,
      |    round(CAST(len(list_intersect(a.chars, b.chars)) AS DOUBLE) /
      |          len(list_distinct(list_concat(a.chars, b.chars))), 6) AS jaccard
      |  FROM r a JOIN r b
      |    ON a.lang = b.lang AND a.source = b.source
      |   AND b.rnk BETWEEN a.rnk - 20 AND a.rnk - 1
      |  WHERE round(CAST(len(list_intersect(a.chars, b.chars)) AS DOUBLE) /
      |              len(list_distinct(list_concat(a.chars, b.chars))), 6) >= 0.9)""".stripMargin

  /** q44 oracle, generated from the SAME marker table as the engine. */
  private def langIdOracle: String = {
    val markers = graft.functions.TextFunctions.langMarkers
    val scores = markers.map { case (code, pats) =>
      pats.map(p => occCount("t", p)).mkString(" + ") + s" AS s_$code"
    }.mkString(",\n        ")
    val codes = markers.map(_._1)
    val mx = s"greatest(${codes.map(c => s"s_$c").mkString(", ")})"
    // CASE evaluates in declaration order = the engine's first-wins tie
    val branches = codes.map(c => s"WHEN s_$c = _mx THEN '$c'").mkString("\n          ")
    // the trailing ELSE matches the engine's null handling: NULL text
    // scores NULL everywhere, no WHEN fires, and the engine's
    // otherwise("und") must be mirrored (for non-null rows some s_c
    // always equals _mx, so ELSE is only reachable via NULL)
    s"""WITH padded AS (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents),
       |     scored AS (SELECT lang,
       |        $scores
       |        FROM padded),
       |     best AS (SELECT *, $mx AS _mx FROM scored)
       |SELECT lang,
       |  CASE WHEN _mx = 0 THEN 'und'
       |          $branches
       |       ELSE 'und'
       |  END AS pred,
       |  count(*) AS n
       |FROM best GROUP BY lang, pred""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q72_deduped_corpus" ->
      s"""WITH RECURSIVE $snmPairsCtes,
        |  edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |            UNION SELECT id_b, id_a FROM pairs),
        |  reach(u, v) AS (
        |    SELECT u, v FROM edges
        |    UNION
        |    SELECT rc.u, e.v FROM reach rc JOIN edges e ON rc.v = e.u),
        |  comp AS (SELECT u AS node, least(u, min(v)) AS component
        |           FROM reach GROUP BY u)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_id
        |FROM documents
        |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
        |GROUP BY source""".stripMargin,
    "q74_winnowing_report" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |kg AS (
        |  SELECT doc_id, source, CAST(u.i AS INT) AS pos,
        |    CAST('0x' || substr(md5(
        |      array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 3), ' ')
        |    ), 18, 15) AS BIGINT) AS h
        |  FROM toks, unnest(range(greatest(len(ts) - 2, 0))) u(i)),
        |win AS (
        |  SELECT doc_id, source, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM kg),
        |sel AS (SELECT DISTINCT doc_id, source, wmin FROM win WHERE pos >= 3)
        |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS total_prints,
        |  CAST(count(DISTINCT wmin) AS BIGINT) AS distinct_prints
        |FROM sel GROUP BY source""".stripMargin,
    "q75_stratified_sample" ->
      s"""WITH b AS (
        |  SELECT *,
        |    ${OracleSql.bucketSql("doc_id", "mix1")} AS bk
        |  FROM documents)
        |SELECT source, count(*) AS n_sampled,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM b
        |WHERE (source = 'src0' AND bk < 800000)
        |   OR (source = 'src1' AND bk < 500000)
        |   OR (source = 'src2' AND bk < 250000)
        |GROUP BY source""".stripMargin,
    "q76_repetition_report" ->
      """WITH toks AS (
        |  SELECT doc_id, length(text) AS len_chars,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, len_chars,
        |    array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 2), ' ') AS g
        |  FROM toks, unnest(range(greatest(len(ts) - 1, 0))) u(i)),
        |c2 AS (SELECT doc_id, len_chars, g, count(*) AS c FROM g2 GROUP BY ALL),
        |m2 AS (SELECT *, max(c) OVER (PARTITION BY doc_id) AS mc FROM c2),
        |top2 AS (
        |  SELECT doc_id, len_chars, mc AS top2_count, max(g) AS tg
        |  FROM m2 WHERE c = mc GROUP BY doc_id, len_chars, mc),
        |g3 AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 3), ' ') AS g
        |  FROM toks, unnest(range(greatest(len(ts) - 2, 0))) u(i)),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY ALL),
        |d3 AS (
        |  SELECT doc_id, sum(c) AS n_pos,
        |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_pos
        |  FROM c3 GROUP BY doc_id)
        |SELECT t.doc_id, t.top2_count,
        |  round(t.top2_count * CAST(length(t.tg) AS DOUBLE) / greatest(t.len_chars, 1), 6) AS top2_char_frac,
        |  round(CAST(d.dup_pos AS DOUBLE) / greatest(d.n_pos, 1), 6) AS dup3_frac
        |FROM top2 t JOIN d3 d ON t.doc_id = d.doc_id""".stripMargin,
    "q77_contamination_report" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |kg AS (
        |  SELECT doc_id, source, CAST(u.i AS INT) AS pos,
        |    CAST('0x' || substr(md5(
        |      array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 3), ' ')
        |    ), 18, 15) AS BIGINT) AS h
        |  FROM toks, unnest(range(greatest(len(ts) - 2, 0))) u(i)),
        |win AS (
        |  SELECT doc_id, source, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM kg),
        |sel AS (SELECT DISTINCT doc_id, source, wmin FROM win WHERE pos >= 3),
        |bench AS (SELECT DISTINCT wmin FROM sel WHERE source = 'src0'),
        |hits AS (
        |  SELECT s.doc_id, s.source, count(*) AS n_shared
        |  FROM sel s JOIN bench b ON s.wmin = b.wmin
        |  WHERE s.source <> 'src0'
        |  GROUP BY s.doc_id, s.source)
        |SELECT source, count(*) AS n_contaminated,
        |  CAST(sum(n_shared) AS BIGINT) AS total_shared_prints,
        |  CAST(max(n_shared) AS BIGINT) AS max_shared
        |FROM hits GROUP BY source""".stripMargin,
    // q77's winnowing-overlap CTEs, then the PURGE: survivors = the
    // non-benchmark docs outside the hit set, summarized per source
    "q163_decontaminated_corpus" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |kg AS (
        |  SELECT doc_id, source, CAST(u.i AS INT) AS pos,
        |    CAST('0x' || substr(md5(
        |      array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 3), ' ')
        |    ), 18, 15) AS BIGINT) AS h
        |  FROM toks, unnest(range(greatest(len(ts) - 2, 0))) u(i)),
        |win AS (
        |  SELECT doc_id, source, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM kg),
        |sel AS (SELECT DISTINCT doc_id, source, wmin FROM win WHERE pos >= 3),
        |bench AS (SELECT DISTINCT wmin FROM sel WHERE source = 'src0'),
        |hits AS (
        |  SELECT DISTINCT s.doc_id
        |  FROM sel s JOIN bench b ON s.wmin = b.wmin
        |  WHERE s.source <> 'src0')
        |SELECT t.source, count(*) AS n_docs,
        |  CAST(sum(len(t.ts)) AS BIGINT) AS total_tokens,
        |  min(t.doc_id) AS min_id, max(t.doc_id) AS max_id
        |FROM toks t ANTI JOIN hits h ON t.doc_id = h.doc_id
        |WHERE t.source <> 'src0'
        |GROUP BY t.source""".stripMargin,
    "q140_chunk_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS n_tok
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |    greatest(0, (n_tok - 64 + 47) // 48) + 1 AS n_chunks
        |  FROM t WHERE n_tok >= 1),
        |c AS (
        |  SELECT doc_id, n_tok, CAST(u.i AS BIGINT) AS ci
        |  FROM n, unnest(range(n_chunks)) u(i))
        |SELECT doc_id, CAST(ci AS INT) AS chunk_id,
        |  CAST(ci * 48 AS BIGINT) AS start_tok,
        |  CAST(least(ci * 48 + 64, n_tok) AS BIGINT) AS end_tok,
        |  CAST(least(ci * 48 + 64, n_tok) - ci * 48 AS BIGINT) AS n_chunk_tok
        |FROM c""".stripMargin,
    "q79_packing_plan" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT source, CAST(floor(cum_before / 4096) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs_starting,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens_started,
        |  min(doc_id) AS first_doc
        |FROM c GROUP BY source, pack_id""".stripMargin,
    "q78_redaction_report" ->
      """WITH a AS (
        |  SELECT source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |      '@example.com id ' || lpad(CAST(doc_id * 37 AS VARCHAR), 8, '0') AS aug
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
        |  CAST(sum(len(regexp_extract_all(aug, '\b[0-9]{6,}\b'))) AS BIGINT) AS n_long_numbers,
        |  CAST(sum(length(regexp_replace(
        |    regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{6,}\b', '<NUM>', 'g'))) AS BIGINT) AS redacted_len
        |FROM a GROUP BY source""".stripMargin,
    "q44_langid_report" -> langIdOracle,
    "q45_quality_report" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |  m AS (
        |  SELECT doc_id, text,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha,
        |    least((CASE WHEN len(ts) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(ts,
        |             x -> list_contains(['the','a','an','of','to','in','and','is','on','for','with','as','at','by','it','be','this','that'], x))) AS DOUBLE)
        |           / len(ts) END) * 5.0, 1.0) AS stop_score,
        |    CASE WHEN len(ts) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE) / len(ts) END AS tok_len
        |  FROM toks)
        |SELECT doc_id,
        |  round(len_score * 0.25 + alpha * 0.25 + stop_score * 0.25 +
        |        (CASE WHEN tok_len >= 3.0 AND tok_len <= 10.0 THEN 1.0 ELSE 0.3 END) * 0.25, 6) AS quality,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio
        |FROM m""".stripMargin,
    "q40_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS INT) AS n_tokens,
        |  CAST(length(text) AS INT) AS len_chars,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS alpha_ratio,
        |  round(CASE WHEN len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) = 0 THEN 0.0
        |    ELSE CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> len(x) > 0 AND list_contains(['the','a','an','of','to','in','and','is','on','for','with','as','at','by','it','be','this','that'], x))) AS DOUBLE)
        |         / len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) END, 6) AS stopword_ratio,
        |  round(CASE WHEN len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) = 0 THEN 0.0
        |    ELSE CAST(list_sum(list_transform(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0), x -> length(x))) AS DOUBLE)
        |         / len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) END, 6) AS mean_token_len
        |FROM documents""".stripMargin,
    "q41_token_histogram" ->
      """SELECT CAST(floor(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) / 10) AS INT) AS bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,
    "q42_exact_dedup_groups" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
        |  count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,
    "q43_char_jaccard_pairs" -> s"WITH $snmPairsCtes\nSELECT id_a, id_b, jaccard FROM pairs",
    "q82_simhash_complete" ->
      """SELECT TRUE AS blocking_complete, CAST(0 AS BIGINT) AS n_missed,
        |  CAST(0 AS BIGINT) AS n_extra""".stripMargin,
    "q84_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(ts) <= 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(len(ts) - 2),
        |           i -> array_to_string(
        |             list_slice(ts, CAST(i AS INT) + 1, CAST(i AS INT) + 3), ' ')))
        |    END AS sh
        |  FROM toks),
        |ex AS (SELECT doc_id, source, unnest(sh) AS g FROM sets),
        |fd AS (SELECT *, min(doc_id) OVER (PARTITION BY g) AS first_doc FROM ex)
        |SELECT source, count(*) AS total_grams,
        |  CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS novel_grams
        |FROM fd GROUP BY source""".stripMargin,
    // exact-substring duplication: grams keyed by STRING here (the
    // engine's 60-bit hash stands in at 2^-64 collision odds and never
    // crosses the gate); <= k tokens -> one whole-doc gram on both
    // engines, so every doc has >= 1 span and the div is total>0-safe
    "q153_dup_span_report" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, source, unnest(
        |    CASE WHEN len(ts) <= 8 THEN [array_to_string(ts, ' ')]
        |         ELSE list_transform(range(len(ts) - 7),
        |           i -> array_to_string(
        |             list_slice(ts, CAST(i AS INT) + 1, CAST(i AS INT) + 8), ' '))
        |    END) AS g
        |  FROM toks),
        |c AS (SELECT doc_id, source, g, count(*) AS c FROM gr GROUP BY ALL),
        |m AS (SELECT *, count(*) OVER (PARTITION BY g) AS nd FROM c),
        |pd AS (
        |  SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_spans,
        |    CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_spans
        |  FROM m GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN dup_spans > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup,
        |  CAST(sum(n_spans) AS BIGINT) AS total_spans,
        |  CAST(sum(dup_spans) AS BIGINT) AS dup_spans,
        |  (CAST(sum(dup_spans) AS BIGINT) * 1000000) // CAST(sum(n_spans) AS BIGINT)
        |    AS dup_frac_micro
        |FROM pd GROUP BY source""".stripMargin,
    // ExactSubstr purge: the oracle recomputes the ENTIRE removal from
    // gram strings — coverage as the union of [pos, pos+8), maximal
    // runs via gaps-and-islands (t - row_number), runs >= 12 removed —
    // so hash-stream, interval and threshold arithmetic all gate.
    // Docs with < 8 tokens carry no gram position (pure-position
    // semantics here, unlike q153's whole-doc-gram convention: a
    // sub-gram doc cannot hold a >= minSpan run, so it passes through)
    "q199_dup_span_purge" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 8), ' ') AS g
        |  FROM toks, unnest(range(greatest(len(ts) - 7, 0))) u(i)
        |  WHERE len(ts) >= 8),
        |dupg AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM gr GROUP BY g)
        |  WHERE nd >= 2),
        |cov AS (
        |  SELECT DISTINCT gr.doc_id, gr.pos + CAST(u.o AS INT) AS t
        |  FROM gr JOIN dupg USING (g), unnest(range(8)) u(o)),
        |runs AS (
        |  SELECT doc_id, t,
        |    t - row_number() OVER (PARTITION BY doc_id ORDER BY t) AS grp
        |  FROM cov),
        |removed AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, t, count(*) OVER (PARTITION BY doc_id, grp) AS rl FROM runs)
        |  WHERE rl >= 12),
        |rem AS (SELECT doc_id, count(*) AS nrem FROM removed GROUP BY doc_id),
        |pd AS (
        |  SELECT toks.doc_id, toks.source, len(ts) AS n_before,
        |    len(ts) - coalesce(nrem, 0) AS n_after
        |  FROM toks LEFT JOIN rem ON toks.doc_id = rem.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_before) AS BIGINT) AS tokens_before,
        |  CAST(sum(n_after) AS BIGINT) AS tokens_after,
        |  CAST(sum(CASE WHEN n_after < n_before THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_modified,
        |  CAST(sum(CASE WHEN n_after = 0 AND n_before > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_emptied
        |FROM pd GROUP BY source""".stripMargin,
    // the rewrite gate: per modified doc, the md5 of the post-purge
    // text (surviving tokens in position order, space-joined; an
    // emptied doc fingerprints the empty string on both engines)
    "q200_dup_span_rewrite" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS pos,
        |    array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 8), ' ') AS g
        |  FROM toks, unnest(range(greatest(len(ts) - 7, 0))) u(i)
        |  WHERE len(ts) >= 8),
        |dupg AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM gr GROUP BY g)
        |  WHERE nd >= 2),
        |cov AS (
        |  SELECT DISTINCT gr.doc_id, gr.pos + CAST(u.o AS INT) AS t
        |  FROM gr JOIN dupg USING (g), unnest(range(8)) u(o)),
        |runs AS (
        |  SELECT doc_id, t,
        |    t - row_number() OVER (PARTITION BY doc_id ORDER BY t) AS grp
        |  FROM cov),
        |removed AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, t, count(*) OVER (PARTITION BY doc_id, grp) AS rl FROM runs)
        |  WHERE rl >= 12),
        |rem AS (SELECT doc_id, count(*) AS nrem FROM removed GROUP BY doc_id),
        |tokpos AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS p, ts[CAST(u.i AS INT) + 1] AS tok
        |  FROM toks, unnest(range(len(ts))) u(i)),
        |surv AS (
        |  SELECT tp.doc_id, tp.p, tp.tok
        |  FROM tokpos tp LEFT JOIN removed r ON tp.doc_id = r.doc_id AND tp.p = r.t
        |  WHERE r.doc_id IS NULL),
        |sa AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt
        |  FROM surv GROUP BY doc_id),
        |pd AS (
        |  SELECT toks.doc_id, toks.source, len(ts) AS n_before,
        |    len(ts) - coalesce(nrem, 0) AS n_after
        |  FROM toks LEFT JOIN rem ON toks.doc_id = rem.doc_id)
        |SELECT pd.doc_id, pd.source, pd.n_before, pd.n_after,
        |  md5(coalesce(sa.txt, '')) AS new_md5
        |FROM pd LEFT JOIN sa ON pd.doc_id = sa.doc_id
        |WHERE pd.n_after < pd.n_before""".stripMargin,
    "q85_curation_funnel" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |g3 AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(ts, CAST(u.i AS INT) + 1, CAST(u.i AS INT) + 3), ' ') AS g
        |  FROM toks, unnest(range(greatest(len(ts) - 2, 0))) u(i)),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY ALL),
        |d3 AS (
        |  SELECT doc_id, round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |    / greatest(sum(c), 1), 6) AS dup3
        |  FROM c3 GROUP BY doc_id),
        |m AS (
        |  SELECT doc_id, text, ts,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha,
        |    least((CASE WHEN len(ts) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(ts,
        |             x -> list_contains(['the','a','an','of','to','in','and','is','on','for','with','as','at','by','it','be','this','that'], x))) AS DOUBLE)
        |           / len(ts) END) * 5.0, 1.0) AS stop_score,
        |    CASE WHEN len(ts) = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE) / len(ts) END AS tok_len
        |  FROM toks),
        |flagged AS (
        |  SELECT m.doc_id, len(m.ts) AS n_tokens,
        |    round(m.len_score * 0.25 + m.alpha * 0.25 + m.stop_score * 0.25 +
        |      (CASE WHEN m.tok_len >= 3.0 AND m.tok_len <= 10.0 THEN 1.0 ELSE 0.3 END) * 0.25, 6) AS q,
        |    coalesce(d3.dup3, 0.0) AS dd3,
        |    md5(regexp_replace(trim(lower(m.text)), '\s+', ' ', 'g')) AS ch
        |  FROM m LEFT JOIN d3 ON m.doc_id = d3.doc_id),
        |fl AS (
        |  SELECT *, (n_tokens BETWEEN 20 AND 2000) AS s2,
        |    ((n_tokens BETWEEN 20 AND 2000) AND q >= 0.5) AS s3,
        |    ((n_tokens BETWEEN 20 AND 2000) AND q >= 0.5 AND dd3 <= 0.5) AS s4
        |  FROM flagged),
        |keepers AS (
        |  SELECT ch, min(doc_id) AS keep_id FROM fl WHERE s4 GROUP BY ch),
        |s5 AS (
        |  SELECT count(*) AS n, coalesce(CAST(sum(fl.n_tokens) AS BIGINT), 0) AS t
        |  FROM fl JOIN keepers k ON fl.ch = k.ch AND fl.doc_id = k.keep_id),
        |s14 AS (
        |  SELECT count(*) AS n1, CAST(sum(n_tokens) AS BIGINT) AS t1,
        |    CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN s2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
        |    CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN s3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
        |    CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(sum(CASE WHEN s4 THEN n_tokens ELSE 0 END) AS BIGINT) AS t4
        |  FROM fl)
        |SELECT unnest(['1_all','2_length','3_quality','4_repetition','5_dedup']) AS stage,
        |  unnest([s14.n1, s14.n2, s14.n3, s14.n4, s5.n]) AS n_docs,
        |  unnest([s14.t1, s14.t2, s14.t3, s14.t4, s5.t]) AS total_tokens
        |FROM s14, s5""".stripMargin,
    // exhaustive string-shingle Jaccard — equals the engine's hash-set
    // Jaccard up to 2^-64 collisions; fewer-than-k-token docs get one
    // whole-token shingle (the shingles() convention, incl. '' for
    // empty docs). LSH recall on the fixture is exactly 1.0 at all
    // three sfs (measured), so found == truth. Intersections come from
    // an equi-join on exploded (doc, shingle) rows — pairs sharing no
    // shingle never materialize (the all-pairs × list_intersect form
    // is quadratic in documents and minutes-slow already at sf0.1);
    // |A∪B| = |A|+|B|−|A∩B|.
    // q47's exhaustive shingle-Jaccard CTE chain + a source rollup —
    // the oracle sees every true near-dup pair, so an LSH recall loss
    // shows up as a missing matrix cell, not just a short pair list
    "q161_cross_source_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(ts) <= 4 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(len(ts) - 3),
        |           i -> array_to_string(
        |             list_slice(ts, CAST(i AS INT) + 1, CAST(i AS INT) + 4), ' ')))
        |    END AS sh
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT id_a, id_b, sa.source AS src_a, sb.source AS src_b,
        |    round(CAST(i AS DOUBLE) / (len(sa.sh) + len(sb.sh) - i), 6) AS jaccard
        |  FROM inter
        |  JOIN sets sa ON sa.doc_id = id_a
        |  JOIN sets sb ON sb.doc_id = id_b
        |  WHERE round(CAST(i AS DOUBLE) / (len(sa.sh) + len(sb.sh) - i), 6) >= 0.5)
        |SELECT least(src_a, src_b) AS source_a, greatest(src_a, src_b) AS source_b,
        |  count(*) AS n_pairs,
        |  CAST(floor(max(jaccard) * 1000000 + 0.5) AS BIGINT) AS max_jaccard_micro
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q47_minhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS ts
        |  FROM documents),
        |sets AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) <= 4 THEN [array_to_string(ts, ' ')]
        |         ELSE list_distinct(list_transform(range(len(ts) - 3),
        |           i -> array_to_string(
        |             list_slice(ts, CAST(i AS INT) + 1, CAST(i AS INT) + 4), ' ')))
        |    END AS sh
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(i AS DOUBLE) / (len(sa.sh) + len(sb.sh) - i), 6) AS jaccard
        |FROM inter
        |JOIN sets sa ON sa.doc_id = id_a
        |JOIN sets sb ON sb.doc_id = id_b
        |WHERE round(CAST(i AS DOUBLE) / (len(sa.sh) + len(sb.sh) - i), 6) >= 0.5""".stripMargin,
    "q71_dup_clusters" ->
      s"""WITH RECURSIVE $snmPairsCtes,
        |  edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |            UNION SELECT id_b, id_a FROM pairs),
        |  reach(u, v) AS (
        |    SELECT u, v FROM edges
        |    UNION
        |    SELECT rc.u, e.v FROM reach rc JOIN edges e ON rc.v = e.u),
        |  comp AS (SELECT u AS node, least(u, min(v)) AS component
        |           FROM reach GROUP BY u)
        |SELECT component, count(*) AS n_members
        |FROM comp GROUP BY component""".stripMargin,
    // the q71 recursive closure + the q75 salted-bucket spelling, keyed
    // on the CLUSTER id — the oracle recomputes the straddle invariant
    // itself, so per-doc (leaky) hashing flips both boolean and counts
    "q162_cluster_safe_split" ->
      s"""WITH RECURSIVE $snmPairsCtes,
        |  edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |            UNION SELECT id_b, id_a FROM pairs),
        |  reach(u, v) AS (
        |    SELECT u, v FROM edges
        |    UNION
        |    SELECT rc.u, e.v FROM reach rc JOIN edges e ON rc.v = e.u),
        |  comp AS (SELECT u AS node, least(u, min(v)) AS component
        |           FROM reach GROUP BY u),
        |  assigned AS (
        |    SELECT dd.doc_id, dd.source,
        |      coalesce(c.component, dd.doc_id) AS cluster
        |    FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.node),
        |  flagged AS (
        |    SELECT *,
        |      (${OracleSql.bucketSql("cluster", "cs1")}) < 100000 AS in_eval
        |    FROM assigned),
        |  straddle AS (
        |    SELECT count(*) AS n FROM (
        |      SELECT cluster FROM flagged
        |      GROUP BY cluster HAVING count(DISTINCT in_eval) > 1))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN in_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN NOT in_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  (SELECT n FROM straddle) = 0 AS no_straddle
        |FROM flagged GROUP BY source""".stripMargin,
    // full SimHash pipeline replay (r8 graduation): per-token md5-tail
    // hashes, per-bit token majority -> 60-bit sketch, 4x15-bit
    // pigeonhole blocks, bucket join, Hamming verify — the SQL mirror
    // of SimHash60 + Dedup.simhashPairs. ones > n/2 ⟺ vote sum > 0;
    // an empty token list sketches to 0 on both engines
    "q48_simhash_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${OracleSql.tokens("text")} AS ts
         |  FROM documents),
         |hs AS (
         |  SELECT doc_id,
         |    list_transform(ts, t -> CAST('0x' || substr(md5(t), 18, 15) AS BIGINT)) AS hl
         |  FROM toks),
         |sk AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(range(60), b ->
         |      CASE WHEN 2 * len(list_filter(hl, h -> (h >> b) & 1 = 1)) > len(hl)
         |        THEN 1::BIGINT << b ELSE 0 END)) AS BIGINT) AS sk
         |  FROM hs),
         |blocks AS (
         |  SELECT doc_id, sk, u.b AS block_id,
         |    (sk >> (CAST(u.b AS INT) * 15)) & 32767 AS block_val
         |  FROM sk, unnest([0, 1, 2, 3]) u(b)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.sk, b.sk)) AS INT) AS hamming
         |  FROM blocks a JOIN blocks b
         |    ON a.block_id = b.block_id AND a.block_val = b.block_val
         |      AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,
    // the fp chain replays Spark's fold exactly: list_reduce over the
    // '0'-seeded token list with the q74 md5-tail step (low 60 bits of
    // md5("<acc> <token>")); an empty token list stays at the 0 seed on
    // both engines
    "q46_fingerprints" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${OracleSql.tokens("text")} AS ts
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend('0', ts),
         |    (acc, t) -> CAST(CAST('0x' || substr(md5(acc || ' ' || t), 18, 15)
         |      AS BIGINT) AS VARCHAR)) AS BIGINT) AS fp,
         |  CAST(len(ts) AS INT) AS n_tokens
         |FROM toks""".stripMargin,
    "q68_fingerprint_groups" ->
      """WITH canon AS (
        |  SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS c
        |  FROM documents),
        |  groups AS (SELECT c, count(*) AS sz FROM canon GROUP BY c)
        |SELECT sz, count(*) AS n_groups FROM groups GROUP BY sz""".stripMargin,
    "q49_bpe_token_counts" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_subtokens,
        |  round(avg(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))), 4) AS avg_subtokens
        |FROM documents GROUP BY source""".stripMargin,
    // strlen = BYTES in DuckDB (length() is characters), matching
    // Spark's octet_length; // is non-negative-operand-safe vs div
    "q155_tokenizer_fertility" ->
      """WITH m AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS BIGINT) AS nws,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS nsub,
        |    CAST(strlen(text) AS BIGINT) AS nbytes
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nws) AS BIGINT) AS ws_tokens,
        |  CAST(sum(nsub) AS BIGINT) AS subtokens,
        |  CAST(sum(nbytes) AS BIGINT) AS total_bytes,
        |  (CAST(sum(nsub) AS BIGINT) * 1000000)
        |    // greatest(CAST(sum(nws) AS BIGINT), 1) AS fertility_micro,
        |  (CAST(sum(nbytes) AS BIGINT) * 1000000)
        |    // greatest(CAST(sum(nsub) AS BIGINT), 1) AS bytes_per_sub_micro
        |FROM m GROUP BY lang""".stripMargin)
}

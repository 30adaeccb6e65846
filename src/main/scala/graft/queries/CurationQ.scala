package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.BigramFunctions.{bigram_counts, token_hash_counts}
import graft.operators.{Dedup, DistributedSelection, IncrementalDedup, Materialize, Sampling, Winnowing}
import graft.sources.Tables

/** Corpus-curation operators beyond the per-document filters in
  * [[TextQ]] — the GLOBAL decisions a training-data pipeline makes once
  * it can see the whole corpus: rebalancing the source mixture to a
  * token budget, resampling by quality score, planning training shards,
  * capping near-duplicate cluster sizes, and surfacing each source's
  * dominant vocabulary.
  *
  * All five are fully hash-gated. The sampling ones stay portable by
  * the [[graft.operators.Sampling]] discipline (selection = pure
  * predicate on an md5-tail bucket, so DuckDB reproduces the EXACT row
  * set), and every float that crosses an aggregation does so as a
  * scaled integer (per-row `round(x*1e6)` cast to long BEFORE the sum —
  * order-independent, no last-digit drift at any corpus size).
  */
object CurationQ {

  /** Mixture rebalancing — equalize the per-source TOKEN budget.
    *
    * Two passes, the honest minimum for data-derived rates: (1) a
    * map-side-combined aggregate computes per-source token totals (a
    * handful of rows however large the corpus); (2) the keep-fraction
    * table — `min(total) / total`, i.e. downsample every source to the
    * smallest one — broadcasts back onto a second scan, where the
    * deterministic bucket predicate keeps the same rows on any engine.
    * The 5-row totals artifact is materialized ([[Materialize.local]]) so
    * its two consumers (the min and the join) share one materialization; the
    * 5×1 cross join is a scalar broadcast, allowlisted in
    * PlanContractSpec. Nothing wider than (source, frac) ever leaves
    * the executors.
    */
  def mixtureRebalance(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"))
    val totals = Materialize.local(d.groupBy(col("source")).agg(sum(col("n_tok")).as("tot")),
      "CurationQ.mixtureRebalance totals (aggregate)")
    // floor(x·1e6 + 0.5), NEVER round(x, 6), on a data-derived double
    // (r17 review): Spark rounds the shortest decimal repr HALF_UP
    // while DuckDB rounds the binary double — the battery-wide cosine
    // spelling applies to this quotient too. frac = thr/1e6 exactly.
    val thr = totals
      .crossJoin(broadcast(totals.agg(min(col("tot")).as("target"))))
      .select(col("source"),
        floor(col("target").cast("double") / col("tot").cast("double")
          * 1000000 + 0.5).cast("long").as("thr"))
      .withColumn("frac", col("thr").cast("double") / 1000000)
    d.join(broadcast(thr), Seq("source"))
      .filter(Sampling.bucket(col("doc_id"), "mix2") < col("thr"))
      .groupBy(col("source"), col("frac"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("kept_tokens"))
      .select(col("source"), col("frac"), col("n_docs"), col("kept_tokens"))
  }

  /** Quality-proportional resampling — keep each document with
    * probability `quality²` (quadratic temperature: sharpens the
    * mixture toward high-quality text), deterministically.
    *
    * `qualityScore` is rounded to 6dp inside the expression (q45 proves
    * the doubles bit-identical to DuckDB's), so `floor(q·q·1e6)` is the
    * same integer threshold on both engines and the bucket predicate
    * selects the same rows. One scan, one filter, one aggregate; the
    * kept-mass average is reported as an integer sum of millionths
    * (per-row scaled-int BEFORE the sum — order-independent).
    */
  def qualityResample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      // one QualityStats walk yields BOTH stats; the struct alias is
      // non-cheap so CollapseProject keeps the boundary, and the
      // pushed-down bucket predicate re-derives one cheap walk instead
      // of three builtin blends (the 6× q45-vs-q87 gap this replaced)
      .select(col("doc_id"), col("source"),
        graft.functions.QualityFunctions.quality_stats(col("text")).as("qs"))
      .select(col("doc_id"), col("source"),
        col("qs.q").as("q"), col("qs.n_tok").cast("long").as("n_tok"))
      .filter(Sampling.bucket(col("doc_id"), "qs1") <
        floor(col("q") * col("q") * lit(1000000.0)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("kept_tokens"),
        sum(floor(col("q") * 1000000 + 0.5).cast("long")).as("sum_q_millionths"))

  /** q213 — per-SOURCE quality PRUNING: keep each source's top 25% of
    * documents by the q45 quality blend (micro-int), the
    * budgeted-curation primitive "every domain keeps its best p%"
    * (quality filtering with per-domain budgets — a global threshold
    * would let one verbose domain crowd out the rest). The threshold
    * is an EXACT per-group order statistic from
    * [[DistributedSelection.topFracByGroup]]: two bounded passes +
    * broadcast of a #sources-row threshold table — no per-source sort,
    * no window over data rows. Ties at the threshold are kept (the
    * value-membership contract), which the oracle replays exactly.
    */
  def qualityPrune(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.QualityFunctions.quality_stats(col("text")).as("qs"))
      .select(col("doc_id"), col("source"),
        floor(col("qs.q") * 1000000 + 0.5).cast("long").as("q_micro"),
        col("qs.n_tok").cast("long").as("n_tok"))
    DistributedSelection.topFracByGroup(scored, "source", "q_micro", keepFrac = 0.25)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("kept_tokens"),
        min(col("q_micro")).as("min_q_micro"),
        max(col("q_micro")).as("max_q_micro"))
  }

  /** Shard plan — the deterministic global "shuffle" that randomizes
    * training order at 100 TB without a sort: every document lands in
    * `pmod(hash(id), nShards)`. One scan, one 64-group aggregate; the
    * report is the per-shard occupancy a dataloader consumes. The hash
    * shuffle IS the randomization — no global orderBy ever happens.
    */
  val nShards = 64

  def shardPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("shard",
        // NULL-key sentinel like Sampling.bucket (r17 review: the
        // oracle renders through bucketSql which coalesces since r17,
        // so a NULL doc_id would shard NULL here but deterministically
        // there)
        // THROUGH Sampling.saltedKey (r19 review: this site hand-copied
        // the key||salt concat and missed the r19 separator change on
        // the first pass — the oracle renders through bucketSql and
        // diverged; one shared spelling now)
        pmod(Winnowing.portableHash(
          Sampling.saltedKey(col("doc_id"), "#shard")), lit(nShards.toLong))
          .cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  /** Near-duplicate cluster CAP — keep at most `clusterCapN` documents
    * of each near-dup cluster (lowest ids), instead of q72's collapse
    * to one: the curation middle ground that preserves bounded natural
    * redundancy. Reuses the SHARED components artifact (one SNM pass +
    * one CC run per session/dir, however many consumers), so the query
    * itself is a per-cluster row_number over the tiny label table plus
    * one anti-join. Hash-gated against DuckDB's recursive closure over
    * the same pairs.
    */
  val clusterCapN = 2

  def clusterCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("component")).orderBy(col("node").asc)
    val drop = TextQ.dupComponents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > clusterCapN)
      .select(col("node").as("doc_id"))
    Tables.documents(spark, dir).join(drop, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min(col("doc_id")).as("min_id"))
  }

  /** Dominant vocabulary per source — top-5 tokens by term frequency
    * (ties broken by token), each with its source-level document
    * frequency. Two-level aggregation: the explode collapses into
    * (source, token) partial counts map-side, so raw token rows never
    * cross the wire un-aggregated; a planted repartition on `tok` lets
    * the df rollup and the join share one exchange. The final top-k is
    * a window over the (already tiny relative to the corpus) tf table.
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("tf"))
      .repartition(col("tok"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("tok"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("tf").desc, col("tok").asc)))
      .filter(col("pos") <= 5)
      .select(col("source"), col("pos"), col("tok"), col("tf"), col("df"))
  }

  /** Line-level exact dedup (the CCNet / RefinedWeb pre-filter): drop
    * every line that appears verbatim in more than [[lineDupMaxDocs]]
    * DISTINCT documents — boilerplate (headers, footers, nav chrome)
    * repeats across pages, prose doesn't — then reassemble each
    * document from its surviving lines in order.
    *
    * The fixture's documents are single-line token streams, so "lines"
    * are derived deterministically as [[lineLen]]-token chunks (the
    * operator is the same; only the line delimiter is synthetic). Plan,
    * at any scale: (1) chunk inside the row (no explode of raw text
    * until lines exist); (2) the frequency pass shuffles only
    * (line-hash, doc_id) pairs — the portable md5-tail hash, never line
    * strings; (3) the dup-hash set (typically tiny: only lines crossing
    * the threshold) joins back on the hash, AQE broadcasts it when
    * small; (4) reassembly is one groupBy(doc_id) — the natural output
    * partitioning. Intra-doc repeats don't count toward the threshold
    * (DISTINCT doc_id) but every copy of a dropped line is dropped,
    * exactly CCNet's behavior.
    */
  val lineLen = 3
  val lineDupMaxDocs = 2

  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nLines = ceil(size(col("ts")) / lit(lineLen.toDouble)).cast("int")
    val lineArr = when(size(col("ts")) <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nLines - 1),
        i => concat_ws(" ", slice(col("ts"), i * lineLen + 1, lit(lineLen)))))
    // the tokenize + chunk + per-line md5 pass is the query's dominant
    // CPU cost and has two consumers (the dup-frequency aggregate and
    // the probe join) whose exchanges can't be deduped by
    // ReuseExchange: the corpus-sized lines table is written once, as a
    // production pipeline materializes it (q85's move)
    val lines = graft.sources.ArtifactStore.parquet(spark, dir, "curation_lines")(docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("source"),
        posexplode(lineArr).as(Seq("line_no", "line")))
      .withColumn("h", Winnowing.portableHash(col("line"))))
    val dupHashes = lines
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > lineDupMaxDocs)
      .select(col("h"))
    lines
      .join(dupHashes.withColumn("dup", lit(true)), Seq("h"), "left")
      .withColumn("keep", col("dup").isNull)
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("line_no"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
  }

  /** The persisted-bloom stand-in: memoized per (session, dir) like
    * every other deterministic artifact (semCenters, IVF centers, SNM
    * pairs) — production writes the filter beside the corpus and
    * updates it per accepted batch.
    */
  private val bloomMemo =
    new graft.sources.SessionMemo[(SparkSession, String),
      org.apache.spark.util.sketch.BloomFilter](_._1)

  /** The memoized history bloom (doc_id % 10 ≠ 0 split) — shared with
    * the streaming twin (q107), which dedups the same batch as a
    * stream against the same persisted-filter stand-in.
    */
  def historyBloom(spark: SparkSession, dir: String): org.apache.spark.util.sketch.BloomFilter =
    bloomMemo.get((spark, dir)) { IncrementalDedup.contentBloom(
      Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(10)) =!= 0),
      fpp = bloomFpp) }

  /** q96 — incremental dedup of a "new batch" against corpus history.
    *
    * Split the documents table deterministically: history = doc_id % 10
    * ≠ 0, batch = doc_id % 10 = 0. The synthetic corpus carries real
    * exact-duplicate groups (q42), so the batch genuinely overlaps the
    * history — no planting needed; DuckDB computes the same truth by a
    * canonical-text semi-join. The scalar contract row carries the
    * exact counts (batch, confirmed dups, survivors — all
    * DuckDB-checkable) plus two engine-measured invariants the oracle
    * states literally: `no_false_negatives` (every confirmed dup was
    * bloom-positive — the bloom guarantee) and `fp_bounded` (observed
    * false positives ≤ max(16, 5·fpp·|batch|) — generous but a real
    * regression trap: a mis-built or mis-probed filter blows past it).
    */
  val bloomFpp = 0.01

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val history = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val ann = IncrementalDedup.annotateAgainst(batch, history,
      historyBloom(spark, dir))
    // INDEPENDENT truth leg (r17 review): `is_dup && !bloom_hit` was
    // structurally impossible — annotateAgainst only assigns the
    // confirm-join key when the bloom hits, so the old boolean
    // measured the join against itself, not the filter. True
    // duplicate-ness is recomputed here WITHOUT the bloom gate (the
    // full canonical-hash semi-join the prefilter exists to avoid at
    // scale — this is the GATE measuring the operator, priced at gate
    // scale), so a mis-built or mis-probed bloom that misses a real
    // duplicate now fails the gate instead of hiding behind the gating.
    val truth = batch.select(col("doc_id"),
        md5(Dedup.canonicalText(col("text"))).as("_tch"))
      .join(history.select(md5(Dedup.canonicalText(col("text"))).as("_tch"))
        .distinct().withColumn("_tseen", lit(true)), Seq("_tch"), "left")
      .select(col("doc_id"), col("_tseen").isNotNull.as("_true_dup"))
    ann.join(truth, Seq("doc_id"))
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_survivors"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("_n_hit"),
        // a TRUE dup the bloom missed, or any is_dup/truth disagreement
        sum(when((col("_true_dup") && !col("bloom_hit")) ||
          (col("_true_dup") =!= col("is_dup")), 1L).otherwise(0L)).as("_fn"))
      .select(col("n_batch"), col("n_dup"), col("n_survivors"),
        (col("_fn") === 0L).as("no_false_negatives"),
        ((col("_n_hit") - col("n_dup")) <=
          greatest(lit(16L), (lit(5.0 * bloomFpp) * col("n_batch")).cast("long")))
          .as("fp_bounded"))
  }

  /** q102 — exactly-k-per-source sample (deterministic reservoir): the
    * fixed-size counterpart of q75's rate-based stratified sample, for
    * eval-set carving and per-domain caps. The portable hash order
    * makes the EXACT kept row set reproducible in DuckDB, so the gate
    * hash-matches rows, not just counts.
    */
  val fixedK = 40

  def fixedSizeSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.fixedSizePerStratum(
        Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("lang")),
        strataCol = col("source"), key = col("doc_id"), k = fixedK, salt = "fs1")
      .select(col("doc_id"), col("source"), col("lang"))

  /** q103 — source-drift report: total-variation distance between each
    * pair of sources' unigram distributions over the corpus-wide
    * top-`drift` vocabulary. The mixture monitor a pipeline runs
    * between crawl snapshots (KL is the textbook choice, but its log
    * is a libm call whose last ulp differs across engines; TV distance
    * is rational arithmetic end-to-end, so the gate is exact). Scale
    * shape: one token scan → (source, term) partial agg; the vocab is
    * a top-N aggregate joined back (broadcast-small); the pair matrix
    * is |sources|² rows of pre-aggregated millionths — per-term
    * |p−q| is scaled to integer millionths BEFORE the sum, so the
    * result is order-independent under any partitioning.
    */
  val driftVocab = 100

  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("term"))
    // counts is AGGREGATED (sources × vocab rows) with three consumers
    // (vocab top-N, per-source totals, probs join) — materialize it so
    // the corpus tokenize+explode runs once, not per branch (the q149
    // rule: vocab-sized model tables earn the materialization)
    val counts = Materialize.local(toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c")), "CurationQ.sourceDrift counts (vocabulary)")
    val vocab = counts.groupBy(col("term")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("term").asc).limit(driftVocab)
      .select(col("term"))
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("total"))
    // per (source, vocab term) probability — sources missing a term
    // contribute p = 0 via the full source×vocab frame
    val probs = totals.crossJoin(vocab)
      .join(counts, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("total").cast("double"))
          .as("p"))
    probs.as("a").join(probs.as("b"),
        col("a.term") === col("b.term") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        floor(abs(col("a.p") - col("b.p")) * 1000000.0 + 0.5).cast("long").as("d"))
      .groupBy(col("source_a"), col("source_b"))
      // 2×TV in millionths: the /2 halving is left to the reader —
      // integer-cast division rounds differently across engines
      .agg(sum(col("d")).as("tv_2x_millionths"),
        count(lit(1)).cast("int").as("n_terms"))
  }

  /** q105 — tokenizer-vocab coverage: build a top-V subword vocabulary
    * (the frequency step of tokenizer training) and report each
    * source's OOV occurrence rate against it — the check a pipeline
    * runs before committing to a vocab size. One explode feeds both
    * the vocab aggregate and the coverage join; the vocab (V rows)
    * broadcasts back onto the sub-token stream. OOV rate crosses the
    * gate as round-to-millionths of an exact-int division.
    */
  val vocabSize = 500

  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    // the tokenize+explode pass has two consumers (vocab aggregate,
    // coverage join) whose exchanges ReuseExchange can't dedupe — the
    // corpus-sized sub-token stream is written once (the q85/q93 move)
    val sub = graft.sources.ArtifactStore.parquet(spark, dir, "curation_subtokens")(
      Tables.documents(spark, dir)
        .select(col("source"), explode(bpeishTokens(col("text"))).as("t")))
    val vocab = sub.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc).limit(vocabSize)
      .select(col("t"), lit(true).as("in_vocab"))
    sub.join(vocab, Seq("t"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total_occurrences"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_occurrences"))
      .select(col("source"), col("total_occurrences"), col("oov_occurrences"),
        // decimal numerator (r17 review): 2·oov·1e6 wraps int64 at
        // ~4.6e12 occurrences per source — a tighter, undocumented
        // bound than the file's q149 paragraph — while DuckDB
        // auto-promotes; div on decimals is the same truncating divide
        expr("cast((2 * cast(oov_occurrences as decimal(38,0)) * 1000000" +
          " + total_occurrences) div (2 * total_occurrences) as bigint)")
          .as("oov_rate_millionths"))
  }

  /** q108 — decontaminated train/eval split: carve an exactly-k
    * per-source eval set (the q102 deterministic reservoir under its
    * own salt), then EXCLUDE from the training remainder every doc
    * sharing canonical content with an eval doc — the leakage a naive
    * row-split misses when the corpus carries duplicates. One hash
    * semi-join does the exclusion (content hashes only — text never
    * re-shuffles). The gate reports per-source sizes plus the
    * engine-measured invariant (zero residual content overlap) the
    * oracle states literally; sizes and exclusions are exact DuckDB
    * arithmetic.
    */
  // 10, not 25 (r18-verdict vacuous-gate class): the sf0.01 gate
  // corpus holds EXACTLY 25 docs per source, so k=25 put every doc
  // in eval and the grouped result over the empty remainder was 0
  // rows — the split, the leak exclusion and the residual invariant
  // all passed trivially for any implementation returning empty.
  // k=10 leaves 15 docs per source in the remainder at gate scale.
  val evalK = 10

  def evalSplit(spark: SparkSession, dir: String): DataFrame = {
    // the canonicalize+md5 scan feeds five plan legs (sample window,
    // eval hashes, rest filter, n_eval aggregate, residual semi-join)
    // — the corpus-sized hash table is written once (the q85/q93/q105
    // diamond)
    val docs = graft.sources.ArtifactStore.parquet(spark, dir, "eval_split_hashes")(
      Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        md5(Dedup.canonicalText(col("text"))).as("ch"),
        // SECOND, independent content key (r17 review): the residual
        // check below semi-joined on the SAME ch that defined
        // `leaked`, so it was empty by construction and could not
        // trap a broken exclusion; xxhash64 re-derives content
        // identity through a different function
        xxhash64(Dedup.canonicalText(col("text"))).as("ch2")))
    // eval is BOUNDED (k per stratum) with FOUR consumers (evalHashes,
    // evalHashes2, the rest anti-filter, the n_eval aggregate) — each
    // re-derived the full docs-wide rank window from the materialized
    // docs (r19 plan audit: the pmod(md5low60(..)) sample salt appeared
    // in 5 plan legs). Materializing it runs the window once; the
    // materialized frame is k·|sources| rows at any scale.
    val eval = Materialize.local(Sampling.fixedSizePerStratum(docs, col("source"), col("doc_id"),
      k = evalK, salt = "ev1"), "CurationQ.evalSplit eval sample (aggregate)")
    val evalHashes = eval.select(col("ch")).distinct()
    val evalHashes2 = eval.select(col("ch2")).distinct()
    val rest = docs.join(eval.select(col("doc_id"), lit(true).as("_inEval")),
        Seq("doc_id"), "left")
      .filter(col("_inEval").isNull).drop("_inEval")
    val train = rest.join(evalHashes.withColumn("_leak", lit(true)), Seq("ch"), "left")
      .withColumn("leaked", col("_leak").isNotNull)
    // the invariant as a 1-row scalar aggregate inside the plan (no
    // driver-side action): surviving train docs sharing eval CONTENT,
    // re-derived through the independent ch2 key — a broken md5-based
    // exclusion (wrong key, inverted filter, overlapping strata) now
    // leaves ch2 matches behind and flips the boolean
    val residual = train.filter(!col("leaked"))
      .join(evalHashes2, Seq("ch2"), "semi")
      .agg(count(lit(1)).as("_res"))
    train.groupBy(col("source"))
      .agg(count(lit(1)).as("n_rest"),
        sum(when(col("leaked"), 1L).otherwise(0L)).as("n_excluded_leaks"),
        sum(when(!col("leaked"), 1L).otherwise(0L)).as("n_train"))
      .join(eval.groupBy(col("source")).agg(count(lit(1)).as("n_eval")), Seq("source"))
      .crossJoin(broadcast(residual))
      .select(col("source"), col("n_eval"), col("n_rest"),
        col("n_excluded_leaks"), col("n_train"),
        (col("_res") === 0L).as("no_residual_overlap"))
  }

  /** q128 — BPE merge LEARNING ([[graft.operators.BpeLearn]]): three
    * merge steps trained on the corpus vocabulary, emitted as the
    * merge table (step, left, right, weighted count). The oracle
    * re-learns the same merges in SQL (unrolled iterations — pair
    * counts, argmax with the same (count desc, pair asc) tie-break,
    * single-pass replace), so selection AND application must both
    * match bit-for-bit. The corpus is scanned once for word
    * frequencies; iterations run over the vocabulary table only.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .select(graft.operators.BpeLearn.spaced(col("term")).as("s"), col("freq"))
    graft.operators.BpeLearn.learn(words, steps = 3)
      .toDF("step", "left_sym", "right_sym", "cnt")
      .select(col("step").cast("int"), col("left_sym"), col("right_sym"),
        col("cnt"))
  }

  /** q133 — weighted sampling without replacement as SYSTEMATIC
    * sampling over a deterministic order: weight = n_chars, cum =
    * running weight total in doc_id order, step = total div 50, and a
    * doc is picked iff its weight interval [cum−w, cum) crosses a step
    * boundary — so expected inclusion is proportional to weight, large
    * docs are picked at most once (no replacement), and the result is
    * a deterministic exact ROW SET both engines agree on (the float
    * A-ES exponential-keys formulation is not cross-engine exact; this
    * is). The running total is [[PrefixScan.strictPrefixSum]]'s
    * bucketed scan — no SinglePartition window at any scale.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("w"))
    val totals = d.agg(sum(col("w")).as("_total"))
    graft.operators.PrefixScan
      .strictPrefixSum(d, col("doc_id"), col("w"), "_cumb")
      .withColumn("_cumb", coalesce(col("_cumb"), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("_step", greatest(expr("_total div 50L"), lit(1L)))
      .filter(expr("_cumb div _step < (_cumb + w) div _step"))
      .select(col("doc_id"), col("w"),
        expr("_cumb + w").as("cum_w"),
        expr("(_cumb + w) div _step").as("pick_idx"))
  }

  /** q157 — CURRICULUM phase plan: rank the corpus by quality (exact
    * millionths, doc_id tiebreak = total order) and cut it into 4
    * contiguous phases — the easy→hard ordering a curriculum-training
    * dataloader consumes; per phase the gate reports doc/token mass and
    * the quality band. The global rank is
    * [[graft.operators.SortedNeighborhood.globalRank]] (range-partition
    * + zipWithIndex — never a SinglePartition window), and the phase id
    * is the exact integer `(rank·4) div n` — both engines compute the
    * SAME split (no ntile, whose remainder convention differs).
    */
  val curriculumPhases = 4

  def curriculumPlan(spark: SparkSession, dir: String): DataFrame = {
    // count + rank share one written per-doc quality table
    val d = graft.sources.ArtifactStore.parquet(spark, dir, "curriculum_quality")(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.QualityFunctions.quality_stats(col("text")).as("qs"))
        .select(col("doc_id"),
          floor(col("qs.q") * 1000000 + 0.5).cast("long").as("q_micro"),
          col("qs.n_tok").cast("long").as("n_tok")))
    val n = d.count()
    graft.operators.SortedNeighborhood
      .globalRank(d, Seq(col("q_micro").asc, col("doc_id").asc), "_rnk")
      .withColumn("phase", expr(s"(_rnk * ${curriculumPhases}L) div ${n}L").cast("int"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        min(col("q_micro")).as("min_q_micro"),
        max(col("q_micro")).as("max_q_micro"))
  }

  /** Learned 10-step merge table memoized per (session, dir) — the
    * tokenizer artifact q130's encode leg applies (q128 re-learns a
    * 3-step table inline because LEARNING is what it gates; this is
    * the "train once, encode everywhere" deployment contract, like
    * the k-means centers and the PQ codebook).
    */
  private val mergeMemo =
    new graft.sources.SessionMemo[(SparkSession, String), Seq[(String, String)]](_._1)
  private def learnedMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    mergeMemo.get((spark, dir)) {
      val words = Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("freq"))
        .select(graft.operators.BpeLearn.spaced(col("term")).as("s"), col("freq"))
      graft.operators.BpeLearn.learn(words, steps = 10).map(m => (m._2, m._3))
    }

  /** q130 — BPE ENCODE: apply the learned merge table to the corpus
    * ([[graft.operators.BpeLearn.applyMerges]]) and report corpus-level
    * tokenization stats. Scale shape: the merge chain runs over the
    * DISTINCT-word vocabulary (vocab ≪ corpus) and per-word
    * segmentations weight by word frequency — the corpus is scanned
    * once for the vocabulary and never re-touched per merge. The gate
    * mixes oracle-computable exacts (n_docs, n_vocab, n_words_total)
    * with engine-measured invariant booleans the oracle states
    * literally (q63/q80 pattern): every segmentation concatenates back
    * to its word (the encode never loses bytes), subword count ≥ word
    * count (no over-merge), and the learned merges strictly reduce
    * token count vs character-level (the tokenizer does something).
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val seg = graft.operators.BpeLearn.applyMerges(
        vocab.withColumn("s", graft.operators.BpeLearn.spaced(col("term"))),
        "s", learnedMerges(spark, dir))
      .withColumn("seg", split(trim(col("s")), " "))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    seg.agg(
        count(lit(1)).as("n_vocab"),
        sum(col("freq")).as("n_words_total"),
        expr("bool_and(concat_ws('', seg) = term)").as("all_roundtrip"),
        sum(col("freq") * size(col("seg"))).as("_nsub"),
        sum(col("freq") * length(col("term"))).as("_nchar"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("n_vocab"), col("n_words_total"),
        col("all_roundtrip"),
        (col("_nsub") >= col("n_words_total")).as("subwords_ge_words"),
        (col("_nsub") < col("_nchar")).as("merges_reduce"))
  }

  /** q139 — bigram-LM fluency scoring, the CCNet/Gopher-style "train a
    * cheap LM on the corpus, score every document by it" quality
    * filter, kept log-free so it hash-gates exactly: the corpus bigram
    * MLE p(w2|w1) = C(w1,w2)/C(w1·) is held as integer millionths
    * (truncating div) and a document's fluency is the occurrence-
    * weighted mean of its bigrams' p_micro (truncating div again) —
    * monotone in the true geometric-mean likelihood's arithmetic-mean
    * analog, engine-portable, no float ever crosses an aggregate.
    *
    * Plan: one scan → per-doc bigram multiset (counted IN-ROW by
    * [[graft.functions.BigramCounts]] since r20 — no shuffle, the old
    * (doc, w1, w2) partial-agg exchange was row-local work); the
    * model's C(w1,w2) rolls up FROM that table (shuffle on (w1,w2),
    * co-keyed with the scoring join), C(w1·) rolls up from C(w1,w2)
    * (tiny) and broadcasts back; final per-doc mean is one more
    * partial agg. Every remaining shuffle is on a key the next step
    * joins or aggregates on — at 100 TB the bigram-type table is the
    * only large intermediate and it never carries text bodies.
    */
  /** Exploded PRE-COUNTED hashed-bigram rows from a (doc_id, ts)
    * token-array frame — the ONE spelling of the bigram hash
    * convention (q139/q149 share it so the two can never drift): h1 =
    * xxhash64(w1), h2 = xxhash64(w2), h12 = xxhash64(w1, w2)
    * (chained-seed, so token boundaries can't alias). Token text is
    * needed only to IDENTIFY a bigram, never shown in any output, so
    * every model shuffle and scoring join runs on fixed-width int64
    * keys — hash-keyed counts equal string-keyed counts at 2^-64
    * collision odds (the q47/q153 convention; oracles keep grouping by
    * token strings).
    *
    * r20 (guide §2.4, verdict #2): the multiset is counted IN-ROW by
    * [[graft.functions.BigramCounts]] before the explode — the old
    * `transform(sequence…)` → explode → groupBy spelling materialized
    * one struct per bigram OCCURRENCE through an interpreted HOF
    * lambda, a Generate and a hash-agg probe, with 4 string hashes per
    * pair where the kernel pays 1 (h12 chains from h1's value;
    * BigramCountsSpec pins hash-and-count equality against the builtin
    * spelling). Per-doc consumers need NO shuffle at all now — their
    * old groupBy (doc_id, …) was logically row-local; the cross-doc
    * model build (q149 c12) feeds its one shuffle distinct-per-doc
    * (h1, h12, m) rows instead of every occurrence. m rides pre-summed,
    * so per-doc consumers use it directly and cross-doc consumers
    * sum(m) — identical to the old count(1) over occurrences.
    */
  private def docBigramsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), explode(bigram_counts(col("ts"))).as("b"))
      .select(col("doc_id"), col("b.h1").as("h1"), col("b.h2").as("h2"),
        col("b.h12").as("h12"), col("b.m").as("m"))

  def bigramFluency(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (c12 rollup → c1, and the scoring join's left
    // side) — materialize the per-doc bigram multiset once instead of
    // re-running tokenize→explode→groupBy per plan branch (the
    // postingsArtifact discipline; at 100 TB each un-checkpointed
    // branch is a full corpus re-scan). PARQUET artifact (r9): the r8
    // DISK_ONLY checkpoint made every timed run java-deserialize the
    // corpus-sized blocks row by row (9.9 s); written once as parquet,
    // each consumer is a vectorized columnar scan — the shape a shared
    // derived table has at 100 TB anyway.
    //
    // r10: the artifact stores bigram HASHES, not strings — the shared
    // [[docBigramsOf]] convention (r11: re-unified with q149, which
    // now runs the same hash convention). Carrying strings through the
    // artifact and both (w1, w2)-keyed shuffles paid string storage,
    // string hashing and string comparison on every run for nothing
    // (the driver priced it at 4.1 s while a warm page cache hid it
    // locally). h2 is dropped in the projection, so it never reaches
    // the artifact. r20: the multiset is counted in-row by
    // [[graft.functions.BigramCounts]] (see [[docBigramsOf]]) — the
    // artifact build's (doc_id, h1, h12) groupBy SHUFFLE is gone
    // entirely; the build is now scan → project → write.
    val docBigrams = graft.sources.ArtifactStore.parquet(
      spark, dir, "doc_bigrams")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .select(col("doc_id"), explode(bigram_counts(col("ts"))).as("b"))
        .select(col("doc_id"), col("b.h1").as("h1"),
          col("b.h12").as("h12"), col("b.m").as("m")))
    // r20 (guide §2.4 double-compute sweep): c12 feeds TWO consumers
    // (the scoring join's model side + the c1 rollup) and was REBUILT
    // for each — two artifact scans and two (h1, h12) aggregations per
    // run where one suffices. Same rule as q149's c12: the AGGREGATED,
    // vocab-sized bigram-type table earns a materialization; per-doc
    // tables don't.
    val c12 = Materialize.local(docBigrams.groupBy(col("h1"), col("h12"))
      .agg(sum(col("m")).as("c12")), "CurationQ bigram-type counts (vocabulary)")
    val c1 = c12.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
    docBigrams
      .join(c12, Seq("h1", "h12"))
      .join(broadcast(c1), Seq("h1"))
      .withColumn("p_micro", expr("c12 * 1000000L div c1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        expr("sum(m * p_micro) div sum(m)").as("fluency_micro"))
  }

  /** q149 — HELD-OUT bigram LM scoring with Stupid Backoff (Brants et
    * al. 2007): q139 scores in-corpus; the honest quality-filter setup
    * trains the LM on one split and scores the OTHER, where unseen
    * bigrams are a fact of life — score backs off to α·(unigram
    * frequency) (α = 0.4, the published constant) and true OOV scores
    * zero. Split is deterministic (doc_id mod 5), everything stays in
    * integer millionths (backoff = 400000·(c2·1e6 div T) div 1e6 — the
    * stated double-truncation spec both engines repeat verbatim), and
    * each doc reports its seen/backoff/OOV bigram mix beside the
    * score. The fixture's homogeneous vocabulary would never produce
    * an unseen token, so held docs are augmented with two doc-unique
    * synthetic tokens (the q78 pattern) putting BOTH the backoff and
    * OOV branches under the gate — on every held doc whose text has
    * ≥ 1 token with a train-covered first word (all fixture docs; an
    * empty held doc still exercises OOV, just not backoff). Shape: the
    * model tables roll up from two lazy scans of the train split (a
    * corpus-sized checkpoint costs more than the re-scan it saves —
    * the r7 q149 regression), only the aggregated vocab-sized c12 is
    * checkpointed; the held-out bigram multiset left-joins the model
    * on its natural keys, the vocab-sized c1/uni broadcast back, T
    * is a 1-row scalar broadcast.
    *
    * Overflow bound: both p_micro products bind at count ≤ 9.2e12 —
    * a single bigram type (or unigram) with nine trillion train
    * occurrences (~9 % of a 1e14-token corpus for one token). DuckDB's
    * HUGEINT has no such bound; past it, promote the products to
    * DECIMAL(38,0) (quotient decomposition does not help here: the
    * numerator is below the denominator, so the remainder term is the
    * same magnitude).
    */
  def heldoutLmScore(spark: SparkSession, dir: String): DataFrame = {
    // train tokens feed TWO model tables (bigrams, unigrams). NOT
    // checkpointed (the r7 own-goal): a checkpoint here materializes
    // the CORPUS-sized tokenized split to block storage on every
    // invocation — token arrays are bigger than the source text, so
    // the materialization costs more than the two corpus scans it
    // saves (10.7 s vs 0.9 s at sf0.1; at 100 TB it is strictly
    // worse). Only the AGGREGATED, vocab-sized model tables earn a
    // checkpoint (c12 below).
    val train = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
    // held docs are AUGMENTED with two doc-unique synthetic tokens
    // (the q78 synthetic-augmentation pattern): the prefix token makes
    // its first bigram (novel w1, seen w2) — the BACKOFF branch — and
    // the suffix token makes the last bigram (seen w1, novel w2) — the
    // OOV branch — so both legs the fixture's homogeneous vocabulary
    // would never exercise are gate-verified on every held doc
    val held = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), tokens(
        concat(lit("zqnb"), col("doc_id"), lit(" "), col("text"),
          lit(" zqov"), col("doc_id"))).as("ts"))
    // model build groups the exploded rows DIRECTLY on (h1, h12): one
    // shuffle with cross-doc map-side combine (a detour through the
    // per-doc multiset would shuffle the same stream twice), int64
    // keys end to end — r11 closed the last string-keyed bigram plan
    // (the train split's full bigram stream shuffled as token text;
    // the driver priced it at 2.7 s while q139's hashed twin ran 1.8).
    // r20: rows arrive PRE-COUNTED per doc ([[docBigramsOf]]'s in-row
    // kernel), so the shuffle and partial agg see distinct-per-doc
    // (h1, h12, m) rows, not every occurrence; sum(m) ≡ the old
    // count(1). c12 feeds two branches (c1 rollup + the scoring
    // left-join): materialize the aggregated bigram-type table so each
    // reads the materialized model, not a re-explode of the train split
    val c12 = Materialize.local(train
      .select(explode(bigram_counts(col("ts"))).as("b"))
      .groupBy(col("b.h1").as("h1"), col("b.h12").as("h12"))
      .agg(sum(col("b.m")).as("c12")), "CurationQ train bigram-type counts (vocabulary)")
    val c1 = c12.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
    // r20 (guide §2.4 double-compute sweep): uni feeds TWO consumers
    // (the backoff broadcast join + the t_tokens scalar) and was
    // REBUILT for each — the t leg re-scanned and re-tokenized the
    // whole train split to sum a table the join leg had already
    // aggregated. Vocab-sized ⇒ earns the materialization (the c12 rule).
    val uni = Materialize.local(train.select(explode(token_hash_counts(col("ts"))).as("u"))
      .groupBy(col("u.h").as("h2")).agg(sum(col("u.m")).as("c2")),
      "CurationQ train unigram counts (vocabulary)")
    val t = uni.agg(sum(col("c2")).as("t_tokens"))
    docBigramsOf(held)
      .join(c12, Seq("h1", "h12"), "left")
      // vocab-sized model tables broadcast back (the q139 discipline —
      // AQE's stats-dependent fallback is not a 100 TB guarantee)
      .join(broadcast(c1), Seq("h1"), "left")
      .join(broadcast(uni), Seq("h2"), "left")
      .crossJoin(broadcast(t))
      .withColumn("p_micro",
        when(col("c12").isNotNull, expr("c12 * 1000000L div c1"))
          .when(col("c2").isNotNull,
            expr("400000L * (c2 * 1000000L div t_tokens) div 1000000L"))
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(when(col("c12").isNotNull, col("m")).otherwise(0L)).as("n_seen"),
        sum(when(col("c12").isNull && col("c2").isNotNull, col("m"))
          .otherwise(0L)).as("n_backoff"),
        sum(when(col("c2").isNull, col("m")).otherwise(0L)).as("n_oov"),
        expr("sum(m * p_micro) div sum(m)").as("score_micro"))
  }

  /** q171 — DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much its hashed-feature distribution looks
    * like a TARGET domain (here lang='en', the corpus plurality)
    * relative to the rest — the published recipe for "select web data
    * that resembles the high-quality target" at pretraining scale.
    * Features are tokens hashed into 256 buckets via the portable
    * md5-tail ([[graft.operators.Winnowing.portableHash]], the q74/q46
    * convention), so both engines bucket identically. The per-bucket
    * importance ratio is Laplace-smoothed and LOG-FREE — kept as the
    * exact rational p_tgt/p_src in integer millionths,
    * `(ct+1)(Ts+B)·10⁶ div (cs+1)(Tt+B)` on decimal(38,0) (the q100
    * overflow discipline: the numerator passes int64 at corpus scale),
    * and a document's weight is the occurrence-weighted mean of its
    * buckets' ratios (truncating div — the q139 spelling). Monotone in
    * DSIR's mean log-ratio direction for ranking purposes while every
    * value stays gate-exact; the resampling step itself is [[Sampling]]
    * composition downstream. Plan: one tokenize scan → (doc, bucket)
    * multiset (partial-agg shuffle); the 256-row ratio table rolls up
    * from it and BROADCASTS back; final weight is one more partial agg
    * — no corpus-sized join, no driver state.
    */
  /** The (doc_id, source, lang, bucket, multiplicity) multiset of
    * md5-tail 256-bucket hashed tokens — the shared FEATURE TABLE of
    * the importance-weighting (q171) and domain-classifier (q175)
    * pipelines, materialized once as a parquet artifact (the
    * two-consumer rule): at 100 TB the hashed-feature table is a
    * written table beside the corpus, not a per-query re-tokenize.
    */
  private def docBuckets(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.parquet(spark, dir, "doc_buckets") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"),
          explode(tokens(col("text"))).as("term"))
        .withColumn("b",
          pmod(Winnowing.portableHash(col("term")), lit(256L)))
        .groupBy(col("doc_id"), col("source"), col("lang"), col("b"))
        .agg(count(lit(1)).as("m"))
    }

  def importanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val b = 256L
    val joined = docBuckets(spark, dir)
      .withColumn("is_target", col("lang") === "en")
      .select(col("doc_id"), col("is_target"), col("b"), col("m"))
    val buckets = joined.groupBy(col("b"))
      .agg(sum(when(col("is_target"), col("m")).otherwise(0L)).as("ct"),
        sum(when(!col("is_target"), col("m")).otherwise(0L)).as("cs"))
    val tot = buckets.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts"))
    val ratio = buckets.crossJoin(broadcast(tot))
      .withColumn("ratio_micro", expr(
        s"""CAST((CAST(ct + 1 AS DECIMAL(38,0)) * (ts + $b) * 1000000)
           |  div (CAST(cs + 1 AS DECIMAL(38,0)) * (tt + $b)) AS BIGINT)"""
          .stripMargin))
      .select(col("b"), col("ratio_micro"))
    joined.join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"), col("is_target"))
      .agg(sum(col("m")).as("n_tokens"),
        expr("sum(m * ratio_micro) div sum(m)").as("weight_micro"))
      .select(col("doc_id"), col("is_target"), col("n_tokens"),
        col("weight_micro"))
  }

  /** q175 — HASHED-FEATURE DOMAIN CLASSIFIER (the fastText-style
    * domain/quality scorer every curation pipeline trains — Joulin et
    * al. 2016 reduced to its linear bag-of-buckets core, kept
    * integer-exact): train on the doc_id % 5 < 4 split, score every
    * held-out document against all 20 `source` classes, report the
    * CONFUSION MATRIX. Features are the q171 md5-tail 256-bucket
    * hashes; a class's weight per bucket is the Laplace-smoothed
    * p(b|c)/p(b) ratio in integer millionths on decimal(38,0) (q171's
    * overflow discipline — numerators clear int64 at corpus scale,
    * decimal(38) holds to ~10³⁰); a document's class score is the
    * occurrence-weighted mean of its buckets' ratios (truncating div)
    * and the prediction is argmax with the deterministic (score desc,
    * class asc) tie order. The |classes|×256 weight GRID (not just
    * observed pairs — unseen (c,b) still smooth-scores) is built by a
    * bounded crossJoin (20×256, sized by config not data) and
    * BROADCASTS to the eval join; training is one tokenize scan → one
    * partial-agg shuffle. At 100 TB the weight table is still 5 120
    * rows — the classifier ships to executors, the corpus never moves.
    */
  def domainClassifier(spark: SparkSession, dir: String): DataFrame = {
    val b = 256L
    val toks = docBuckets(spark, dir)
      .select(col("doc_id"), col("source"), col("b"), col("m"))
    // The TRAINED MODEL is a written artifact (the r12 VERDICT's armed
    // promotion): four training rollups + the grid build run once per
    // (session, dir), and every subsequent scoring run broadcasts the
    // 5 120-row parquet — exactly how a production classifier ships
    // (train job writes the model table, scoring jobs read it; the
    // corpus is never re-aggregated per scoring run).
    val weights = graft.sources.ArtifactStore.parquet(
        spark, dir, "domain_classifier_weights") {
      val train = toks.filter(pmod(col("doc_id"), lit(5)) < 4)
      val classCounts = train.groupBy(col("source").as("c"), col("b"))
        .agg(sum(col("m")).as("ct"))
      val classTotals = train.groupBy(col("source").as("c"))
        .agg(sum(col("m")).as("tc"))
      val bucketTotals = train.groupBy(col("b")).agg(sum(col("m")).as("cb"))
      val grand = train.agg(sum(col("m")).as("t"))
      classTotals
        .crossJoin(spark.range(b).select(col("id").as("b")))
        .join(classCounts, Seq("c", "b"), "left")
        .join(bucketTotals, Seq("b"), "left")
        .crossJoin(broadcast(grand))
        .na.fill(0L, Seq("ct", "cb"))
        .withColumn("w_micro", expr(
          s"""CAST((CAST(ct + 1 AS DECIMAL(38,0)) * (t + $b) * 1000000)
             |  div (CAST(cb + 1 AS DECIMAL(38,0)) * (tc + $b)) AS BIGINT)"""
            .stripMargin))
        .select(col("c"), col("b"), col("w_micro"))
    }
    val heldout = toks.filter(pmod(col("doc_id"), lit(5)) === 4)
    val scored = heldout.join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"), col("source"), col("c"))
      .agg(expr("sum(m * w_micro) div sum(m)").as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("c").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("source").as("true_source"), col("c").as("pred_source"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** q179 — TEMPERATURE-BASED DOMAIN MIXING (the multinomial
    * pretraining-mix recipe — Lample & Conneau 2019's α-scaled
    * sampling, the t=2 "rare domains upsampled" knob every LLM data
    * recipe carries): per-domain sampling weight ∝ n_tokens^(1/2),
    * computed EXACTLY — `isqrt(n) = floor(sqrt(n))` is deterministic
    * cross-engine because IEEE-754 sqrt is correctly rounded and a
    * BIGINT token count is exactly representable in double, so the α
    * = 1/2 temperature enters through integer arithmetic, not a float
    * pipeline. Weights and expected EPOCHS (budget = one full corpus:
    * epochs_d = weight_d · T / n_d — rare domains land > 1, the
    * upsampling the recipe exists for) are exact integer rationals in
    * millionths on decimal(38,0). One tokenize scan → 20-row domain
    * table; the totals broadcast back (whitelisted 1-row cross).
    */
  def domainMixing(spark: SparkSession, dir: String): DataFrame = {
    val perDomain = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).as("ntok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok").cast("long")).as("n_tokens"))
      .withColumn("isqrt_tokens",
        expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    val totals = perDomain.agg(sum(col("isqrt_tokens")).as("ssum"),
      sum(col("n_tokens")).as("tsum"))
    perDomain.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("isqrt_tokens"),
        expr("""CAST((CAST(isqrt_tokens AS DECIMAL(38,0)) * 1000000)
                div ssum AS BIGINT)""").as("weight_micro"),
        expr("""CAST((CAST(isqrt_tokens AS DECIMAL(38,0)) * tsum * 1000000)
                div (CAST(ssum AS DECIMAL(38,0)) * n_tokens) AS BIGINT)""")
          .as("epochs_micro"))
  }

  /** q183 — MIXED-SAMPLE EXECUTION: realize the q179 temperature
    * mix as an actual dataset pass, deterministically. Per document,
    * copies = ⌊epochs⌋ plus one more iff its salted md5-low-60 (mod
    * 10⁶) falls under the fractional remainder — an exact-rate,
    * seedless Bernoulli that any executor can evaluate row-locally
    * (the q133/q143 hash-sampling discipline applied to the mixing
    * recipe): downsampled domains keep a hash-chosen subset,
    * upsampled domains REPLICATE (the epochs > 1 passes the recipe
    * exists for). Token accounting from the q171/q175 `doc_buckets`
    * artifact, so the whole pipeline is one artifact scan + a 20-row
    * broadcast of rates. The gate reports per-domain instances,
    * distinct survivors, and sampled tokens — DuckDB replays the
    * identical hash predicate, so one wrong keep/drop breaks the
    * hash.
    */
  def mixedSample(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = docBuckets(spark, dir)
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("m")).as("ntok"))
    val perDomain = perDoc.groupBy(col("source"))
      .agg(sum(col("ntok")).as("n_tokens"))
      .withColumn("isqrt_tokens",
        expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
    val totals = perDomain.agg(sum(col("isqrt_tokens")).as("ssum"),
      sum(col("n_tokens")).as("tsum"))
    val rates = perDomain.crossJoin(broadcast(totals))
      .select(col("source"),
        expr("""CAST((CAST(isqrt_tokens AS DECIMAL(38,0)) * tsum * 1000000)
                div (CAST(ssum AS DECIMAL(38,0)) * n_tokens) AS BIGINT)""")
          .as("epochs_micro"))
    perDoc.join(broadcast(rates), Seq("source"))
      .withColumn("h", pmod(Winnowing.portableHash(
        concat(col("doc_id").cast("string"), lit("#mix"))), lit(1000000L)))
      .withColumn("copies", expr(
        "epochs_micro div 1000000 + " +
          "CASE WHEN h < epochs_micro % 1000000 THEN 1 ELSE 0 END"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("epochs_micro")).as("epochs_micro"),
        sum(col("copies")).as("n_instances"),
        sum(when(col("copies") > 0, 1L).otherwise(0L)).as("n_distinct_kept"),
        sum(col("ntok") * col("copies")).as("sampled_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_mixed_sample" -> (mixedSample _),
    "q179_domain_mixing" -> (domainMixing _),
    "q175_domain_classifier" -> (domainClassifier _),
    "q171_importance_weights" -> (importanceWeights _),
    "q149_heldout_lm_score" -> (heldoutLmScore _),
    "q139_bigram_fluency" -> (bigramFluency _),
    "q130_bpe_encode" -> (bpeEncode _),
    "q157_curriculum_plan" -> (curriculumPlan _),
    "q133_weighted_sample" -> (weightedSample _),
    "q128_bpe_merges" -> (bpeMerges _),
    "q108_eval_split" -> (evalSplit _),
    "q105_vocab_coverage" -> (vocabCoverage _),
    "q103_source_drift" -> (sourceDrift _),
    "q102_fixed_size_sample" -> (fixedSizeSample _),
    "q96_incremental_dedup" -> (incrementalDedup _),
    "q86_mixture_rebalance" -> (mixtureRebalance _),
    "q87_quality_resample" -> (qualityResample _),
    "q213_quality_prune" -> (qualityPrune _),
    "q88_shard_plan" -> (shardPlan _),
    "q89_cluster_cap" -> (clusterCap _),
    "q90_top_terms" -> (topTerms _),
    "q93_line_dedup" -> (lineDedup _))

  /** DuckDB token list of `text` — identical to
    * [[graft.functions.TextFunctions.tokens]].
    */
  private val tokensSql = OracleSql.tokens("text")

  /** q45's quality blend as a reusable CTE chain ending in `q(doc_id,
    * source, n_tok, q)` — generated against the SAME stopword constant
    * as the engine expression so the two can never drift.
    */
  private def qualityCtes: String = {
    val stops = graft.functions.TextFunctions.stopwordList
      .map(s => s"'$s'").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, source, text, $tokensSql AS ts
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_tok,
       |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |      ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha,
       |    least((CASE WHEN len(ts) = 0 THEN 0.0
       |      ELSE CAST(len(list_filter(ts, x -> list_contains([$stops], x))) AS DOUBLE)
       |           / len(ts) END) * 5.0, 1.0) AS stop_score,
       |    CASE WHEN len(ts) = 0 THEN 0.0
       |      ELSE CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE) / len(ts) END AS tok_len
       |  FROM toks),
       |q AS (
       |  SELECT doc_id, source, n_tok,
       |    round(len_score * 0.25 + alpha * 0.25 + stop_score * 0.25 +
       |          (CASE WHEN tok_len >= 3.0 AND tok_len <= 10.0 THEN 1.0 ELSE 0.3 END) * 0.25, 6) AS q
       |  FROM m)""".stripMargin
  }

  /** The portable sampling bucket, as DuckDB SQL — the ONE shared
    * spelling ([[OracleSql.bucketSql]], r17: now NULL-sentinel-exact).
    */
  private def bucketSql(key: String, salt: String): String =
    OracleSql.bucketSql(key, salt)

  private def bpeIterSql(i: Int): String =
    s"""p$i AS (
       |  SELECT t.sym[i.idx] AS l, t.sym[i.idx + 1] AS r,
       |    CAST(sum(t.freq) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(trim(s), ' ') AS sym, freq FROM w$i) t,
       |       LATERAL (SELECT unnest(range(1, len(t.sym))) AS idx) i
       |  GROUP BY 1, 2),
       |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
       |w${i + 1} AS (
       |  SELECT replace(s,
       |    ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
       |    ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS s, freq
       |  FROM w$i)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the identical per-doc hash predicate replayed: bucket multiset →
    // per-doc token counts → isqrt rates → salted md5-low-60 Bernoulli
    // + integer replication
    "q183_mixed_sample" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, u.term
         |  FROM (SELECT doc_id, source, ${OracleSql.tokens("text")} AS ts
         |        FROM documents),
         |       unnest(ts) u(term)),
         |pd AS (SELECT doc_id, source, count(*) AS ntok
         |       FROM toks GROUP BY 1, 2),
         |dom AS (
         |  SELECT source, CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |    CAST(floor(sqrt(CAST(sum(ntok) AS DOUBLE))) AS BIGINT)
         |      AS isqrt_tokens
         |  FROM pd GROUP BY 1),
         |t AS (SELECT sum(isqrt_tokens) AS ssum, sum(n_tokens) AS tsum
         |      FROM dom),
         |rates AS (
         |  SELECT source,
         |    CAST((CAST(isqrt_tokens AS HUGEINT) * tsum * 1000000)
         |      // (CAST(ssum AS HUGEINT) * n_tokens) AS BIGINT)
         |      AS epochs_micro
         |  FROM dom CROSS JOIN t),
         |planned AS (
         |  SELECT pd.source, pd.ntok, rates.epochs_micro,
         |    epochs_micro // 1000000 +
         |      CASE WHEN CAST('0x' || substr(
         |          md5(CAST(pd.doc_id AS VARCHAR) || '#mix'), 18, 15)
         |          AS BIGINT) % 1000000 < epochs_micro % 1000000
         |        THEN 1 ELSE 0 END AS copies
         |  FROM pd JOIN rates USING (source))
         |SELECT source, count(*) AS n_docs,
         |  max(epochs_micro) AS epochs_micro,
         |  CAST(sum(copies) AS BIGINT) AS n_instances,
         |  CAST(sum(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_distinct_kept,
         |  CAST(sum(ntok * copies) AS BIGINT) AS sampled_tokens
         |FROM planned GROUP BY 1""".stripMargin,
    // isqrt via IEEE-correctly-rounded sqrt (deterministic on BIGINT
    // inputs), weights/epochs as exact HUGEINT rationals mirroring the
    // decimal(38,0) spelling
    "q179_domain_mixing" ->
      s"""WITH toks AS (
         |  SELECT source, len(${OracleSql.tokens("text")}) AS ntok
         |  FROM documents),
         |pd AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS n_tokens
         |  FROM toks GROUP BY 1),
         |s AS (
         |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
         |    AS isqrt_tokens
         |  FROM pd),
         |t AS (SELECT sum(isqrt_tokens) AS ssum, sum(n_tokens) AS tsum FROM s)
         |SELECT source, n_docs, n_tokens, isqrt_tokens,
         |  CAST((CAST(isqrt_tokens AS HUGEINT) * 1000000) // ssum AS BIGINT)
         |    AS weight_micro,
         |  CAST((CAST(isqrt_tokens AS HUGEINT) * tsum * 1000000)
         |    // (CAST(ssum AS HUGEINT) * n_tokens) AS BIGINT)
         |    AS epochs_micro
         |FROM s CROSS JOIN t""".stripMargin,
    // the full train/score/argmax pipeline replayed: md5-tail buckets,
    // the HUGEINT mirror of the decimal(38,0) rational weights over the
    // complete class × range(256) grid, truncating weighted mean, and
    // the (score desc, class asc) argmax tie order
    "q175_domain_classifier" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, u.term
         |  FROM (SELECT doc_id, source, ${OracleSql.tokens("text")} AS ts
         |        FROM documents),
         |       unnest(ts) u(term)),
         |tb AS (
         |  SELECT doc_id, source,
         |    CAST('0x' || substr(md5(term), 18, 15) AS BIGINT) % 256 AS b
         |  FROM toks),
         |docb AS (SELECT doc_id, source, b, count(*) AS m
         |         FROM tb GROUP BY 1, 2, 3),
         |train AS (SELECT * FROM docb WHERE doc_id % 5 < 4),
         |cc AS (SELECT source AS c, b, sum(m) AS ct FROM train GROUP BY 1, 2),
         |tcls AS (SELECT source AS c, sum(m) AS tc FROM train GROUP BY 1),
         |cbkt AS (SELECT b, sum(m) AS cb FROM train GROUP BY 1),
         |g AS (SELECT sum(m) AS t FROM train),
         |grid AS (SELECT tcls.c, tcls.tc, r.b FROM tcls
         |         CROSS JOIN (SELECT range AS b FROM range(256)) r),
         |w AS (
         |  SELECT grid.c, grid.b,
         |    CAST((CAST(coalesce(cc.ct, 0) + 1 AS HUGEINT) * (t + 256)
         |        * 1000000)
         |      // (CAST(coalesce(cbkt.cb, 0) + 1 AS HUGEINT) * (grid.tc + 256))
         |      AS BIGINT) AS w_micro
         |  FROM grid
         |  LEFT JOIN cc ON cc.c = grid.c AND cc.b = grid.b
         |  LEFT JOIN cbkt ON cbkt.b = grid.b
         |  CROSS JOIN g),
         |ev AS (SELECT * FROM docb WHERE doc_id % 5 = 4),
         |scored AS (
         |  SELECT ev.doc_id, ev.source, w.c,
         |    CAST(sum(ev.m * w.w_micro) // sum(ev.m) AS BIGINT) AS score_micro
         |  FROM ev JOIN w ON w.b = ev.b GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT doc_id, source, c,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score_micro DESC, c ASC) AS rn
         |  FROM scored)
         |SELECT source AS true_source, c AS pred_source,
         |  count(*) AS n_docs
         |FROM pred WHERE rn = 1 GROUP BY 1, 2""".stripMargin,
    // the md5-tail bucket, the Laplace-smoothed rational ratio on
    // HUGEINT (mirror of the Spark decimal(38,0)), and the truncating
    // occurrence-weighted mean — all integer, engine-exact
    "q171_importance_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, u.term
         |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |tb AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(term), 18, 15) AS BIGINT) % 256 AS b
         |  FROM toks),
         |docb AS (SELECT doc_id, b, count(*) AS m FROM tb GROUP BY 1, 2),
         |dl AS (SELECT doc_id, (lang = 'en') AS is_target FROM documents),
         |j AS (SELECT docb.doc_id, docb.b, docb.m, dl.is_target
         |      FROM docb JOIN dl USING (doc_id)),
         |bs AS (
         |  SELECT b,
         |    sum(CASE WHEN is_target THEN m ELSE 0 END) AS ct,
         |    sum(CASE WHEN NOT is_target THEN m ELSE 0 END) AS cs
         |  FROM j GROUP BY b),
         |tot AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM bs),
         |r AS (
         |  SELECT b,
         |    CAST((CAST(ct + 1 AS HUGEINT) * (ts + 256) * 1000000)
         |      // (CAST(cs + 1 AS HUGEINT) * (tt + 256)) AS BIGINT)
         |      AS ratio_micro
         |  FROM bs CROSS JOIN tot)
         |SELECT doc_id, is_target, CAST(sum(m) AS BIGINT) AS n_tokens,
         |  CAST(sum(m * ratio_micro) // sum(m) AS BIGINT) AS weight_micro
         |FROM j JOIN r USING (b)
         |GROUP BY doc_id, is_target""".stripMargin,
    "q149_heldout_lm_score" ->
      s"""WITH ttoks AS (
         |  SELECT doc_id, ${OracleSql.tokens("text")} AS ts
         |  FROM documents WHERE doc_id % 5 <> 0),
         |htoks AS (
         |  SELECT doc_id, ${OracleSql.tokens("aug")} AS ts
         |  FROM (
         |    SELECT doc_id,
         |      'zqnb' || CAST(doc_id AS VARCHAR) || ' ' || text ||
         |      ' zqov' || CAST(doc_id AS VARCHAR) AS aug
         |    FROM documents WHERE doc_id % 5 = 0)),
         |tbg AS (
         |  SELECT doc_id, ts[CAST(u.i AS INT) + 1] AS w1,
         |    ts[CAST(u.i AS INT) + 2] AS w2
         |  FROM ttoks, unnest(range(greatest(len(ts) - 1, 0))) u(i)),
         |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |        FROM tbg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
         |       FROM c12 GROUP BY 1),
         |uni AS (
         |  SELECT u.term AS w2, CAST(count(*) AS BIGINT) AS c2
         |  FROM ttoks, unnest(ts) u(term) GROUP BY 1),
         |tt AS (SELECT CAST(sum(c2) AS BIGINT) AS t_tokens FROM uni),
         |db AS (
         |  SELECT doc_id, ts[CAST(u.i AS INT) + 1] AS w1,
         |    ts[CAST(u.i AS INT) + 2] AS w2, CAST(count(*) AS BIGINT) AS m
         |  FROM htoks, unnest(range(greatest(len(ts) - 1, 0))) u(i)
         |  GROUP BY 1, 2, 3),
         |sc AS (
         |  SELECT db.doc_id, db.m,
         |    CASE WHEN c12.c12 IS NOT NULL THEN (c12.c12 * 1000000) // c1.c1
         |         WHEN uni.c2 IS NOT NULL
         |           THEN (400000 * ((uni.c2 * 1000000) // tt.t_tokens)) // 1000000
         |         ELSE 0 END AS p_micro,
         |    CASE WHEN c12.c12 IS NOT NULL THEN 'seen'
         |         WHEN uni.c2 IS NOT NULL THEN 'backoff'
         |         ELSE 'oov' END AS kind
         |  FROM db
         |  LEFT JOIN c12 ON db.w1 = c12.w1 AND db.w2 = c12.w2
         |  LEFT JOIN c1 ON db.w1 = c1.w1
         |  LEFT JOIN uni ON db.w2 = uni.w2
         |  CROSS JOIN tt)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN kind = 'seen' THEN m ELSE 0 END) AS BIGINT)
         |    AS n_seen,
         |  CAST(sum(CASE WHEN kind = 'backoff' THEN m ELSE 0 END) AS BIGINT)
         |    AS n_backoff,
         |  CAST(sum(CASE WHEN kind = 'oov' THEN m ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(m * p_micro) // sum(m) AS BIGINT) AS score_micro
         |FROM sc GROUP BY doc_id""".stripMargin,
    "q139_bigram_fluency" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |bg AS (
         |  SELECT doc_id, ts[CAST(u.i AS INT) + 1] AS w1,
         |    ts[CAST(u.i AS INT) + 2] AS w2
         |  FROM toks, unnest(range(greatest(len(ts) - 1, 0))) u(i)),
         |db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
         |       FROM bg GROUP BY 1, 2, 3),
         |c12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12
         |        FROM db GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
         |       FROM c12 GROUP BY 1),
         |sc AS (
         |  SELECT db.doc_id, db.m, (c12.c12 * 1000000) // c1.c1 AS p_micro
         |  FROM db
         |  JOIN c12 ON db.w1 = c12.w1 AND db.w2 = c12.w2
         |  JOIN c1 ON db.w1 = c1.w1)
         |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
         |  CAST(sum(m * p_micro) // sum(m) AS BIGINT) AS fluency_micro
         |FROM sc GROUP BY doc_id""".stripMargin,
    // per-source top-25% by quality: threshold = value at ascending
    // rank n − ⌈0.25·n⌉ + 1, ties kept — the exact value-membership
    // contract topFracByGroup states
    "q213_quality_prune" -> {
      s"""WITH ${qualityCtes},
         |qq AS (SELECT doc_id, source, n_tok,
         |  CAST(floor(q * 1000000 + 0.5) AS BIGINT) AS q_micro FROM q),
         |t AS (SELECT *,
         |  row_number() OVER (PARTITION BY source ORDER BY q_micro ASC,
         |                     doc_id ASC) AS rnk,
         |  count(*) OVER (PARTITION BY source) AS n FROM qq),
         |th AS (SELECT source, q_micro AS thr FROM t
         |       WHERE rnk = n - CAST(ceil(0.25 * n) AS BIGINT) + 1),
         |kept AS (SELECT qq.* FROM qq JOIN th USING (source)
         |         WHERE q_micro >= thr)
         |SELECT source, count(*) AS n_kept,
         |  CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
         |  min(q_micro) AS min_q_micro, max(q_micro) AS max_q_micro
         |FROM kept GROUP BY source""".stripMargin
    },
    "q157_curriculum_plan" -> {
      s"""WITH ${qualityCtes},
         |qq AS (SELECT doc_id, n_tok,
         |  CAST(floor(q * 1000000 + 0.5) AS BIGINT) AS q_micro FROM q),
         |r AS (SELECT *, row_number() OVER (ORDER BY q_micro, doc_id) - 1
         |        AS rnk FROM qq),
         |nn AS (SELECT count(*) AS n FROM qq)
         |SELECT CAST((rnk * $curriculumPhases) // n AS INT) AS phase,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(min(q_micro) AS BIGINT) AS min_q_micro,
         |  CAST(max(q_micro) AS BIGINT) AS max_q_micro
         |FROM r CROSS JOIN nn GROUP BY 1""".stripMargin
    },
    "q130_bpe_encode" ->
      s"""WITH toks AS (
         |  SELECT doc_id, u.term
         |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |v AS (SELECT term, count(*) AS freq FROM toks GROUP BY 1)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_vocab,
         |  CAST(sum(freq) AS BIGINT) AS n_words_total,
         |  TRUE AS all_roundtrip,
         |  TRUE AS subwords_ge_words,
         |  TRUE AS merges_reduce
         |FROM v""".stripMargin,
    "q133_weighted_sample" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
        |c AS (
        |  SELECT *, CAST(coalesce(sum(w) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cumb
        |  FROM d),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM d),
        |s AS (SELECT greatest(total // 50, 1) AS step FROM t)
        |SELECT doc_id, w,
        |  CAST(cumb + w AS BIGINT) AS cum_w,
        |  CAST((cumb + w) // step AS BIGINT) AS pick_idx
        |FROM c CROSS JOIN s
        |WHERE cumb // step < (cumb + w) // step""".stripMargin,
    "q128_bpe_merges" ->
      s"""WITH toks AS (
         |  SELECT u.term
         |  FROM (SELECT ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |words AS (SELECT term, count(*) AS freq FROM toks GROUP BY term),
         |w1 AS (SELECT ' ' || regexp_replace(term, '(.)', '\\1 ', 'g') AS s, freq
         |       FROM words),
         |${bpeIterSql(1)},
         |${bpeIterSql(2)},
         |${bpeIterSql(3)}
         |SELECT CAST(1 AS INT) AS step, l AS left_sym, r AS right_sym, cnt FROM m1
         |UNION ALL SELECT 2, l, r, cnt FROM m2
         |UNION ALL SELECT 3, l, r, cnt FROM m3""".stripMargin,
    "q108_eval_split" -> {
      val bucket = bucketSql("doc_id", "ev1")
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS ch
         |  FROM documents),
         |ev AS (
         |  SELECT doc_id, source, ch FROM (
         |    SELECT *, row_number() OVER (PARTITION BY source
         |      ORDER BY $bucket ASC, doc_id ASC) AS rk FROM d)
         |  WHERE rk <= $evalK),
         |rest AS (
         |  SELECT * FROM d WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |t AS (
         |  SELECT rest.*, CASE WHEN EXISTS
         |      (SELECT 1 FROM ev WHERE ev.ch = rest.ch) THEN 1 ELSE 0 END AS leaked
         |  FROM rest)
         |SELECT t.source,
         |  (SELECT count(*) FROM ev WHERE ev.source = t.source) AS n_eval,
         |  count(*) AS n_rest,
         |  CAST(sum(leaked) AS BIGINT) AS n_excluded_leaks,
         |  CAST(sum(1 - leaked) AS BIGINT) AS n_train,
         |  TRUE AS no_residual_overlap
         |FROM t GROUP BY t.source""".stripMargin
    },
    "q105_vocab_coverage" ->
      s"""WITH sub AS (
         |  SELECT source, u.t
         |  FROM (SELECT source,
         |          regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ts
         |        FROM documents), unnest(ts) u(t)),
         |vocab AS (
         |  SELECT t FROM (SELECT t, count(*) AS c FROM sub GROUP BY t)
         |  ORDER BY c DESC, t ASC LIMIT $vocabSize)
         |SELECT s.source, count(*) AS total_occurrences,
         |  CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS oov_occurrences,
         |  CAST((2 * sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1000000
         |    + count(*)) // (2 * count(*)) AS BIGINT)
         |    AS oov_rate_millionths
         |FROM sub s LEFT JOIN vocab v ON s.t = v.t
         |GROUP BY s.source""".stripMargin,
    "q103_source_drift" ->
      s"""WITH toks AS (
         |  SELECT source, u.term
         |  FROM (SELECT source, $tokensSql AS ts FROM documents), unnest(ts) u(term)),
         |counts AS (
         |  SELECT source, term, count(*) AS c FROM toks GROUP BY source, term),
         |vocab AS (
         |  SELECT term FROM (SELECT term, sum(c) AS tc FROM counts GROUP BY term)
         |  ORDER BY tc DESC, term ASC LIMIT $driftVocab),
         |totals AS (SELECT source, sum(c) AS total FROM counts GROUP BY source),
         |probs AS (
         |  SELECT t.source, v.term,
         |    CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(t.total AS DOUBLE) AS p
         |  FROM totals t CROSS JOIN vocab v
         |  LEFT JOIN counts c ON c.source = t.source AND c.term = v.term)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(sum(CAST(floor(abs(a.p - b.p) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         |    AS tv_2x_millionths,
         |  CAST(count(*) AS INT) AS n_terms
         |FROM probs a JOIN probs b ON a.term = b.term AND a.source < b.source
         |GROUP BY 1, 2""".stripMargin,
    "q102_fixed_size_sample" ->
      s"""WITH ranked AS (
         |  SELECT doc_id, source, lang,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${bucketSql("doc_id", "fs1")} ASC, doc_id ASC) AS rk
         |  FROM documents)
         |SELECT doc_id, source, lang FROM ranked WHERE rk <= $fixedK""".stripMargin,
    "q96_incremental_dedup" ->
      """WITH h AS (
        |  SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS ct
        |  FROM documents WHERE doc_id % 10 <> 0),
        |b AS (
        |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS ct
        |  FROM documents WHERE doc_id % 10 = 0),
        |m AS (SELECT b.doc_id,
        |        CASE WHEN EXISTS (SELECT 1 FROM h WHERE h.ct = b.ct)
        |             THEN 1 ELSE 0 END AS dup
        |      FROM b)
        |SELECT count(*) AS n_batch,
        |  CAST(sum(dup) AS BIGINT) AS n_dup,
        |  CAST(sum(1 - dup) AS BIGINT) AS n_survivors,
        |  TRUE AS no_false_negatives, TRUE AS fp_bounded
        |FROM m""".stripMargin,
    "q86_mixture_rebalance" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, CAST(len($tokensSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot FROM d GROUP BY source),
         |tgt AS (SELECT min(tot) AS target FROM tot),
         |thr AS (
         |  SELECT source,
         |    CAST(floor(CAST(target AS DOUBLE) / CAST(tot AS DOUBLE)
         |      * 1000000 + 0.5) AS BIGINT) AS thr,
         |    CAST(floor(CAST(target AS DOUBLE) / CAST(tot AS DOUBLE)
         |      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS frac
         |  FROM tot, tgt),
         |b AS (
         |  SELECT d.source, d.n_tok, thr.frac, thr.thr,
         |    ${bucketSql("d.doc_id", "mix2")} AS bk
         |  FROM d JOIN thr USING (source))
         |SELECT source, frac, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS kept_tokens
         |FROM b WHERE bk < thr GROUP BY source, frac""".stripMargin,
    "q87_quality_resample" ->
      s"""WITH $qualityCtes,
         |b AS (SELECT *, ${bucketSql("doc_id", "qs1")} AS bk FROM q)
         |SELECT source, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS kept_tokens,
         |  CAST(sum(CAST(floor(q * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q_millionths
         |FROM b WHERE bk < CAST(floor(q * q * 1000000) AS BIGINT)
         |GROUP BY source""".stripMargin,
    "q88_shard_plan" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tok,
         |    CAST(${bucketSql("doc_id", "#shard").replace("% 1000000", s"% $nShards")} AS INT) AS shard
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM d GROUP BY shard""".stripMargin,
    "q89_cluster_cap" ->
      s"""WITH RECURSIVE ${TextQ.snmPairsCtes},
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT rc.u, e.v FROM reach rc JOIN edges e ON rc.v = e.u),
         |comp AS (SELECT u AS node, least(u, min(v)) AS component
         |         FROM reach GROUP BY u),
         |ranked AS (SELECT node, component,
         |    row_number() OVER (PARTITION BY component ORDER BY node) AS rn
         |  FROM comp)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_id
         |FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM ranked WHERE rn > $clusterCapN)
         |GROUP BY source""".stripMargin,
    "q93_line_dedup" ->
      s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS ts FROM documents),
         |la AS (
         |  SELECT doc_id, source,
         |    list_transform(range(0, CAST(ceil(len(ts) / ${lineLen}.0) AS BIGINT)),
         |      i -> array_to_string(ts[(i*$lineLen+1):(i*$lineLen+$lineLen)], ' ')) AS ls
         |  FROM toks),
         |lines AS (
         |  SELECT doc_id, source,
         |    unnest(range(0, len(ls))) AS line_no, unnest(ls) AS line
         |  FROM la),
         |lh AS (SELECT *, CAST('0x' || substr(md5(line), 18, 15) AS BIGINT) AS h
         |       FROM lines),
         |dup AS (
         |  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM lh GROUP BY h)
         |  WHERE nd > $lineDupMaxDocs)
         |SELECT l.doc_id, l.source, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN d.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(CASE WHEN d.h IS NULL THEN l.line END,
         |    chr(10) ORDER BY l.line_no), '') AS clean_text
         |FROM lh l LEFT JOIN dup d ON l.h = d.h
         |GROUP BY l.doc_id, l.source""".stripMargin,
    "q90_top_terms" ->
      s"""WITH t AS (
         |  SELECT source, u.tok
         |  FROM (SELECT source, $tokensSql AS ts FROM documents), unnest(ts) u(tok)),
         |tf AS (SELECT source, tok, count(*) AS tf FROM t GROUP BY source, tok),
         |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |r AS (
         |  SELECT tf.source, tf.tok, tf.tf, dfreq.df,
         |    row_number() OVER (PARTITION BY tf.source ORDER BY tf.tf DESC, tf.tok) AS rn
         |  FROM tf JOIN dfreq USING (tok))
         |SELECT source, CAST(rn AS INT) AS pos, tok, tf, df
         |FROM r WHERE rn <= 5""".stripMargin)
}

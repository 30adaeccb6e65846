package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.VectorFunctions.{cosine_similarity6, simhash60}

/** Corpus deduplication — the operator family a training-data pipeline
  * runs over its whole corpus before anything else.
  *
  * Scale design notes (all variants):
  *  - every method is a pure shuffle-on-key plan: hash keys (content
  *    hash, LSH band bucket, SimHash block) distribute uniformly by
  *    construction, so there is no skew to salt away;
  *  - candidate generation NEVER compares all pairs — buckets bound the
  *    quadratic term to within-bucket pairs;
  *  - signatures are computed in one projection pass over the corpus
  *    (codegen'd expressions, no UDFs), so the expensive scan happens
  *    exactly once.
  */
object Dedup {

  /** Default document-frequency cap for pigeonhole/shared-key candidate
    * buckets ([[simhashPairs]], [[MediaDedup.nearDupPairs]],
    * [[MediaDedup.frameJaccardPairs]]): a bucket's candidate fan-in is
    * quadratic in its population, so one degenerate key — the all-zero
    * dHash every uniform black frame produces, the empty-document
    * SimHash — turns a bounded self-join into an all-pairs explosion at
    * corpus scale. Buckets above the cap are DROPPED from candidate
    * generation (the ExactSubstr df-bounded contract applied to media:
    * a key shared by millions of items is corpus boilerplate, not
    * duplication evidence — the idf intuition). (10⁴)²/2 ≈ 5·10⁷
    * worst-case candidates per surviving bucket: one heavy task, not a
    * job-killer. The drop set is NOT silent: it is a first-class
    * queryable output ([[hotBuckets]] / [[MediaDedup.droppedBuckets]] /
    * [[MediaDedup.droppedFrameSigs]]) — in a lazy distributed engine
    * the honest "log" of a data-dependent cap is a table the pipeline
    * can gate on, not a driver print that needs an extra job to know
    * its own count.
    *
    * Gate convention: the DuckDB oracles model the CAP-FREE ideal (a
    * brute-force pair scan has no buckets to cap), and the gate corpora
    * sit below the cap by construction — the same convention as the
    * q47 hash-collision odds: the oracle states the ideal, the engine's
    * documented deviation threshold is part of its contract. A corpus
    * that crosses the cap diverges from the ideal EXACTLY on the
    * reported drop set; completeness diagnostics that compare blocked
    * vs exhaustive legs (the q82 gate) must pin the cap off
    * (`Long.MaxValue`).
    */
  val DefaultMaxBucketDf = 10000L

  /** Rows of `blocked` whose bucket (the `keys` tuple) has population
    * ≤ `cap`. The OVER-cap set is what gets joined, not the under-cap
    * one: hot buckets number at most |blocked|/cap by construction
    * (each holds > cap rows — at 10⁹ docs × 4 blocks and the default
    * cap that is ≤ 4·10⁵ keys, a few MB), so they COLLECT to the
    * driver (r15 — the same bounded-artifact class as k-means
    * centers) and the corpus stream anti-joins through a LOCAL
    * broadcast relation without a join shuffle; the df rollup itself
    * partial-aggregates map-side (the q153 stance: a count-over-
    * window per bucket would buffer the viral bucket whole in one
    * task — the groupBy never does). Collecting instead of leaving
    * the rollup as an in-plan broadcast subtree buys the COMMON case
    * outright: no bucket over cap → the input passes through
    * untouched, no anti-join, no broadcast — one count job is the
    * cap's entire price on a clean corpus (previously every capped
    * join paid the broadcast-subtree round trip even when the hot
    * set was empty — the r13/r14 in-battery-latency headroom note).
    * `Long.MaxValue` means "cap off" and is a true passthrough (the
    * q82 completeness diagnostic's leg). Bucket keys are non-null by
    * construction (block values of a non-null sig); the anti-join
    * would KEEP a null-keyed row, the inner-join spelling would have
    * dropped it.
    *
    * EAGER-ACTION CONTRACT (r16, ADVICE): the count job runs HERE, at
    * plan-construction time — building a capped operator's DataFrame
    * triggers a Spark job even if the result is never executed, and
    * the collected hot set is a point-in-time snapshot of `blocked`.
    * Callers ([[simhashPairs]], [[MediaDedup]]'s pair joins,
    * [[graft.operators.Similarity.semanticPairs]]) inherit both
    * properties and carry the precondition: the input must be
    * DETERMINISTIC (cache/checkpoint a non-deterministic source
    * first), or the snapshot can diverge from the recomputed input in
    * the downstream anti-join. Kept eager deliberately: the empty
    * fast path — the common case — must decide the PLAN (passthrough
    * vs anti-join), which a lazy rollup cannot do.
    */
  private[operators] def capHotBuckets(blocked: DataFrame, keys: Seq[String],
                                       cap: Long): DataFrame =
    if (cap == Long.MaxValue) blocked
    else {
      val keyCols = keys.map(col)
      val hotRows = hotBuckets(blocked, keys, cap)
        .select(keyCols: _*).collect()
      if (hotRows.isEmpty) blocked
      else {
        val sp = blocked.sparkSession
        val schema = org.apache.spark.sql.types.StructType(
          keys.map(k => blocked.schema(k)))
        val hot = sp.createDataFrame(
          java.util.Arrays.asList(hotRows: _*), schema)
        blocked.join(broadcast(hot), keys, "left_anti")
      }
    }

  /** The complement of [[capHotBuckets]]: the over-cap buckets with
    * their populations — the queryable drop report the no-silent-caps
    * rule requires.
    */
  private[operators] def hotBuckets(blocked: DataFrame, keys: Seq[String],
                                    cap: Long): DataFrame =
    blocked.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_df"))
      .filter(col("bucket_df") > cap)

  /** Canonical text for exact dedup: lowercased, whitespace-collapsed. */
  def canonicalText(text: Column): Column =
    // the RE2 \s set, one spelling with the oracles' '\s+'
    // (TextFunctions.WsClass — r19 review: Java \s includes U+000B,
    // RE2 does not)
    regexp_replace(trim(lower(text)), graft.functions.TextFunctions.WsClass + "+", " ")

  /** Per-row dedup key: the 128-bit hash of the canonical text, with
    * NULL text keyed by the row's own id — a failed extraction is not
    * evidence of duplicate content, and without the fallback every
    * null-text row would land in the single null-hash group and all
    * but one would silently vanish as "exact duplicates".
    */
  private def contentHash(idCol: String, textCol: String): Column =
    coalesce(md5(canonicalText(col(textCol))),
      concat(lit("null:"), col(idCol).cast("string")))

  /** Exact dedup: keep the lowest-id document of each canonical-text
    * group. groupBy on the 128-bit content hash — never on the raw text,
    * so wide documents don't travel through the shuffle. Null-text rows
    * all survive (see [[contentHash]]).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    Scratch.requireFree("Dedup", docs.columns, Set("content_hash", "rn"))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol).asc)
    docs
      .withColumn("content_hash", contentHash(idCol, textCol))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // BOTH internals: the cleaned corpus must come back with the
      // input's schema, not input-plus-a-32-char-hash column (r16)
      .drop("rn", "content_hash")
  }

  /** Groups of exact duplicates (size > 1), for reporting. The
    * `doc_ids` array IS the deliverable, so per-group aggregation
    * state is the group itself — bounded by the corpus's duplication
    * profile, not by this operator. On a viral-duplication corpus
    * (one text repeated millions of times) the listing is the wrong
    * tool at any implementation: use [[exact]] plus a count aggregate
    * there, and keep this for human-scale reports.
    */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    Scratch.requireFree("Dedup", docs.columns, Set("content_hash"))
    docs
      .withColumn("content_hash", contentHash(idCol, textCol))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"),
        collect_list(col(idCol)).as("doc_ids"))
      .filter(col("n_dups") > 1)
  }

  /** MinHash + LSH near-dup pairs.
    *
    * signature (numHashes) → bands of `rowsPerBand` → band-hash bucket →
    * self-join within bucket → distinct candidate pair → exact Jaccard
    * on shingle sets → threshold.
    *
    * The band self-join is the only shuffle-join; its key
    * (band_id, band_hash) is NEARLY uniform — with one documented
    * exception (r16): docs with fewer than `shingleK` tokens all get
    * the ONE whole-doc fallback shingle ([[graft.functions
    * .ShingleHashes]]), so a corpus with m empty/boilerplate-short
    * docs puts all m in the same bucket of EVERY band —
    * numBands·m²/2 candidates. `maxBucketDf` caps each band bucket
    * ([[DefaultMaxBucketDf]], the simhash/media convention): over-cap
    * buckets drop from candidate generation with the queryable
    * [[minhashDroppedBands]] report — the m-identical-docs case is the
    * EXACT-dedup operator's job (groupBy content hash), not the
    * pigeonhole's. Capped construction is EAGER and needs a
    * deterministic input (the [[capHotBuckets]] contract). Exact
    * verification re-reads only candidate docs' shingle sets (joined
    * by id), not the whole corpus.
    */
  def minhashLsh(docs: DataFrame, shingleK: Int = 3, numHashes: Int = 64,
                 rowsPerBand: Int = 4, jaccardThreshold: Double = 0.8,
                 idCol: String = "doc_id", textCol: String = "text",
                 maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    // One pass over hashed shingles feeds BOTH the signatures and the
    // verification joins ([[graft.functions.ShingleHashes]] rolls
    // k-token shingle hashes without materializing shingle strings).
    // The explicit repartition(id) plants a user exchange that
    // ReuseExchange dedups across all three consumers, so shingling
    // runs once per query with NO session-lifetime cache (a persist
    // here leaked corpus-sized blocks until the caller unpersisted —
    // and user repartitions survive AQE's broadcast conversions that
    // defeat plain exchange reuse). Jaccard over hash sets equals
    // string Jaccard up to 2^-64 collisions. At production scale the
    // sets/signatures are written to a table instead.
    val sets = shingleSets(docs, shingleK, idCol, textCol)
      .repartition(col("id"))
    val banded = capHotBuckets(
      bandedSignatures(sets, numHashes, rowsPerBand),
      Seq("band_id", "band_hash"), maxBucketDf)

    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    candidates
      .join(sets.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a")), Seq("id_a"))
      .join(sets.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs: 60-bit sketch ([[SimHash60]], portable
    * md5-tail token hash), 4 blocks of 15 bits; two docs within
    * `maxHamming` ≤ 3 bits must share at least one block (pigeonhole),
    * so block-equality buckets are a complete candidate generator.
    * Verification = bit_count(a^b).
    *
    * `sketches`, when given, is a precomputed (id, sk) table — callers
    * that also consume the sketches elsewhere (e.g. the q82
    * completeness gate's exhaustive reference leg) compute them once
    * instead of re-sketching the corpus per consumer.
    *
    * `maxBucketDf` caps each block bucket's population (see
    * [[DefaultMaxBucketDf]] — a degenerate sketch value shared by
    * millions of docs would go quadratic); over-cap buckets drop from
    * candidate generation, so a pair whose ONLY shared block is viral
    * is not reported — corpus-boilerplate similarity, the same
    * judgement the ExactSubstr df bound makes. Capped construction is
    * EAGER and needs a deterministic input (the [[capHotBuckets]]
    * contract).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   sketches: Option[DataFrame] = None,
                   maxBucketDf: Long = DefaultMaxBucketDf): DataFrame = {
    // the 4-block pigeonhole is complete ONLY through hamming 3: at 4,
    // a pair differing by one bit per block shares no block and is
    // silently missing — misconfiguration fails loudly (the minhashLsh
    // rowsPerBand require, r16)
    require(maxHamming >= 0,
      s"maxHamming ($maxHamming) < 0 matches nothing — an empty pair " +
        "list with no error (the MediaDedup.nearDupPairs guard)")
    require(maxHamming <= 3,
      s"maxHamming ($maxHamming) > 3 breaks the 4-block pigeonhole " +
        "completeness guarantee — pairs would be silently missing")
    val blocked = capHotBuckets(
      blockedSketches(docs, idCol, textCol, sketches),
      Seq("block_id", "block_val"), maxBucketDf)
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block_id") === col("b.block_id") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).as("hamming"))
      // threshold BEFORE the dedup shuffle (the MediaDedup r12 review
      // lesson): near-miss collisions are the bulk of the candidate
      // stream and are about to be dropped anyway
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The 4×15-bit pigeonhole blocking of the corpus sketches — one
    * spelling shared by [[simhashPairs]] and its
    * [[simhashDroppedBuckets]] report, so the cap and the accounting
    * can never disagree on what a bucket is.
    */
  private def blockedSketches(docs: DataFrame, idCol: String, textCol: String,
                              sketches: Option[DataFrame]): DataFrame = {
    val sk = sketches.getOrElse(docs.select(col(idCol).as("id"),
      simhash60(TextFunctions.tokens(col(textCol))).as("sk")))
    sk.select(col("id"), col("sk"), explode(
      array((0 until 4).map(b => struct(lit(b).as("block_id"),
        shiftright(col("sk"), b * 15).bitwiseAND(0x7FFFL).as("block_val"))): _*))
      .as("blk"))
      .select(col("id"), col("sk"), col("blk.block_id"), col("blk.block_val"))
  }

  /** The no-silent-caps report for [[simhashPairs]] (r13 review: the
    * media path had a public drop report, the text path didn't —
    * "queryable drop set" must hold for EVERY capped consumer): block
    * buckets `maxBucketDf` would drop, with their populations.
    */
  def simhashDroppedBuckets(docs: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text",
                            sketches: Option[DataFrame] = None,
                            maxBucketDf: Long = DefaultMaxBucketDf): DataFrame =
    hotBuckets(blockedSketches(docs, idCol, textCol, sketches),
      Seq("block_id", "block_val"), maxBucketDf)

  /** Over-cap BAND buckets [[minhashLsh]]'s `maxBucketDf` would drop,
    * with their populations — the queryable drop report of the LSH
    * cap (the [[simhashDroppedBuckets]] convention; r16). One over-cap
    * entry per (band_id, band_hash); the dominant real-world cause is
    * the sub-`shingleK`-token fallback shingle shared by every
    * empty/near-empty doc.
    */
  def minhashDroppedBands(docs: DataFrame, shingleK: Int = 3,
                          numHashes: Int = 64, rowsPerBand: Int = 4,
                          idCol: String = "doc_id", textCol: String = "text",
                          maxBucketDf: Long = DefaultMaxBucketDf): DataFrame =
    hotBuckets(
      bandedSignatures(shingleSets(docs, shingleK, idCol, textCol),
        numHashes, rowsPerBand),
      Seq("band_id", "band_hash"), maxBucketDf)

  /** tokens→shingle-hashes projection — one spelling shared by
    * [[minhashLsh]] and [[minhashDroppedBands]].
    */
  private def shingleSets(docs: DataFrame, shingleK: Int,
                          idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.ShingleFunctions.shingle_hashes(
        TextFunctions.tokens(col(textCol)), shingleK).as("sh"))
      // NULL-text docs carry a null shingle set and must not reach
      // candidate generation (r18 review): xxhash64(slice(null,…), b)
      // hashes only the band id, so every null-text doc would share
      // the SAME band_hash in EVERY band — numBands·m²/2 dead
      // candidates under ANSI, and with ansi=false size(null)/-1
      // arithmetic calls every null pair an exact near-dup, the
      // mass-deletion class contentHash's null fallback exists to
      // prevent. A doc with no text has no shingle evidence: not a
      // near-dup of anything, exactly like [[contentHash]]'s survivors.
      .filter(col("sh").isNotNull)

  /** The (id, band_id, band_hash) banding of the minhash signatures —
    * ONE spelling shared by [[minhashLsh]] and [[minhashDroppedBands]]
    * (the [[blockedSketches]] convention, r16 ADVICE): the cap and its
    * drop report can never disagree on what a band bucket is. The
    * divisibility guard lives here so both callers fail loudly the
    * same way: integer division would silently DISCARD the trailing
    * hashes (64 hashes at 6 per band = 10 bands covering 60 — a
    * different LSH S-curve than the parameters claim).
    */
  private def bandedSignatures(sets: DataFrame, numHashes: Int,
                               rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand " +
        s"($rowsPerBand) — trailing hashes would be silently dropped")
    val numBands = numHashes / rowsPerBand
    sets.select(col("id"),
      graft.functions.MinHashFunctions.minhash_signature(col("sh"), numHashes).as("sig"))
      .select(col("id"), explode(
        array((0 until numBands).map(b =>
          struct(lit(b).as("band_id"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), lit(b))
              .as("band_hash"))): _*))
        .as("band"))
      .select(col("id"), col("band.band_id"), col("band.band_hash"))
  }

  /** Exact n-gram Jaccard similarity for all pairs within a blocking
    * key (e.g. same language) — the verification-only path when
    * candidate sets are already small.
    */
  def ngramJaccardPairs(docs: DataFrame, shingleK: Int, threshold: Double,
                        blockCol: String, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val sets = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      TextFunctions.shingleSet(col(textCol), shingleK).as("sh"))
      // same null-set discipline as [[shingleSets]] (r18 review)
      .filter(col("sh").isNotNull)
    sets.as("a").join(sets.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("jaccard",
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jaccard"))
  }

  /** Embedding near-dup pairs: random-hyperplane LSH with `numTables`
    * independent tables (sign bits of `numBits` fixed pseudo-random
    * projections per table, packed into a long), then exact cosine
    * within bucket. A near pair straddling a hyperplane in one table is
    * caught by another — recall ≈ 1-(1-p^bits)^tables. Deterministic:
    * hyperplanes derive from a seeded generator at plan build.
    */
  def embeddingNearDups(embs: DataFrame, dim: Int, cosineThreshold: Double = 0.9,
                        numBits: Int = 12, numTables: Int = 4,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // repartition(id) plants the one reusable exchange feeding the
    // bucket pass AND both verify joins (same pattern as minhashLsh).
    // Rows whose vector is not `dim`-long drop out (r16 review
    // finding): zip_with null-pads against the hyperplane, the dot
    // goes null, and EVERY plane's sign falls to the otherwise(0)
    // branch — all malformed rows would share bucket 0 of every
    // table, degenerating the candidate join to all-pairs. A
    // wrong-length vector has no defined cosine against the corpus
    // anyway (the semanticPairs NaN-vector convention).
    val vecd = embs.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .filter(size(col("v")) === dim)
      .repartition(col("id"))
    val bucketed = vecd.select(col("id"), explode(
      array((0 until numTables).map { t =>
        val planes = hyperplanes(numBits, dim, seed = 42L + 1000L * t)
        struct(lit(t).as("table_id"), lshBucket(col("v"), planes).as("bucket"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.table_id"), col("tb.bucket"))
    // candidate ids only — the 64-dim vectors never travel through the
    // bucket join or the distinct shuffle; they re-join AFTER dedup,
    // when candidates are few
    val candidates = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.table_id") === col("b.table_id") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(vecd.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(vecd.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cosine", cosine_similarity6(col("va"), col("vb")))
      .filter(col("cosine") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Connected components over an undirected near-dup pair list — the
    * step that turns pairwise candidates into DUPLICATE CLUSTERS so a
    * canonical document can be kept per cluster. Min-label propagation
    * with path halving: each round every node adopts
    * `min(label(label(u)), min over neighbors v of label(v))` — the
    * pointer-jump term keeps rounds logarithmic in cluster diameter.
    *
    * The round is FUSED into a single lookup: neighbor requests `(u→v)`
    * and pointer requests `(u→label(u))` union into one request stream,
    * resolved by ONE equi-join against the label table and ONE
    * `groupBy(asker).min` — two edge-sized exchanges per round, where
    * the unfused hop-then-jump formulation paid four plus a
    * changed-count join. Every target is a live node (labels only ever
    * hold propagated node ids), so the join is inner and every node
    * keeps a row via its own pointer request.
    *
    * Convergence is a scalar per round — the same driver-side contract
    * as GraphX/MLlib iterative algorithms — but needs no old-label
    * comparison: labels are non-increasing (label(label(u)) ≤ label(u)
    * by the `label(x) ≤ x` invariant), so the label SUM is strictly
    * decreasing until fixpoint; an unchanged sum IS convergence. Labels
    * are localCheckpoint'ed per round (lazily — the sum job
    * materializes them) so the plan does not grow with iteration count;
    * superseded round blocks are released eagerly.
    *
    * Returns (node, component) with component = min node id in the
    * component.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                          maxIter: Int = 20): DataFrame = {
    // both edge directions from ONE pass over pairs (a union of two
    // selects would recompute the upstream pair pipeline per branch)
    val sym = pairs.select(explode(array(
        struct(col(idA).as("u"), col(idB).as("v")),
        struct(col(idB).as("u"), col(idA).as("v")))).as("e"))
      .select(col("e.u").as("asker"), col("e.v").as("target"))
      .distinct()
      .localCheckpoint(true)
    // seed with the first hop for free: the node list needs a groupBy on
    // asker anyway, so fold `min(self, neighbors)` into it — one fewer
    // full round than identity seeding
    var labels = sym.groupBy(col("asker"))
      .agg(least(col("asker"), min(col("target"))).as("label"))
      .select(col("asker").as("node"), col("label"))
      .localCheckpoint(false)
    // null-safe: sum over an EMPTY label table is null (no pairs at all
    // → zero nodes); treat as 0 so the loop converges on round 1
    // instead of throwing
    def labelSum(df: DataFrame): BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
    var iter = 0
    // the seed sum's job also materializes the lazy seed checkpoint —
    // and lets round 1 detect a graph the seeding already converged
    var prevSum: Option[BigDecimal] = Some(labelSum(labels))
    var converged = false
    var prev: Option[DataFrame] = Some(labels)
    while (!converged && iter < maxIter) {
      val requests = sym.unionByName(
        labels.select(col("node").as("asker"), col("label").as("target")))
      val next = requests
        .join(labels.select(col("node").as("target"), col("label").as("tl")), Seq("target"))
        .groupBy(col("asker")).agg(min(col("tl")).as("label"))
        .select(col("asker").as("node"), col("label"))
        .localCheckpoint(false)
      // decimal sum: node ids are longs; a plain long sum could overflow
      // at production id ranges and fake a fixpoint
      val s = labelSum(next)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      prev.foreach(_.unpersist(false))
      prev = Some(next)
      labels = next
      iter += 1
    }
    sym.unpersist(false)
    // exhausting maxIter without the fixpoint must fail LOUDLY (the
    // file's no-silent-caps doctrine, r16): returning partial labels
    // would report one true component as several fragments, and
    // keepCanonical would silently let duplicates survive dedup
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds — " +
        "raise maxIter (cluster diameter exceeds the pointer-jump " +
        "budget); partial labels would under-merge duplicate clusters")
    labels.withColumnRenamed("label", "component")
  }

  /** The cleaned corpus: keep only each duplicate cluster's canonical
    * (minimum-id) document; unclustered documents pass through. The
    * drop list is an anti-join — the corpus itself is scanned once and
    * never shuffled on anything but the id.
    */
  def keepCanonical(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Deterministic pseudo-random unit-free hyperplanes (splitmix64). */
  private[graft] def hyperplanes(numBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var state = seed
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(numBits, dim)((next().toDouble / Long.MaxValue))
  }

  /** Sign-bit bucket id of v against the fixed hyperplanes — a pure
    * expression tree (dot products unrolled per plane via aggregate over
    * zip_with would re-read v numBits times; instead each plane is a
    * literal array and we fold with the builtin HOFs once per plane).
    */
  private[operators] def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(v, typedLit(p.toSeq), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(dot > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}

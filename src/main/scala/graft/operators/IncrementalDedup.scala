package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.functions.BloomFunctions.bloom_might_contain

/** Incremental (batch-vs-history) deduplication.
  *
  * The standing problem in a continuously-ingesting pipeline: each new
  * crawl batch must be deduped against EVERYTHING already accepted,
  * but re-scanning (or re-shuffling) the accumulated 100 TB corpus per
  * batch is not an option. Split the membership test in two:
  *
  *  1. **Bloom prefilter** — a fixed-size bit-array artifact built once
  *     over the history's canonical-content hashes (rebuilt only when
  *     the history grows enough to matter; `|history|` long-hashes
  *     stream through `treeAggregate`, and the resulting filter is
  *     bits(n, fpp) bytes regardless of document width). Probing is a
  *     codegen'd per-row [[graft.functions.BloomMightContain]] over the
  *     new batch — no join, no shuffle, no false negatives.
  *  2. **Exact confirm** — only the (tiny) bloom-positive slice joins
  *     the history's 128-bit content hashes to settle false positives.
  *     The history side of this join is its hash column alone — 16
  *     bytes/doc, never the text — and at fpp = 1% the batch side is
  *     ~1% of the batch plus the true duplicates.
  *
  * Both artifacts (the bloom, the hash table) are exactly what a
  * production deployment persists beside the corpus and updates
  * per-batch; here the bloom is memoized per (session, history) by the
  * query layer, standing in for that persisted file.
  */
object IncrementalDedup {

  /** The bloom artifact over the history's canonical-content hashes. */
  def contentBloom(history: DataFrame, textCol: String = "text",
                   fpp: Double = 0.01): BloomFilter = {
    val h = history.select(xxhash64(Dedup.canonicalText(col(textCol))).as("h"))
    // expectedNumItems: one metadata-cheap count; production tracks the
    // running corpus size beside the persisted filter instead. An empty
    // history gets an empty filter directly — stat.bloomFilter NPEs on
    // a zero-row aggregate (null buffer in Spark 4.1)
    val rows = h.count()
    if (rows == 0L) BloomFilter.create(1024L, fpp)
    else h.stat.bloomFilter("h", math.max(1024L, rows), fpp)
  }

  /** The new batch, annotated per row with `bloom_hit` (prefilter
    * verdict) and `is_dup` (exact-confirmed membership in the history).
    * Rows with `bloom_hit = false` are guaranteed novel and never join
    * anything; `is_dup → bloom_hit` always holds (no false negatives).
    */
  def annotateAgainst(batch: DataFrame, history: DataFrame, bloom: BloomFilter,
                      textCol: String = "text"): DataFrame = {
    // the OUTPUT annotations are refused too: newDocs drops them, so
    // re-ingesting already annotated output would lose the old ones
    Scratch.requireFree("IncrementalDedup", batch.columns,
      Set("bloom_hit", "is_dup", "_gf_ch", "_gf_seen"))
    val probed = batch
      .withColumn("bloom_hit",
        bloom_might_contain(xxhash64(Dedup.canonicalText(col(textCol))), bloom))
      // the join key is CONDITIONAL on the bloom verdict (r16 review
      // finding — the code now matches the comment below): a
      // bloom-negative row carries a NULL key, so when the hash side
      // is too big to broadcast and the join sort-merges, the ~99%
      // guaranteed-novel rows are never probed against the history —
      // the exact cost the prefilter exists to avoid
      .withColumn("_gf_ch",
        when(col("bloom_hit"), md5(Dedup.canonicalText(col(textCol)))))
    val historyHashes = history
      .select(md5(Dedup.canonicalText(col(textCol))).as("_gf_ch")).distinct()
      .withColumn("_gf_seen", lit(true))
    // left join keyed on the 128-bit hash; only bloom-positive rows
    // carry a non-null key (NULL never equi-matches), so bloom-negative
    // rows stream through the join stage without probing (and AQE
    // broadcasts the hash side whenever it fits)
    probed
      .join(historyHashes,
        probed("_gf_ch") === historyHashes("_gf_ch"), "left")
      .drop(historyHashes("_gf_ch"))
      .withColumn("is_dup", col("_gf_seen").isNotNull)
      // only the two documented annotations leave this operator; the
      // internal key/marker columns are reserved-prefixed so a batch's
      // own columns can't be clobbered and dropped here
      .drop("_gf_seen", "_gf_ch")
  }

  /** Batch rows that survive incremental dedup (novel content only). */
  def newDocs(batch: DataFrame, history: DataFrame, bloom: BloomFilter,
              textCol: String = "text"): DataFrame =
    annotateAgainst(batch, history, bloom, textCol)
      .filter(!col("is_dup")).drop("bloom_hit", "is_dup")
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.multimodal.PerceptualHashFunctions.{bmp_dhash, wav_fingerprint}

/** Near-duplicate detection over DECODED media bytes — dHash for
  * images, energy fingerprints for audio ([[graft.multimodal.MediaHash]])
  * — wired into the exact pigeonhole machinery the text SimHash path
  * uses ([[Dedup.simhashPairs]]): a 64-bit signature splits into 4
  * disjoint 16-bit blocks, Hamming ≤ 3 < 4 forces at least one equal
  * block, candidates join ONLY inside (block_id, block_val) buckets,
  * then the exact `bit_count(xor)` distance filters. No all-pairs
  * shape anywhere; candidate generation is a bucketed self-join that
  * shuffles on the block key — the same plan at 167 images or 10^9.
  */
object MediaDedup {

  /** (media_id, sig) of the decodable rows of one modality. */
  def signatures(media: DataFrame, modality: String): DataFrame = {
    val sig = modality match {
      case "image" => bmp_dhash(col("bytes"))
      case "audio" => wav_fingerprint(col("bytes"))
      case m => throw new IllegalArgumentException(
        s"no perceptual signature for modality '$m'")
    }
    media.filter(col("modality") === modality)
      .select(col("media_id"), sig.as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Near-dup pairs (id_a < id_b, hamming ≤ maxHamming) over a
    * (media_id, sig) table. maxHamming must stay below the 4-block
    * pigeonhole bound or recall silently drops.
    *
    * `maxBucketDf` caps each block bucket's population before the
    * self-join ([[Dedup.DefaultMaxBucketDf]]): the all-zero dHash of a
    * uniform frame — every gradient bit zero by construction — is
    * shared by every black/white image in a production corpus, and
    * without the cap that single bucket's fan-in is quadratic in its
    * millions-strong population. Over-cap buckets drop from candidate
    * generation (exact copies inside them are the EXACT-dedup
    * operator's job — groupBy sig — not the pigeonhole's); the drop
    * set is queryable via [[droppedBuckets]], never silent. Capped
    * construction is EAGER and needs a deterministic input (the
    * [[Dedup.capHotBuckets]] contract).
    */
  def nearDupPairs(sigs: DataFrame, maxHamming: Int = 3,
                   maxBucketDf: Long = Dedup.DefaultMaxBucketDf): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4-block pigeonhole only guarantees recall for hamming in [0, 3], " +
        s"got $maxHamming (negative would silently match nothing)")
    // BOTH legs of the self-join read the capped frame (r19 review,
    // the FuzzyJoin.ed1Pairs rule): an AQE broadcast conversion of one
    // leg defeats plain exchange reuse and re-executes the distinct +
    // hot-set anti-join pipeline per consumer — checkpoint once
    val blocked = Materialize.local(Dedup.capHotBuckets(blockedSigs(sigs),
      Seq("block_id", "block_val"), maxBucketDf), "MediaDedup.nearDupPairs blocks (operator input)")
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block_id") === col("b.block_id") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // threshold BEFORE the dedup shuffle: near-miss collisions (one
      // shared block, hamming > t) are the bulk of the candidate
      // stream on a skewed corpus and are about to be dropped anyway
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The 4×16-bit pigeonhole blocking of a (media_id, sig) table —
    * shared by [[nearDupPairs]] and its [[droppedBuckets]] report so
    * the cap and the accounting can never disagree on what a bucket is.
    */
  private def blockedSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("media_id").as("id"), col("sig"), explode(
      array((0 until 4).map(b => struct(lit(b).as("block_id"),
        shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("block_val"))): _*))
      .as("blk"))
      .select(col("id"), col("sig"), col("blk.block_id"), col("blk.block_val"))

  /** The no-silent-caps report for [[nearDupPairs]]: every block bucket
    * `maxBucketDf` would drop, with its population — (block_id,
    * block_val, bucket_df). Empty on a healthy corpus; a production
    * pipeline gates on `count == expected_viral_keys`, not a log line.
    */
  def droppedBuckets(sigs: DataFrame,
                     maxBucketDf: Long = Dedup.DefaultMaxBucketDf): DataFrame =
    Dedup.hotBuckets(blockedSigs(sigs), Seq("block_id", "block_val"), maxBucketDf)

  /** Near-duplicate VIDEOS by frame-set Jaccard over per-frame
    * signatures (`frames`: one (media_id, sig) row per frame, e.g.
    * [[graft.multimodal.MediaHash.dhashAviFrames]] exploded): videos
    * only meet through a SHARED frame hash — candidate generation is
    * a sig-keyed self-join (bucket fan-in bounded by a frame's
    * cross-corpus popularity, the q47/q153 discipline), never
    * all-pairs — then exact |A∩B| / |A∪B| from two bounded rollups.
    * Within-video repeats collapse first, so a still frame repeated
    * 100× counts once.
    */
  def frameJaccardPairs(frames: DataFrame, minJaccard: Double,
                        maxSigDf: Long = Dedup.DefaultMaxBucketDf): DataFrame = {
    // candidates exist ONLY via a shared frame hash: a zero floor
    // would read as "all pairs" but disjoint-set pairs (J = 0) can
    // never surface — refuse the contract we cannot honor
    require(minJaccard > 0 && minJaccard <= 1.0,
      "candidates only meet through a shared frame and J can never " +
        s"exceed 1; minJaccard must be in (0, 1], got $minJaccard")
    // maxSigDf drops frame hashes present in more than that many
    // VIDEOS from the whole computation — intersection AND union, so
    // the Jaccard stays a true set similarity over the surviving frame
    // vocabulary. A frame shared by millions of videos (the uniform
    // black frame: dHash ≡ 0 by construction) is production
    // boilerplate, not similarity evidence, and its shared-frame join
    // key would otherwise fan in quadratically ([[Dedup
    // .DefaultMaxBucketDf]]); the drop set is queryable via
    // [[droppedFrameSigs]], never silent. Capped construction is
    // EAGER and needs a deterministic input (the Dedup.capHotBuckets
    // contract).
    // null-sig frame rows (a caller's undecodable-frame marker —
    // dhashAviFrames can't produce one, but the parameter contract
    // shouldn't depend on that) would never match in the self-join
    // yet COUNT into na/nb, silently deflating every Jaccard the
    // video participates in — drop them, matching signatures()
    // (r19 review). THREE consumers read the capped frame (sz + both
    // self-join legs): checkpoint once, the FuzzyJoin rule again.
    val d = Materialize.local(Dedup.capHotBuckets(
      frames.select(col("media_id"), col("sig"))
        .filter(col("sig").isNotNull).distinct(),
      Seq("sig"), maxSigDf), "MediaDedup.frameJaccardPairs frames (operator input)")
    val sz = d.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
    val inter = d.as("a")
      .join(d.as("b"),
        col("a.sig") === col("b.sig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id"), col("b.media_id"))
      .agg(count(lit(1)).as("i"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("i"))
    inter
      .join(sz.select(col("media_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sz.select(col("media_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      // ALL-INTEGER threshold and output (the float-gate rule):
      // i/(na+nb−i) ≥ J ⟺ i ≥ J·union, evaluated as i·denom ≥
      // J_num·union with J expressed as an exact rational; the emitted
      // similarity is exact millionths (integer div, non-negative
      // operands — the q153 dup_frac_micro convention)
      .withColumn("u", col("na") + col("nb") - col("i"))
      .filter(col("i") * lit(jNumDen(minJaccard)._2) >=
        lit(jNumDen(minJaccard)._1) * col("u"))
      .select(col("id_a"), col("id_b"),
        expr("(i * 1000000L) div u").as("jaccard_micro"))
  }

  /** The no-silent-caps report for [[frameJaccardPairs]]: frame hashes
    * present in more than `maxSigDf` distinct videos, with their video
    * counts — (sig, bucket_df).
    */
  def droppedFrameSigs(frames: DataFrame,
                       maxSigDf: Long = Dedup.DefaultMaxBucketDf): DataFrame =
    Dedup.hotBuckets(frames.select(col("media_id"), col("sig")).distinct(),
      Seq("sig"), maxSigDf)

  /** `minJaccard` as an exact rational (numerator, denominator) in
    * millionths — the threshold comparison stays in integers.
    */
  private def jNumDen(j: Double): (Long, Long) = {
    val num = math.round(j * 1000000L)
    require(math.abs(num / 1000000.0 - j) < 1e-12,
      s"minJaccard must be expressible in millionths, got $j")
    (num, 1000000L)
  }
}

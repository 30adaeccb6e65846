package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.SparkTestSession
import graft.multimodal.{AviFrameDHash, BmpDHash, MediaEncode, WavFingerprint}

/** Every custom expression refuses a wrong-typed input at analysis,
  * through Spark's `ExpectsInputTypes` check, instead of failing (or
  * computing garbage) at run time.
  */
class InputTypesSpec extends AnyFunSuite with SparkTestSession {

  // one column per wrong type: an int, a string, an array<int>
  private lazy val df = spark.range(1).select(
    lit(1).as("i"), lit("x").as("s"), array(lit(1), lit(2)).as("ai"))

  private def e(name: String): Expression = ColumnBridge.expression(col(name))

  private val bloom = org.apache.spark.util.sketch.BloomFilter.create(10)

  // (function, the expression applied to a column its check refuses)
  private lazy val wrongTyped: Seq[(String, Expression)] = Seq(
    "media_encode" -> MediaEncode(e("s"), e("s")),
    "bmp_dhash" -> BmpDHash(e("i")),
    "wav_fingerprint" -> WavFingerprint(e("i")),
    "avi_frame_dhash" -> AviFrameDHash(e("i")),
    "cosine_similarity" -> CosineSimilarity(e("ai"), e("ai")),
    "norm_sq" -> SumSquares(e("ai")),
    "dot_product" -> DotProduct(e("ai"), e("ai")),
    "simhash60" -> SimHash60(e("s")),
    "nearest_centroids" -> NearestCentroids(e("ai"), Seq(Seq(1.0, 0.0)), 1),
    "multi_substring_count" -> MultiSubstringCount(e("i"), Seq("a")),
    "marker_group_argmax" -> MarkerGroupArgmax(e("i"), Seq("a"), Seq(1)),
    "minhash_signature" -> MinHashSignature(e("ai"), 4),
    "quality_stats" -> QualityStats(e("i")),
    "winnow_select" -> WinnowSelect(e("s"), 2, 3),
    "bigram_counts" -> BigramCounts(e("s")),
    "token_hash_counts" -> TokenHashCounts(e("s")),
    "md5_low60" -> Md5Low60(e("i")),
    "cms_estimate" -> CmsEstimate(e("s"), e("s")),
    "pq_encode" -> PqEncode(e("s"), Array(0.0, 1.0), 1, 2),
    "pq_table" -> PqTable(e("s"), Array(0.0, 1.0), 1, 2),
    "pq_adc_dot" -> PqAdcDot(e("ai"), e("ai"), 2),
    "remove_dup_spans" -> RemoveDupSpans(e("s"), e("ai"), 2, 2),
    "bloom_might_contain" -> BloomMightContain(e("s"), bloom),
    "shingle_hashes" -> ShingleHashes(e("s"), 2),
    "dup_gram_stats" -> DupGramStats(e("s"), 2),
    "top_gram_stats" -> TopGramStats(e("s"), 2))

  test("each custom function refuses a wrong-typed column at analysis") {
    assert(wrongTyped.size == 26)
    wrongTyped.foreach { case (name, expr) =>
      val err = intercept[AnalysisException](df.select(ColumnBridge.column(expr)))
      assert(err.getMessage.contains("DATATYPE_MISMATCH"), s"$name: ${err.getMessage}")
    }
  }
}

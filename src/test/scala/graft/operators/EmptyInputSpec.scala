package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.clinical.{Pipeline, PipelineConfig, Schemas}
import graft.functions.TextFunctions

/** Degenerate inputs must degrade to empty/neutral results, never
  * throw — a pipeline stage that crashes on an empty partition takes
  * the whole 1000-executor job with it.
  */
class EmptyInputSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def oneDoc = Seq((1L, "only one document here")).toDF("doc_id", "text")

  test("clinical pipeline on three empty tables returns empty, not error") {
    val u = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.users)
    val w = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.weights)
    val t = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.treatments)
    assert(Pipeline.run(u, w, t, PipelineConfig()).count() == 0)
  }

  test("dedup family on empty and singleton corpora") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.minhashLsh(emptyDocs).count() == 0)
    assert(Dedup.simhashPairs(emptyDocs).count() == 0)
    assert(Dedup.exact(oneDoc).count() == 1)
    assert(Dedup.minhashLsh(oneDoc).count() == 0)   // no pairs from one doc
    assert(Dedup.simhashPairs(oneDoc).count() == 0)
  }

  test("ANN with empty query set / empty corpus") {
    val vecs = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(vecs, noVecs, k = 3).count() == 0)
    assert(Similarity.bruteForceTopK(noVecs, vecs, k = 3).count() == 0)
    assert(Similarity.ivfTopK(noVecs, vecs, k = 3).count() == 0)
    assert(Similarity.ivfTopK(vecs, noVecs, k = 3).count() == 0)
    assert(Dedup.embeddingNearDups(noVecs, dim = 2).count() == 0)
  }

  test("sorted neighborhood on empty and singleton inputs") {
    val empty = Seq.empty[(String, Long)].toDF("blk", "id")
    val one = Seq(("g", 1L)).toDF("blk", "id")
    assert(SortedNeighborhood.globalRank(empty, Seq($"id")).count() == 0)
    assert(SortedNeighborhood.candidatePairs(empty, Seq("blk"), Seq($"id"), 5).count() == 0)
    assert(SortedNeighborhood.candidatePairs(one, Seq("blk"), Seq($"id"), 5).count() == 0)
  }

  test("media codec on empty payloads") {
    import graft.multimodal.MediaContainers
    val Some((w, h, _)) = MediaContainers.decodeBmp(MediaContainers.encodeBmp(Array.empty))
    assert(w == MediaContainers.BmpWidth && h == 1)
    val Some((_, _, n, feat)) = MediaContainers.decodeWav(MediaContainers.encodeWav(Array.empty))
    assert(n == 0 && feat.forall(_ == 0.0f))
  }

  test("text functions on empty strings and whitespace") {
    val df = Seq("", "   ", "\t\n").toDF("text")
    val got = df.select(
      TextFunctions.tokenCount($"text").as("n"),
      TextFunctions.qualityScore($"text").as("q"),
      TextFunctions.langId($"text").as("l"),
      TextFunctions.fingerprint($"text").as("f")).collect()
    got.foreach { r =>
      assert(r.getAs[Int]("n") == 0)
      assert(!r.isNullAt(1))
      assert(r.getAs[String]("l") == "und")
      assert(r.getAs[Long]("f") == 0L)   // empty fold = zero accumulator
    }
  }

  test("as-of join with empty right side keeps all left rows, null matches") {
    val left = Seq(("a", 1L, 9.9)).toDF("k", "t", "v")
    val right = Seq.empty[(String, Long, Double)].toDF("k", "rt", "rv")
    val res = AsOfJoin.backward(left, right, Seq("k"), "t", "rt").collect()
    assert(res.length == 1 && res(0).isNullAt(3) && res(0).isNullAt(4))
  }

  test("connected components / keep-canonical on an empty pair list") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // the round-3 label-sum convergence must treat the empty sum as 0,
    // not NPE on the null aggregate
    assert(Dedup.connectedComponents(noPairs).count() == 0)
    assert(Dedup.keepCanonical(oneDoc, noPairs).count() == 1)
  }

  test("winnowing on empty / too-short documents selects nothing") {
    assert(Winnowing.selectedPrints(emptyDocs, k = 3, w = 4).count() == 0)
    assert(Winnowing.selectedPrints(oneDoc, k = 3, w = 4).count() == 0)
    assert(Winnowing.contamination(emptyDocs, isBenchmark = lit(false),
      k = 3, w = 4).count() == 0)
  }

  test("AVI codec on an empty payload yields one zero frame") {
    import graft.multimodal.MediaContainers
    val Some((w, h, frames, feat)) =
      MediaContainers.decodeAvi(MediaContainers.encodeAvi(Array.empty))
    assert(w == MediaContainers.AviFrameW && h == MediaContainers.AviFrameH)
    assert(frames == 1)
    // all-zero pixels: channel means 0, luma variance 0, all mass in bin 0
    assert(feat(0) == 0.0f && feat(3) == 0.0f && feat(4) == 1.0f)
  }

  test("round-5 operators on empty and singleton inputs") {
    // PQ: singleton corpus trains (seeds cycle) and searches to nothing
    // against an empty query set
    val oneVec = Seq((1L, (0 until 64).map(_.toDouble).toArray))
      .toDF("vec_id", "embedding")
    val cb1 = ProductQuantization.train(oneVec, m = 16, ksub = 4)
    assert(!cb1.isEmpty)
    assert(ProductQuantization.adcTopK(oneVec, oneVec.filter(lit(false)), 5, cb1)
      .count() == 0)
    // self is excluded: a 1-vector corpus returns nothing for itself
    assert(ProductQuantization.adcRerankTopK(oneVec, oneVec, 5, cb1).count() == 0)
    // unsearchable rows (NaN components, zero norm) are excluded
    // deterministically — never ranked, never ±Infinity estimates
    val dirty = oneVec.unionByName(Seq(
        (2L, Array.fill(64)(Double.NaN)),
        (3L, Array.fill(64)(0.0)),
        (4L, (0 until 64).map(i => (i + 1).toDouble).toArray))
      .toDF("vec_id", "embedding"))
    val res = ProductQuantization.adcTopK(dirty, dirty.filter(col("vec_id").isin(1L, 2L, 3L)), 5, cb1)
      .collect()
    assert(res.forall(r => r.getLong(1) != 2L && r.getLong(1) != 3L),
      "NaN/zero-norm corpus rows must never appear in results")
    assert(res.forall(_.getInt(0 + 3) >= 1)) // rn column sane
    assert(res.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
    // NaN/zero-norm QUERIES yield no rows rather than garbage ranks
    assert(res.map(_.getLong(0)).toSet.intersect(Set(2L, 3L)).isEmpty)
    // fixed-size sampling on empty input
    assert(Sampling.fixedSizePerStratum(emptyDocs.withColumn("g", lit("a")),
      col("g"), col("doc_id"), 5).count() == 0)
    // BM25 over an empty corpus dir
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty_docs")
    emptyDocs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(graft.queries.RetrievalQ.bm25TopK(spark, tmp.toString).count() == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("round-6 operators on empty and singleton inputs") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphPrep.labels(noEdges, iters = 2).count() == 0)
    val oneEdge = Seq((1L, 2L)).toDF("src", "dst")
    assert(GraphPrep.labels(oneEdge, iters = 0).count() == 2)
    // hard negatives: all-same-label corpus yields nothing; empty
    // queries yield nothing
    val vecs = Seq((1L, Array(1.0f, 0.0f), 7), (2L, Array(0.0f, 1.0f), 7))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.hardNegativesTopK(vecs, vecs, k = 3).count() == 0)
    assert(Similarity.hardNegativesTopK(vecs, vecs.filter(lit(false)), k = 3)
      .count() == 0)
    // BPE learn on a vocabulary that merges out before `steps`: stops
    // with the merges it found instead of throwing (input in the
    // operator's spaced-symbol form, as q128's caller provides)
    val tiny = Seq(("ab", 3L)).toDF("term", "freq")
      .select(BpeLearn.spaced(col("term")).as("s"), col("freq"))
    val learned = BpeLearn.learn(tiny, steps = 5)
    assert(learned.map(m => (m._2, m._3)) == Seq(("a", "b")))
  }
}

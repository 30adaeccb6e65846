package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.functions.TextFunctions
import graft.functions.VectorFunctions._

class DedupSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def corpus = Seq(
    (1L, base),
    (2L, base),                                            // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),                  // near dup of 1
    (4L, "completely different content about spark engines and distributed queries"),
    (5L, "  THE  quick brown fox jumps over the lazy dog again and again today ")  // canonical dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per canonical text") {
    val survivors = Dedup.exact(corpus).select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L, 4L))
    val groups = Dedup.exactDupGroups(corpus).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n_dups") == 3)
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashLsh(corpus, shingleK = 2, numHashes = 32,
        rowsPerBand = 4, jaccardThreshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // identical
    assert(pairs.contains((1L, 3L)))   // one-word edit
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash pairs: near dups within hamming 3, unrelated docs far") {
    val sk = corpus.select(simhash60(TextFunctions.tokens($"text")).as("sk"), $"doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sk")).toMap
    assert(sk(1L) == sk(2L))
    // a one-word edit on a 13-token doc flips ~¼ of the weakly-voted
    // bits; unrelated text re-rolls ~½ of all 64
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(3L)) <= 10)
    assert(java.lang.Long.bitCount(sk(1L) ^ sk(4L)) > 14)
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("exact dedup returns the INPUT schema (no internal columns leak)") {
    assert(Dedup.exact(corpus).columns.toSeq == corpus.columns.toSeq)
  }

  test("exact dedup refuses a caller column named content_hash or rn (r18)") {
    // withColumn would silently clobber and then DROP the user column
    val clash = corpus.withColumn("content_hash", lit("mine"))
    val e = intercept[IllegalArgumentException] { Dedup.exact(clash) }
    assert(e.getMessage.contains("content_hash"))
    intercept[IllegalArgumentException] {
      Dedup.exactDupGroups(corpus.withColumn("content_hash", lit("x")))
    }
  }

  test("NULL-text docs never reach LSH candidate generation (r18)") {
    val withNulls = corpus.unionByName(Seq(
      (90L, null.asInstanceOf[String]), (91L, null.asInstanceOf[String]),
      (92L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val pairs = Dedup.minhashLsh(withNulls, shingleK = 2, numHashes = 32,
        rowsPerBand = 4, jaccardThreshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // no pair touches a null-text doc; real pairs intact
    assert(!pairs.exists(p => p._1 >= 90L || p._2 >= 90L),
      s"null-text docs paired: $pairs")
    assert(pairs.contains((1L, 2L)))
    // and the drop report sees no phantom null bucket
    val dropped = Dedup.minhashDroppedBands(withNulls, shingleK = 2,
      numHashes = 32, rowsPerBand = 4)
    assert(dropped.filter($"bucket_df" >= 3).count() == 0)
  }

  test("simhash pairs refuses a negative maxHamming (silent-empty guard, r18)") {
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, maxHamming = -1)
    }
    assert(e.getMessage.contains("matches nothing"))
  }

  test("minhash LSH band cap: a viral fallback-shingle bucket drops with a report; clean pairs intact") {
    // sub-shingleK-token docs all carry the ONE whole-doc fallback
    // shingle — uncapped, m such docs collide in every band
    // (numBands·m²/2 candidates). Under the cap they drop from
    // candidate generation with a queryable report, exactly the
    // simhash/media convention; pairs among real docs are untouched.
    val tainted = corpus.unionByName(Seq(
      (100L, ""), (101L, "  "), (102L, ""), (103L, "")
    ).toDF("doc_id", "text"))
    val clean = Dedup.minhashLsh(corpus).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLsh(tainted, maxBucketDf = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(capped == clean,
      s"the viral empty-doc band must drop, real pairs must stay: $capped vs $clean")
    val report = Dedup.minhashDroppedBands(tainted, maxBucketDf = 3)
    assert(report.count() > 0, "the drop must be queryable, never silent")
    // cap off: the empty docs pair with each other (they ARE exact
    // dups — jaccard 1.0 over the shared fallback shingle)
    val uncapped = Dedup.minhashLsh(tainted, maxBucketDf = Long.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((100L, 101L)) && uncapped.contains((100L, 103L)),
      "cap off restores the degenerate bucket's (genuine) pairs")
  }

  test("simhash pairs refuses maxHamming > 3 (pigeonhole completeness)") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, maxHamming = 4)
    }
  }

  test("connected components throws when maxIter is exhausted unconverged") {
    // a 30-node path needs more than 2 pointer-jump rounds: partial
    // labels would silently fragment the component
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 2).collect()
    }
  }

  test("connected components leaves only the returned labels' blocks persisted") {
    val sc = spark.sparkContext
    val path = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet
    // the path needs 3+ rounds, so several rounds were superseded; a run
    // that exhausts maxIter keeps nothing either
    intercept[IllegalStateException](Dedup.connectedComponents(path, maxIter = 2))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    val cc = Dedup.connectedComponents(path)
    val labels = cc.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(labels.isDefined)
    assert(sc.getPersistentRDDs.keySet -- before == labels.toSet)
    assert(cc.filter(col("component") === 1L).count() == 30L)
  }

  test("embedding near-dups drops wrong-length vectors instead of bucketing them together") {
    val dim = 4
    val embs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0001, 0.0, 0.0)),      // near dup of 1
      (3L, Seq(0.0, 1.0, 0.0, 0.0)),
      (10L, Seq(1.0, 2.0)),                   // malformed: wrong dim
      (11L, Seq(9.0, 9.0))                    // malformed: would share bucket 0
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(embs, dim = dim, numBits = 4,
        numTables = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "the planted near-dup must surface")
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L),
      "wrong-length vectors must not pair (null dot ⇒ all-bucket-0 blowup)")
  }

  test("ngram jaccard: identical docs = 1.0; near dup high; different low") {
    val j = Dedup.ngramJaccardPairs(
        corpus.withColumn("blk", lit(1)), shingleK = 2, threshold = 0.0, blockCol = "blk")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.6 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) < 0.1)
  }

  test("embedding near-dups via LSH buckets find planted duplicate vector") {
    val vecs = Seq(
      (1L, Array.tabulate(16)(i => math.sin(i + 1).toFloat)),
      (2L, Array.tabulate(16)(i => math.sin(i + 1).toFloat)),        // identical
      (3L, Array.tabulate(16)(i => (math.sin(i + 1) + 0.01).toFloat)), // near
      (4L, Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat))     // far
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, dim = 16, cosineThreshold = 0.99, numBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._2 == 4L))
  }

  test("cosine_similarity: orthogonal→0, identical→1, opposite→-1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 2.0f), Array(-1.0f, -2.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f))
    ).toDF("a", "b")
    val sims = df.select(round(cosine_similarity($"a", $"b"), 9).as("s"))
      .as[Double].collect().toSeq
    assert(sims == Seq(0.0, 1.0, -1.0, 0.0))
  }

  test("brute-force ANN returns self-excluded ranked neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .orderBy($"rn").select("corpus_id").as[Long].collect().toSeq
    assert(res == Seq(1L, 2L))
  }

  test("connected components: chains, cliques, and long paths converge to min id") {
    // components: {1,2,3,4} (path), {10,11,12} (triangle), {20,21} (edge)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a 30-node path needs many propagation rounds — converges, exact
    val path = (0L until 30L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val long = Dedup.connectedComponents(path, maxIter = 40)
      .as[(Long, Long)].collect()
    assert(long.forall(_._2 == 0L) && long.length == 31)
  }

  test("IVF ANN with full probing matches brute force on tiny corpus") {
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0)
    val bf = Similarity.bruteForceTopK(vecs, q, k = 3)
      .orderBy($"rn").select("corpus_id").as[Long].collect().toSeq
    val ivf = Similarity.ivfTopK(vecs, q, k = 3, numCentroids = 4, nProbe = 4)
      .orderBy($"rn").select("corpus_id").as[Long].collect().toSeq
    assert(ivf == bf)
  }
}

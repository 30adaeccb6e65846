package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.cosine_similarity
import graft.operators.{Dedup, Materialize, ProductQuantization, Similarity}
import graft.sources.Tables

/** Vector / embedding queries over the `embeddings` table: similarity
  * search (brute-force baseline + IVF scale path), embedding statistics,
  * and near-duplicate detection. Cosine values are double-accumulated
  * left-to-right in both engines, so oracle rounding at 6dp is exact.
  */
object VectorQ {

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 10)

  /** The IVF index (k-means centers) memoized per (session, dir) — the
    * "build once, search many" artifact a production ANN deployment
    * persists beside the data ([[Similarity.kmeansCenters]] scaladoc);
    * q51 and q80 share one build. Results are never cached.
    */
  private val centersMemo =
    new graft.sources.SessionMemo[(SparkSession, String), Seq[Seq[Double]]](_._1)
  private def ivfCenters(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    centersMemo.get((spark, dir)) {
      Similarity.kmeansCenters(Tables.embeddings(spark, dir)) }

  /** The PQ codebook artifact, memoized per (session, dir) like the
    * IVF centers. m=16 subspaces × 256 codes: 32× smaller index rows,
    * and the shortlist+re-rank search measures recall 1.0 on this
    * fixture (uniform random vectors — PQ's worst case), which is what
    * qualifies q97 for the FULL hash gate.
    */
  private val pqMemo =
    new graft.sources.SessionMemo[(SparkSession, String),
      ProductQuantization.Codebook](_._1)
  private def pqCodebook(spark: SparkSession, dir: String): ProductQuantization.Codebook =
    pqMemo.get((spark, dir)) {
      ProductQuantization.train(Tables.embeddings(spark, dir), m = 16, ksub = 256) }

  /** PQ ADC shortlist + exact re-rank, under the FULL hash gate: the
    * oracle is the exact brute-force top-k SQL (q50's), so the gate
    * passes exactly when shortlist recall is 1.0 on the fixture — the
    * q47 graduation pattern for probabilistic operators.
    */
  def pqAnn(spark: SparkSession, dir: String): DataFrame =
    ProductQuantization.adcRerankTopK(
      Tables.embeddings(spark, dir), queriesDf(spark, dir), k = 5,
      cb = pqCodebook(spark, dir))

  /** Exact cosine top-5 for the first 10 vectors as queries. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(
      Tables.embeddings(spark, dir), queriesDf(spark, dir), k = 5)

  /** q138 — hard-negative mining: per query, the top-5 most-similar
    * OTHER-label corpus vectors ([[Similarity.hardNegativesTopK]]).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    Similarity.hardNegativesTopK(
      Tables.embeddings(spark, dir), queriesDf(spark, dir), k = 5)

  /** q144 — scalar int8 embedding quantization (per-vector affine
    * min/max, 256 codes — the 4× compression every large vector store
    * applies before ANN serving) with its reconstruction-error audit.
    * Round-to-nearest bounds the error by half a quantization step;
    * the audit column states that bound as a boolean the oracle
    * asserts literally (the q63/q64 error-bound pattern). Entirely
    * codegen higher-order functions over one scan — map-only at any
    * scale; every float crosses the gate through the one shared
    * operation order (both engines compute the identical IEEE double)
    * or as floor(x·1e6+0.5) micro units.
    */
  def int8Quantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("codes", when(col("mx") > col("mn"),
          transform(col("v"), x =>
            floor((x - col("mn")) * 255.0 / (col("mx") - col("mn")) + 0.5)
              .cast("long")))
        .otherwise(transform(col("v"), _ => lit(0L))))
      .withColumn("maxerr", array_max(zip_with(col("codes"), col("v"),
        (c, x) => abs(col("mn") +
          c.cast("double") * (col("mx") - col("mn")) / 255.0 - x))))
      .select(col("vec_id"),
        size(col("v")).as("n_dims"),
        array_min(col("codes")).cast("int").as("code_min"),
        array_max(col("codes")).cast("int").as("code_max"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("sum_codes"),
        floor(col("maxerr") * 1000000.0 + 0.5).cast("long").as("max_err_micro"),
        (col("maxerr") <= (col("mx") - col("mn")) / 255.0 * 0.5000001)
          .as("within_half_step"))

  /** q51 — IVF probe search under the FULL hash gate (graduated r7
    * from rows-only): the probe results depend on the k-means centers
    * (engine-defined, not SQL-replicable), so the gate surface is the
    * PER-QUERY quality report — result count and the recall@5 ≥ 0.8
    * threshold boolean vs the in-query exact baseline — which the
    * oracle states literally (the q63/q64/q80 error-bound pattern,
    * here per query rather than corpus-level like q80). A regression
    * in ANY single probe (center drift, assignment bug, probe-count
    * knob) flips that query's row and fails the driver compare. The
    * search-result rows themselves stay exercised through
    * [[Similarity.ivfTopK]] here and the aggregate q80 companion.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val ivf = Similarity.ivfTopK(
      Tables.embeddings(spark, dir), queriesDf(spark, dir), k = 5,
      centers = Some(ivfCenters(spark, dir)))
    val exact = Similarity.bruteForceTopK(
        Tables.embeddings(spark, dir), queriesDf(spark, dir), k = 5)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("hit"))
    ivf.join(exact, Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_returned"),
        coalesce(sum(col("hit")), lit(0L)).as("_hits"))
      .select(col("query_id"), col("n_returned"),
        (col("_hits") >= 4L).as("recall5_ge_08"))
  }

  /** Per-label embedding statistics (norms computed per-element). The
    * mean crosses the aggregation as a SCALED INTEGER (r17 review:
    * avg(double) partial-sum order differs by partitioning AND engine,
    * and round(x, 6)'s semantics differ between Spark and DuckDB — the
    * CurationQ discipline applies); per-row norms round to millionths
    * first, the mean is an exact integer quotient.
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"),
        sqrt(aggregate(col("embedding").cast("array<double>"),
          lit(0.0), (acc, x) => acc + x * x)).as("norm"),
        size(col("embedding")).as("dim"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("norm") * 1000000 + 0.5).cast("long")).as("_sm"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"))
      .select(col("label"), col("n"),
        expr("_sm div n").as("avg_norm_micro"),
        col("min_dim"), col("max_dim"))

  /** Exact cosine near-dup pairs within each label block. */
  def cosinePairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.thresholdPairs(
      Tables.embeddings(spark, dir), blockCol = "label", threshold = 0.4)

  /** q54 — LSH-bucketed near-dup pairs under the FULL hash gate
    * (graduated r7 from rows-only): the hyperplanes are deterministic
    * literals (splitmix64 from a fixed seed, baked into the plan), so
    * the DuckDB oracle replicates the ENTIRE pipeline — the same plane
    * arrays rendered as SQL literals (shortest-round-trip doubles
    * parse back to the identical IEEE value), the same left-associated
    * dot-product fold, the same sign-bit bucket id, the same
    * bucket-equality candidate join and cosine verify. Bit-exact by
    * construction, not by recall luck — the q47 graduation, for the
    * embedding family.
    */
  def lshNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(Tables.embeddings(spark, dir), dim = 64,
      cosineThreshold = 0.4, numBits = 8)

  /** The SQL mirror of [[graft.operators.Dedup.embeddingNearDups]]'s
    * bucketing for [[lshNearDups]]'s oracle: per table t, bucket =
    * Σᵢ 2ⁱ·[vᵀpᵢ > 0] with the EXACT plane literals the Spark plan
    * holds. `list_reduce` left-associates like Spark's `aggregate`
    * fold (0.0 + x₁ is exact), so the dot products are bit-identical.
    */
  private def lshBucketSql(numBits: Int, dim: Int, numTables: Int): String = {
    def bucketExpr(t: Int): String = {
      val planes = Dedup.hyperplanes(numBits, dim, seed = 42L + 1000L * t)
      planes.zipWithIndex.map { case (p, i) =>
        val lits = p.map(_.toString).mkString("[", ", ", "]")
        s"""CASE WHEN list_reduce(list_transform(list_zip(v, $lits::DOUBLE[]),
           |      s -> s[1] * s[2]), (a, x) -> a + x) > 0
           |    THEN ${1L << i} ELSE 0 END""".stripMargin
      }.mkString("(", "\n    + ", ")")
    }
    (0 until numTables).map(t =>
      s"SELECT id, $t AS table_id,\n  ${bucketExpr(t)} AS bucket FROM v")
      .mkString("\nUNION ALL\n")
  }

  /** IVF quality under the HASH gate (the q63/q64 error-bound-boolean
    * pattern): recall@5 of [[Similarity.ivfTopK]] at DEFAULTS against
    * the exact baseline, emitted as a threshold boolean the DuckDB
    * oracle states literally. A recall regression (default knobs, Lloyd
    * drift, assignment bug) flips the boolean and fails the driver's
    * compare — IVF quality becomes a driver-checked invariant, not a
    * ScalaTest-only number. Measured at defaults (16 centroids, 6
    * probes, 3 replica assignments): 0.96-1.00 across all three sfs on
    * the uniform-random fixture — far above the 0.8 bar.
    */
  def annRecallGate(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
    val qs = queriesDf(spark, dir)
    val exact = Similarity.bruteForceTopK(corpus, qs, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val ivf = Similarity.ivfTopK(corpus, qs, k = 5,
        centers = Some(ivfCenters(spark, dir)))
      .select(col("query_id"), col("corpus_id"))
      .withColumn("_hit", lit(1))
    exact.join(ivf, Seq("query_id", "corpus_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact_pairs"),
        (sum(coalesce(col("_hit"), lit(0))) / count(lit(1)) >= 0.8)
          .as("recall_ge_080"))
  }

  /** Hyperplane-LSH recall under the hash gate, via PLANTED near-dups
    * (the q78 synthetic-augmentation pattern): the uniform-random
    * fixture has no true high-cosine pairs for LSH to find, so this
    * query plants 20 — copies of the first 20 vectors with an
    * alternating ±0.5% per-coordinate scale (cosine ≈ 0.99999, miss
    * probability < 1e-7 per pair across the 4 tables) — runs the SAME
    * LSH configuration as q54 over the augmented corpus, and emits
    * whether every planted pair was found at high cosine. The oracle
    * states the booleans literally; a bucketing/hyperplane/verify
    * regression flips them.
    */
  /** Copies of the first 20 vectors under an alternating ±0.5%
    * per-coordinate scale (cosine ≈ 0.99999 to the original). Planted
    * ids live in the NEGATIVE domain (−id−1): disjoint from real
    * vec_ids at any corpus size, unlike an additive offset that a
    * big-enough table would collide with. Shared by the q83 (LSH) and
    * q92 (SemDeDup) planted-recall gates.
    */
  private def plantedCopies(embs: DataFrame): DataFrame =
    embs.filter(col("vec_id") < 20)
      .select((-col("vec_id") - lit(1L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * when(pmod(i, lit(2)) === 0, lit(1.005)).otherwise(lit(0.995)))
            .cast("float")).as("embedding"))

  def lshPlantedRecall(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = embs.unionByName(plantedCopies(embs))
    // pair ordering puts the negative planted id in id_a
    val found = Dedup.embeddingNearDups(aug, dim = 64,
        cosineThreshold = 0.4, numBits = 8)
      .filter(col("id_a") === -col("id_b") - lit(1L) && col("id_b") < 20)
    embs.filter(col("vec_id") < 20)
      .agg(count(lit(1)).as("n_planted"))
      .crossJoin(found.agg(count(lit(1)).as("_nf"), min(col("cosine")).as("_mc")))
      .select(col("n_planted"),
        (col("_nf") === col("n_planted")).as("all_planted_found"),
        (col("_mc") >= 0.99).as("planted_cosine_ge_099"))
  }

  /** SemDeDup cluster centers memoized per (session, dir). A separate
    * artifact from [[ivfCenters]]: dedup needs k ≈ √N clusters so the
    * within-cluster pair volume stays ~N^1.5/k-bounded (the paper runs
    * ~50k clusters over 100M+ docs), while the IVF search index keeps
    * k small for probe quality. The count() here reads parquet
    * metadata only.
    */
  private val semCentersMemo =
    new graft.sources.SessionMemo[(SparkSession, String), Seq[Seq[Double]]](_._1)
  private def semCenters(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    semCentersMemo.get((spark, dir)) {
      val embs = Tables.embeddings(spark, dir)
      val k = math.max(16, math.sqrt(embs.count().toDouble).toInt)
      Similarity.kmeansCenters(embs, numCentroids = k)
    }

  /** SemDeDup under the HASH gate via planted semantic duplicates (the
    * q83 pattern): 20 near-identical copies (cos ≈ 0.99999) are
    * planted in the negative id domain, [[Similarity.semanticPairs]] +
    * keep-canonical run over the augmented corpus at τ = 0.95, and the
    * emitted booleans assert (a) every planted pair shared a cluster
    * and was found at high cosine, (b) dedup removed exactly one of
    * each pair (survivors = original corpus size — the uniform-random
    * fixture has no true τ ≥ 0.95 pairs of its own), (c) the kept
    * representative is the min id (the planted negative one). A
    * clustering, assignment, pairing, CC, or keep-canonical regression
    * flips a boolean and fails the driver's compare.
    */
  def semanticDedupGate(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = embs.unionByName(plantedCopies(embs))
    // the pair pipeline (assign → bucket join → cosine) runs once even
    // though both the planted-recall leg and the keep-canonical leg
    // consume it
    val pairs = Materialize.local(Similarity.semanticPairs(aug, threshold = 0.95,
      centers = semCenters(spark, dir)), "VectorQ.semanticDedupGate pairs (aggregate)")
    val plantedFound = pairs
      .filter(col("id_a") === -col("id_b") - lit(1L) && col("id_b") < 20)
      .agg(count(lit(1)).as("_nf"), min(col("cosine")).as("_mc"))
    val survStats = Dedup.keepCanonical(aug, pairs, idCol = "vec_id")
      .agg(count(lit(1)).as("_ns"),
        sum(when(col("vec_id") < 0, 1L).otherwise(0L)).as("_nneg"))
    embs.agg(count(lit(1)).as("_nc"),
        sum(when(col("vec_id") < 20, 1L).otherwise(0L)).as("n_planted"))
      .crossJoin(plantedFound)
      .crossJoin(survStats)
      .select(col("n_planted"),
        (col("_nf") === col("n_planted")).as("all_planted_paired"),
        (col("_mc") >= 0.99).as("planted_cosine_ge_099"),
        (col("_ns") === col("_nc")).as("survivors_eq_corpus"),
        (col("_nneg") === col("n_planted")).as("planted_kept_canonical"))
  }

  /** q122 — the array higher-order-function surface (transform /
    * filter / aggregate / zip_with / reverse / array_max) exercised as
    * one per-vector feature query. Everything runs inside native
    * lambda expressions on the array column — no explode, no UDF, no
    * shuffle at all (a pure per-row projection). Float elements are
    * cast to double INSIDE the lambdas and accumulated left-to-right
    * starting from 0.0 on both engines (0.0 + x ≡ x exactly, so
    * Spark's explicit init matches DuckDB's first-element init), which
    * makes the micro-scaled outputs bit-exact under the hash gate.
    */
  def arrayHof(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"),
      expr("size(filter(embedding, x -> CAST(x AS DOUBLE) > 0.0D))")
        .cast("int").as("n_pos"),
      expr("""CAST(floor(aggregate(
                transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                0.0D, (a, x) -> a + x) * 1000000.0D + 0.5D) AS BIGINT)""")
        .as("l2sq_micro"),
      expr("""CAST(floor(aggregate(
                zip_with(embedding, reverse(embedding),
                  (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                0.0D, (a, x) -> a + x) * 1000000.0D + 0.5D) AS BIGINT)""")
        .as("dotrev_micro"),
      expr("""CAST(floor(array_max(
                transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                * 1000000.0D + 0.5D) AS BIGINT)""")
        .as("maxabs_micro"))

  /** q211 — kNN JOIN, exact setting: top-3 odd-id neighbors for EVERY
    * even-id vector via [[Similarity.knnJoin]] with `nProbe =
    * numCentroids` (all cells probed — exact, so the brute-force SQL
    * is the oracle) and `replicas = 1`. The plan under test is the
    * big-big regime's: both sides shuffle on the cell id — NO
    * broadcast, no |A|×|B| materialization — and per-left top-k is a
    * window over candidates, never a global sort. q212 is the
    * approximate-path companion (planted recall at nProbe < cells).
    */
  def knnJoinExact(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    Similarity.knnJoin(
        embs.filter(pmod(col("vec_id"), lit(2)) === 0),
        embs.filter(pmod(col("vec_id"), lit(2)) === 1),
        k = 3, numCentroids = 8, nProbe = 8, replicas = 1)
      // gate in scaled ints (the frozen double-gate rule): sim is
      // already 6dp-rounded, so micro is a monotone injection of it
      .select(col("left_id"), col("right_id"),
        floor(col("sim") * 1000000.0 + 0.5).cast("long").as("sim_micro"),
        col("rn"))
  }

  /** q212 — kNN-join RECALL on the approximate path (the q83/q92
    * planted pattern): the 20 near-identical planted copies (negative
    * ids, cos ≈ 0.99999 to their originals) form the LEFT side, the
    * real corpus the RIGHT, and [[Similarity.knnJoin]] runs with the
    * q92 SemDeDup centers at nProbe = replicas = 2 — the same
    * cell-coassignment condition q92 proves holds for every planted
    * pair on these fixtures, so each copy must surface its original at
    * rank 1. The emitted booleans assert exactly that; a probe,
    * assignment, join, or ranking regression flips one and fails the
    * driver's compare.
    */
  def knnJoinPlantedRecall(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val found = Similarity.knnJoin(
        plantedCopies(embs), embs, k = 1,
        nProbe = 2, replicas = 2, centers = Some(semCenters(spark, dir)))
      .filter(col("rn") === 1 &&
        col("right_id") === -col("left_id") - lit(1L))
    embs.filter(col("vec_id") < 20)
      .agg(count(lit(1)).as("n_planted"))
      .crossJoin(found.agg(count(lit(1)).as("_nf"), min(col("sim")).as("_ms")))
      .select(col("n_planted"),
        (col("_nf") === col("n_planted")).as("all_found_rank1"),
        (col("_ms") >= 0.99).as("planted_sim_ge_099"))
  }

  /** q215 — EMBEDDING DECONTAMINATION, the kNN join's documented
    * cross-dataset use: purge from the TRAIN side every vector whose
    * exact nearest EVAL neighbor has cosine ≥ 0.95 (the q92 SemDeDup
    * threshold, applied across datasets — the leak an n-gram
    * decontaminator (q77/q163) cannot see: a paraphrase shares
    * embedding space, not shingles). Fixture: eval = vec_id < 25,
    * train = the rest PLUS the 20 planted near-copies of eval members
    * (negative ids) — so contamination demonstrably exists and its
    * exact membership is known. The gate emits counts + booleans
    * asserting the purge removed EXACTLY the planted set (the
    * uniform-random fixture has no true ≥ 0.95 cross pairs of its
    * own — the q92-proven invariant); the oracle states them
    * literally over the same id arithmetic. knnJoin runs at the exact
    * setting (nProbe = numCentroids) so the purge is deterministic.
    */
  def embeddingDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val evalSide = embs.filter(col("vec_id") < 25)
    val train = embs.filter(col("vec_id") >= 25)
      .unionByName(plantedCopies(embs))
    // the purged id list (tiny — bounded by the planted count) feeds
    // BOTH the counting aggregate and the anti-join; without the
    // materialization the k-means build + shuffle join + window would
    // run twice (r14 review)
    val purged = Materialize.local(Similarity.knnJoin(train, evalSide, k = 1,
        numCentroids = 8, nProbe = 8, replicas = 1)
      .filter(col("rn") === 1 && col("sim") >= 0.95)
      .select(col("left_id").as("vec_id")), "VectorQ.embeddingDecontamination purged ids (aggregate)")
    val survivors = train.join(purged, Seq("vec_id"), "left_anti")
    train.agg(count(lit(1)).as("n_train"))
      .crossJoin(purged.agg(count(lit(1)).as("n_purged"),
        coalesce(sum(when(col("vec_id") < 0, 1L)), lit(0L)).as("_negp")))
      .crossJoin(survivors.agg(count(lit(1)).as("n_survivors"),
        coalesce(sum(when(col("vec_id") < 0, 1L)), lit(0L)).as("_negs")))
      .select(col("n_train"), col("n_purged"), col("n_survivors"),
        (col("_negp") === col("n_purged")).as("purged_only_planted"),
        (col("_negs") === 0L).as("no_planted_survives"))
  }

  /** q222 — semanticPairs under [[Similarity.HotCellPolicy.Distribute]]
    * at a FORCED tiny cap (r16, VERDICT: over-cap cells must be a
    * drop-vs-distribute caller choice, and distribute must be
    * LOSSLESS). The q92 augmented corpus joins at maxCellSize = 8 —
    * every populated cell is over cap at any sf, so the triangle
    * block-split machinery carries the WHOLE corpus — and the gate
    * asserts the distributed pair set is bit-identical (ids AND
    * cosine) to the cap-free ideal, the cap demonstrably engaged
    * ([[Similarity.droppedCells]] non-empty at the gate cap), and the
    * planted near-dups all surfaced. No cap guard needed: Distribute
    * is lossless at ANY cell size, which is exactly the property
    * under test.
    */
  def semanticPairsDistributedGate(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = embs.unionByName(plantedCopies(embs))
    val ctrs = semCenters(spark, dir)
    val cap = 8L
    // each leg feeds two+ consumers (set-equality join + its own count;
    // dist also the planted-recall leg)
    val dist = Materialize.local(Similarity.semanticPairs(aug, threshold = 0.95,
      centers = ctrs, replicas = 2, maxCellSize = cap,
      hotCells = Similarity.HotCellPolicy.Distribute),
      "VectorQ.semanticPairsDistributedGate distributed pairs (aggregate)")
    val ideal = Materialize.local(Similarity.semanticPairs(aug, threshold = 0.95,
      centers = ctrs, replicas = 2, maxCellSize = Long.MaxValue),
      "VectorQ.semanticPairsDistributedGate ideal pairs (aggregate)")
    val matched = dist.join(ideal, Seq("id_a", "id_b", "cosine"))
      .agg(count(lit(1)).as("_nm"))
    val plantedFound = dist
      .filter(col("id_a") === -col("id_b") - lit(1L) && col("id_b") < 20)
      .agg(count(lit(1)).as("_nf"))
    val hotEngaged = Similarity.droppedCells(aug, ctrs, replicas = 2,
      maxCellSize = cap).agg(count(lit(1)).as("_nhot"))
    embs.agg(coalesce(sum(when(col("vec_id") < 20, 1L)), lit(0L)).as("n_planted"))
      .crossJoin(dist.agg(count(lit(1)).as("_nd")))
      .crossJoin(ideal.agg(count(lit(1)).as("_ni")))
      .crossJoin(matched).crossJoin(plantedFound).crossJoin(hotEngaged)
      .select(col("n_planted"),
        (col("_nm") === col("_nd") && col("_nd") === col("_ni"))
          .as("pairs_eq_ideal"),
        (col("_nhot") > 0L).as("hot_cells_engaged"),
        (col("_nf") === col("n_planted")).as("all_planted_paired"))
  }

  // ---- cap preflight (r15): [[Similarity.semanticPairs]] drops
  // over-cap cells ([[Similarity.DefaultMaxCellSize]]) and its gates'
  // oracles model the cap-free ideal, so Verify must fail LOUDLY if a
  // gate corpus ever grows a cell past the cap (the MediaQ
  // convention). knnJoin gates need NO guard: its hot cells SALT
  // losslessly, so the oracle holds at any cell size. The guard
  // rebuilds the gate's own centers/replicas spelling so the
  // accounting can't drift from what the gate joins on; the k-means
  // build is deterministic and the count memoized.
  private val cellGuardMemo =
    new graft.sources.SessionMemo[(SparkSession, String, String), Long](_._1)
  private def cellGuard(key: String, s: SparkSession, d: String)
                       (eval: => Long): (String, Long) =
    (s"$key cells (Similarity.DefaultMaxCellSize=" +
      s"${Similarity.DefaultMaxCellSize})",
      cellGuardMemo.get((s, d, key))(eval))
  private def semDedupCells(s: SparkSession, d: String) =
    cellGuard("q92 SemDeDup-center", s, d) {
      val embs = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      Similarity.droppedCells(embs.unionByName(plantedCopies(embs)),
        semCenters(s, d), replicas = 2).count()
    }

  private[graft] val capGuards: Map[String,
      (SparkSession, String) => Seq[(String, Long)]] = Map(
    "q92_semantic_dedup" -> ((s, d) => Seq(semDedupCells(s, d))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_array_hof" -> (arrayHof _),
    "q138_hard_negatives" -> (hardNegatives _),
    "q144_int8_quantize" -> (int8Quantize _),
    "q50_ann_brute_force" -> (annBruteForce _),
    "q51_ann_ivf" -> (annIvf _),
    "q52_embedding_stats" -> (embeddingStats _),
    "q53_cosine_pairs" -> (cosinePairs _),
    "q54_lsh_near_dups" -> (lshNearDups _),
    "q186_mmr_rerank" -> (mmrRerank _),
    "q80_ann_recall" -> (annRecallGate _),
    "q83_lsh_planted_recall" -> (lshPlantedRecall _),
    "q92_semantic_dedup" -> (semanticDedupGate _),
    "q97_pq_ann" -> (pqAnn _),
    "q211_knn_join" -> (knnJoinExact _),
    "q212_knn_join_recall" -> (knnJoinPlantedRecall _),
    "q215_embedding_decontamination" -> (embeddingDecontamination _),
    "q222_semantic_pairs_distributed" -> (semanticPairsDistributedGate _))

  /** q186 — MMR DIVERSITY RE-RANK (Carbonell & Goldstein 1998, λ =
    * 1/2): greedily select 3 of each probe's top-10 cosine candidates
    * maximizing `relevance − max-similarity-to-already-selected` — the
    * rerank stage a RAG stack runs between retrieval and the prompt,
    * so near-duplicate passages don't crowd the context window. The
    * SHAPE is the production one: candidate generation is the q50
    * broadcast-probes corpus scan (distributed, the only part that
    * touches corpus scale); the greedy loop runs per-query inside
    * `flatMapGroups` over ≤ 10 candidates + their 90 pairwise sims —
    * inherently sequential logic on a by-construction-bounded group,
    * the documented justification for the typed-group API (an
    * `Expression` can't hold the selection state; a window can't see
    * the evolving selected set). All similarities are integer micros
    * (the q50 floor spelling), ties break (mmr desc, id asc), and the
    * oracle unrolls the 3 greedy steps as explicit SQL stages.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fused cosine kernel, deliberately (r19): the parts-cosine
    // precompute was tried on this BroadcastNestedLoopJoin scoring
    // stage and regressed ~2× in CPU (2.0→4.0 s) — at 10 probes the
    // per-pair expression overhead outweighs the saved norms
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("simq").desc, col("vec_id").asc)
    val cands = emb.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .withColumn("simq",
        floor(cosine_similarity(col("qv"), col("v")) * 1000000.0d + 0.5d)
          .cast("long"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("simq"), col("v"))
    // LEFT join: a probe whose top-10 has a single candidate still
    // emits one (other_id = −1 sentinel) row, so the candidate set is
    // derived from cands, not from pair existence — and the greedy
    // loop runs min(3, |cands|) steps (an under-filled probe returns
    // its whole candidate set instead of calling minBy on empty)
    val pairs = cands.as("a").join(cands.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.cand_id") =!= col("b.cand_id"), "left")
      .select(col("a.query_id").as("query_id"),
        col("a.cand_id").as("cand_id"), col("a.simq").as("simq"),
        coalesce(col("b.cand_id"), lit(-1L)).as("other_id"),
        coalesce(
          floor(cosine_similarity(col("a.v"), col("b.v")) * 1000000.0d + 0.5d)
            .cast("long"), lit(0L)).as("pair_micro"))
    pairs.as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rows = it.toSeq
        val simq = rows.map(r => r._2 -> r._3).toMap
        val pair = rows.filter(_._4 >= 0L).map(r => (r._2, r._4) -> r._5).toMap
        var selected = List.empty[Long]
        (1 to math.min(3, simq.size)).iterator.map { step =>
          val (bestId, bestMmr) = simq.keysIterator
            .filterNot(selected.contains)
            .map { c =>
              val pen =
                if (selected.isEmpty) 0L
                else selected.map(s => pair((c, s))).max
              (c, simq(c) - pen)
            }
            .minBy { case (c, m) => (-m, c) }
          selected ::= bestId
          (qid, bestId, step, bestMmr)
        }
      }
      .toDF("query_id", "doc_id", "sel_rank", "mmr_micro")
  }

  val oracles: Map[String, String] = Map(
    // the 3 greedy MMR steps unrolled as explicit stages: s1 = argmax
    // relevance, s2/s3 = argmax (relevance - max pair-sim to the
    // selected set), all integer micros, ties (mmr desc, id asc)
    "q186_mmr_rerank" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |simqt AS (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |    CAST(floor(list_cosine_similarity(q.qv, e.v) * 1000000 + 0.5)
        |      AS BIGINT) AS simq
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |cands AS (
        |  SELECT query_id, cand_id, simq FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY simq DESC, cand_id ASC) AS rn FROM simqt)
        |  WHERE rn <= 10),
        |pairs AS (
        |  SELECT a.query_id, a.cand_id AS ia, b.cand_id AS ib,
        |    CAST(floor(list_cosine_similarity(ea.v, eb.v) * 1000000 + 0.5)
        |      AS BIGINT) AS psim
        |  FROM cands a
        |  JOIN cands b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
        |  JOIN e ea ON ea.vec_id = a.cand_id
        |  JOIN e eb ON eb.vec_id = b.cand_id),
        |s1 AS (
        |  SELECT query_id, cand_id AS id1, simq AS m1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY simq DESC, cand_id ASC) AS r FROM cands)
        |  WHERE r = 1),
        |c2 AS (
        |  SELECT c.query_id, c.cand_id, c.simq - p.psim AS mmr
        |  FROM cands c
        |  JOIN s1 ON s1.query_id = c.query_id AND c.cand_id <> s1.id1
        |  JOIN pairs p ON p.query_id = c.query_id
        |    AND p.ia = c.cand_id AND p.ib = s1.id1),
        |s2 AS (
        |  SELECT query_id, cand_id AS id2, mmr AS m2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, cand_id ASC) AS r FROM c2)
        |  WHERE r = 1),
        |c3 AS (
        |  SELECT c.query_id, c.cand_id,
        |    c.simq - greatest(p1.psim, p2.psim) AS mmr
        |  FROM cands c
        |  JOIN s1 ON s1.query_id = c.query_id
        |  JOIN s2 ON s2.query_id = c.query_id
        |  JOIN pairs p1 ON p1.query_id = c.query_id
        |    AND p1.ia = c.cand_id AND p1.ib = s1.id1
        |  JOIN pairs p2 ON p2.query_id = c.query_id
        |    AND p2.ia = c.cand_id AND p2.ib = s2.id2
        |  WHERE c.cand_id <> s1.id1 AND c.cand_id <> s2.id2),
        |s3 AS (
        |  SELECT query_id, cand_id AS id3, mmr AS m3 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, cand_id ASC) AS r FROM c3)
        |  WHERE r = 1)
        |SELECT query_id, id1 AS doc_id, 1 AS sel_rank, m1 AS mmr_micro FROM s1
        |UNION ALL SELECT query_id, id2, 2, m2 FROM s2
        |UNION ALL SELECT query_id, id3, 3, m3 FROM s3""".stripMargin,
    "q122_array_hof" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0)) AS INT) AS n_pos,
        |  CAST(floor(list_reduce(
        |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |    (a, x) -> a + x) * 1000000.0 + 0.5) AS BIGINT) AS l2sq_micro,
        |  CAST(floor(list_reduce(
        |    list_transform(list_zip(embedding, list_reverse(embedding)),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
        |    (a, x) -> a + x) * 1000000.0 + 0.5) AS BIGINT) AS dotrev_micro,
        |  CAST(floor(list_max(
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |    * 1000000.0 + 0.5) AS BIGINT) AS maxabs_micro
        |FROM embeddings""".stripMargin,
    "q144_int8_quantize" ->
      """WITH b AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM b),
        |c AS (
        |  SELECT vec_id, v, mn, mx,
        |    CASE WHEN mx > mn THEN list_transform(v,
        |        x -> CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT))
        |      ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
        |  FROM m),
        |e AS (
        |  SELECT vec_id, v, mn, mx, codes,
        |    list_max(list_transform(list_zip(codes, v),
        |      s -> abs(mn + CAST(s[1] AS DOUBLE) * (mx - mn) / 255.0
        |               - CAST(s[2] AS DOUBLE)))) AS maxerr
        |  FROM c)
        |SELECT vec_id, CAST(len(v) AS INT) AS n_dims,
        |  CAST(list_min(codes) AS INT) AS code_min,
        |  CAST(list_max(codes) AS INT) AS code_max,
        |  CAST(list_reduce(codes, (a, x) -> a + x) AS BIGINT) AS sum_codes,
        |  CAST(floor(maxerr * 1000000.0 + 0.5) AS BIGINT) AS max_err_micro,
        |  maxerr <= (mx - mn) / 255.0 * 0.5000001 AS within_half_step
        |FROM e""".stripMargin,
    "q138_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS query_label,
        |             embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS neg_id, label AS neg_label,
        |             embedding::DOUBLE[] AS cv
        |           FROM embeddings),
        |     sims AS (
        |       SELECT query_id, neg_id,
        |         CAST(floor(list_cosine_similarity(qv, cv) * 1000000 + 0.5)
        |           AS BIGINT) AS sim_micro
        |       FROM q JOIN c ON neg_label <> query_label),
        |     ranked AS (
        |       SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim_micro DESC, neg_id ASC) AS INT) AS rn
        |       FROM sims)
        |SELECT query_id, neg_id, sim_micro, rn FROM ranked WHERE rn <= 5""".stripMargin,
    "q50_ann_brute_force" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |           FROM embeddings),
        |     sims AS (
        |       SELECT query_id, corpus_id,
        |         floor(list_cosine_similarity(qv, cv) * 1000000 + 0.5) / 1000000 AS sim
        |       FROM q JOIN c ON corpus_id <> query_id),
        |     ranked AS (
        |       SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim DESC, corpus_id ASC) AS INT) AS rn
        |       FROM sims)
        |SELECT query_id, corpus_id, sim, rn FROM ranked WHERE rn <= 5""".stripMargin,
    "q52_embedding_stats" ->
      """WITH n AS (
        |  SELECT label,
        |    -- list_reduce over a prepended 0.0: the LEFT fold Spark's
        |    -- aggregate() runs (list_sum's summation order is its own)
        |    sqrt(CAST(list_reduce(
        |      list_prepend(0.0, list_transform(embedding::DOUBLE[], x -> x * x)),
        |      (a, b) -> a + b) AS DOUBLE)) AS norm,
        |    CAST(len(embedding) AS INT) AS dim
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |  CAST(sum(CAST(floor(norm * 1000000 + 0.5) AS BIGINT))
        |    // count(*) AS BIGINT) AS avg_norm_micro,
        |  min(dim) AS min_dim, max(dim) AS max_dim
        |FROM n GROUP BY label""".stripMargin,
    "q53_cosine_pairs" ->
      """WITH c AS (SELECT label AS blk, vec_id AS id, embedding::DOUBLE[] AS v
        |           FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  floor(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5) / 1000000 AS cosine
        |FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
        |WHERE floor(list_cosine_similarity(a.v, b.v) * 1000000 + 0.5) / 1000000 >= 0.4""".stripMargin,
    // per-query graduation of the rows-only check: n_returned is k by
    // construction (corpus >> k at every sf) and the recall bound is
    // the engine-measured invariant under test, stated literally
    "q51_ann_ivf" ->
      """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_returned,
        |  TRUE AS recall5_ge_08
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    // the FULL pipeline mirror: same literal hyperplanes, same
    // left-associated dot fold, same bucket join, same cosine verify
    "q54_lsh_near_dups" -> {
      s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
         |           FROM embeddings
         |           -- the engine drops non-64-dim vectors before
         |           -- bucketing (r16 fix); the mirror must too (r17)
         |           WHERE len(embedding) = 64),
         |b AS (
         |${lshBucketSql(numBits = 8, dim = 64, numTables = 4)}),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
         |  FROM b a JOIN b b2
         |    ON a.table_id = b2.table_id AND a.bucket = b2.bucket
         |      AND a.id < b2.id)
         |SELECT c.id_a, c.id_b,
         |  floor(list_cosine_similarity(va.v, vb.v) * 1000000 + 0.5) / 1000000
         |    AS cosine
         |FROM cand c
         |JOIN v va ON va.id = c.id_a
         |JOIN v vb ON vb.id = c.id_b
         |WHERE floor(list_cosine_similarity(va.v, vb.v) * 1000000 + 0.5)
         |  / 1000000 >= 0.4""".stripMargin
    },
    // the oracle states the recall bound as a literal: the exact-pair
    // count is k x |queries| by construction (corpus >> k at every sf),
    // and the bound itself is the engine-measured invariant under test
    "q80_ann_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_exact_pairs,
        |  TRUE AS recall_ge_080
        |FROM embeddings WHERE vec_id < 10""".stripMargin,
    "q83_lsh_planted_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  TRUE AS all_planted_found, TRUE AS planted_cosine_ge_099
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // the booleans are the engine-measured invariants under test; the
    // oracle states them literally (q63/q64/q80/q83 pattern)
    "q92_semantic_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  TRUE AS all_planted_paired, TRUE AS planted_cosine_ge_099,
        |  TRUE AS survivors_eq_corpus, TRUE AS planted_kept_canonical
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // lossless-distribution invariants, stated literally (the q83/q92
    // convention): bit-identical pair sets are an engine-measured
    // equality, not something DuckDB can replay cheaper than the
    // ideal leg the gate already computes
    "q222_semantic_pairs_distributed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  TRUE AS pairs_eq_ideal, TRUE AS hot_cells_engaged,
        |  TRUE AS all_planted_paired
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // the FULL exact-top-k oracle (q50's): the PQ shortlist + re-rank
    // must reproduce the exact result row-for-row — recall 1.0 or fail
    "q97_pq_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |     c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
        |           FROM embeddings),
        |     sims AS (
        |       SELECT query_id, corpus_id,
        |         floor(list_cosine_similarity(qv, cv) * 1000000 + 0.5) / 1000000 AS sim
        |       FROM q JOIN c ON corpus_id <> query_id),
        |     ranked AS (
        |       SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim DESC, corpus_id ASC) AS INT) AS rn
        |       FROM sims)
        |SELECT query_id, corpus_id, sim, rn FROM ranked WHERE rn <= 5""".stripMargin,
    // exact kNN JOIN (nProbe = numCentroids probes every cell): the
    // brute-force big-big join is the oracle, q50's float convention
    "q211_knn_join" ->
      """WITH l AS (SELECT vec_id AS left_id, embedding::DOUBLE[] AS lv
        |           FROM embeddings WHERE vec_id % 2 = 0),
        |     r AS (SELECT vec_id AS right_id, embedding::DOUBLE[] AS rv
        |           FROM embeddings WHERE vec_id % 2 = 1),
        |     sims AS (
        |       SELECT left_id, right_id,
        |         CAST(floor(list_cosine_similarity(lv, rv) * 1000000 + 0.5)
        |           AS BIGINT) AS sim_micro
        |       FROM l CROSS JOIN r),
        |     ranked AS (
        |       SELECT *, CAST(row_number() OVER (PARTITION BY left_id
        |         ORDER BY sim_micro DESC, right_id ASC) AS INT) AS rn
        |       FROM sims)
        |SELECT left_id, right_id, sim_micro, rn FROM ranked WHERE rn <= 3""".stripMargin,
    // engine-measured planted-recall invariants, stated literally (the
    // q83/q92 convention)
    "q212_knn_join_recall" ->
      """SELECT count(*) AS n_planted, TRUE AS all_found_rank1,
        |  TRUE AS planted_sim_ge_099
        |FROM embeddings WHERE vec_id < 20""".stripMargin,
    // exact-purge membership is the planted set (q92-proven: no true
    // >= 0.95 cross pairs in the fixture), counts from id arithmetic
    "q215_embedding_decontamination" ->
      """WITH t AS (SELECT
        |    (SELECT count(*) FROM embeddings WHERE vec_id >= 25) +
        |    (SELECT count(*) FROM embeddings WHERE vec_id < 20) AS n_train),
        |  p AS (SELECT count(*) AS n_purged FROM embeddings WHERE vec_id < 20)
        |SELECT n_train, n_purged, n_train - n_purged AS n_survivors,
        |  TRUE AS purged_only_planted, TRUE AS no_planted_survives
        |FROM t CROSS JOIN p""".stripMargin)
}

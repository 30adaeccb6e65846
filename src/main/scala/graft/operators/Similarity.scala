package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{cosine_similarity6, cosine_from_parts,
  cosine_from_parts6, dot_product, norm_sq}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Query side is broadcast (queries ≪ corpus); the corpus is scanned
  *    once, similarity runs in codegen ([[graft.functions.CosineSimilarity]]),
  *    and per-query top-k is a window over (query, sim) — no global sort.
  *  - [[ivfTopK]]: IVF-style scale path — corpus pre-bucketed by nearest
  *    centroid; queries probe only their `nProbe` closest centroids'
  *    buckets. Recall < 1 by design; the bucket join replaces the full
  *    scan, cutting compared pairs by ~|buckets|/nProbe.
  */
object Similarity {

  /** How [[semanticPairs]]/[[semanticDedup]] treat a cell whose
    * population exceeds `maxCellSize` — the drop-vs-distribute choice
    * is the CALLER's (r16): the cap is a cost guard either way, but
    * only the caller knows whether the densest cluster's pairs are
    * expendable boilerplate or exactly the duplicates the run exists
    * to find.
    */
  sealed trait HotCellPolicy
  object HotCellPolicy {
    /** Over-cap cells DROP from candidate generation, with the
      * queryable [[droppedCells]] report — bounded cost, documented
      * pair loss (the media/simhash bucket-cap convention). The
      * default: a cap crossing usually means the index is too coarse
      * and the answer is re-indexing, not a quadratic join.
      */
    case object Drop extends HotCellPolicy
    /** Over-cap cells DISTRIBUTE losslessly: each splits into
      * m = ⌈size/cap⌉ id-hash blocks and all m(m+1)/2 block pairs
      * join under their own (cell, i, j) key — triangle replication.
      * Total within-cell |cell|² pair work is UNCHANGED (it is
      * inherent to all-pairs semantics); what changes is placement —
      * ~cap-bounded-in-expectation rows per join key instead of one
      * quadratic straggler task. Each row replicates ~m/2 times per
      * leg, so candidate-generation I/O grows by the same ⌈size/cap⌉
      * factor [[knnJoin]]'s salted probes pay. Results are
      * bit-identical to the cap-free join.
      */
    case object Distribute extends HotCellPolicy
  }

  /** Bound on an indexed CELL's population for the centroid-bucketed
    * similarity joins — the vector family's analogue of
    * [[Dedup.DefaultMaxBucketDf]] (same value). The scaladoc bound
    * "numCentroids ≫ partitions ⇒ cells stay bounded" assumes roughly
    * balanced cells; real embedding corpora are CLUSTERED — one dense
    * semantic cluster (boilerplate, near-identical spam, a template
    * family) lands in one cell and its candidate fan-in goes
    * quadratic on a single shuffle key. The two joins respond
    * differently, each per its semantics:
    *  - [[knnJoin]] SALTS the hot cell into ⌈size/cap⌉ sub-keys —
    *    lossless (per-pair work is inherent and merely redistributed);
    *  - [[semanticPairs]] DROPS it with a queryable report
    *    ([[droppedCells]]) — its within-cell |cell|² pair work IS the
    *    blowup, so the report is the re-index signal (finer k, or
    *    quarantine the cluster for a dedicated pass). Gate corpora
    *    sit below the cap by construction and Verify preflights it
    *    (the MediaDedup convention); `Long.MaxValue` = off.
    */
  val DefaultMaxCellSize: Long = Dedup.DefaultMaxBucketDf

  /** The ONE spelling of cell assignment (explode over the `n` nearest
    * centroids, NaN rows dropped) shared by the joins, [[cellSizes]],
    * and the cap — so the cap and the accounting can never disagree on
    * what a cell is (the [[Dedup.simhashPairs]] blockedSketches rule).
    */
  private def withCells(df: DataFrame, vecCol: String,
                        centers: Seq[Seq[Double]], n: Int,
                        cellCol: String): DataFrame = {
    import graft.functions.VectorFunctions.nearest_centroids
    df.select(df.columns.map(col) :+
        explode(nearest_centroids(col(vecCol), centers, n)).as(cellCol): _*)
      .filter(col(cellCol) >= 0)
  }

  /** Per-cell population of `corpus` under `centers` at `replicas`
    * assignments — the index-health report a production deployment
    * checks before trusting a centroid-bucketed join's shuffle shape.
    *
    * `replicas` is REQUIRED (r16 review finding): the report is only
    * meaningful at the SAME replica count as the join it audits, and
    * the family's joins default differently ([[semanticPairs]] 2,
    * [[knnJoin]]/[[ivfTopK]] 3) — a defaulted report could disagree
    * with the join about which cells are hot, and re-index decisions
    * would be made on false data.
    */
  def cellSizes(corpus: DataFrame, centers: Seq[Seq[Double]],
                replicas: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame =
    withCells(
      corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")),
      "v", centers, replicas, "cell")
      .groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))

  /** The no-silent-caps report: cells whose population exceeds
    * `maxCellSize`, with their sizes — exactly the cells
    * [[semanticPairs]] drops from candidate generation, and the cells
    * [[knnJoin]] pays ⌈size/cap⌉× probe replication to salt. Pass the
    * SAME `replicas` as the join under audit (required — see
    * [[cellSizes]]).
    */
  def droppedCells(corpus: DataFrame, centers: Seq[Seq[Double]],
                   replicas: Int,
                   maxCellSize: Long = DefaultMaxCellSize,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    cellSizes(corpus, centers, replicas, idCol, vecCol)
      .filter(col("cell_size") > maxCellSize)

  /** Exact top-k by cosine for each query vector.
    *
    * `dropSameId` (default true — self-search semantics): excludes
    * the corpus row sharing the query's id. Pass FALSE for
    * cross-dataset retrieval where the id spaces merely overlap — a
    * hardcoded exclusion silently lost the legitimate
    * (eval 7, train 7) neighbor, exactly the failure [[knnJoin]]
    * gates behind the same flag (r16 review finding). The exclusion
    * is null-SAFE: a NULL id on either side is never "the same row".
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dropSameId: Boolean = true): DataFrame = {
    // norms² once per row (r19): the |corpus|×|queries| product
    // recomputed the corpus row's norm per query and the query's per
    // corpus row — parts cosine is bit-identical (see VectorFunctions)
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("_cnsq", norm_sq(col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("_qnsq", norm_sq(col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    c.join(broadcast(q),
        if (dropSameId) !(col("corpus_id") <=> col("query_id")) else lit(true))
      .withColumn("sim", cosine_from_parts6(
        dot_product(col("qv"), col("cv")), col("_qnsq"), col("_cnsq")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("sim"), col("rn"))
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the top-k most-similar corpus vectors whose `label` DIFFERS from
    * the query's — the "hard" negatives an embedding-model trainer
    * pairs with each anchor. Same plan shape as [[bruteForceTopK]]
    * (broadcast queries, one corpus scan, per-query window top-k); the
    * label inequality rides the join condition so same-label rows
    * (including self) never reach the similarity kernel. At 100 TB the
    * corpus scan dominates and parallelizes per-partition; swap the
    * scan for [[ivfTopK]]'s probe join when exactness can be traded.
    *
    * NULL labels are EXCLUDED on both sides (SQL =!= semantics, made
    * explicit r16): "differs" is undefined against an unknown label —
    * an unlabeled corpus row is never mined as a negative (it might
    * share the anchor's class), and an unlabeled query mines nothing.
    * Label (or drop) unlabeled rows upstream if they should
    * participate.
    */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("neg_id"), col(labelCol).as("neg_label"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("_cnsq", norm_sq(col("cv")))
    val q = queries.select(col(idCol).as("query_id"), col(labelCol).as("query_label"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("_qnsq", norm_sq(col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_micro").desc, col("neg_id").asc)
    // floor(x·1e6 + 0.5) into a LONG, not round(x, 6): Spark's round on
    // DoubleType is HALF_UP over the shortest decimal repr while DuckDB
    // rounds the binary double — floor is exact on the identical IEEE
    // double both engines compute (the q100 version-proof idiom), and
    // ranking on the integer removes double-ordering divergence too
    c.join(broadcast(q), col("neg_label") =!= col("query_label"))
      .withColumn("sim_micro",
        floor(cosine_from_parts(dot_product(col("qv"), col("cv")),
          col("_qnsq"), col("_cnsq")) * 1000000.0 + 0.5)
          .cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neg_id"), col("sim_micro"), col("rn"))
  }

  /** The IVF index build: deterministic seed sample + Lloyd rounds,
    * returning the centers — the index ARTIFACT a production deployment
    * persists beside the data and reuses across every search (callers
    * pass it back via `ivfTopK(centers = Some(...))`). Empty corpus →
    * empty centers.
    */
  def kmeansCenters(corpus: DataFrame, numCentroids: Int = 16, lloydIters: Int = 2,
                    buildSampleMod: Int = 1,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Double]] = {
    import graft.functions.VectorFunctions.nearest_centroids
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val sampled =
      if (buildSampleMod > 1) c.filter(pmod(xxhash64(col("corpus_id")), lit(buildSampleMod)) === 0)
      else c
    def seeds(src: DataFrame): Seq[Seq[Double]] =
      src.orderBy(xxhash64(col("corpus_id")).asc, col("corpus_id").asc)
        .limit(numCentroids)
        .select(col("cv")).collect().map(_.getSeq[Double](0)).toSeq
    // an over-aggressive sample mod must not silently index nothing:
    // fall back to the full corpus for seeding (and Lloyd)
    val sampleSeeds = seeds(sampled)
    val (build, seedCenters) =
      if (sampleSeeds.nonEmpty) (sampled, sampleSeeds) else (c, seeds(c))
    var centers: Seq[Seq[Double]] = seedCenters
    if (centers.isEmpty) return centers
    for (_ <- 1 to lloydIters) {
      val means = build
        .select(element_at(nearest_centroids(col("cv"), centers, 1), 1).as("cid"),
          posexplode(col("cv")).as(Seq("pos", "x")))
        // a NaN vector scores NaN against every centroid → cid −1;
        // such rows must not crash the driver-side center update
        .filter(col("cid") >= 0)
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
      // empty clusters keep their previous center
      val next = centers.map(_.toArray).toArray
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centers = next.map(_.toSeq).toSeq
    }
    centers
  }

  /** IVF with k-means centroids.
    *
    * Build: seed centroids are a deterministic pseudo-random sample
    * (top-`numCentroids` by xxhash64(id) — TakeOrdered, no full sort),
    * refined by `lloydIters` Lloyd rounds. Centers live on the DRIVER
    * between rounds (numCentroids×dim doubles — the same contract as
    * Spark MLlib KMeans), so corpus↔centroid work is always a single
    * codegen'd projection pass ([[graft.functions.NearestCentroids]]):
    * no corpus×centroids join, no window, no exchange. The Lloyd mean
    * is a posexplode + partial-agg groupBy — map-side combine reduces
    * each round's shuffle to numCentroids×dim rows per task. At 100 TB
    * you'd run the build on a hash-sample (`buildSampleMod` > 1) and
    * persist the centers next to the index; the search path is
    * unchanged.
    *
    * Search: each corpus vector is indexed under its `replicas` nearest
    * buckets (IVF spill — multi-assignment); each query probes its
    * `nProbe` closest buckets via an equi-join, deduping pairs reached
    * through more than one shared bucket before ranking. Recall < 1 by
    * design — ≥ 0.8 at defaults (RecallSpec; driver-gated by
    * q80_ann_recall).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, numCentroids: Int = 16,
              nProbe: Int = 6, lloydIters: Int = 2, buildSampleMod: Int = 1,
              replicas: Int = 3, centers: Option[Seq[Seq[Double]]] = None,
              idCol: String = "vec_id", vecCol: String = "embedding",
              dropSameId: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val ctrs = centers.getOrElse(
      kmeansCenters(corpus, numCentroids, lloydIters, buildSampleMod, idCol, vecCol))
    // truly empty corpus: nothing to index or return. The empty frame
    // derives its id columns from the INPUTS (limit 0), so string-keyed
    // tables get the same schema here as on the non-empty path — a
    // hardcoded bigint range(0) would fail a later unionByName exactly
    // on the edge this branch exists to handle
    if (ctrs.isEmpty)
      return q.limit(0).crossJoin(c.limit(0)).select(
        col("query_id"), col("corpus_id"),
        lit(0.0).as("sim"), lit(0).as("rn"))

    // NaN rows (cid/probe −1) drop out of the index and the probes
    // rather than silently matching each other in the bucket join.
    // Multi-assignment (`replicas` nearest buckets per corpus vector —
    // IVF "spill") compounds with probing: a neighbor is found unless
    // ALL of its replica buckets miss the query's probe set, which is
    // what lifts recall past what probe count alone can buy on
    // clusterless data. Index size scales by `replicas` (documented
    // trade; the scan/shuffle shape is unchanged).
    // the ONE cell-assignment spelling (withCells) — an inline copy
    // here could drift from the cellSizes/droppedCells accounting (r16).
    // Norms² once per row (the semanticPairs r19 precompute): the
    // probe join's per-candidate cosine drops to a bare dot
    val assigned = withCells(c.withColumn("_cnsq", norm_sq(col("cv"))),
      "cv", ctrs, replicas, "centroid_id")
    val probes = withCells(q.withColumn("_qnsq", norm_sq(col("qv"))),
      "qv", ctrs, nProbe, "centroid_id")

    // search only probed buckets; a pair reached via two shared buckets
    // must count once, so dedup (query, corpus) before ranking. The
    // cosine runs INSIDE the join stage (the [[semanticPairs]] lesson):
    // a pair reached through r shared buckets recomputes its
    // deterministic sim ≤ r times — pure CPU — while the dedup exchange
    // carries only (query_id, corpus_id, sim), never the d×8-byte
    // vectors. Deduping the full array-carrying rows instead shuffled
    // ~|candidates|×2d doubles and dominated the warm search wall time.
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("corpus_id").asc)
    broadcast(probes).join(assigned, Seq("centroid_id"))
      // null-safe self-exclusion, opt-out for cross-dataset retrieval
      // with overlapping id spaces (the bruteForceTopK/knnJoin rule)
      .filter(if (dropSameId) !(col("corpus_id") <=> col("query_id"))
              else lit(true))
      .select(col("query_id"), col("corpus_id"),
        cosine_from_parts6(dot_product(col("qv"), col("cv")),
          col("_qnsq"), col("_cnsq")).as("sim"))
      .dropDuplicates("query_id", "corpus_id")
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("corpus_id"), col("sim"), col("rn"))
  }

  /** kNN JOIN — top-k right-side neighbors for EVERY left row, where
    * BOTH sides are large (r14). [[bruteForceTopK]]/[[ivfTopK]]
    * broadcast the query side (queries ≪ corpus); this is the other
    * regime — dataset-to-dataset linkage, eval-against-train
    * decontamination by embedding, retrieval-augmented labeling —
    * where the "query" side is itself a corpus and a broadcast would
    * OOM every executor. Shape: right rows are indexed under their
    * `replicas` nearest k-means cells, left rows under their `nProbe`
    * nearest cells, and the candidate join is a plain shuffle
    * equi-join on the cell id — both sides partition by cell, no
    * broadcast, no all-pairs. Per-left top-k is a window over the
    * candidate stream partitioned by left id (never a global sort).
    * The cosine runs INSIDE the join stage and only (ids, sim) rows
    * reach the dedup/rank exchange — the [[ivfTopK]] lesson: vectors
    * never shuffle past the join.
    *
    * Recall semantics are IVF's: a true neighbor is missed only if ALL
    * of its replica cells escape the left row's probe set. `nProbe =
    * numCentroids` probes every cell — EXACT kNN join (the gate
    * setting, q211): still no broadcast and no |A|×|B| blowup beyond
    * the per-cell products, which is what makes the exact spelling
    * usable when neither side fits in memory. At 100 TB size
    * `numCentroids` ≫ shuffle partitions (thousands of cells) so cell
    * buckets stay bounded and the equi-join shuffle has no hot key;
    * the centers stay the same bounded driver artifact as [[ivfTopK]]'s
    * (k·dim doubles, persisted and reused across runs).
    *
    * HOT CELLS (r15): balance is an assumption, not a guarantee — a
    * dense semantic cluster puts one cell's index population far above
    * the mean and that cell becomes a hot shuffle key whose fan-in
    * (|probes in cell| × |index in cell|) lands on ONE task. Indexed
    * cells over `maxCellSize` ([[DefaultMaxCellSize]]) are SALTED:
    * each such cell's index rows spread over ⌈size/cap⌉ sub-cells by
    * (cell, id) hash and its probes replicate across all of them, so
    * the join key becomes (cell, salt) with ~maxCellSize index rows
    * EXPECTED per key — ids are unique per the contract below, so
    * placement is a balls-into-bins spread: balanced in expectation
    * and concentrated tightly around it, not a worst-case guarantee
    * (a hash bound never is). The skew-split every salted join does,
    * applied only where needed. NO candidate is lost (results are bit-identical to the
    * unsalted join — the per-pair work is inherent; only its
    * placement changes), and the probe replication cost is scoped to
    * exactly the hot cells. [[cellSizes]]/[[droppedCells]] remain the
    * index-health diagnostics for sizing numCentroids; a report row
    * here means "this cell pays ⌈size/cap⌉× probe replication", not
    * "this cell was skipped". Detection is one map-side-combined
    * count over the assignment stream — a second codegen pass over
    * the index side; a production deployment persists the assignment
    * (or reuses the [[cellSizes]] artifact) beside the centers.
    *
    * `dropSameId = true` excludes candidates whose ids coincide — set
    * it ONLY for a self-join (left and right are the same dataset,
    * where a row's nearest neighbor is trivially itself). For two
    * DIFFERENT datasets it must stay false: independent id spaces can
    * collide, and dropping an (eval 7, train 7) pair would silently
    * lose a legitimate cross-dataset neighbor.
    *
    * Contract: `idCol` identifies a vector — UNIQUE within each side
    * (the same precondition every idCol operator here carries). Two
    * rows sharing an id would fold two different vectors' similarities
    * under one ranking key, which no dedup spelling can repair; the
    * replicas == 1 dedup skip below additionally relies on it.
    */
  def knnJoin(left: DataFrame, right: DataFrame, k: Int,
              numCentroids: Int = 16, nProbe: Int = 6, replicas: Int = 3,
              lloydIters: Int = 2, buildSampleMod: Int = 1,
              centers: Option[Seq[Seq[Double]]] = None,
              dropSameId: Boolean = false,
              maxCellSize: Long = DefaultMaxCellSize,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val l = left.select(col(idCol).as("left_id"), col(vecCol).cast("array<double>").as("lv"))
    val r = right.select(col(idCol).as("right_id"), col(vecCol).cast("array<double>").as("rv"))
    val ctrs = centers.getOrElse(
      kmeansCenters(right, numCentroids, lloydIters, buildSampleMod, idCol, vecCol))
    if (ctrs.isEmpty)
      return l.limit(0).crossJoin(r.limit(0)).select(
        col("left_id"), col("right_id"), lit(0.0).as("sim"), lit(0).as("rn"))
    // NaN vectors (cell −1) drop from index and probes, as in ivfTopK.
    // Norms² once per row before cell/salt replication (the
    // semanticPairs r19 precompute — bit-identical parts cosine)
    val indexed = withCells(r.withColumn("_rnsq", norm_sq(col("rv"))),
      "rv", ctrs, replicas, "cell")
    val probes = withCells(l.withColumn("_lnsq", norm_sq(col("lv"))),
      "lv", ctrs, nProbe, "cell")
    val wTop = Window.partitionBy(col("left_id"))
      .orderBy(col("sim").desc, col("right_id").asc)
    // hot-cell salting (see scaladoc): cells whose index population
    // exceeds maxCellSize join on (cell, salt) instead — index rows
    // hashed over ⌈size/cap⌉ salts, probes replicated across them.
    // Hot cells number ≤ |index|/cap by construction, so the salt
    // table broadcasts; cold cells pay one broadcast-probe and salt 0
    val candidates = {
      // detection: one map-side-combined count over the assignment
      // stream, COLLECTED — bounded by contract at ≤ |index|·replicas
      // / cap rows (the capHotBuckets broadcast argument; ~3·10⁵ keys
      // at 10⁹ rows and the default cap), the same driver-artifact
      // class as the k-means centers. Collecting (second review pass:
      // replaces a leaked, lineage-truncating localCheckpoint) buys
      // the common case outright: NO hot cells → the plain two-sided
      // equi-join, zero salting overhead beyond this one count job
      val hotRows =
        if (maxCellSize == Long.MaxValue) Array.empty[(Int, Int)]
        else Dedup.hotBuckets(indexed, Seq("cell"), maxCellSize)
          .select(col("cell"),
            ceil(col("bucket_df").cast("double") / maxCellSize).cast("int")
              .as("_nsalt"))
          .collect().map(r => (r.getInt(0), r.getInt(1)))
      if (hotRows.isEmpty)
        probes.join(indexed, Seq("cell")) // shuffle equi-join — NO broadcast
      else {
        val sp = left.sparkSession
        import sp.implicits._
        val hot = hotRows.toSeq.toDF("cell", "_nsalt")
        // hash (cell, id), not id alone: an index row replicated into
        // several hot cells decorrelates its salt across them
        val idxS = indexed.join(broadcast(hot), Seq("cell"), "left")
          .withColumn("_salt", when(col("_nsalt").isNull, lit(0))
            .otherwise(pmod(xxhash64(col("cell"), col("right_id")),
              col("_nsalt")).cast("int")))
          .drop("_nsalt")
        val prbS = probes.join(broadcast(hot), Seq("cell"), "left")
          .withColumn("_salt",
            explode(sequence(lit(0), coalesce(col("_nsalt"), lit(1)) - 1)))
          .drop("_nsalt")
        prbS.join(idxS, Seq("cell", "_salt")).drop("_salt")
      }
    }
    val scored =
      (if (dropSameId) candidates.filter(col("left_id") =!= col("right_id"))
       else candidates)
        .select(col("left_id"), col("right_id"),
          cosine_from_parts6(dot_product(col("lv"), col("rv")),
            col("_lnsq"), col("_rnsq")).as("sim"))
    // replicas == 1 ⇒ each right row lives in exactly one cell, so a
    // (left, right) pair can meet at most once regardless of nProbe —
    // the dedup exchange is provably a no-op; skip it (one of the two
    // post-join shuffles at the exact-gate setting)
    val unique =
      if (replicas == 1) scored
      else scored.dropDuplicates("left_id", "right_id")
    unique
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("left_id"), col("right_id"), col("sim"), col("rn"))
  }

  /** All pairs above a cosine threshold among a bucketed corpus — see
    * [[Dedup.embeddingNearDups]] for the LSH variant; this is the exact
    * within-blocking-key version.
    */
  def thresholdPairs(corpus: DataFrame, blockCol: String, threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // fused kernel, deliberately (r19): same blocked-self-join shape
    // as semanticPairs, where the parts-cosine precompute measurably
    // regressed — the pair machinery, not the cosine, is the cost
    val c = corpus.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cosine", cosine_similarity6(col("a.v"), col("b.v")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): every corpus vector is assigned to its
    * `replicas` nearest k-means centroids (one codegen projection —
    * [[graft.functions.NearestCentroids]], no corpus×centroids
    * exchange) and pairwise cosine runs only WITHIN a cluster, via a
    * self-equi-join on cluster id. Candidate volume drops from
    * |corpus|² to Σ|cluster|²; at 100 TB numCentroids is sized so a
    * cluster stays bounded (~|corpus|/k rows) and the join shuffles on
    * the cluster key like any equi-join. `replicas` > 1 is the IVF
    * spill trick: near-dups straddling a cluster boundary still share
    * at least one bucket. Vectors ride WITH their assignment rows into
    * the bucket join (a corpus-sized shuffle, ~d×8 bytes/row) so the
    * cosine is computed and thresholded inside the join stage — the
    * candidate pair set (Σ|cluster|², orders of magnitude larger than
    * the corpus) never hits a shuffle; only the ≥-threshold survivors
    * are deduped. A pair sharing several clusters recomputes its
    * (deterministic) cosine at most replicas² times — pure CPU, which
    * is the cheap currency; the earlier id-dedup-then-rejoin form
    * shuffled the full pair set three times and was 5× slower at
    * sf0.1 despite computing each cosine once.
    *
    * `centers` is the same persisted index artifact as [[ivfTopK]]'s —
    * one k-means build serves both search and dedup.
    *
    * HOT CELLS (r15, caller policy r16): the "cluster stays bounded"
    * sizing premise has the same failure mode as [[knnJoin]]'s — the
    * densest semantic cluster is simultaneously where the duplicates
    * live AND the hot shuffle key whose |cell|² fan-in goes quadratic.
    * What happens to cells over `maxCellSize` ([[DefaultMaxCellSize]])
    * is `hotCells`' choice:
    *  - [[HotCellPolicy.Drop]] (default): they drop from the
    *    self-join (bounding candidates at Σ min(|cell|, cap)²) and
    *    are queryable via [[droppedCells]](corpus, centers, replicas)
    *    — the report is the signal to re-index finer or quarantine
    *    that cluster, the same judgement the media/simhash families
    *    make for viral buckets. An over-cap cluster's pairs go
    *    UNREPORTED here.
    *  - [[HotCellPolicy.Distribute]]: they split into ⌈size/cap⌉
    *    id-hash blocks whose triangle of block pairs joins under
    *    separate keys — NO pair is lost (bit-identical to cap-off),
    *    the inherent |cell|² work just spreads over bounded tasks.
    *    For SemDeDup this is usually the right call: the densest
    *    cluster is exactly where the duplicates are.
    * Pass `Long.MaxValue` to pin the cap off.
    *
    * EAGER by construction when capped (the capHotBuckets contract):
    * building the returned plan runs one count job over the
    * assignment to find hot cells, and the hot set is a point-in-time
    * snapshot — `corpus` must be deterministic (cache or checkpoint a
    * non-deterministic source first) or the snapshot can diverge from
    * the recomputed input under the hood.
    */
  def semanticPairs(corpus: DataFrame, threshold: Double,
                    centers: Seq[Seq[Double]], replicas: Int = 2,
                    maxCellSize: Long = DefaultMaxCellSize,
                    hotCells: HotCellPolicy = HotCellPolicy.Drop,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    if (centers.isEmpty)
      // schema from the input (see ivfTopK's empty branch note)
      return c.limit(0).select(col("id").as("id_a"))
        .crossJoin(c.limit(0).select(col("id").as("id_b")))
        .select(col("id_a"), col("id_b"), lit(0.0).as("cosine"))
    // NaN vectors assign to no cluster (cid −1) and drop out here.
    // NOTE (r19 measurement): the knnJoin/ivfTopK norm-precompute
    // (cosine_from_parts6) was tried here too and REGRESSED — q222
    // isolated 3.2→4.0 s median, CPU 36-49→54-77 s. This pair stage's
    // cost is the SMJ pair machinery (row buffering/copies of the
    // d×8-byte vectors across the triangle-replicated legs), not the
    // cosine loop, so the extra column on every replicated leg row
    // plus the CaseWhen combine outweighed the saved norm FLOPs. The
    // fused kernel stays.
    val assignedAll = withCells(c, "v", centers, replicas, "cid")
    val candidates = hotCells match {
      case HotCellPolicy.Drop =>
        // over-cap cells drop from BOTH join legs via the one capped
        // frame; id_a < id_b directly from the join condition
        val assigned = Dedup.capHotBuckets(assignedAll, Seq("cid"), maxCellSize)
        assigned.as("a").join(assigned.as("b"),
            col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.v").as("av"), col("b.v").as("bv"))
      case HotCellPolicy.Distribute =>
        // detection: [[Dedup.hotBuckets]] — the ONE over-cap counting
        // spelling shared with capHotBuckets/droppedBuckets, so the
        // cap and the accounting can never disagree — collected
        // (bounded at ≤ |corpus|·replicas / cap rows by construction),
        // empty ⇒ the plain self-join with zero distribution overhead
        val hotRows =
          if (maxCellSize == Long.MaxValue) Array.empty[(Int, Int)]
          else Dedup.hotBuckets(assignedAll, Seq("cid"), maxCellSize)
            .select(col("cid"),
              ceil(col("bucket_df").cast("double") / maxCellSize)
                .cast("int").as("_m"))
            .collect().map(r => (r.getInt(0), r.getInt(1)))
        if (hotRows.isEmpty)
          assignedAll.as("a").join(assignedAll.as("b"),
              col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.v").as("av"), col("b.v").as("bv"))
        else {
          val sp = corpus.sparkSession
          import sp.implicits._
          val hot = hotRows.toSeq.toDF("cid", "_m")
          // block id: hash (cid, id) so a row replicated into several
          // hot cells decorrelates its block across them (the knnJoin
          // salting rule); cold cells are one block (m = 1, b = 0)
          val blk = assignedAll.join(broadcast(hot), Seq("cid"), "left")
            .withColumn("_m", coalesce(col("_m"), lit(1)))
            .withColumn("_b",
              pmod(xxhash64(col("cid"), col("id")), col("_m")).cast("int"))
          // triangle replication: a row in block b serves as the LEFT
          // leg of block pairs (b, j≥b) and the RIGHT leg of (i≤b, b);
          // every unordered within-cell pair meets at EXACTLY one
          // (cid, i, j) key — off-diagonal keys take all cross pairs,
          // the diagonal key orders by id as the plain join does.
          // Off-diagonal pairs additionally require a.id =!= b.id: the
          // plain join's a.id < b.id silently drops NULL-id and
          // duplicate-id pairs (null/false comparisons), and
          // bit-identity to cap-off means Distribute must drop the
          // SAME pairs — without it, least/greatest would invent
          // (x, x) self-pairs for a NULL id meeting x across blocks
          val legA = blk
            .withColumn("_j", explode(sequence(col("_b"), col("_m") - 1)))
            .withColumnRenamed("_b", "_i").drop("_m")
          val legB = blk
            .withColumn("_i", explode(sequence(lit(0), col("_b"))))
            .withColumnRenamed("_b", "_j").drop("_m")
          legA.as("a").join(legB.as("b"),
              col("a.cid") === col("b.cid") &&
                col("a._i") === col("b._i") && col("a._j") === col("b._j") &&
                ((col("a._i") =!= col("a._j") &&
                  col("a.id") =!= col("b.id")) ||
                 col("a.id") < col("b.id")))
            .select(least(col("a.id"), col("b.id")).as("id_a"),
              greatest(col("a.id"), col("b.id")).as("id_b"),
              col("a.v").as("av"), col("b.v").as("bv"))
        }
    }
    candidates
      .select(col("id_a"), col("id_b"),
        cosine_similarity6(col("av"), col("bv")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** End-to-end semantic dedup: [[semanticPairs]] → connected
    * components → keep the min-id representative of each duplicate
    * group ([[Dedup.keepCanonical]] anti-join).
    */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    centers: Seq[Seq[Double]], replicas: Int = 2,
                    maxCellSize: Long = DefaultMaxCellSize,
                    hotCells: HotCellPolicy = HotCellPolicy.Drop,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Dedup.keepCanonical(corpus,
      semanticPairs(corpus, threshold, centers, replicas, maxCellSize,
        hotCells, idCol, vecCol),
      idCol = idCol)
}

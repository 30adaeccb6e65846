package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens
import graft.operators.Materialize
import graft.sources.Tables

/** Lexical retrieval over the documents table — the operator family a
  * corpus platform exposes for search-style access (and that curation
  * pipelines reuse for query-based corpus probes).
  *
  * Scale shape: classic inverted-index algebra as DataFrame ops. The
  * postings list (doc, term, tf) is one explode + partial-agg groupBy
  * of the corpus scan; document frequencies are a term-keyed aggregate
  * of the postings (never a second corpus scan); the query terms (a
  * handful of rows) broadcast onto the postings, so scoring touches
  * only the matched postings — |terms ∩ corpus| rows, not |corpus|.
  * Per-query top-k is the WindowGroupLimit window, no global sort.
  *
  * Float discipline (the q60/q37 lesson, tightened in r7): the
  * per-(doc, term) score is EXACT INTEGER ARITHMETIC end-to-end — no
  * double ever crosses the gate. With k1 = 6/5 and b = 3/4 the BM25
  * term score is the exact rational num/den with
  *   num = (2N − 2df + 1) · 22 · tf · L
  *   den = (2df + 1) · (10·tf·L + 3·L + 9·dl·N)      (L = Σ dl)
  * (idf is the log-free ratio (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1);
  * the saturation term multiplied through by 20L), and half-up
  * millionths are floor(num·10⁶/den + ½) = (2·num·10⁶ + den) div
  * (2·den) — both operands positive. Intermediates exceed int64 at
  * corpus scale, so they ride in decimal(38,0) on Spark and HUGEINT in
  * DuckDB; the quotient is back under 2⁶³ and is SUMMED AS LONGS —
  * bit-identical under any partitioning, summation order, or engine
  * version (the r5/r6 q100 red rows were a double-kernel divergence
  * class this construction removes entirely).
  */
object RetrievalQ {

  val k1 = 1.2
  val b = 0.75

  /** The tf-postings artifact — (doc_id, term, tf), one row per
    * distinct (doc, term) — built from ONE corpus tokenization and
    * written once per (session, dir) (see below). Every consumer in the
    * retrieval/text-stat family derives from it: BM25's scoring join,
    * doclen, stats and dfreq branches (q100/q131), TF-IDF (q120), and
    * the distinct-postings co-occurrence pipeline (q129/q135). Without
    * the artifact each plan BRANCH re-runs tokenize→explode→groupBy
    * over the full corpus — at 100 TB that is one extra corpus scan
    * per branch, the r6 bench's dominant cost (five queries, 41% of
    * the battery, all this one constant).
    *
    * PARQUET artifact (r9, was DISK_ONLY in r8): a corpus-sized table
    * pinned in executor memory competes with every later query (the
    * r7 tail drift), and DISK_ONLY java-deserializes the blocks row by
    * row on every consumer run (the r8 q139 mechanism — q129's 1.9 s
    * carried the same cost). Written once as parquet, every consumer
    * is a vectorized columnar scan with pruning/pushdown — literally
    * the production shape: an inverted index's postings are a written
    * table beside the corpus, not a query-memory resident.
    */
  private[queries] def postingsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.parquet(spark, dir, "postings")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))

  /** The index-STATISTICS artifacts beside the postings — `doclen
    * (doc_id, dl)`, `dfreq (term, df)`, `stats (n_docs, total_len)` —
    * exactly the per-document and per-term tables a real inverted
    * index stores next to its postings lists. Before r8 every
    * retrieval invocation re-aggregated them from the corpus-sized
    * postings table (two full-postings groupBys per query — the q100
    * 7.3 s constant); written once beside the postings they are built
    * once per (session, dir), like the postings themselves.
    */
  private[queries] def indexStats(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val postings = postingsArtifact(spark, dir)
    // dl = Σtf — rolls up from the postings table instead of a
    // second explode over the raw text (one corpus tokenization)
    val doclen = graft.sources.ArtifactStore.parquet(spark, dir, "doclen")(
      postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    // postings is unique per (doc, term), so count(*) ≡
    // count(DISTINCT doc_id) — the cheaper partial-aggregable form
    val dfreq = graft.sources.ArtifactStore.parquet(spark, dir, "dfreq")(
      postings.groupBy(col("term")).agg(count(lit(1)).as("df")))
    // corpus stats: N docs, total token count — rolls up from the
    // (already tiny) doclen artifact
    val stats = graft.sources.ArtifactStore.parquet(spark, dir, "index_stats")(
      doclen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len")))
    (doclen, dfreq, stats)
  }
  /** Fixed probe queries (id → query string) for the gate. */
  val probeQueries: Seq[(Int, String)] = Seq(
    1 -> "the model of data",
    2 -> "sample text with numbers",
    3 -> "quick brown fox")

  /** Probe set for the q131 EVAL gate — vocabulary-aligned (the
    * fixture corpus draws from a closed word set) with graded strictness
    * (3/4/5 terms), so containment relevance is non-empty and the
    * metrics are non-trivial data-dependent numbers at every sf. q100
    * keeps [[probeQueries]] (which includes deliberate out-of-vocab
    * probes exercising the no-match path).
    */
  val evalQueries: Seq[(Int, String)] = Seq(
    1 -> "spark window agg",
    2 -> "hash join merge sort",
    3 -> "vector stream batch big slow")

  /** The scored-per-doc table BEFORE the top-k cut — (query_id, doc_id,
    * score_millionths, n_matched_terms) for every doc matching ≥ 1
    * query term — plus the per-query distinct-term counts. Shared by
    * q100 (top-k) and q131 (eval metrics, which need ALL matched docs
    * to count the relevant set, not just the top 10).
    */
  private[queries] def perDocScored(spark: SparkSession, dir: String,
      probes: Seq[(Int, String)] = probeQueries): (DataFrame, DataFrame) = {
    import spark.implicits._
    // postings: the memoized single-tokenization artifact — four
    // consumers below (scoring join, doclen, stats, dfreq) read the
    // materialized table, not four re-tokenizations of the corpus
    val postings = postingsArtifact(spark, dir)
    // doclen/dfreq/stats: the memoized index-statistics artifacts —
    // built once per (session, dir), never re-aggregated per query
    val (doclen, dfreq, stats) = indexStats(spark, dir)
    val qterms = probes.toDF("query_id", "qtext")
      .select(col("query_id"), explode(tokens(col("qtext"))).as("term"))
      .distinct()
    val scored = postings
      .join(broadcast(qterms), Seq("term"))
      .join(dfreq, Seq("term"))
      .join(doclen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      // exact rational BM25 (see scaladoc): all-integer, decimal(38,0)
      // intermediates (num·10⁶ ≈ 8.8e7·N·tf·L overflows int64 at
      // corpus scale), long quotient — engine-version-proof. The
      // decimal factor multiplies in FIRST (r17 review): left-assoc
      // products like (2·N−2·df+1)·22·tf and 9·dl·N ran in pure
      // int64 before _L joined, so the very overflow class the
      // decimal discipline claims to remove survived in the
      // sub-products (wraps non-ANSI, throws ANSI — while DuckDB's
      // HUGEINT keeps computing). Values are unchanged where both
      // spellings fit.
      .withColumn("_L", col("total_len").cast("decimal(38,0)"))
      .withColumn("_num",
        expr("_L * (2 * n_docs - 2 * df + 1) * 22 * tf"))
      .withColumn("_den",
        expr("(2 * df + 1) * (_L * 10 * tf + _L * 3 + " +
          "cast(n_docs as decimal(38,0)) * 9 * dl)"))
      .withColumn("ts_millionths",
        expr("CAST((2 * _num * 1000000 + _den) div (2 * _den) AS BIGINT)"))
    val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts_millionths")).as("score_millionths"),
        count(lit(1)).as("n_matched_terms"))
    val nq = qterms.groupBy(col("query_id")).agg(count(lit(1)).as("n_query_terms"))
    (perDoc, nq)
  }

  /** q169 — HYBRID retrieval with Reciprocal Rank Fusion (Cormack et
    * al. 2009, the k=60 constant): the lexical leg is the q100 BM25
    * top-10 (text probes over the documents corpus), the vector leg is
    * the q50 exact cosine top-10 (each probe id's embedding against the
    * embeddings corpus — the fixture's vec_id ≡ doc_id convention), and
    * the fused score is Σ_legs 1e6 div (60 + rank) — INTEGER micro
    * units, so the fusion is arithmetic-exact on both engines and the
    * gate compares fused scores and ranks, not just ids. This is the
    * production RAG retrieval shape: sparse and dense candidate
    * generation run independently (each already bucketed/broadcast at
    * scale — their own gates' plans), and fusion is a thin groupBy over
    * 2·k·|queries| rows — nothing at corpus scale touches the fusion.
    * Rank determinism rides the proven per-leg tie orders (score desc,
    * id asc — q100/q50's gates) and the fused tie order restates it.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val ids = probeQueries.map(_._1)
    // the lexical leg IS q100 — one spelling (r17 review): a private
    // re-derivation of the same window/cut here could silently drift
    // from the per-leg tie order the fused gate's determinism rides on
    val lex = bm25TopK(spark, dir)
      .select(col("query_id"), col("doc_id"),
        expr("1000000L div (60 + rn)").as("contrib"))
    val emb = Tables.embeddings(spark, dir)
    val vec = graft.operators.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id").isin(ids: _*)), k = 10)
      .select(col("query_id"), col("corpus_id").as("doc_id"),
        expr("1000000L div (60 + rn)").as("contrib"))
    val wFused = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    lex.unionByName(vec)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_micro"), count(lit(1)).as("n_legs"))
      .withColumn("rn", row_number().over(wFused).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"), col("rrf_micro"),
        col("n_legs"), col("rn"))
  }

  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val (perDoc, _) = perDocScored(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score_millionths").desc, col("doc_id").asc)
    perDoc
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("doc_id"), col("score_millionths"),
        col("n_matched_terms"), col("rn"))
  }

  /** q120 — per-document top-3 TF-IDF terms, the classic "what is this
    * document about" signal (and the scoring half of a keyword-based
    * curation probe). Same single-scan postings algebra as BM25 above;
    * the score stays in PURE INTEGER arithmetic end-to-end —
    * `tf · N · 10⁶ div df` (the log-free count-ratio idf) — so there
    * is no float anywhere and the gate is bit-exact by construction,
    * not by rounding discipline. Top-3 per doc is the grouped
    * WindowGroupLimit window: per-partition partial top-k, no global
    * sort.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val postings = postingsArtifact(spark, dir)
    val (_, dfreq, _) = indexStats(spark, dir)
    // n_docs counts ALL documents (a zero-token doc is absent from
    // doclen/stats) — the oracle counts the documents table, so must we
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    postings
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      // DECIMAL(38,0) numerator (the q100/q171 overflow discipline):
      // tf*n_docs*1e6 passes int64 around n_docs ~ 3e6 — at corpus
      // scale ANSI mode would throw while DuckDB's HUGEINT keeps
      // computing; div on decimals is the same truncating integral
      // divide, so gate values are unchanged
      .withColumn("score_micro",
        expr("(cast(tf as decimal(38,0)) * n_docs * 1000000) div df"))
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("score_micro"), col("rn"))
  }

  /** q129 — term co-occurrence with a log-free association score: for
    * every unordered term pair, the number of documents containing
    * both, plus `lift_micro = n_both · N · 10⁶ div (df_a · df_b)` —
    * the PMI ratio without the log, in pure integer arithmetic (the
    * log is monotone, so ranking/thresholding by lift ≡ by PMI). This
    * is the co-occurrence-matrix build step under word-embedding /
    * collocation pipelines. Scale shape: the pair space comes from a
    * per-document self-join of the DISTINCT-term postings — Σ_d (t_d
    * choose 2) pairs, never |vocab|² against the corpus — and at
    * production scale the postings are first pruned to a top-k
    * vocabulary (here the whole vocab already fits), keeping t_d
    * bounded.
    */
  def termCooccurrence(spark: SparkSession, dir: String): DataFrame =
    // session ARTIFACT, not a per-invocation plan (r18 review): q135
    // and q156 each re-ran the Sigma(t_d choose 2) pair self-join just
    // to rebuild the identical lift >= 1 edge list — the term graph is
    // ingest-time state beside the corpus (the media_sigs/postings
    // convention); one build per (session, dir), every consumer scans
    // the columnar table
    graft.sources.ArtifactStore.parquet(spark, dir, "term_cooc") {
      termCooccurrenceBuild(spark, dir)
    }

  private def termCooccurrenceBuild(spark: SparkSession, dir: String): DataFrame = {
    // the tf-postings artifact is already distinct per (doc, term) —
    // dropping tf IS the distinct-postings table, no extra shuffle
    val postings = postingsArtifact(spark, dir)
      .select(col("doc_id"), col("term"))
    val (_, dfreq, _) = indexStats(spark, dir)
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val pairs = postings.as("a")
      .join(postings.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(dfreq.withColumnRenamed("term", "term_a").withColumnRenamed("df", "df_a"), Seq("term_a"))
      .join(dfreq.withColumnRenamed("term", "term_b").withColumnRenamed("df", "df_b"), Seq("term_b"))
      .crossJoin(broadcast(n))
      // DECIMAL(38,0) on both operands (see q120's note): numerator
      // AND the df_a*df_b denominator product pass int64 at corpus
      // scale
      .withColumn("lift_micro",
        expr("(cast(n_both as decimal(38,0)) * n_docs * 1000000)" +
          " div (cast(df_a as decimal(38,0)) * df_b)"))
      .select(col("term_a"), col("term_b"), col("n_both"),
        col("df_a"), col("df_b"), col("lift_micro"))
  }

  /** q135 — triangle counting over the positively-associated term
    * graph (q129's co-occurrence edges with lift ≥ 1), via
    * DEGREE-ORDERED ORIENTATION (r11 — the compact-forward /
    * node-iterator++ algorithm, the production shape for skewed
    * graphs): every edge is oriented from its lower-(degree, name)
    * endpoint to the higher, each triangle then has exactly ONE vertex
    * with two out-edges into it (its minimum-rank corner), so wedges
    * are pairs of out-edges at a common source and a triangle closes
    * with one equi-join back onto the oriented edge set. The payoff
    * over plain lexicographic ordering is the wedge fan-out bound: a
    * hub of degree d contributes C(d,2) lexicographic wedges, but its
    * ORIENTED out-degree is O(√m) on any graph (a vertex only points
    * at neighbors of equal-or-higher degree), so the join's per-key
    * fan-in — the straggler term on a power-law term graph at
    * 100 TB — is bounded by √m instead of max-degree². Same three
    * joins, same exactly-once count, no row compared twice. Pure
    * integer gate: (n_nodes, n_edges, n_triangles).
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    // multiple consumers (degree build, both orientation legs, nodes/
    // edges scalars) — materialize the small edge list once instead of
    // re-running the co-occurrence pipeline per consumer
    val e = Materialize.local(termCooccurrence(spark, dir)
      .filter(col("lift_micro") >= 1000000L)
      .select(col("term_a"), col("term_b")), "RetrievalQ.triangleCount edges (aggregate)")
    val deg = e.select(col("term_a").as("t"))
      .unionByName(e.select(col("term_b").as("t")))
      .groupBy(col("t")).agg(count(lit(1)).as("deg"))
    // orient low-rank → high-rank; the destination's rank rides along
    // so the wedge join can order its two legs without re-joining deg
    val lowFirst = e
      .join(deg.select(col("t").as("term_a"), col("deg").as("deg_a")),
        Seq("term_a"))
      .join(deg.select(col("t").as("term_b"), col("deg").as("deg_b")),
        Seq("term_b"))
      .withColumn("fwd", col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("term_a") < col("term_b")))
    // three consumers: both wedge legs + close
    val o = Materialize.local(lowFirst.select(
        when(col("fwd"), col("term_a")).otherwise(col("term_b")).as("src"),
        when(col("fwd"), col("term_b")).otherwise(col("term_a")).as("dst"),
        when(col("fwd"), col("deg_b")).otherwise(col("deg_a")).as("dst_deg")),
      "RetrievalQ.triangleCount oriented edges (aggregate)")
    val wedges = o.as("o1").join(o.as("o2"),
      col("o1.src") === col("o2.src") &&
        (col("o1.dst_deg") < col("o2.dst_deg") ||
          (col("o1.dst_deg") === col("o2.dst_deg") &&
            col("o1.dst") < col("o2.dst"))))
    val tris = wedges.join(o.as("o3"),
        col("o3.src") === col("o1.dst") && col("o3.dst") === col("o2.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edges).crossJoin(tris)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** q156 — 2-HOP REACHABILITY over the q129/q135 positively-associated
    * term graph: per node, direct-neighbor count and the distinct set
    * reachable within two hops (self excluded) — the k-hop expansion
    * primitive (query expansion / feature neighborhoods), expressed as
    * ordered-edge self-joins so each wedge materializes once and the
    * distinct collapses on the (node, neighbor) shuffle key. Same scale
    * note as q135: wedge fan-out is bounded by max degree, and at
    * 100 TB the standard refinement is degree-ordered orientation —
    * the join shape is already that.
    */
  def twoHopReach(spark: SparkSession, dir: String): DataFrame = {
    // three consumers: und's two legs + reuse
    val e = Materialize.local(termCooccurrence(spark, dir)
      .filter(col("lift_micro") >= 1000000L)
      .select(col("term_a"), col("term_b")), "RetrievalQ.twoHopReach edges (aggregate)")
    // undirected adjacency, each edge once per direction; e is distinct
    // (a < b), so und is distinct by construction. Consumers: n1, the
    // wedge join (both legs), reach
    val und = Materialize.local(e.unionByName(
        e.select(col("term_b").as("term_a"), col("term_a").as("term_b"))),
      "RetrievalQ.twoHopReach adjacency (aggregate)")
    val n1 = und.groupBy(col("term_a").as("node"))
      .agg(count(lit(1)).as("n_1hop"))
    val nb2 = und.as("x").join(und.as("y"), col("x.term_b") === col("y.term_a"))
      .select(col("x.term_a").as("node"), col("y.term_b").as("nb"))
      .filter(col("node") =!= col("nb"))
    val reach = und.select(col("term_a").as("node"), col("term_b").as("nb"))
      .unionByName(nb2).distinct()
      .groupBy(col("node")).agg(count(lit(1)).as("n_2hop_reach"))
    n1.join(reach, Seq("node"))
      .select(col("node"), col("n_1hop"), col("n_2hop_reach"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q135_triangle_count" -> (triangleCount _),
    "q156_two_hop_reach" -> (twoHopReach _),
    "q100_bm25_topk" -> (bm25TopK _),
    "q169_hybrid_rrf" -> (hybridRrf _),
    "q120_tfidf_topterms" -> (tfidfTopTerms _),
    "q129_term_cooccurrence" -> (termCooccurrence _))


  val oracles: Map[String, String] = Map(
    "q156_two_hop_reach" ->
      s"""WITH postings AS (
         |  SELECT DISTINCT doc_id, u.term
         |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_both
         |  FROM postings a JOIN postings b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2),
         |e AS (
         |  SELECT p.term_a, p.term_b
         |  FROM pairs p
         |  JOIN dfreq da ON p.term_a = da.term
         |  JOIN dfreq db ON p.term_b = db.term
         |  CROSS JOIN n
         |  WHERE (p.n_both * n.n_docs * 1000000) // (da.df * db.df) >= 1000000),
         |und AS (SELECT term_a, term_b FROM e
         |        UNION ALL SELECT term_b, term_a FROM e),
         |n1 AS (SELECT term_a AS node, count(*) AS n_1hop FROM und GROUP BY 1),
         |nb2 AS (
         |  SELECT x.term_a AS node, y.term_b AS nb
         |  FROM und x JOIN und y ON x.term_b = y.term_a
         |  WHERE x.term_a <> y.term_b),
         |reach AS (
         |  SELECT DISTINCT node, nb FROM (
         |    SELECT term_a AS node, term_b AS nb FROM und
         |    UNION ALL SELECT node, nb FROM nb2)),
         |r AS (SELECT node, count(*) AS n_2hop_reach FROM reach GROUP BY node)
         |SELECT n1.node, n1.n_1hop, r.n_2hop_reach
         |FROM n1 JOIN r ON n1.node = r.node""".stripMargin,
    "q135_triangle_count" ->
      s"""WITH postings AS (
         |  SELECT DISTINCT doc_id, u.term
         |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_both
         |  FROM postings a JOIN postings b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2),
         |e AS (
         |  SELECT p.term_a, p.term_b
         |  FROM pairs p
         |  JOIN dfreq da ON p.term_a = da.term
         |  JOIN dfreq db ON p.term_b = db.term
         |  CROSS JOIN n
         |  WHERE (p.n_both * n.n_docs * 1000000) // (da.df * db.df) >= 1000000),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM e e1
         |  JOIN e e2 ON e1.term_b = e2.term_a
         |  JOIN e e3 ON e3.term_a = e1.term_a AND e3.term_b = e2.term_b),
         |nodes AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM (
         |    SELECT term_a AS t FROM e UNION SELECT term_b AS t FROM e)),
         |edges AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         |SELECT n_nodes, n_edges, n_triangles
         |FROM nodes CROSS JOIN edges CROSS JOIN tri""".stripMargin,
    "q129_term_cooccurrence" ->
      s"""WITH postings AS (
         |  SELECT DISTINCT doc_id, u.term
         |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_both
         |  FROM postings a JOIN postings b
         |    ON a.doc_id = b.doc_id AND a.term < b.term
         |  GROUP BY 1, 2)
         |SELECT p.term_a, p.term_b, p.n_both, da.df AS df_a, db.df AS df_b,
         |  (p.n_both * n.n_docs * 1000000) // (da.df * db.df) AS lift_micro
         |FROM pairs p
         |JOIN dfreq da ON p.term_a = da.term
         |JOIN dfreq db ON p.term_b = db.term
         |CROSS JOIN n""".stripMargin,
    "q120_tfidf_topterms" ->
      s"""WITH toks AS (
         |  SELECT doc_id, u.term
         |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
         |       unnest(ts) u(term)),
         |postings AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT p.doc_id, p.term, p.tf,
         |    (p.tf * n.n_docs * 1000000) // d.df AS score_micro
         |  FROM postings p JOIN dfreq d ON p.term = d.term CROSS JOIN n),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score_micro DESC, term ASC) AS INT) AS rn
         |  FROM scored)
         |SELECT doc_id, term, tf, score_micro, rn
         |FROM ranked WHERE rn <= 3""".stripMargin,
    "q100_bm25_topk" ->
      s"""WITH ${bm25PerDocCte(probeQueries)},
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_millionths DESC, doc_id ASC) AS INT) AS rn
         |  FROM per_doc)
         |SELECT query_id, doc_id, score_millionths, n_matched_terms, rn
         |FROM ranked WHERE rn <= 10""".stripMargin,
    // the q100 BM25 CTE and the q50 cosine CTE verbatim, fused with
    // integer 1e6 // (60 + rank) contributions — rank determinism and
    // the round-6 cosine equality are each proven by their own gates
    "q169_hybrid_rrf" ->
      s"""WITH ${bm25PerDocCte(probeQueries)},
         |lex AS (
         |  SELECT query_id, doc_id,
         |    CAST(1000000 // (60 + rn) AS BIGINT) AS contrib
         |  FROM (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY score_millionths DESC, doc_id ASC) AS rn
         |        FROM per_doc) WHERE rn <= 10),
         |vq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |       FROM embeddings
         |       WHERE vec_id IN (${probeQueries.map(_._1).mkString(", ")})),
         |vc AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv
         |       FROM embeddings),
         |sims AS (
         |  SELECT query_id, corpus_id,
         |    floor(list_cosine_similarity(qv, cv) * 1000000 + 0.5) / 1000000 AS sim
         |  FROM vq JOIN vc ON corpus_id <> query_id),
         |vec AS (
         |  SELECT query_id, corpus_id AS doc_id,
         |    CAST(1000000 // (60 + rn) AS BIGINT) AS contrib
         |  FROM (SELECT query_id, corpus_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY sim DESC, corpus_id ASC) AS rn
         |        FROM sims) WHERE rn <= 10),
         |fused AS (
         |  SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_micro,
         |    count(*) AS n_legs
         |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
         |  GROUP BY query_id, doc_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_micro DESC, doc_id ASC) AS INT) AS rn
         |  FROM fused)
         |SELECT query_id, doc_id, rrf_micro, n_legs, rn
         |FROM ranked WHERE rn <= 10""".stripMargin)

  /** Shared oracle CTE chain — probes through `per_doc(query_id,
    * doc_id, score_millionths, n_matched_terms)` plus `nq(query_id,
    * n_query_terms)` — the SQL mirror of [[perDocScored]], all-integer
    * (HUGEINT intermediates mirror the Spark side's decimal(38,0)).
    * One definition serves q100's and q131's oracles so the two gates
    * can never drift apart on the kernel.
    */
  private[queries] def bm25PerDocCte(probes: Seq[(Int, String)]): String = {
    val values = probes.map { case (id, q) => s"($id, '$q')" }.mkString(", ")
    s"""probes(query_id, qtext) AS (VALUES $values),
       |qt AS (
       |  SELECT DISTINCT query_id, u.term
       |  FROM (SELECT query_id, ${OracleSql.tokens("qtext")} AS ts FROM probes),
       |       unnest(ts) u(term)),
       |nq AS (SELECT query_id, count(*) AS n_query_terms FROM qt GROUP BY query_id),
       |toks AS (
       |  SELECT doc_id, u.term
       |  FROM (SELECT doc_id, ${OracleSql.tokens("text")} AS ts FROM documents),
       |       unnest(ts) u(term)),
       |postings AS (
       |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
       |doclen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM doclen),
       |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
       |scored AS (
       |  SELECT query_id, doc_id,
       |    CAST((2 * num * 1000000 + den) // (2 * den) AS BIGINT) AS ts_millionths
       |  FROM (
       |    SELECT qt.query_id, p.doc_id,
       |      (2 * s.n_docs - 2 * d.df + 1) * 22 * p.tf
       |        * CAST(s.total_len AS HUGEINT) AS num,
       |      (2 * d.df + 1) * (10 * p.tf * CAST(s.total_len AS HUGEINT)
       |        + 3 * CAST(s.total_len AS HUGEINT) + 9 * l.dl * s.n_docs) AS den
       |    FROM postings p
       |    JOIN qt ON p.term = qt.term
       |    JOIN dfreq d ON p.term = d.term
       |    JOIN doclen l ON p.doc_id = l.doc_id
       |    CROSS JOIN stats s)),
       |per_doc AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(ts_millionths) AS BIGINT) AS score_millionths,
       |    count(*) AS n_matched_terms
       |  FROM scored GROUP BY query_id, doc_id)""".stripMargin
  }
}

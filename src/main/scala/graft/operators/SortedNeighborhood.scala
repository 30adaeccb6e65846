package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sorted Neighborhood Method (SNM) — the linear-time alternative to
  * all-pairs similarity joins: order the corpus by a similarity-
  * preserving key, then compare each record only against its `w`
  * predecessors in that order (Hernández & Stolfo, SIGMOD '95).
  *
  * The candidate count is exactly `w × n` regardless of how clustered
  * the data is, so the plan survives any scale-up — unlike within-block
  * all-pairs joins, whose cost grows quadratically with block size.
  * Recall is governed by how well the sort key clusters true pairs
  * (measured in SortedNeighborhoodSpec); precision is 1 because every
  * emitted pair is exactly verified.
  *
  * Everything here is deterministic (total sort order, fixed window), so
  * the whole operator is reproducible in ANSI SQL via a global
  * row_number — which is what lets q43 stay hash-gated against DuckDB.
  */
object SortedNeighborhood {

  /** Global 0-based rank in total `sortCols` order, computed scale-out:
    * range-partition + local sort + zipWithIndex (partition-count
    * offsets), NOT a single-partition window. `sortCols` must be a total
    * order (include a unique id as the last key) for the rank to be
    * deterministic. The one RDD hop in this file is deliberate:
    * zipWithIndex is the distributed global-rank idiom, and no
    * Expression/window form avoids the single-task sort.
    */
  def globalRank(df: DataFrame, sortCols: Seq[Column], rankCol: String = "rnk"): DataFrame = {
    require(!df.columns.contains(rankCol),
      s"column '$rankCol' already exists — pass a different rankCol " +
        "(a duplicate name makes every downstream reference ambiguous)")
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    val outSchema = sorted.schema.add(rankCol, LongType, nullable = false)
    // zipWithIndex = one lightweight count-per-partition job + a map;
    // the index is the position in the TOTAL sort order, so it does not
    // depend on where the range boundaries landed.
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Candidate pairs = each row × its `window` predecessors in global
    * `sortCols` order that share `blockCols` (equi-join keys — the
    * neighborhood never crosses a block boundary). Emits both sides'
    * columns suffixed `_a`/`_b`; callers verify + filter. The probe-key
    * explode keeps this a pure equi-join: no range join, no all-pairs.
    */
  /** Same-block CONTIGUITY is guaranteed by the operator itself (r16
    * review finding): the window runs over the GLOBAL rank and is then
    * filtered by block equality, so if same-block rows were not
    * contiguous in the total order, a row's `window` predecessors
    * could contain zero same-block rows and true near-dup pairs would
    * silently never emit. Instead of trusting callers to lead their
    * sort with the block columns, the rank ALWAYS sorts by
    * (blockCols, sortCols) — idempotent for callers that already led
    * with them, and `sortCols` is simply the within-block order.
    */
  /** SKINNY-PROBE SHAPE (r16 verdict #3): the w-predecessor probe
    * explode and its shuffle carry ONLY (blockCols, rank) — on a wide
    * corpus the old spelling replicated the b-side payload `window`
    * times through the candidate exchange. Payloads re-join ONCE per
    * side at the end, each an equi-join on the unique global rank, so
    * total payload bytes through exchanges are 2× the corpus instead
    * of (window+1)×. SortedNeighborhoodSpec pins the contract on the
    * optimized plan: the Generate (explode) node's output holds no
    * payload column.
    */
  def candidatePairs(df: DataFrame, blockCols: Seq[String], sortCols: Seq[Column],
                     window: Int): DataFrame = {
    require(window > 0)
    Scratch.requireFree("candidatePairs", df.columns, c => c == "rnk_b" || c.startsWith("_sn_"))
    // lazy checkpoint: the rank table has FOUR consumers (two skinny
    // candidate legs + one payload re-join per side), and the ranked
    // RDD's post-shuffle sort would otherwise rerun once per consumer
    // (column pruning diverges their projections, so no exchange
    // reuse). One materialization into block storage instead — the
    // PrefixScan convention; a production pipeline at
    // persistent scale writes the ranked table to a table instead.
    val ranked = globalRank(df, blockCols.map(col) ++ sortCols, "rnk")
      .localCheckpoint(false)
    val payload = ranked.columns.filterNot(c => blockCols.contains(c) || c == "rnk").toSeq
    val aKeys = ranked.select(blockCols.map(col) :+ col("rnk"): _*)
    val bKeys = ranked.select(blockCols.map(col) :+ col("rnk").as("rnk_b"): _*)
      .select(blockCols.map(col) ++ Seq(col("rnk_b"),
        explode(sequence(col("rnk_b") + 1, col("rnk_b") + window)).as("rnk")): _*)
    // (blockCols, rnk = successor a's rank, rnk_b = predecessor b's).
    // NULL-SAFE on the block keys (r18 review): globalRank sorts the
    // NULL block contiguously (asc_nulls_first), but the old
    // name-based equi-join dropped every pair inside it — true
    // near-dups in a NULL-valued block (lang unknown, source missing)
    // were silently never compared. Same class and same fix as
    // DistributedSelection's null group: <=> keys, still a hash join.
    val bSafe = bKeys.select(blockCols.map(c => col(c).as(s"_sn_$c")) ++
      Seq(col("rnk_b"), col("rnk").as("_sn_rnk")): _*)
    val joinCond = blockCols
      .map(c => col(c) <=> col(s"_sn_$c"))
      .foldLeft(col("rnk") === col("_sn_rnk"))(_ && _)
    val pairs = aKeys.join(bSafe, joinCond)
      .drop("_sn_rnk").drop(blockCols.map(c => s"_sn_$c"): _*)
    val payA = ranked.select(col("rnk") +: payload.map(c => col(c).as(s"${c}_a")): _*)
    val payB = ranked.select(col("rnk").as("rnk_b") +:
      payload.map(c => col(c).as(s"${c}_b")): _*)
    pairs.join(payA, Seq("rnk")).join(payB, Seq("rnk_b"))
      .select(blockCols.map(col) ++ payload.map(c => col(s"${c}_a")) ++
        payload.map(c => col(s"${c}_b")): _*)
  }
}

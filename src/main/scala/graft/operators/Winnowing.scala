package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD '03): hash every k-gram, slide a w-window over positions,
  * keep each window's minimum hash; the distinct kept hashes are the
  * document's fingerprints. Guarantee: any match of length ≥ w + k − 1
  * between two documents shares at least one selected print, with an
  * expected density of 2/(w+1) — the local algorithm the paper proves
  * optimal within 33% of the density lower bound.
  *
  * Plan shape: one posexplode pass, one per-document ordered window
  * (partitioned by doc — distributes), one distinct. The hash is
  * deliberately PORTABLE (md5 tail, not xxhash) so the whole operator
  * is reproducible in plain SQL and can sit under the DuckDB hash gate.
  */
object Winnowing {

  /** 60-bit portable k-gram hash: low 15 hex chars of md5 — exactly
    * `CAST('0x' || substr(md5(s), 18, 15) AS BIGINT)` in DuckDB.
    * Computed by the codegen'd [[graft.functions.Md5Low60]] directly
    * from digest bytes (no hex string / substring / base-16 parse per
    * row); WinnowingSpec pins bit-equality with the SQL form.
    */
  def portableHash(s: Column): Column =
    graft.functions.Md5Functions.md5_low60(s)

  /** Contamination check — the decontamination primitive: one row per
    * CONTAMINATED non-benchmark document with its shared-print count
    * `n_shared` (always ≥ 1). Clean documents — zero shared prints,
    * or too short to select any print (< w k-grams) — emit NO row
    * (r18 review: the contract is screen-only; consumers purge by
    * anti-joining the reported ids, never by joining expecting a row
    * per corpus doc). Any verbatim overlap of
    * length ≥ w + k − 1 tokens is guaranteed to surface (the winnowing
    * guarantee), so `n_shared > 0` is a sound screen for benchmark
    * leakage. Plan: ONE print pass over the whole table (the benchmark
    * flag rides through as a payload column, so corpus and benchmark
    * prints come out of one scan + one explode + one window — round 2
    * ran the pipeline twice), then a per-print window marks prints seen
    * in any benchmark row. No diamond: splitting corpus/benchmark into
    * two plan branches lets predicate pushdown clone the whole explode
    * subtree per branch (measured: 6 scans). Per-print partition size
    * is bounded by document count per print — the same fan-in the
    * equi-join formulation has on its hot keys. Never a text×text
    * comparison.
    */
  def contamination(all: DataFrame, isBenchmark: Column, k: Int, w: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    Scratch.requireFree("Winnowing.contamination", all.columns, Set("_wn_bench", "_wn_hit"))
    // a NULL flag (e.g. isBenchmark = source === "x" over a NULL
    // source) must screen the row as CORPUS, not silently exempt it
    // from decontamination (!NULL is NULL and drops the row, r16)
    val prints = selectedPrints(
      all.withColumn("_wn_bench", coalesce(isBenchmark, lit(false))),
      k, w, idCol, textCol,
      payload = Seq("_wn_bench"))
    val inBench = max(when(col("_wn_bench"), lit(1)).otherwise(lit(0)))
      .over(Window.partitionBy(col("print")))
    prints
      .withColumn("_wn_hit", inBench)
      .filter(!col("_wn_bench") && col("_wn_hit") === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** (id, payload..., print) — the distinct selected fingerprints per
    * document. Documents with fewer than `w` k-grams select nothing
    * (the paper's windows are only defined once w k-grams exist).
    *
    * The whole hash → sliding-min → distinct selection happens INSIDE
    * each document's row ([[graft.functions.WinnowSelect]], codegen'd):
    * no per-k-gram explode, no shuffle, no sort — only the selected
    * prints are ever exploded into rows.
    *
    * `payload` names document-constant columns to carry through the
    * explode — consumers that need them (e.g. a per-source rollup) then
    * avoid re-scanning the corpus to join them back on the id.
    */
  def selectedPrints(docs: DataFrame, k: Int, w: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     payload: Seq[String] = Nil): DataFrame = {
    require(k > 0 && w > 1)
    val carried = (idCol +: payload).map(col)
    docs.select(carried :+
      explode(graft.functions.WinnowFunctions.winnow_select(
        TextFunctions.tokens(col(textCol)), k, w)).as("print"): _*)
  }
}

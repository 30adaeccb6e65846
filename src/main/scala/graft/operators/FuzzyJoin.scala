package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance-≤1 self-join via deletion-neighborhood blocking
  * (the FastSS scheme, Bocek et al. 2007 — public algorithm).
  *
  * Two strings are within Levenshtein distance 1 iff they share a
  * member of their deletion neighborhoods in a compatible way:
  *  - deletion/insertion: one string IS a 1-deletion of the other;
  *  - substitution: deleting the differing position from both yields
  *    the same string.
  * So emitting, per record, the string itself plus every single-char
  * deletion (≤ len+1 keys), and equi-joining on that key, is a
  * COMPLETE candidate generator for ED ≤ 1 — every true pair shares a
  * key (proved by the case split above; `FuzzyJoinSpec` checks it
  * against an exhaustive scan). The final `levenshtein ≤ 1` filter
  * then removes the false candidates the shared-key relaxation admits
  * (e.g. two different substitutions, or a transposition like
  * "ab"/"ba", each share keys but sit at distance 2).
  *
  * Scale shape: candidates come from an equi-join on the variant key —
  * O(len) keyed rows per record, shuffled on the key — never an
  * all-pairs product; the quadratic blowup is confined to records
  * sharing a key (near-identical strings), exactly the set a human
  * would call "the matches". The levenshtein verify runs only on
  * candidate pairs. This is the exact-guarantee complement to the
  * heuristic blockers in this repo ([[SortedNeighborhood]] windows a
  * global sort; MinHash/SimHash in [[Dedup]] bound similarity
  * probabilistically): for ED ≤ 1 the deletion join provably misses
  * nothing.
  */
object FuzzyJoin {

  /** All ED-≤1 pairs (id_a < id_b) within `df(id, name)`; output
    * (id_a, id_b, name_a, name_b, dist).
    */
  def ed1Pairs(df: DataFrame): DataFrame = {
    // the record itself + each single-character deletion, deduped
    // per record (deleting any of a run of equal chars yields the
    // same variant — "000" has one distinct deletion, not three)
    val variants = Materialize.local(df.select(col("id"), col("name"),
      explode(array_distinct(concat(
        array(col("name")),
        expr("""transform(sequence(1, length(name)),
                i -> concat(substring(name, 1, i-1),
                            substring(name, i+1, length(name))))""")
      ))).as("variant")),
      // the deletion-neighborhood explode — and everything upstream of
      // df — feeds BOTH legs of the self-join below; one
      // materialization instead of two runs of the candidate generation
      "FuzzyJoin.ed1Pairs variants (operator input)")
    val cand = variants.as("a")
      .join(variants.as("b"),
        col("a.variant") === col("b.variant") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      // a true pair shares several keys (every position not involved
      // in the edit) — dedup BEFORE the verify so levenshtein runs
      // once per pair, not once per shared key
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("int"))
      .filter(col("dist") <= 1)
  }
}

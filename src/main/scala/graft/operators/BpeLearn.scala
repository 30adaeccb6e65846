package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning (Sennrich et al. 2016, public
  * algorithm) as distributed DataFrame algebra: the step that TRAINS a
  * subword tokenizer from a corpus (q49/q105 apply a fixed
  * segmentation; this learns the merge table).
  *
  * Each word is held as a space-separated symbol string (" j o i n ");
  * one learning step = (1) weighted adjacent-pair counts — a lambda
  * projection + one partial-agg groupBy over the VOCABULARY table
  * (corpus text is touched once, to build word frequencies; iterations
  * never rescan it), (2) argmax pair by (count desc, pair asc) —
  * a one-row collect, the learned-artifact driver contract shared
  * with k-means centers and the PQ codebook, (3) merge application
  * via single-pass string replace.
  *
  * Exactness note: `replace` consumes matched text left-to-right
  * without re-examining the replacement, so in an odd run of the same
  * pair ("a a a") the boundary space of a replaced occurrence is not
  * available to the next ("x y x y" needs no second pass only when
  * separators survive) — a deviation from reference BPE's
  * re-greedy-scan on repeats. Both engines implement the identical
  * single-pass semantics (Spark UTF8String.replace ≡ DuckDB replace),
  * so the gate compares bit-equal merge tables; a production
  * tokenizer-trainer would iterate to a fixpoint per merge.
  */
object BpeLearn {

  /** " j o i n " — leading/trailing-spaced symbol string of a word. */
  def spaced(word: Column): Column =
    // (?s): a bare "." skips line terminators, gluing \n to the next
    // symbol and silently corrupting the char-level init for any
    // caller that feeds non-whitespace-split text (r16)
    concat(lit(" "), regexp_replace(word, "(?s)(.)", "$1 "))

  /** ENCODE: apply an ordered merge list to a spaced-symbol column —
    * the tokenizer-application half ([[learn]] is the training half).
    * Each merge is one codegen'd single-pass `replace`, identical to
    * the replace the learner used, so applying the learned table to
    * the training vocabulary reproduces the training segmentation
    * exactly. The merge list is a driver-held artifact (like k-means
    * centers / the PQ codebook); at 100 TB the chain runs over the
    * DISTINCT-word vocabulary and segmentations join back to the
    * corpus by word — the corpus text itself is never re-scanned per
    * merge.
    */
  def applyMerges(df: DataFrame, sCol: String, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(df) { case (d, (l, r)) =>
      d.withColumn(sCol, replace(col(sCol),
        concat_ws("", lit(" "), lit(l), lit(" "), lit(r), lit(" ")),
        concat_ws("", lit(" "), lit(l), lit(r), lit(" "))))
    }

  /** Learn `steps` merges from `words(s, freq)` (s pre-`spaced`).
    * Returns (step, left, right, weighted pair count at selection).
    */
  def learn(words: DataFrame, steps: Int): Seq[(Int, String, String, Long)] = {
    // materialize the vocab base once: step k's argmax job then reads
    // cached vocab blocks + a k-replace chain (vocab-sized, cheap).
    // Shuffle-stage skipping already avoids corpus re-scans across
    // steps; the checkpoint makes that a guarantee instead of a
    // scheduler behavior. (Do NOT checkpoint per step: caching each
    // chain state costs more than the length-k column chain it saves —
    // measured 5× slower at sf0.1.)
    var cur = Materialize.local(words, "BpeLearn.learn words (vocabulary)")
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val pairs = cur
        .select(expr("split(trim(s), ' ')").as("a"), col("freq"))
        // a fully-merged (or single-char) word has no adjacent pair;
        // without the guard sequence(0, -1) DESCENDS and a[1] throws
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS l, a[i + 1] AS r))")).as("p"),
          col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) {
        // vocabulary fully merged before `steps` merges: stop with the
        // merges learned so far instead of indexing an empty result
        exhausted = true
      } else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        // literal columns, not string-interpolated SQL — symbols come
        // from corpus text and must never be parsed as syntax
        cur = cur.withColumn("s", replace(col("s"),
          concat_ws("", lit(" "), lit(l), lit(" "), lit(r), lit(" ")),
          concat_ws("", lit(" "), lit(l), lit(r), lit(" "))))
        merges += ((step, l, r, cnt))
        step += 1
      }
    }
    merges.result()
  }
}

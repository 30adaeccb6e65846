package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Distinct hashes of all k-token shingles of a token array, computed
  * WITHOUT materializing shingle strings.
  *
  * The string pipeline (`transform(sequence…, concat_ws(slice…))`)
  * allocates O(n·k) strings per document just to hash and discard them —
  * the dominant cost of MinHash at corpus scale. Here each token is
  * hashed once (xxHash64, seed 42, same family as Spark's xxhash64) and
  * a k-window combiner folds consecutive token hashes into one shingle
  * hash in a single pass: O(n·k) long-mixes, zero allocation beyond the
  * output.
  *
  * Hash-set Jaccard over these equals string-shingle Jaccard up to
  * 2^-64 collisions — the standard trade for near-dup detection.
  * Documents with fewer than k tokens yield ONE shingle hash over all
  * their tokens (mirrors [[TextFunctions.shingles]]).
  */
case class ShingleHashes(child: Expression, k: Int, dedup: Boolean = true)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    ShingleRuntime.shingleHashes(input.asInstanceOf[ArrayData], k, dedup)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // single static call into the shared kernel (the DupGramStats /
    // TopGramStats shape — r18 review: the token-xxhash + FNV-chain
    // convention existed in FOUR spellings, and an edit to one would
    // silently break the documented hash-equality between
    // shingle_hashes, dup_gram_stats and top_gram_stats with no
    // compile-time signal; Janino compiles one invocation, HotSpot
    // inlines it, so nothing is lost over the inline template)
    nullSafeCodeGen(ctx, ev, a => s"""
         |${ev.value} = graft.functions.ShingleRuntime.shingleHashes($a, $k, $dedup);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document duplicated-gram statistics in one pass: `[total, dup]`
  * where `total` is the number of k-gram positions and `dup` the number
  * of positions whose gram occurs more than once in the document.
  *
  * This is the in-row form of `explode(shingle_hashes_all) →
  * groupBy(doc, gram).count → groupBy(doc).sum(c where c > 1)`: a
  * per-DOCUMENT statistic that never crosses rows, so expressing it as
  * two shuffles over the exploded gram stream (~10× the corpus row
  * count) is pure waste at any scale. Gram hashing is identical to
  * [[ShingleHashes]] (dedup = false semantics: < k tokens → one gram
  * over all tokens), so counts by equal hash equal counts by equal
  * string at 2^-64 collision odds. Duplicates are counted by sorting
  * the per-doc hash array and summing run lengths > 1 — O(m log m)
  * in-row, zero exchange.
  */
case class DupGramStats(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"gram size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      ShingleRuntime.dupGramStats(input.asInstanceOf[ArrayData], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // single static call into the shared kernel (the TopGramStats
    // shape): Janino compiles one invocation, HotSpot inlines it, and
    // the gram-hash convention has one spelling to maintain
    nullSafeCodeGen(ctx, ev, a => s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleRuntime.dupGramStats($a, $k));
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared runtime for [[TopGramStats]] — one implementation serving
  * both the interpreted path and the generated code (the codegen emits
  * a single static call, which Janino compiles and HotSpot inlines;
  * the loop itself has no per-row shape that would benefit from
  * specialization the way the pure-long kernels above do).
  */
object ShingleRuntime {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  // a NULL token hashes as the EMPTY string (r18 review): the old raw-0
  // slot made hash-identity disagree with [[gram]]'s string render
  // (null → "" with separators kept), so tokens ["a", null] and
  // ["a", ""] counted in different buckets yet rendered identically.
  // One convention everywhere now: null ≡ "" — unreachable from
  // [[TextFunctions.tokens]] (containsNull = false), but consistent
  // for any future caller that passes a nullable array.
  private val NullTokenHash: Long = {
    val e = org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(e.getBaseObject, e.getBaseOffset, 0, 42L)
  }

  /** ALL rolled k-gram hashes of a token array, in position order —
    * THE one spelling of the gram-hash convention (token xxHash64 seed
    * 42 → FNV-1a-style chain from the offset-basis seed with a >>>29
    * finisher per step; fewer than k tokens → ONE whole-array gram).
    * [[ShingleHashes]] (both modes), [[DupGramStats]] and
    * [[TopGramStats]] all consume this, so their documented
    * hash-equality is structural, not a convention four copies had to
    * preserve by hand (r18 review).
    */
  def rolledHashes(arr: ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) th(i) = NullTokenHash
      else {
        val s = arr.getUTF8String(i)
        th(i) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      }
      i += 1
    }
    val m = if (n <= k) 1 else n - k + 1
    val w = if (n <= k) n else k
    val hs = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = -3750763034362895579L  // FNV offset basis as chain seed
      var j = 0
      while (j < w) {
        h = (h ^ th(i + j)) * 1099511628211L
        h ^= (h >>> 29)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    hs
  }

  /** [[ShingleHashes]]'s kernel: the rolled gram hashes, optionally
    * distinct via sort+unique (no hash-set dependency, cache-friendly).
    */
  def shingleHashes(arr: ArrayData, k: Int, dedup: Boolean): ArrayData = {
    val hs = rolledHashes(arr, k)
    if (!dedup) return new GenericArrayData(hs)
    val m = hs.length
    java.util.Arrays.sort(hs)
    var u = 0
    var i = 0
    while (i < m) {
      if (i == 0 || hs(i) != hs(i - 1)) { hs(u) = hs(i); u += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, u))
  }

  /** `[n_grams, n_dup_grams]` over the [[rolledHashes]] — the
    * [[DupGramStats]] kernel as ONE static (both its eval and codegen
    * call here, the [[TopGramStats]] shape).
    */
  def dupGramStats(arr: ArrayData, k: Int): Array[Long] = {
    val hs = rolledHashes(arr, k)
    val m = hs.length
    java.util.Arrays.sort(hs)
    var dup = 0L
    var i = 0
    while (i < m) {
      var j = i
      while (j + 1 < m && hs(j + 1) == hs(i)) j += 1
      if (j > i) dup += (j - i + 1)
      i = j + 1
    }
    Array(m.toLong, dup)
  }

  /** `[count, char_len]` of a token array's most frequent k-gram —
    * count ties broken by the lexicographically LARGEST gram string
    * (binary UTF-8 order, matching `max(struct(c, g))` over gram
    * strings and DuckDB's `max(g)`), `char_len` the gram's character
    * count (`length(g)`: token code points + k−1 separators). Grams
    * are counted by [[ShingleHashes]]-identical 64-bit hashes (2^-64
    * collision odds, the q47 convention); only the tie-break touches
    * token bytes, and only for max-count candidates. Fewer than k
    * tokens → one whole-array gram (the [[ShingleHashes]] convention).
    */
  def topGramStats(arr: ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    val w = if (n <= k) n else k
    val hs = rolledHashes(arr, k)
    val m = hs.length
    // distinct (value, count) runs of the sorted hashes — per-position
    // count lookups then binary-search THIS table, so a degenerate
    // all-same-gram document (exactly the boilerplate this statistic
    // hunts) costs O(m log m), not the O(m²) a per-position run
    // expansion would
    val sorted = hs.clone()
    java.util.Arrays.sort(sorted)
    val dVals = new Array[Long](m)
    val dCnts = new Array[Int](m)
    var nd = 0
    var maxC = 0
    var i = 0
    while (i < m) {
      var j = i
      while (j + 1 < m && sorted(j + 1) == sorted(i)) j += 1
      dVals(nd) = sorted(i)
      dCnts(nd) = j - i + 1
      if (dCnts(nd) > maxC) maxC = dCnts(nd)
      nd += 1
      i = j + 1
    }
    // Each distinct max-count hash materializes its gram string ONCE —
    // its count is negated after the first build (r18 review: the
    // all-same-gram boilerplate doc hit every one of its m positions
    // and built m identical strings). Equal hash ⇒ equal gram at the
    // q47 2^-64 odds, so later positions of the same hash add nothing.
    var bestGram: org.apache.spark.unsafe.types.UTF8String = null
    i = 0
    while (i < m) {
      val p = java.util.Arrays.binarySearch(dVals, 0, nd, hs(i))
      if (dCnts(p) == maxC) {
        dCnts(p) = -dCnts(p)
        val g = gram(arr, i, w)
        if (bestGram == null || g.compareTo(bestGram) > 0) bestGram = g
      }
      i += 1
    }
    Array(maxC.toLong, if (bestGram == null) 0L else bestGram.numChars().toLong)
  }

  // null token renders as "" WITH separators kept — the string-side
  // half of the null ≡ "" convention ([[NullTokenHash]]), so
  // hash-identity and render-identity agree. This diverges from SQL
  // concat_ws (which skips nulls separator-less) ONLY for nullable
  // token arrays, which no production tokenizer emits.
  private def gram(arr: ArrayData, i: Int, w: Int)
      : org.apache.spark.unsafe.types.UTF8String = {
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](w)
    var j = 0
    while (j < w) {
      parts(j) =
        if (arr.isNullAt(i + j)) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
        else arr.getUTF8String(i + j)
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.concatWs(Space, parts: _*)
  }
}

/** Per-document TOP-k-gram statistics in one pass: `[count, char_len]`
  * of the most frequent k-gram. The in-row form of
  * `posexplode(grams) → groupBy(doc, g).count → max(struct(c, g))` — a
  * per-DOCUMENT arg-max that never needs cross-row state, so shipping
  * the corpus's full gram-string stream through two shuffles to
  * compute it is pure waste at any scale (the r9 driver priced that
  * shape at 6.7 s; at 100 TB it shuffles the whole 2-gram stream as
  * strings). Semantics (tie-break, char length, < k-token docs) in
  * [[ShingleRuntime.topGramStats]].
  */
case class TopGramStats(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"gram size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(ShingleRuntime.topGramStats(input.asInstanceOf[ArrayData], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleRuntime.topGramStats($a, $k));
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleFunctions {
  /** Distinct k-shingle hashes of a token-array column. */
  def shingle_hashes(tokens: Column, k: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(tokens), k))

  /** ALL k-shingle hashes in position order (multiset preserved) — for
    * repetition/duplication statistics that need per-gram counts; the
    * hash multiset stands in for the string multiset at 2^-64 collision
    * odds, without allocating the strings.
    */
  def shingle_hashes_all(tokens: Column, k: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(tokens), k, dedup = false))

  /** `[total, dup]` k-gram position counts of a token array (per-row —
    * no explode/shuffle); see [[DupGramStats]].
    */
  def dup_gram_stats(tokens: Column, k: Int): Column =
    ColumnBridge.column(DupGramStats(ColumnBridge.expression(tokens), k))

  /** `[count, char_len]` of the most frequent k-gram of a token array
    * (per-row — no explode/shuffle); see [[TopGramStats]].
    */
  def top_gram_stats(tokens: Column, k: Int): Column =
    ColumnBridge.column(TopGramStats(ColumnBridge.expression(tokens), k))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Per-document hashed-bigram counting WITHOUT the Generate row
  * inflation (optimization guide §2.4 "aggregate before you shuffle",
  * r19 verdict #2): the `transform(sequence…)` → `explode` → `groupBy`
  * spelling of the bigram multiset materializes one struct PER BIGRAM
  * OCCURRENCE — an interpreted higher-order lambda allocating a
  * GenericInternalRow per element, a Generate copying each into an
  * UnsafeRow, and a hash-aggregate probe per occurrence, with 4 string
  * hashes per pair (h1, h2, and h12 re-hashing both strings). These
  * expressions count INSIDE the row in one primitive pass — each token
  * hashed exactly once (h12 chains from h1's value, so a pair costs ONE
  * extra string hash), occurrences folded into an open-addressed long
  * map — and emit only the DISTINCT per-doc (h1, h2, h12, m) rows, in
  * first-occurrence order.
  *
  * Hash convention is bit-identical to the builtin spelling it
  * replaces (`xxhash64(ts[i])`, `xxhash64(ts[i+1])`,
  * `xxhash64(ts[i], ts[i+1])`, seed 42, null args skipped — the
  * XxHash64 expression contract), pinned by BigramCountsSpec against
  * the explode+groupBy plan on random inputs. Counts keyed by the
  * hash triple equal counts keyed by the token pair at 2^-64 collision
  * odds (the q47/q153 convention; the oracles keep grouping by token
  * strings).
  *
  * Downstream effect: a per-doc consumer (q139's doc_bigrams artifact,
  * q149's held-out multiset) needs NO shuffle at all — the groupBy
  * (doc_id, …) it replaced was logically row-local; a cross-doc
  * consumer (q149's c12 model) feeds its one shuffle distinct-per-doc
  * rows instead of every occurrence.
  */
case class BigramCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BigramRuntime.BigramArrayType

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    BigramRuntime.bigramCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call into the shared kernel (the ShingleRuntime
    // shape): Janino compiles one invocation, HotSpot inlines the loop
    nullSafeCodeGen(ctx, ev, a => s"""
         |${ev.value} = graft.functions.BigramRuntime.bigramCounts($a);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-document hashed-unigram counting — the token-stream twin of
  * [[BigramCounts]] for model legs that aggregate `xxhash64(w)` over
  * `explode(ts)` (q149's unigram table): one string hash per token,
  * in-row fold, distinct (h, m) rows out. Same conventions as
  * [[BigramCounts]].
  */
case class TokenHashCounts(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = BigramRuntime.UnigramArrayType

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    BigramRuntime.tokenHashCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
         |${ev.value} = graft.functions.BigramRuntime.tokenHashCounts($a);
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BigramRuntime {
  val BigramStructType: StructType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false),
    StructField("h12", LongType, nullable = false),
    StructField("m", LongType, nullable = false)))
  val BigramArrayType: ArrayType =
    ArrayType(BigramStructType, containsNull = false)

  val UnigramStructType: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("m", LongType, nullable = false)))
  val UnigramArrayType: ArrayType =
    ArrayType(UnigramStructType, containsNull = false)

  /** xxhash64's seed — a null token leaves the chain at the seed, the
    * XxHash64-expression null-skip contract (NOT ShingleRuntime's
    * null ≡ "" gram convention; this kernel must reproduce the builtin
    * `xxhash64(…)` spelling it replaced bit for bit).
    */
  private final val Seed = 42L

  private def tokenHash(arr: ArrayData, i: Int, seed: Long): Long =
    if (arr.isNullAt(i)) seed
    else {
      val s = arr.getUTF8String(i)
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)
    }

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** The largest power-of-two array length. */
  final val MaxSlots: Int = 1 << 30

  /** Slots for an open-addressed table of up to `keys` distinct keys at
    * load ≤ 1/2: the smallest power of two ≥ max(4, 2 × keys). Sized in
    * Long arithmetic: in Int, 2 × keys wraps past 2^30 keys (the
    * doubling loop then never ends) and a power of two past 2^30 goes
    * negative (a NegativeArraySizeException). A table past [[MaxSlots]]
    * is refused with an error instead.
    */
  def tableSlots(keys: Int): Int = {
    require(keys >= 0, s"negative key count $keys")
    val want = math.max(4L, 2L * keys)
    require(want <= MaxSlots, s"a document with $keys tokens or bigrams needs a " +
      s"hash table of more than $MaxSlots slots, past the largest array the kernel can size")
    val p = java.lang.Long.highestOneBit(want)
    (if (p == want) p else p << 1).toInt
  }

  def bigramCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return Empty
    // each token hashed once; h12 chains the SECOND token's bytes from
    // h1's value (xxhash64(a, b) folds left), so the pair loop below
    // pays one string hash, not three
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenHash(arr, i, Seed); i += 1 }
    val pairs = n - 1
    // open-addressed map keyed on (h1, h2, h12); cnt == 0 marks empty
    val cap = tableSlots(pairs)
    val mask = cap - 1
    val kh1 = new Array[Long](cap); val kh2 = new Array[Long](cap)
    val kh12 = new Array[Long](cap); val cnt = new Array[Long](cap)
    val order = new Array[Int](pairs)
    var distinct = 0
    i = 0
    while (i < pairs) {
      val h1 = th(i)
      val h2 = th(i + 1)
      val h12 = if (arr.isNullAt(i + 1)) h1 else {
        val s = arr.getUTF8String(i + 1)
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), h1)
      }
      var slot = (h12 ^ (h12 >>> 32)).toInt & mask
      while (cnt(slot) != 0L &&
             !(kh12(slot) == h12 && kh1(slot) == h1 && kh2(slot) == h2))
        slot = (slot + 1) & mask
      if (cnt(slot) == 0L) {
        kh1(slot) = h1; kh2(slot) = h2; kh12(slot) = h12
        order(distinct) = slot; distinct += 1
      }
      cnt(slot) += 1L
      i += 1
    }
    val out = new Array[Any](distinct)
    i = 0
    while (i < distinct) {
      val s = order(i)
      out(i) = InternalRow(kh1(s), kh2(s), kh12(s), cnt(s))
      i += 1
    }
    new GenericArrayData(out)
  }

  def tokenHashCounts(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return Empty
    val kh = new Array[Long](tableSlots(n))
    val cnt = new Array[Long](kh.length)
    val mask = kh.length - 1
    val order = new Array[Int](n)
    var distinct = 0
    var i = 0
    while (i < n) {
      val h = tokenHash(arr, i, Seed)
      var slot = (h ^ (h >>> 32)).toInt & mask
      while (cnt(slot) != 0L && kh(slot) != h) slot = (slot + 1) & mask
      if (cnt(slot) == 0L) { kh(slot) = h; order(distinct) = slot; distinct += 1 }
      cnt(slot) += 1L
      i += 1
    }
    val out = new Array[Any](distinct)
    i = 0
    while (i < distinct) {
      val s = order(i)
      out(i) = InternalRow(kh(s), cnt(s))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object BigramFunctions {
  /** Column API for [[BigramCounts]]. */
  def bigram_counts(tokens: Column): Column =
    ColumnBridge.column(BigramCounts(ColumnBridge.expression(tokens)))

  /** Column API for [[TokenHashCounts]]. */
  def token_hash_counts(tokens: Column): Column =
    ColumnBridge.column(TokenHashCounts(ColumnBridge.expression(tokens)))
}

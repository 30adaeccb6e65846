package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst expressions for the vector-similarity hot path.
  *
  * A Scala UDF would box every array element per row; these run inside
  * whole-stage codegen with a primitive loop (preference order per the
  * build brief: builtin > custom Expression > UDF).
  */

/** Cosine similarity between two numeric arrays (float or double
  * elements), accumulated in double left-to-right — the same sequential
  * association DuckDB's list_cosine_similarity uses, so oracle results
  * match to ~1e-12. Returns null if either side is null; 0.0 if either
  * norm is 0. Lengths must match (checked at runtime).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  // a null ARRAY ELEMENT makes the result null even when both child
  // arrays are non-nullable — BinaryExpression's derived nullability
  // (children-only) would let Catalyst fold IsNull(this) to false and
  // unsafe projections skip the null bit
  override def nullable: Boolean = true

  override def inputTypes = Seq.fill(2)(ColumnBridge.floatOrDoubleArray)

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // hoisted once per expression instance (r18 review): the interpreted
  // path re-derived both flags — two dataType traversals + matches —
  // on EVERY row of the vector hot path; the codegen path already
  // resolves them once at generation time
  @transient private lazy val leftIsFloat = elemIsFloat(left)
  @transient private lazy val rightIsFloat = elemIsFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    require(ys.numElements() == n,
      s"cosine_similarity: length mismatch $n vs ${ys.numElements()}")
    val lf = leftIsFloat; val rf = rightIsFloat
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      // a NULL element propagates (SQL semantics): reading the zeroed
      // slot as 0.0 would return a finite, WRONG similarity for a
      // corrupt embedding instead of null
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = if (lf) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rf) ys.getFloat(i).toDouble else ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val bad = ctx.freshName("hasNullElem")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "cosine_similarity: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $x = (double) $a.$lGet($i);
         |  double $y = (double) $b.$rGet($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ($na == 0.0 || $nb == 0.0)
         |    ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Left-to-right sum of squares of a numeric array (float or double
  * elements) — the norm² half of [[CosineSimilarity]] split out so the
  * O(pairs) similarity joins can compute each ROW's norm once instead
  * of once per CANDIDATE PAIR (guide §1.2 "per-task work": the pair
  * stage's inner loop was 3 fused accumulations — dot, na, nb — of
  * which two redo per-row work |cell| times). The accumulation is the
  * SAME sequential double association as CosineSimilarity's `na`
  * (x*x added left to right), so `dot/(sqrt(na)*sqrt(nb))` built from
  * these parts is bit-identical to the fused expression. Null array →
  * null; null ELEMENT → null (same corrupt-embedding policy).
  */
case class SumSquares(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def inputTypes = Seq(ColumnBridge.floatOrDoubleArray)

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val f = isFloat
    var acc = 0.0; var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      val x = if (f) xs.getFloat(i).toDouble else xs.getDouble(i)
      acc += x * x; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val bad = ctx.freshName("hasNullElem")
      val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |  double $x = (double) $a.$get($i);
         |  $acc += $x * $x;
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Left-to-right dot product of two numeric arrays — the pair-local
  * third of [[CosineSimilarity]] (see [[SumSquares]]). Same checks and
  * semantics as the fused expression: length mismatch throws, null
  * array or null element → null, accumulation order identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def inputTypes = Seq.fill(2)(ColumnBridge.floatOrDoubleArray)

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val leftIsFloat = elemIsFloat(left)
  @transient private lazy val rightIsFloat = elemIsFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    require(ys.numElements() == n,
      s"cosine_similarity: length mismatch $n vs ${ys.numElements()}")
    val lf = leftIsFloat; val rf = rightIsFloat
    var dot = 0.0; var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      val x = if (lf) xs.getFloat(i).toDouble else xs.getDouble(i)
      val y = if (rf) ys.getFloat(i).toDouble else ys.getDouble(i)
      dot += x * y; i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val bad = ctx.freshName("hasNullElem")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "cosine_similarity: length mismatch " + $n + " vs " + $b.numElements());
         |}
         |double $dot = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $x = (double) $a.$lGet($i);
         |  double $y = (double) $b.$rGet($i);
         |  $dot += $x * $y;
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $dot; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 60-bit SimHash of an array of token strings.
  *
  * Classic Charikar sketch: each token votes ±1 on every bit of its
  * hash; the sketch bit is 1 where the vote sum is positive. Near-dup
  * docs differ in a few bits → Hamming distance via bit_count(a ^ b).
  *
  * The per-token hash is the low 60 bits of the token's md5 — the SAME
  * engine-portable tail convention as winnowing (q74) and the rolling
  * fingerprint (q46) — so DuckDB replays the whole sketch
  * (`list_transform` + the substr(md5) tail + a per-bit majority) and
  * q48's pair list sits under the full hash gate. r7 and earlier used
  * Spark's xxHash64 (seed 42): engine-private, which held q48 at
  * rows-only. 60 bits split into 4 pigeonhole blocks of 15 for the
  * ≤3-differing-bits candidate join ([[graft.operators.Dedup.simhashPairs]]).
  */
case class SimHash60(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](60)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Md5Util.low60(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[60];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = graft.functions.Md5Util.low60($a.getUTF8String($i).getBytes());
         |    for (int $b = 0; $b < 60; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Indices of the `nProbe` nearest centroids (by cosine) for an input
  * vector, against a FIXED centroid matrix held in the plan — the
  * single-pass replacement for the corpus×centroids
  * `join(broadcast, lit(true))` + window-argmax plan, which pushed
  * |corpus|×|centroids| rows through an exchange just to keep one.
  *
  * Centroids are L2-normalized at construction, so per centroid the
  * score is one dot product (the input's own norm is constant across
  * centroids and cannot change the ranking). Output is ordered by
  * descending similarity; ties keep the lower centroid index. Runs in
  * whole-stage codegen: nc×dim fused multiply-adds per row, no join, no
  * shuffle, no window.
  */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]], nProbe: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(nProbe > 0, "nProbe must be positive")
  require(centroids.nonEmpty, "centroids must be non-empty")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def inputTypes = Seq(ArrayType(DoubleType))

  /** Unit-norm centroid rows (zero vectors stay zero). */
  @transient private lazy val normed: Array[Array[Double]] = normalize(centroids)

  private def normalize(cs: Seq[Seq[Double]]): Array[Array[Double]] =
    cs.map { c =>
      val a = c.toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0.0) a else a.map(_ / n)
    }.toArray

  private val p = math.min(nProbe, centroids.size)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val topS = Array.fill(p)(Double.NegativeInfinity)
    val topI = Array.fill(p)(-1)
    var ci = 0
    while (ci < normed.length) {
      val cvec = normed(ci)
      require(cvec.length == n,
        s"nearest_centroids: dim mismatch ${cvec.length} vs $n")
      var dot = 0.0; var i = 0
      // a NULL dim reads as NaN, not the zeroed slot: the NaN dot then
      // ranks below every centroid and the row assigns to no cluster
      // (cid −1) — the SAME policy NaN vectors already get, instead of
      // silently joining whatever cluster the 0.0 misread lands in
      while (i < n) {
        dot += (if (v.isNullAt(i)) Double.NaN else v.getDouble(i)) * cvec(i)
        i += 1
      }
      var pos = p
      while (pos > 0 && dot > topS(pos - 1)) pos -= 1
      if (pos < p) {
        var j = p - 1
        while (j > pos) { topS(j) = topS(j - 1); topI(j) = topI(j - 1); j -= 1 }
        topS(pos) = dot; topI(pos) = ci
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(topI)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("centroidMatrix", normed, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val ci = ctx.freshName("ci")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val dot = ctx.freshName("dot"); val pos = ctx.freshName("pos")
      val topS = ctx.freshName("topS"); val topI = ctx.freshName("topI")
      val cvec = ctx.freshName("cvec")
      s"""
         |int $n = $a.numElements();
         |double[] $topS = new double[$p];
         |int[] $topI = new int[$p];
         |for (int $j = 0; $j < $p; $j++) {
         |  $topS[$j] = Double.NEGATIVE_INFINITY; $topI[$j] = -1;
         |}
         |for (int $ci = 0; $ci < $mat.length; $ci++) {
         |  double[] $cvec = $mat[$ci];
         |  if ($cvec.length != $n) {
         |    throw new IllegalArgumentException(
         |      "nearest_centroids: dim mismatch " + $cvec.length + " vs " + $n);
         |  }
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ($a.isNullAt($i) ? Double.NaN : $a.getDouble($i))
         |      * $cvec[$i];
         |  }
         |  int $pos = $p;
         |  while ($pos > 0 && $dot > $topS[$pos - 1]) $pos--;
         |  if ($pos < $p) {
         |    for (int $j = $p - 1; $j > $pos; $j--) {
         |      $topS[$j] = $topS[$j - 1]; $topI[$j] = $topI[$j - 1];
         |    }
         |    $topS[$pos] = $dot; $topI[$pos] = $ci;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($topI);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object VectorFunctions {
  /** Column API for [[CosineSimilarity]]. */
  def cosine_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cosine at VERSION-PROOF 6 decimals: floor(x·1e6 + 0.5) / 1e6, not
    * `round(x, 6)` — Spark's round on DoubleType is HALF_UP over the
    * shortest decimal repr while DuckDB rounds the binary double, so a
    * value whose shortest repr lands on a 1e-7 ".5" diverges between
    * engines (the q100 lesson). floor is exact on the identical IEEE
    * double both engines compute, and the /1e6 is the same IEEE divide
    * of the same small integer. Every gated cosine column uses this.
    */
  def cosine_similarity6(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.floor(
      cosine_similarity(a, b) * 1000000.0d + 0.5d) / 1000000.0d

  /** Column API for [[SumSquares]]. */
  def norm_sq(v: Column): Column =
    ColumnBridge.column(SumSquares(ColumnBridge.expression(v)))

  /** Column API for [[DotProduct]]. */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cosine from a pair-local dot and PRE-COMPUTED per-row norms² —
    * bit-identical to [[cosine_similarity]]: the three accumulations
    * are the same left-to-right double sums (each its own accumulator
    * chain, so fusing or splitting them cannot change any of the
    * three), and the combine `dot/(sqrt(na)*sqrt(nb))` is the same
    * IEEE expression. Null propagation matches: null array or null
    * element nulls the norm (or the dot) and the `when` guard returns
    * null BEFORE the zero-norm branch can see a null operand — without
    * that guard, `na null, nb == 0` would return 0.0 where the fused
    * expression returns null. The guard checks the NORMS only: a null
    * dot implies a null norm (same null sources — so `dot.isNull`
    * would be redundant, and listing it forced a second dot-loop
    * evaluation in operators without common-subexpression elimination,
    * e.g. a codegen'd Filter; r19 measurement). Contract: nsqA/nsqB
    * must be [[SumSquares]] of the SAME arrays the dot consumes —
    * with unrelated columns the null/zero short-circuits are
    * meaningless. One spelled-out divergence from the fused form: an
    * all-zeros vector against a WRONG-LENGTH operand returns 0.0 here
    * (the zero-norm branch short-circuits past the dot) where the
    * fused expression throws — malformed input either way. Use in
    * O(pairs) join stages where the fused spelling redoes both norms
    * per candidate (guide §1.2).
    */
  def cosine_from_parts(dot: Column, nsqA: Column, nsqB: Column): Column =
    org.apache.spark.sql.functions.when(
        nsqA.isNull || nsqB.isNull,
        org.apache.spark.sql.functions.lit(null).cast(DoubleType))
      .when(nsqA === 0.0 || nsqB === 0.0, 0.0)
      .otherwise(dot / (org.apache.spark.sql.functions.sqrt(nsqA) *
        org.apache.spark.sql.functions.sqrt(nsqB)))

  /** [[cosine_from_parts]] at the gate's version-proof 6 decimals —
    * the parts twin of [[cosine_similarity6]] (same floor spelling).
    */
  def cosine_from_parts6(dot: Column, nsqA: Column, nsqB: Column): Column =
    org.apache.spark.sql.functions.floor(
      cosine_from_parts(dot, nsqA, nsqB) * 1000000.0d + 0.5d) / 1000000.0d

  /** Column API for [[SimHash60]]. */
  def simhash60(tokens: Column): Column =
    ColumnBridge.column(SimHash60(ColumnBridge.expression(tokens)))

  /** Column API for [[NearestCentroids]]. */
  def nearest_centroids(v: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(v), centroids, nProbe))
}

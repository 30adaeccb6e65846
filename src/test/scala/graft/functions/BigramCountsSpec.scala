package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.functions.BigramFunctions.{bigram_counts, token_hash_counts}
import graft.SparkTestSession

/** The r20 in-row bigram kernel ([[BigramCounts]] /
  * [[TokenHashCounts]]) replaces the `transform(sequence…)` → explode
  * → groupBy spelling in q139/q149. The oracle gates only see counts,
  * but the kernel CLAIMS bit-identical hashes to the builtin
  * `xxhash64(ts[i])` / `xxhash64(ts[i+1])` / `xxhash64(ts[i], ts[i+1])`
  * convention (seed 42, null args skipped) — pinned here by comparing
  * the full (h1, h2, h12, m) multiset against the old plan on
  * random-ish token arrays, unicode tokens, duplicates, null tokens,
  * and short/empty arrays, on both codegen and interpreted paths.
  */
class BigramCountsSpec extends AnyFunSuite with SparkTestSession {

  private def withSQLConf[T](kv: (String, String))(f: => T): T = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally prev match {
      case Some(v) => spark.conf.set(kv._1, v)
      case None => spark.conf.unset(kv._1)
    }
  }
  private def bothModes[T](f: => T): (T, T) = (
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(f),
    withSQLConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f))

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("ts", ArrayType(StringType, containsNull = true), nullable = true)))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val docs = frame(Seq(
    Row(1L, Seq("the", "cat", "sat", "on", "the", "cat", "sat")),
    Row(2L, Seq("a", "a", "a", "a")),                      // heavy dup bigram
    Row(3L, Seq("κόσμε", "héllo", "κόσμε", "héllo")),      // multi-byte UTF-8
    Row(4L, Seq("x")),                                     // no bigram
    Row(5L, Seq.empty[String]),                            // empty
    Row(6L, null),                                         // null array
    Row(7L, Seq("w", null, "w", null, "w")),               // null tokens
    Row(8L, (1 to 200).map(i => s"t${i % 17}"))))          // bigger doc

  /** The OLD q139/q149 spelling, verbatim. */
  private def oldBigrams(df: DataFrame): DataFrame = df
    .filter(size(col("ts")) >= 2)
    .select(col("doc_id"), explode(
      expr("transform(sequence(0, size(ts)-2), i -> struct(" +
        "xxhash64(ts[i]) AS h1, xxhash64(ts[i+1]) AS h2," +
        " xxhash64(ts[i], ts[i+1]) AS h12))"))
      .as("b"))
    .select(col("doc_id"), col("b.h1").as("h1"), col("b.h2").as("h2"),
      col("b.h12").as("h12"))
    .groupBy(col("doc_id"), col("h1"), col("h2"), col("h12"))
    .agg(count(lit(1)).as("m"))

  private def newBigrams(df: DataFrame): DataFrame = df
    .select(col("doc_id"), explode(bigram_counts(col("ts"))).as("b"))
    .select(col("doc_id"), col("b.h1").as("h1"), col("b.h2").as("h2"),
      col("b.h12").as("h12"), col("b.m").as("m"))

  private def asSet(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  test("bigram_counts multiset equals the explode+groupBy spelling, hashes and all") {
    val (cg, interp) = bothModes {
      (asSet(oldBigrams(docs)), asSet(newBigrams(docs)))
    }
    assert(cg._1 == cg._2, "codegen path diverged from the old spelling")
    assert(interp._1 == interp._2, "interpreted path diverged from the old spelling")
    assert(cg._2 == interp._2, "codegen vs interpreted kernel diverged")
    assert(cg._1.nonEmpty)
    // sanity on the dup-heavy doc: "a a a a" → one bigram type, m = 3
    assert(cg._2.count(_._1 == 2L) == 1)
    assert(cg._2.find(_._1 == 2L).get._5 == 3L)
  }

  test("token_hash_counts equals explode+groupBy(xxhash64) counts") {
    val oldUni = docs.filter(col("ts").isNotNull)
      .select(col("doc_id"), explode(col("ts")).as("w"))
      .groupBy(col("doc_id"), xxhash64(col("w")).as("h"))
      .agg(count(lit(1)).as("m"))
    val newUni = docs
      .select(col("doc_id"), explode(token_hash_counts(col("ts"))).as("u"))
      .select(col("doc_id"), col("u.h").as("h"), col("u.m").as("m"))
    def s(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (cg, interp) = bothModes { (s(oldUni), s(newUni)) }
    assert(cg._1 == cg._2, "codegen path diverged")
    assert(interp._1 == interp._2, "interpreted path diverged")
    assert(cg._1.nonEmpty)
  }

  test("no-bigram, empty and null inputs yield no rows (the old filter's behavior)") {
    val out = newBigrams(frame(Seq(
      Row(1L, Seq("only")), Row(2L, Seq.empty[String]), Row(3L, null))))
    assert(out.count() == 0L)
  }

  test("table sizing: smallest power of two at load <= 1/2, refused past 2^30 slots") {
    import BigramRuntime.{tableSlots, MaxSlots}
    assert(Seq(0, 1, 2, 3, 4, 5, 1000).map(tableSlots) == Seq(4, 4, 4, 8, 8, 16, 2048))
    assert(tableSlots((1 << 28) + 1) == MaxSlots)
    assert(tableSlots(1 << 29) == MaxSlots)   // the largest table: exactly 2^30
    // where Int sizing wrapped: the doubling loop's 2 * keys, and
    // highestOneBit(n) * 4 going negative
    for (keys <- Seq((1 << 29) + 1, 1 << 30, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](tableSlots(keys))
      assert(e.getMessage.contains(s"$keys tokens or bigrams"), e.getMessage)
    }
    intercept[IllegalArgumentException](tableSlots(-1))
  }
}

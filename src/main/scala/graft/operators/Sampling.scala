package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling — the corpus-curation
  * operators a training-data pipeline runs to hit its mixing ratios.
  *
  * Selection is a pure predicate on a portable per-row hash
  * ([[Winnowing.portableHash]]: md5 tail), NOT `df.sample()`: the same
  * rows are selected on any engine, any partitioning, any run — so
  * samples are reproducible, auditable, and join-stable (a row's
  * membership never changes when the pipeline reruns), and the whole
  * operator sits under the DuckDB hash gate. The hash is salted so
  * independent samples decorrelate.
  */
object Sampling {

  private val Buckets = 1000000L  // rate granularity: 1e-6

  /** The salted hash-input string of a (key, salt) pair — THE one
    * spelling every bucket/shard consumer hashes ([[bucket]],
    * CurationQ.shardPlan; mirrored by `OracleSql.bucketSql`).
    * NULL keys map to a sentinel instead of propagating null: a null
    * filter predicate silently DROPS the row, so a "100% sample" of a
    * table with null keys would lose them — null-key rows instead get
    * one consistent deterministic bucket like any other key value.
    * \u0001 separator between key and salt (r19 review): bare
    * concatenation made (key "a", salt "s0") and (key "as", salt
    * "0") hash identically, so "independent" samples could correlate
    * at boundary-aliased keys — the separator makes the (key, salt)
    * -> string map injective for salts that carry no \u0001 (all of
    * ours). One spelling with OracleSql.bucketSql's chr(1).
    */
  def saltedKey(key: Column, salt: String): Column =
    concat(coalesce(key.cast("string"), lit("\u0000null")),
      lit("\u0001"), lit(salt))

  /** The row's sampling bucket in [0, 1e6): portable and salt-keyed. */
  def bucket(key: Column, salt: String): Column =
    pmod(Winnowing.portableHash(saltedKey(key, salt)), lit(Buckets))

  /** Poisson(1) replicate weight from a [[bucket]] value — the
    * distributed-bootstrap kernel (Chamandy et al. 2012). Thresholds
    * are floor(CDF(k)·1e6) spec constants; any oracle states the same
    * integers literally. ONE Scala source of truth for the ladder
    * (q143/q147 both pull from here).
    */
  def poissonWeight(u: Column): Column =
    when(u < 367879L, 0L).when(u < 735758L, 1L)
      .when(u < 919698L, 2L).when(u < 981011L, 3L)
      .when(u < 996340L, 4L).when(u < 999405L, 5L).otherwise(6L)

  /** Keep ~`fraction` of rows, deterministically by `key`. */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double,
                          salt: String = "s0"): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    // round, don't truncate: 0.29 * 1e6 is 289999.99999999994 in binary,
    // and truncation would disagree with any oracle stating the natural
    // decimal threshold
    df.filter(bucket(key, salt) < math.round(fraction * Buckets))
  }

  /** Stratified sample: per-stratum fractions (strata absent from the
    * map are dropped — that IS the mixing knob). One scan, one filter;
    * no shuffle at all.
    */
  def stratified(df: DataFrame, strataCol: Column, key: Column,
                 fractions: Map[String, Double], salt: String = "s0"): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1))
    val threshold = fractions.foldLeft(lit(-1L)) { case (acc, (stratum, f)) =>
      when(strataCol === stratum, lit(math.round(f * Buckets))).otherwise(acc)
    }
    df.filter(bucket(key, salt) < threshold)
  }

  /** EXACTLY-k-per-stratum sample — the deterministic reservoir: rank
    * rows within each stratum by (portable hash, key) and keep the
    * first k. Rate-based sampling ([[stratified]]) can't promise a
    * count; eval sets and per-domain caps need exactly k. One shuffle
    * on the stratum key + a WindowGroupLimit top-k per stratum (partial
    * top-k runs map-side — the full stratum never sorts).
    *
    * Determinism contract (tightened r16): the kept row SET is the
    * same on any engine PROVIDED `key` is unique within each stratum
    * — the hash order is portable and the key breaks hash ties, but
    * rows SHARING a key have no further tiebreak, so which of them
    * crosses the k-cut is partition-scheduling-dependent. NULL keys
    * order last explicitly (Spark's default is nulls-FIRST ascending,
    * DuckDB's is nulls-LAST — the explicit spelling keeps the
    * cross-engine claim true at the cut).
    */
  def fixedSizePerStratum(df: DataFrame, strataCol: Column, key: Column,
                          k: Int, salt: String = "s0"): DataFrame = {
    require(k > 0)
    Scratch.requireFree("fixedSizePerStratum", df.columns, Set("_rk"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
      .orderBy(bucket(key, salt).asc_nulls_last, key.asc_nulls_last)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs shaped like the test tables the program's
  * query registry reads (same table names, column names, types, value
  * domains and row-count ratios), so the benchmark needs no data outside
  * its own checkout. Every column is a pure function of (row id, seed,
  * column salt) through `xxhash64`, so the same seed gives
  * byte-identical tables whatever the partitioning.
  *
  * Row counts follow the test data's scale-factor ratios: at scale
  * factor `sf` there are 1.5M·sf orders of 150000·sf customers and 1M·sf
  * events of 15000·sf users; documents number at least 500.
  */
final class Inputs(spark: SparkSession, seed: Long) {

  private def h(salt: Int, id: Column = col("id")): Column =
    xxhash64(id, lit(seed), lit(salt))
  private def uniformInt(salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(salt, id), lit(n))
  private def uniform(salt: Int, id: Column = col("id")): Column =
    shiftrightunsigned(h(salt, id), 11).cast("double") / 9007199254740992.0
  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uniformInt(salt, values.size) + 1).cast("int"))
  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + uniform(salt) * (hi - lo), 2)
  /** Midnight timestamps `days` after `epochSec`, tz-naive like the test data. */
  private def dayAfter(epochSec: Long, salt: Int, days: Long): Column =
    timestamp_seconds(lit(epochSec) + uniformInt(salt, days) * 86400L).cast("timestamp_ntz")

  private def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  private val day1995 = 788918400L   // 1995-01-01
  private val day2024 = 1704067200L  // 2024-01-01

  def orders(n: Long, customers: Long): DataFrame =
    rows(n).select(col("id").as("o_orderkey"),
      uniformInt(1, customers).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      dayAfter(day1995, 4, 2400).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** Line items with a unique key `k` (the row id): the lakehouse
    * table, whose DML addresses rows by key.
    */
  def keyedLineitem(n: Long, orders: Long, parts: Long, suppliers: Long): DataFrame =
    rows(n).select(col("id").as("k"),
      uniformInt(1, orders).as("l_orderkey"),
      uniformInt(2, parts).as("l_partkey"),
      uniformInt(3, suppliers).as("l_suppkey"),
      (uniformInt(4, 7) + 1).cast("int").as("l_linenumber"),
      (uniformInt(5, 50) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      (uniformInt(7, 11) / 100.0).as("l_discount"),
      (uniformInt(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      dayAfter(day1995 + 86400L, 11, 2500).as("l_shipdate"))

  def events(n: Long, users: Long): DataFrame = {
    // strictly increasing timestamps over 30 days: one slot per event,
    // jittered inside its slot
    val slotMicros = 30L * 86400L * 1000000L / n
    rows(n).select(col("id").as("event_id"),
      timestamp_micros(lit(day2024 * 1000000L) + col("id") * slotMicros +
        uniformInt(1, slotMicros)).cast("timestamp_ntz").as("ts"),
      uniformInt(2, users).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      greatest(lit(0.01), round(-log(lit(1.0) - uniform(4)) * 50.0, 2)).as("value"),
      concat(lit("{\"k\": "), uniformInt(5, 100).cast("string"), lit("}")).as("props"))
  }

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  /** Documents of 10–99 words; one in twenty repeats an earlier
    * document's text with " dup" appended (the near-duplicates the
    * dedup operators look for).
    */
  def documents(n: Long): DataFrame = {
    val words = array(vocab.map(lit): _*)
    def text(src: Column): Column =
      array_join(transform(sequence(lit(1L), uniformInt(1, 90, src) + 10L),
        i => element_at(words, (pmod(xxhash64(src, i, lit(seed)), lit(vocab.size.toLong)) + 1)
          .cast("int"))), " ")
    val isDup = col("id") > 0 && uniformInt(2, 20) === 0
    rows(n).select(col("id").as("doc_id"),
      when(isDup, concat(text(uniformInt(3, n).cast("long") % greatest(col("id"), lit(1L))),
        lit(" dup"))).otherwise(text(col("id"))).as("text"),
      when(uniform(4) < 0.41, lit("en"))
        .otherwise(pick(5, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Runs the writes as concurrent Spark jobs: each is one small task,
    * so they would otherwise leave most slots idle.
    */
  private def writeAll(writes: Seq[(DataFrame, String)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writes.map { case (df, path) => pool.submit[Unit](() => write(df, path)) }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Writes the registry tables the battery reads (orders, events,
    * documents) at scale factor `sf` under `dir` as `<name>.parquet`,
    * together with the `extra` writes.
    */
  def writeTables(dir: String, sf: Double, extra: Seq[(DataFrame, String)]): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    writeAll(Seq(
      orders(n(1500000), n(150000)) -> s"$dir/orders.parquet",
      events(n(1000000), n(15000)) -> s"$dir/events.parquet",
      documents(math.max(500L, n(50000))) -> s"$dir/documents.parquet") ++ extra)
  }
}

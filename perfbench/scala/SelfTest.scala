package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Self-test of [[Digest]]: order independence, sensitivity to values
  * and to row multiplicity, tolerance of last-bit floating-point noise,
  * and map handling. Exits non-zero on the first failed property.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val passed = try ok catch { case e: Throwable => System.err.println(e); false }
      println(s"${if (passed) "ok  " else "FAIL"} $name")
      if (!passed) failures += 1
    }
    try {
      val base = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i * 1.5, -i * 2.5)))
        .toDF("k", "s", "x", "arr")
      val d = Digest.of(base)
      check("row order and partitioning do not change the digest") {
        d == Digest.of(base.orderBy(col("k").desc)) && d == Digest.of(base.repartition(7))
      }
      check("the digest carries the row count") { d.startsWith("200:") }
      check("one changed value changes the digest") {
        d != Digest.of(base.withColumn("s", when(col("k") === 17, "x").otherwise(col("s"))))
      }
      check("a duplicated row changes the digest") {
        d != Digest.of(base.unionByName(base.where(col("k") === 3)))
      }
      check("swapped values across rows change the digest") {
        d != Digest.of(base.withColumn("x",
          when(col("k") === 1, 0.2).when(col("k") === 2, 0.1).otherwise(col("x"))))
      }
      check("last-bit double noise does not change the digest") {
        d == Digest.of(base.withColumn("x", col("x") * (1.0 + 1e-15))
          .withColumn("arr", transform(col("arr"), v => v * (1.0 + 1e-15))))
      }
      check("maps digest by content, whatever their entry order") {
        Digest.of(Seq(1).toDF("i").select(map(lit("a"), lit(1), lit("b"), lit(2)).as("m"))) ==
          Digest.of(Seq(1).toDF("i").select(map(lit("b"), lit(2), lit("a"), lit(1)).as("m")))
      }
      check("an empty frame digests as zero rows") { Digest.of(base.limit(0)) == "0:0:0" }
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}

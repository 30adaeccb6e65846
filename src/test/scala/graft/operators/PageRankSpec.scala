package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class PageRankSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphPrep.ranks(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a hub fed by many nodes outranks its feeders; zero iterations = uniform") {
    val star = Seq(1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 9L)
    val r0 = ranksOf(star, 0)
    assert(r0.values.toSet == Set(1000000L))
    val r = ranksOf(star, 3)
    assert(r(9L) > r(1L))
    assert(Seq(1L, 2L, 3L, 4L).map(r).toSet.size == 1, "symmetric feeders tie")
    // feeders have no inbound edges: rank = base after any iteration
    assert(r(1L) == 150000L)
  }

  test("cycle conserves symmetry; deterministic under repartitioning") {
    val cycle = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val r = ranksOf(cycle, 5)
    assert(r.values.toSet.size == 1, s"cycle must stay symmetric: $r")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(ranksOf(cycle, 5) == r)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("damping outside [0,1] refuses loudly (integer identity premise)") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    for (bad <- Seq(-0.1, 1.2))
      assert(intercept[IllegalArgumentException] {
        GraphPrep.ranks(e, 1, damping = bad)
      }.getMessage.contains("damping"))
  }

  test("empty edge list yields empty ranks") {
    assert(GraphPrep.ranks(Seq.empty[(Long, Long)].toDF("src", "dst"), 3).count() == 0L)
  }
}

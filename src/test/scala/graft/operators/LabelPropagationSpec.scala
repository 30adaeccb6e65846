package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

class LabelPropagationSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("two cliques joined by one bridge edge resolve to two communities") {
    // clique {1,2,3}, clique {10,11,12}, bridge 3—10; hand-traced
    // synchronous rounds converge to two communities at round 3
    // (round 2 still has node 10 carrying its round-1 bridge label)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (3L, 10L)
    ).toDF("src", "dst")
    val l = GraphPrep.labels(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("zero iterations returns self-labels; ties pick the smallest label") {
    val edges = Seq((5L, 7L)).toDF("src", "dst")
    val l0 = GraphPrep.labels(edges, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l0 == Map(5L -> 5L, 7L -> 7L))
    // one round: each node's single neighbor wins the vote
    val l1 = GraphPrep.labels(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 == Map(5L -> 7L, 7L -> 5L))
  }

  test("string node ids refuse loudly (tie-break negates the label)") {
    // r19 review: UnaryMinus on a string id either throws per-row
    // (ANSI) or casts to null and silently resets every node to its
    // own label — the guard fails at plan time instead
    val e = intercept[IllegalArgumentException] {
      GraphPrep.labels(
        Seq(("a", "b")).toDF("src", "dst"), 1).collect()
    }
    assert(e.getMessage.contains("numeric node ids"))
  }

  test("all-tied votes pick the smallest label") {
    // node 100's neighbors {9, 5, 7} each vote their own label once
    val edges = Seq((100L, 9L), (100L, 5L), (100L, 7L)).toDF("src", "dst")
    val l1 = GraphPrep.labels(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1(100L) == 5L)
  }

  test("majority label beats a smaller minority label") {
    // hand-traced round-1 labels: 50→40 (tie of {100,40}), 60→59,
    // 61→59, so in round 2 node 100 sees votes {59:2, 40:1} — the
    // majority label 59 must win although 40 is smaller
    val edges = Seq((100L, 50L), (100L, 60L), (100L, 61L),
      (50L, 40L), (60L, 59L), (61L, 59L)).toDF("src", "dst")
    val l2 = GraphPrep.labels(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l2(100L) == 59L)
  }
}

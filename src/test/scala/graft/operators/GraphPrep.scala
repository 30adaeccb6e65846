package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The prepared graphs [[PageRank.ranksPrepared]] and
  * [[LabelPropagation.labelsPrepared]] take, built from a raw
  * `edges(src, dst)` frame: distinct edges and their node set, each
  * materialized once (the queries write them as artifacts).
  */
object GraphPrep {

  /** Distinct directed edges and src ∪ dst. */
  def directed(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct().localCheckpoint(false)
    (e, nodes)
  }

  /** Each undirected edge once per direction, and the node set. */
  def undirected(edges: DataFrame): (DataFrame, DataFrame) = {
    val eu = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(false)
    (eu, eu.select(col("src").as("node")).distinct().localCheckpoint(false))
  }

  def ranks(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    val (e, nodes) = directed(edges)
    PageRank.ranksPrepared(e, nodes, iters, damping)
  }

  def labels(edges: DataFrame, iters: Int): DataFrame = {
    val (eu, nodes) = undirected(edges)
    LabelPropagation.labelsPrepared(eu, nodes, iters)
  }
}

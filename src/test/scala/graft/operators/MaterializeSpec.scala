package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class MaterializeSpec extends AnyFunSuite with SparkTestSession {

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def counts: DataFrame =
    spark.range(0, 10000, 1, 4).toDF("id")
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))

  test("a block over the bound fails inside its task, naming the owner and the bound") {
    val df = spark.range(0, 1000, 1, 2).toDF("id")
    val e = intercept[Exception] {
      Materialize.bounded(df, "MaterializeSpec ids (aggregate)", maxBlockBytes = 1024).count()
    }
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("MaterializeSpec ids (aggregate)") &&
      c.getMessage.contains("1024 bytes")), e)
    assert(Materialize.local(df, "MaterializeSpec ids (aggregate)").count() == 1000L)
  }

  test("local runs the jobs a raw lazy localCheckpoint runs, for two consumers") {
    val sc = spark.sparkContext
    def jobsOf(materialize: DataFrame => DataFrame): (Int, Seq[Long]) = {
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerDrain(sc)
      sc.addSparkListener(listener)
      try {
        val m = materialize(counts)
        val out = m.filter(col("k") > 2).count() +: m.agg(sum(col("n"))).collect().map(_.getLong(0)).toSeq
        ListenerDrain(sc)
        (jobs.get, out)
      } finally sc.removeSparkListener(listener)
    }
    val raw = jobsOf(_.localCheckpoint(false))
    assert(jobsOf(Materialize.local(_, "MaterializeSpec counts (aggregate)")) == raw)
  }

  test("local keeps the input's output partitioning") {
    def exchanges(m: DataFrame): Int =
      m.groupBy(col("k")).agg(sum(col("n"))).queryExecution.executedPlan
        .toString.split("\n").count(_.contains("Exchange"))
    val keyed = counts.repartition(col("k"))
    assert(exchanges(Materialize.local(keyed, "MaterializeSpec keyed (aggregate)")) ==
      exchanges(keyed.localCheckpoint(false)))
  }

  test("release frees the blocks; releasing before a successor is materialized fails it") {
    val sc = spark.sparkContext
    def round(df: DataFrame) =
      Materialize.local(df.select((col("id") + 1).as("id")), "MaterializeSpec round (round)")
    val first = round(spark.range(0, 100, 1, 2).toDF("id"))
    assert(first.count() == 100L)
    // the right order: the successor's job reads `first`, then release
    val second = round(first)
    assert(second.agg(sum(col("id"))).head().getLong(0) == 5150L)
    val firstRdd = CheckpointBridge.rddOf(first).get.id
    assert(sc.getPersistentRDDs.contains(firstRdd))
    Materialize.release(first)
    assert(!sc.getPersistentRDDs.contains(firstRdd))
    assert(second.agg(sum(col("id"))).head().getLong(0) == 5150L)
    // the wrong order: a narrow successor reads the released blocks
    val third = round(second)
    Materialize.release(second)
    val e = intercept[Exception](third.count())
    assert(causes(e).exists(_.getMessage.contains("Checkpoint block")), e)
  }

  test("release refuses a frame that is not a local materialization") {
    intercept[IllegalArgumentException](Materialize.release(spark.range(3).toDF("id")))
  }
}

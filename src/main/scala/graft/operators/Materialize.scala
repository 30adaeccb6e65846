package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: the only code that puts rows into
  * executor-local checkpoint blocks or frees them.
  *
  * Every "compute this once, read it from several consumers" site is in
  * one of three classes:
  *  - bounded data — an aggregate, a vocabulary, a node or round table
  *    of an iterative operator, or an operator input that only the
  *    caller's DataFrame defines — goes through [[local]];
  *  - corpus-sized pure functions of (session, input dir) are written
  *    once as columnar files through
  *    [[graft.sources.ArtifactStore.parquet]];
  *  - anything else is not materialized at all.
  *
  * A local checkpoint truncates lineage, so a lost block fails the job;
  * that is acceptable only for data that is small next to the corpus.
  * [[local]] therefore enforces [[MaxBlockBytes]] on every block as the
  * block is written, inside the task that materializes it (no extra
  * job), and fails with an `IllegalStateException` naming the owner
  * and the bound instead of pinning a corpus-sized block in worker
  * memory. The largest block the 222 registry queries write at sf0.1 on
  * 4 cores is 2.9 MB (the connected-components edge list), 22× below it.
  */
object Materialize {

  /** `UnsafeRow` bytes one partition of a local materialization may
    * hold: AQE's own target size for a shuffle partition. */
  val MaxBlockBytes: Long = 64L << 20

  /** Spark's local-checkpoint level: a block evicted from memory
    * spills to local disk instead of being lost. */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** What `Dataset.localCheckpoint(eager = false)` keeps — rows are
    * materialized inside the first consumer's job, and the result keeps
    * `df`'s output partitioning and ordering — plus the per-block
    * bound. `owner` names the site and its class in the error.
    */
  def local(df: DataFrame, owner: String): DataFrame = bounded(df, owner, MaxBlockBytes)

  private[operators] def bounded(df: DataFrame, owner: String, maxBlockBytes: Long): DataFrame = {
    val schema = df.schema
    CheckpointBridge.overRdd(df) { rdd =>
      rdd.mapPartitions { it =>
        lazy val toUnsafe = UnsafeProjection.create(schema)
        var bytes = 0L
        it.map { r =>
          val u = (r match { case u: UnsafeRow => u; case o => toUnsafe(o) }).copy()
          bytes += u.getSizeInBytes
          if (bytes > maxBlockBytes) throw new IllegalStateException(
            s"$owner: a materialized block exceeds the per-block bound of " +
              s"$maxBlockBytes bytes; data this large belongs in a written artifact")
          u: InternalRow
        }
      }.persist(Level).localCheckpoint()
    }
  }

  /** Frees the blocks under a [[local]] result. Call it only once every
    * DataFrame derived from `df` has been materialized itself: a
    * consumer that still has to read these blocks fails with a missing
    * checkpoint block.
    */
  def release(df: DataFrame): Unit =
    CheckpointBridge.rddOf(df).getOrElse(throw new IllegalArgumentException(
      "Materialize.release takes a Materialize.local result")).unpersist(blocking = false)
}

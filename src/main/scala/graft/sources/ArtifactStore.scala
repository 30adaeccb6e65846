package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped staged stores: the ONE spelling of "build a store
  * once, read it on every call" — the gate fixtures (SinkQ's lakehouse
  * tables, StreamQ's staged sources and checkpoints) and the PARQUET
  * materialization of derived artifacts with more than one consumer
  * (the near-dup pair list, the per-doc bigram multiset, the
  * tf-postings table).
  *
  * Why parquet and not a persisted/`localCheckpoint`ed plan: a
  * corpus-sized artifact pinned at MEMORY_AND_DISK competes with every
  * later query's execution memory (the r7 battery-tail drift), and at
  * DISK_ONLY each consumer pays a java-serialized row-by-row block read
  * per run (the r8 q139 9.9 s constant — the serialized rows are bigger
  * than the source text). A parquet artifact is written ONCE and every
  * re-read is a columnar, compressed, vectorized scan with column
  * pruning and predicate pushdown — strictly the production shape: at
  * 100 TB a shared artifact (near-dup pairs, an inverted index's
  * postings) is a written table beside the corpus that downstream
  * reports scan like any other input, not an executor-memory resident.
  *
  * The memo key is (session, input dir, name): each scale factor gets
  * its own store, nothing leaks across sessions, and repeat consumers
  * get the SAME value (for parquet, the same DataFrame — plan reuse on
  * top of the file reuse). Names share one namespace per (session,
  * dir). Every store lives in one [[Staging.tempDir]], reaped at JVM
  * exit. This is the corpus-sized class of
  * [[graft.operators.Materialize]]'s policy; bounded data stays in
  * local blocks there.
  */
object ArtifactStore {

  // ONE memo protocol, not a second hand-rolled copy of it (r18
  // review): the evict-stopped-sessions + per-key-monitor +
  // double-check machinery lives in [[SessionMemo]], and this object
  // only contributes the staging directory. A FAILED fill deletes
  // its directory before rethrowing, so retries don't accumulate
  // orphan temp trees, and memoizes nothing.
  private val memo = new SessionMemo[(SparkSession, String, String), Any](_._1)

  /** Run `fill` once per (session, dir, name) against a fresh reaped
    * temp directory and return its result on every call. `fill` runs
    * under the key's own monitor (never a map bin lock), so a
    * multi-second build blocks only callers of the same key. A store
    * that needs several trees puts them in subdirectories of the one
    * directory it is given, so a failure cleanup removes all of them.
    */
  def staged[V](spark: SparkSession, dir: String, name: String)
      (fill: String => V): V =
    memo.get((spark, dir, name)) {
      val stage = Staging.tempDir(s"graft_${name}_")
      try fill(stage.toString)
      catch { case e: Throwable => Staging.delTree(stage); throw e }
    }.asInstanceOf[V]

  /** [[staged]] for a store whose value is its directory. */
  def stagedDir(spark: SparkSession, dir: String, name: String)
      (fill: String => Unit): String =
    staged(spark, dir, name) { o => fill(o); o }

  /** Build `df` once per (session, dir, name), write it as parquet to a
    * staged directory, and return a reader over the written files.
    * The build runs EAGERLY on first call (the write is an action);
    * every subsequent call — and every plan branch of every consumer —
    * scans the columnar files instead of recomputing or
    * java-deserializing the lineage.
    */
  def parquet(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    staged(spark, dir, s"artifact_$name") { stage =>
      val path = s"$stage/data"
      build.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
}

/** Session-keyed memo with [[ArtifactStore.staged]]'s concurrency and
  * lifecycle contract — the memo under it — for the in-memory
  * artifacts (the memoized duplicate components, driver-held model
  * rows, metering baselines) that need no directory; anything that
  * stages files goes through [[ArtifactStore.staged]] instead.
  * Entries of STOPPED sessions are evicted on every access (a static map would otherwise pin the
  * session, its DataFrames and their plans for the JVM lifetime — the
  * r16 ArtifactStore finding), and the multi-second build runs under a
  * PER-KEY monitor, never inside a ConcurrentHashMap bin lock (an eager computeIfAbsent
  * body blocks unrelated keys hashing to the same bin and deadlocks on
  * recursive resolution). One spelling for every query-module memo —
  * the per-file CHMs this replaces each re-decided eviction (none did)
  * and lock scope (all built inside the bin lock).
  *
  * `sessionOf` extracts the owning session from the key (keys vary:
  * (session, dir), (session, dir, name)).
  */
final class SessionMemo[K, V](sessionOf: K => SparkSession) {
  private val done = new ConcurrentHashMap[K, Any]()
  private val locks = new ConcurrentHashMap[K, Object]()

  def get(k: K)(build: => V): V = {
    done.keySet.removeIf(key => sessionOf(key).sparkContext.isStopped)
    locks.keySet.removeIf(key => sessionOf(key).sparkContext.isStopped)
    val hit = done.get(k)
    if (hit != null) return hit.asInstanceOf[V]
    val lock = locks.computeIfAbsent(k, _ => new Object)
    lock.synchronized {
      val again = done.get(k)
      if (again != null) again.asInstanceOf[V]
      else { val v = build; done.put(k, v.asInstanceOf[AnyRef]); v }
    }
  }
}

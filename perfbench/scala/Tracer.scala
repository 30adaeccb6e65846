package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all public Spark and JVM interfaces: a
  * `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (each action's `qe.tracker` phases), a
  * `StreamingQueryListener` (micro-batch phase durations), Spark's
  * codegen counters and the JVM's MXBeans. Listener events arrive on
  * Spark's asynchronous buses, so they are kept in memory with their
  * own timestamps and attributed to passes by time once the run ends.
  * Untraced runs never construct this class.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[JobEvent]()
  val tasks = new ConcurrentLinkedQueue[TaskEvent]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val phases = new ConcurrentLinkedQueue[PhaseEvent]()
  val progress = new ConcurrentLinkedQueue[ProgressEvent]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      jobs.add(JobEvent(start, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.map(Long.box).getOrElse(Long.box(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(TaskEvent(info.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      phases.add(PhaseEvent(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      progress.add(ProgressEvent(at, d))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the asynchronous buses stop delivering (no new event
    * for 300 ms, at most 10 s), then detaches every listener.
    */
  def drainAndRemove(): Unit = {
    def size = jobs.size + tasks.size + stages.size + phases.size + progress.size
    var last = -1
    val deadline = System.nanoTime() + 10000000000L
    while (size != last && System.nanoTime() < deadline) {
      last = size
      Thread.sleep(300)
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  final case class JobEvent(startMs: Long, endMs: Long)
  final case class TaskEvent(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                             shuffleWriteBytes: Long, spillBytes: Long)
  final case class PhaseEvent(startMs: Long, analysisMs: Long, optimizationMs: Long,
                              planningMs: Long)
  final case class ProgressEvent(atMs: Long, durationMs: Map[String, Long])

  /** JVM-wide counters read synchronously at pass boundaries. */
  final case class JvmSnap(gcMs: Long, jitMs: Long, codegenNs: Long, codegenCompiles: Long,
                           ioReadBytes: Long, ioWriteBytes: Long)

  def jvmSnap(): JvmSnap = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val (r, w) = procIo()
    JvmSnap(gc, jit,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      r, w)
  }

  /** (read_bytes, write_bytes) of this process from `/proc/self/io`:
    * bytes that reached or came from storage, after the page cache.
    */
  def procIo(): (Long, Long) =
    try {
      val kv = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
        .asScala.flatMap(l => l.split(":\\s*") match {
          case Array(k, v) => Some(k -> v.trim.toLong)
          case _ => None
        }).toMap
      (kv.getOrElse("read_bytes", 0L), kv.getOrElse("write_bytes", 0L))
    } catch { case _: java.io.IOException => (0L, 0L) }

  def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  def loadedClasses(): Long =
    ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toLong

  /** Heap in use after a full collection: what the run keeps alive. */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import perfbench.Main.{CallRecord, PassRecord, SpanRecord}

/** Per-layer figures of a traced run: each is computed per traced pass
  * and reported as the median over those passes. Listener events are
  * attributed to the pass whose wall-clock window holds their own
  * timestamp.
  */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private val Mb = 1048576.0

  def apply(passes: Seq[PassRecord], calls: Seq[CallRecord],
            spans: Seq[SpanRecord], tracer: Tracer, cpus: Int): Map[String, Double] = {
    val jobs = tracer.jobs.asScala.toSeq
    val tasks = tracer.tasks.asScala.toSeq
    val stages = tracer.stages.asScala.toSeq.map(_.longValue)
    val phases = tracer.phases.asScala.toSeq
    val progress = tracer.progress.asScala.toSeq

    val perPass: Seq[Map[String, Double]] = passes.map { p =>
      def in(ms: Long) = ms >= p.startMs && ms <= p.endMs
      val pj = jobs.filter(j => in(j.startMs))
      val pt = tasks.filter(t => in(t.finishMs))
      val pp = phases.filter(e => in(e.startMs))
      val pg = progress.filter(e => in(e.atMs))
      val ps = spans.filter(_.pass == p.pass)
      val pc = calls.filter(_.pass == p.pass)
      def spanSum(name: String) = ps.filter(_.name == name).map(_.seconds).sum
      def progressSum(key: String) = pg.map(_.durationMs.getOrElse(key, 0L)).sum / 1e3
      val builds = ps.filter(_.name == "clinical.build")
      val buildJobs = pj.count(j => builds.exists(b =>
        j.startMs >= b.startMs && j.startMs <= b.startMs + math.ceil(b.seconds * 1e3).toLong))
      val moduleShares = pc.filter(_.kind == "query").groupBy(_.group).map { case (g, cs) =>
        s"queries.${g}_s" -> cs.map(_.seconds).sum }
      val sourceOps = pc.filter(c => c.kind == "read" || c.kind == "write").groupBy(_.group).map { case (g, cs) =>
        s"sources.${g}_s" -> cs.map(_.seconds).sum }
      Map(
        "clinical.build_s" -> spanSum("clinical.build"),
        "clinical.build_jobs" -> buildJobs.toDouble,
        "plans.analysis_s" -> pp.map(_.analysisMs).sum / 1e3,
        "plans.optimization_s" -> pp.map(_.optimizationMs).sum / 1e3,
        "plans.planning_s" -> pp.map(_.planningMs).sum / 1e3,
        "exec.codegen_compiles" -> p.jvm.codegenCompiles.toDouble,
        "exec.codegen_s" -> p.jvm.codegenNs / 1e9,
        "exec.run_s" -> pj.map(j => j.endMs - j.startMs).sum / 1e3,
        "exec.jobs" -> pj.size.toDouble,
        "exec.stages" -> stages.count(in).toDouble,
        "exec.tasks" -> pt.size.toDouble,
        "exec.task_cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
        "exec.task_gc_s" -> pt.map(_.gcMs).sum / 1e3,
        "exec.shuffle_write_mb" -> pt.map(_.shuffleWriteBytes).sum / Mb,
        "exec.spill_mb" -> pt.map(_.spillBytes).sum / Mb,
        "exec.slot_util" -> pt.map(_.runMs).sum / 1e3 / (p.seconds * cpus),
        "exec.cached_blocks" -> p.cachedBlocks.toDouble,
        "exec.storage_mb" -> p.storageBytes / Mb,
        "jvm.gc_s" -> p.jvm.gcMs / 1e3,
        "jvm.jit_s" -> p.jvm.jitMs / 1e3,
        "queries.build_s" -> spanSum("queries.build"),
        "streaming.addBatch_s" -> progressSum("addBatch"),
        "streaming.walCommit_s" -> progressSum("walCommit"),
        "streaming.commitOffsets_s" -> progressSum("commitOffsets"),
        "streaming.queryPlanning_s" -> progressSum("queryPlanning"),
        "streaming.batches" -> pg.size.toDouble,
        "sources.disk_write_mb" -> p.jvm.ioWriteBytes / Mb,
        "sources.disk_read_mb" -> p.jvm.ioReadBytes / Mb,
        "sources.segment_reads" -> p.extra.getOrElse("segment_reads", 0.0),
        "sources.footer_reads" -> p.extra.getOrElse("footer_reads", 0.0),
        "sources.body_materializations" -> p.extra.getOrElse("body_materializations", 0.0)
      ) ++ moduleShares ++ sourceOps
    }
    perPass.flatMap(_.keys).distinct.map(k =>
      k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** The traced run's spans and listener events, one JSON object a
    * line. A call's span has the id `pass/index`; the spans inside it
    * name it as their parent.
    */
  def writeSpans(path: Path, calls: Seq[CallRecord], spans: Seq[SpanRecord],
                 tracer: Tracer): Unit = {
    val lines =
      calls.map(c => Json.render(Map("type" -> "call", "id" -> s"${c.pass}/${c.index}",
        "name" -> c.name, "group" -> c.group, "start_ms" -> c.startMs,
        "seconds" -> c.seconds))) ++
      spans.map(s => Json.render(Map("type" -> "span", "parent" -> s"${s.pass}/${s.call}",
        "name" -> s.name, "start_ms" -> s.startMs, "seconds" -> s.seconds))) ++
      tracer.jobs.asScala.map(j => Json.render(Map("type" -> "job",
        "start_ms" -> j.startMs, "end_ms" -> j.endMs))) ++
      tracer.phases.asScala.map(e => Json.render(Map("type" -> "query",
        "start_ms" -> e.startMs, "analysis_ms" -> e.analysisMs,
        "optimization_ms" -> e.optimizationMs, "planning_ms" -> e.planningMs))) ++
      tracer.progress.asScala.map(e => Json.render(Map("type" -> "stream_progress",
        "at_ms" -> e.atMs, "duration_ms" -> e.durationMs)))
    Files.write(path, lines.asJava)
  }
}

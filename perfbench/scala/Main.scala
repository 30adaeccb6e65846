package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *  1. boot, then the seeded inputs are written (not timed as set-up);
  *  2. set-up three times, each in a fresh SparkSession (the first
  *     also starts the SparkContext the others share);
  *  3. the first pass of the call sequence (cold);
  *  4. [[Main.WarmPasses]] unmeasured passes, then measured passes for
  *     `--seconds` (at least [[Main.MinPasses]] passes and
  *     [[Main.MinCalls]] calls);
  *  5. or, with `--trace 1`, instead of the measured passes, two traced
  *     and two untraced passes ([[Main.TracedOrder]]), then the
  *     workload's decomposition probes;
  *  6. the workload's output checks.
  *
  * Raw figures go to `--out` as JSON; `perfbench/run.py` turns them into
  * metrics. One client thread makes every call.
  */
object Main {
  val Setups = 3
  /** Measured passes and calls a run needs at least, by workload: the
    * tail percentile must keep 10 calls beyond it.
    */
  val MinPasses = Map("clinical" -> 4, "battery" -> 2)
  val MinCalls = Map("clinical" -> 24, "battery" -> 28)
  /** Unmeasured passes after the first: the JIT work is still settling
    * in the second pass.
    */
  val WarmPasses = Map("clinical" -> 1, "battery" -> 1)
  /** Which passes of a traced run carry the tracer. */
  val TracedOrder = Seq(true, false, false, true)

  final case class CallRecord(pass: Int, index: Int, name: String, group: String,
                              kind: String, seconds: Double, output: String, ok: Boolean,
                              startMs: Long, endMs: Long)
  final case class PassRecord(pass: Int, phase: String, seconds: Double, cpuSeconds: Double,
                              startMs: Long, endMs: Long, jvm: Tracer.JvmSnap,
                              cachedBlocks: Long, storageBytes: Long,
                              extra: Map[String, Double])
  /** A span inside call `call` of pass `pass`. */
  final case class SpanRecord(pass: Int, call: Int, name: String, startMs: Long, seconds: Double)

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(workload: String, cpus: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // the clinical CLI installs the program's optimizer rules; the
    // registry battery runs on a plain session, as the program's own
    // bench does
    val s = (if (workload == "clinical") b.withExtensions(new graft.plans.GraftExtensions) else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val launchMs = arg(args, "launch-ms").toLong
    val bootS = (System.currentTimeMillis() - launchMs) / 1e3
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val cpus = arg(args, "cpus").toInt
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val out = Paths.get(arg(args, "out"))
    val wl = Workloads(workload, seed, work, Paths.get(arg(args, "fixtures")).toAbsolutePath)
    Files.createDirectories(work)

    // set-up: the first in the JVM pays class loading and is reported
    // on its own; the inputs are written between its session start and
    // its set-up and are not part of it
    val setupSeconds = ArrayBuffer.empty[Double]
    var t0 = System.nanoTime()
    var spark = session(workload, cpus, work)
    val firstSpark = spark
    val firstSession = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    wl.makeInputs(spark)
    val inputsS = (System.nanoTime() - t0) / 1e9
    log(f"inputs written in $inputsS%.2f s")
    for (i <- 0 until Setups) {
      t0 = System.nanoTime()
      if (i > 0) spark = spark.newSession()
      wl.setup(spark)
      val s = (System.nanoTime() - t0) / 1e9
      setupSeconds += bootS + s + (if (i == 0) firstSession else 0.0)
      log(f"set-up $i: ${setupSeconds.last}%.2f s")
    }

    val calls = ArrayBuffer.empty[CallRecord]
    val passes = ArrayBuffer.empty[PassRecord]
    val spansOut = ArrayBuffer.empty[SpanRecord]
    var currentPass = 0
    var currentCall = 0
    var tracing = false
    val spans = new Spans {
      def apply[A](name: String)(body: => A): A =
        if (!tracing) body
        else {
          val startMs = System.currentTimeMillis()
          val t = System.nanoTime()
          try body finally
            spansOut += SpanRecord(currentPass, currentCall, name, startMs,
              (System.nanoTime() - t) / 1e9)
        }
    }
    val sequence = wl.pass(spark, spans)

    def runPass(phase: String): PassRecord = {
      val p = currentPass
      val snap0 = Tracer.jvmSnap()
      val startMs = System.currentTimeMillis()
      val cpu0 = cpuSeconds()
      val w0 = System.nanoTime()
      sequence.zipWithIndex.foreach { case (c, i) =>
        currentCall = i
        c.prepare()
        val cs = System.currentTimeMillis()
        val t = System.nanoTime()
        val (output, ok) =
          try (c.run(), true)
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] ${c.name} failed: $e")
            (s"error: ${e.getClass.getName}", false)
          }
        val callSeconds = (System.nanoTime() - t) / 1e9
        calls += CallRecord(p, i, c.name, c.group, c.kind, callSeconds,
          output, ok, cs, System.currentTimeMillis())
        if (p < 2) log(f"  ${c.name}: $callSeconds%.3f s")
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = cpuSeconds() - cpu0
      val endMs = System.currentTimeMillis()
      val snap1 = Tracer.jvmSnap()
      val storage = spark.sparkContext.getRDDStorageInfo
      val extra = wl.afterPass()
      val rec = PassRecord(p, phase, wall, cpu, startMs, endMs,
        Tracer.JvmSnap(snap1.gcMs - snap0.gcMs, snap1.jitMs - snap0.jitMs,
          snap1.codegenNs - snap0.codegenNs, snap1.codegenCompiles - snap0.codegenCompiles,
          snap1.ioReadBytes - snap0.ioReadBytes, snap1.ioWriteBytes - snap0.ioWriteBytes),
        storage.map(_.numCachedPartitions.toLong).sum,
        storage.map(s => s.memSize + s.diskSize).sum, extra)
      passes += rec
      log(f"pass $p ($phase): $wall%.3f s, cpu $cpu%.2f s")
      currentPass += 1
      rec
    }

    runPass("first")
    (0 until WarmPasses(workload)).foreach(_ => runPass("warm"))
    var peakRssMb = 0.0
    var layer = Map.empty[String, Double]
    if (!trace) {
      val m0 = System.nanoTime()
      val firstMeasured = currentPass
      def measuredCalls = calls.count(_.pass >= firstMeasured)
      while ((System.nanoTime() - m0) / 1e9 < seconds ||
          currentPass - firstMeasured < MinPasses(workload) ||
          measuredCalls < MinCalls(workload))
        runPass("measured")
      peakRssMb = vmHwmMb()
    } else {
      // traced, untraced, untraced, traced: a drift that is linear in
      // time (the JIT settling) weighs both sides alike; the tracer is
      // attached only around the traced passes
      val tracer = new Tracer(spark)
      val firstTraced = currentPass
      for (traced <- TracedOrder)
        if (!traced) runPass("untraced")
        else {
          tracer.install()
          tracing = true
          runPass("traced")
          tracing = false
          tracer.drainAndRemove()
        }
      val traced = passes.filter(p => p.pass >= firstTraced && p.phase == "traced").toSeq
      layer = Layers(traced, calls.filter(c => traced.exists(_.pass == c.pass)).toSeq,
        spansOut.toSeq, tracer, cpus) ++ wl.probes(spark) ++ Map(
        "jvm.codecache_mb" -> Tracer.codeCacheMb(),
        "jvm.classes" -> Tracer.loadedClasses().toDouble,
        "jvm.retained_heap_mb" -> Tracer.retainedHeapMb())
      Layers.writeSpans(work.resolve(s"trace-$workload-$seed.jsonl"),
        calls.filter(c => traced.exists(_.pass == c.pass)).toSeq, spansOut.toSeq, tracer)
    }

    t0 = System.nanoTime()
    val checks = wl.checks(spark)
    log(f"checks in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    firstSpark.stop()

    Files.write(out, Json.render(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "boot_s" -> bootS, "inputs_s" -> inputsS,
      "setup_s" -> setupSeconds.toSeq, "peak_rss_mb" -> peakRssMb,
      "passes" -> passes.toSeq.map(p => Map("pass" -> p.pass, "phase" -> p.phase,
        "seconds" -> p.seconds, "cpu_s" -> p.cpuSeconds) ++ p.extra),
      "calls" -> calls.toSeq.map(c => Map("pass" -> c.pass, "index" -> c.index,
        "name" -> c.name, "group" -> c.group, "kind" -> c.kind, "seconds" -> c.seconds,
        "output" -> c.output, "ok" -> c.ok)),
      "checks" -> checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) },
      "layer" -> layer)).getBytes("UTF-8"))
  }
}

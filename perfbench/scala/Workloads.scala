package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** One call of a pass: `run` makes it and returns its output digest
  * (or, for a write, a marker that repeats when the write behaves).
  * `kind` is "query", "read" or "write"; `group` attributes its time to
  * a module or an operation in the traced run. `prepare` runs just
  * before the call, outside its timing.
  */
final case class Call(name: String, group: String, kind: String, run: () => String,
                      prepare: () => Unit = () => ())

/** What a call body may record for the traced run: named spans inside
  * the call. Outside traced passes it only runs the body.
  */
trait Spans {
  def apply[A](name: String)(body: => A): A
}

/** A workload: inputs made from the seed, a set-up the program pays
  * before its first call, and one pass of calls repeated for the run.
  */
trait Workload {
  /** Writes the seeded inputs (not part of set-up: the data exists
    * before the program starts, as a user's files would).
    */
  def makeInputs(spark: SparkSession): Unit
  /** The program's set-up: inputs registered, seed state written. */
  def setup(spark: SparkSession): Unit
  /** The calls of one pass; the same sequence every pass. */
  def pass(spark: SparkSession, spans: Spans): IndexedSeq[Call]
  /** Figures taken after a pass, outside its timing. */
  def afterPass(): Map[String, Double] = Map.empty
  /** Output checks beyond digest repetition: (name, passed). */
  def checks(spark: SparkSession): Seq[(String, Boolean)] = Nil
  /** Traced-run figures taken after the traced passes. */
  def probes(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, seed: Long, work: Path, fixtures: Path): Workload = name match {
    case "clinical" => new ClinicalWorkload(seed, work, fixtures)
    case "battery" => new BatteryWorkload(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Median wall seconds of `reps` runs of `body`. */
  def medianSeconds(reps: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The paper's CLI traffic: each call builds a fresh
  * `graft.clinical.Pipeline.run` from the three CSV sources, as the
  * reference CLI reads them, with a seeded `PipelineConfig`, and
  * materializes every output column.
  */
final class ClinicalWorkload(seed: Long, work: Path, fixtures: Path) extends Workload {
  import graft.clinical.{Metrics, Pipeline, PipelineConfig, Sources}

  /** Calls per pass: call 1 bug-compatible (cross-user diff boundary,
    * the reference's own semantics), the rest strict. A bug-compatible
    * call costs about three strict ones; one per pass keeps a run inside
    * the benchmark's time budget.
    */
  val CallsPerPass = 6

  /** The three CSV sources, written by perfbench/inputs.py. */
  private val dir = work.resolve("clinical").toString
  private def users(s: SparkSession) = Sources.usersCsv(s, dir)
  private def weights(s: SparkSession) = Sources.weightsCsv(s, dir)
  private def treatments(s: SparkSession) = Sources.treatmentsCsv(s, dir)

  /** The CSV sources are written before the JVM starts. */
  def makeInputs(spark: SparkSession): Unit = ()

  def setup(spark: SparkSession): Unit =
    Seq(users(spark), weights(spark), treatments(spark)).foreach(_.count())

  /** Stratified configs, so every seed prices the same mix: the cohort
    * cycles week/month/ClinicID, the gender all/Male/Female (shifted by
    * one on the second cycle), call 1 is bug-compatible and every other
    * call deduplicates; the seed draws where a 20-year age band sits and
    * the clinic. Ages are uniform over 18-72, so every band selects about
    * the same share of users.
    */
  val configs: IndexedSeq[PipelineConfig] = {
    val rnd = new Random(seed)
    val cohorts = IndexedSeq("week", "month", "ClinicID")
    val genders = IndexedSeq("all", "Male", "Female")
    (0 until CallsPerPass).map { i =>
      val minAge = 18L + rnd.nextInt(35)
      PipelineConfig(
        cohort = cohorts(i % 3),
        gender = genders((i + i / 3) % 3),
        minAge = minAge,
        maxAge = minAge + 20,
        clinicId = rnd.nextInt(3).toLong,
        strictCohorts = i != 1,
        dedup = i % 2 == 0)
    }
  }

  def pass(spark: SparkSession, spans: Spans): IndexedSeq[Call] =
    configs.zipWithIndex.map { case (cfg, i) =>
      val mode = if (cfg.strictCohorts) "strict" else "bugcompat"
      Call(s"c$i-${cfg.cohort}-$mode", mode, "query", () => {
        val df = spans("clinical.build") {
          Pipeline.run(users(spark), weights(spark), treatments(spark), cfg)
        }
        Digest.of(df)
      })
    }

  /** The four reference goldens, compared cell for cell the way the
    * program's own golden spec does: doubles rounded to 6 places,
    * nulls as "", rows sorted.
    */
  override def checks(spark: SparkSession): Seq[(String, Boolean)] = {
    val keep = Seq("UID", "Gender", "Age", "ClinicID", "Weight", "Wts_CreatedDate",
      "month", "week", "WIR", "PSW", "TSW", "treatment_TBWL", "patient_TBWL")
    val doubles = Set("Weight", "PSW", "TSW", "treatment_TBWL", "patient_TBWL")
    def canon(df: DataFrame): Seq[Seq[String]] =
      keep.foldLeft(df) { (d, c) =>
        if (doubles(c)) d.withColumn(c, round(col(c).cast("double"), 6).cast("string"))
        else d.withColumn(c, col(c).cast("string"))
      }.select(keep.map(col): _*).collect()
        .map(r => keep.indices.map(i => if (r.isNullAt(i)) "" else r.getString(i)))
        .toSeq.sortBy(_.mkString(""))
    val fx = fixtures.toString
    Seq(
      "default_week" -> PipelineConfig(),
      "male_u18_week" -> PipelineConfig(gender = "Male", minAge = 18, maxAge = 18),
      "female_month" -> PipelineConfig(cohort = "month", gender = "Female",
        minAge = 10, maxAge = 80),
      "clinic_cohort" -> PipelineConfig(cohort = "ClinicID", minAge = 10, maxAge = 80,
        clinicId = 5067)).map { case (name, cfg) =>
      val got = canon(Pipeline.runFromCsv(spark, fx, cfg))
      val want = canon(spark.read.option("header", "true").csv(s"$fx/golden/$name.csv"))
      s"golden:$name" -> (got == want)
    }
  }

  /** BASELINE.md's decomposition on this workload's sources, each step
    * over cached inputs to the step (as the reference times in-memory
    * frames): load 3 tables, 2 left joins, the 6-key sort, the metric
    * stack with filters; plus the whole pipeline from the CSV files. The
    * configuration is the reference's timed one (week cohort, Male,
    * max age 18) with clinic 1 of this data's 0–2.
    */
  override def probes(spark: SparkSession): Map[String, Double] = {
    val cfg = PipelineConfig(cohort = "week", gender = "Male", maxAge = 18, clinicId = 1)
    val reps = 3
    def loaded() = Seq(users(spark), weights(spark), treatments(spark))
    val load = Workloads.medianSeconds(reps)(loaded().foreach(Workloads.noop))
    val Seq(u, w, t) = loaded().map(_.cache())
    Seq(u, w, t).foreach(_.count())
    val join = Workloads.medianSeconds(reps)(Workloads.noop(Pipeline.joined(u, w, t)))
    val joined = Pipeline.joined(u, w, t).cache()
    joined.count()
    val sort = Workloads.medianSeconds(reps)(
      Workloads.noop(joined.orderBy(Metrics.sortKeys: _*)))
    val metrics = Workloads.medianSeconds(reps)(Workloads.noop(Pipeline.run(u, w, t, cfg)))
    Seq(u, w, t, joined).foreach(_.unpersist(blocking = true))
    val full = Workloads.medianSeconds(reps)(
      Workloads.noop(Pipeline.run(users(spark), weights(spark), treatments(spark), cfg)))
    Map("clinical.load_s" -> load, "clinical.join_s" -> join, "clinical.sort_s" -> sort,
      "clinical.metrics_s" -> metrics, "clinical.full_s" -> full)
  }
}

/** A fixed stratified sample of the program's query registry, one
  * query from each of 4 modules, plus one `graft.streaming` operator and
  * the lakehouse leg ([[LakehouseWorkload]]). The registry memoizes plans
  * and artifacts per session, so steady passes re-execute memoized
  * plans: this is the workload that hits the program's memo.
  *
  * The sample was drawn once with Python's `random.Random(20261018)`:
  * one query per module from the queries whose steady time in the
  * program's own bench at scale factor 0.01 was at most 0.35 s on a
  * 4-core machine, then 4 of the 14 modules; the caps keep a run inside
  * the benchmark's time budget. The clinical pipeline (its own
  * workload), the lakehouse sink module (the lakehouse leg) and the
  * registry's streaming module are left out; streaming runs a
  * `graft.streaming` operator through a memory sink whose checkpoint
  * stays in the benchmark's work directory (the registry's streaming
  * runner keeps its checkpoints in a machine-wide temporary directory).
  */
final class BatteryWorkload(seed: Long, work: Path) extends Workload {
  val Sf = 0.001
  private val dir = work.resolve("tables").toString
  private val tmp = work.resolve("tmp")

  /** The lakehouse leg: DML beside reads on the snapshot store. */
  val lake = new LakehouseWorkload(seed, work)

  def makeInputs(spark: SparkSession): Unit =
    new Inputs(spark, seed).writeTables(dir, Sf, Seq(lake.seedInput(spark)))

  /** Registers the tables the sample and the stream read. */
  def setup(spark: SparkSession): Unit = {
    Seq("orders", "events", "documents")
      .foreach(t => spark.read.parquet(s"$dir/$t.parquet").limit(1).count())
    lake.setup(spark)
  }

  override def afterPass(): Map[String, Double] = lake.afterPass()

  override def checks(spark: SparkSession): Seq[(String, Boolean)] = lake.checks(spark)

  override def probes(spark: SparkSession): Map[String, Double] = lake.footprint()

  import graft.queries._
  /** (module, registry, query) in pass order. */
  val sample: Seq[(String, Map[String, (SparkSession, String) => DataFrame], String)] = Seq(
    ("WindowsQ", WindowsQ.queries, "q25_window_topk"),
    ("TextQ", TextQ.queries, "q76_repetition_report"),
    ("SummaryQ", SummaryQ.queries, "q61_funnel"),
    ("SketchQ", SketchQ.queries, "q114_hll_partial_merge"))

  /** Runs a bounded stream over the events file to completion into a
    * memory table and digests the table.
    */
  private def runStream(spark: SparkSession, name: String,
                        op: DataFrame => DataFrame, mode: OutputMode): String = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.shuffle.partitions")
    val ck = Files.createTempDirectory(tmp, s"ck_$name")
    val table = s"perfbench_$name"
    try {
      conf.set("spark.sql.shuffle.partitions", "8")
      val q = op(graft.streaming.Streaming.eventStream(spark, s"$dir/events.parquet"))
        .writeStream.format("memory").queryName(table).outputMode(mode)
        .option("checkpointLocation", ck.toString).start()
      try q.processAllAvailable() finally q.stop()
      Digest.of(spark.table(table))
    } finally {
      conf.set("spark.sql.shuffle.partitions", prev)
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
    }
  }

  def pass(spark: SparkSession, spans: Spans): IndexedSeq[Call] = {
    Files.createDirectories(tmp)
    sample.map { case (module, registry, q) =>
      Call(q, module, "query", () => Digest.of(spans("queries.build")(registry(q)(spark, dir))))
    }.toIndexedSeq ++ IndexedSeq(
      Call("stream_windowed_counts", "StreamQ", "query", () => runStream(spark,
        "windowed_counts", graft.streaming.Streaming.windowedCounts, OutputMode.Complete))
    ) ++ lake.pass(spark, spans)
  }
}

/** Writes beside reads on `graft.sources.Snapshots`. Every pass starts
  * and ends with the seed rows live: it appends a batch, updates and
  * merges into it, reads the head, the version the pass started from
  * and a key range, deletes what it added, then compacts and expires. So each read's digest repeats every pass, and
  * the version a pass started from must digest exactly like the seed
  * rows.
  */
final class LakehouseWorkload(seed: Long, work: Path) {
  import graft.operators.QualityChecks.RowPredicate
  import graft.sources.Snapshots

  val SeedRows = 10000L
  val BatchRows = 2000L
  private val root = work.resolve("table").toString
  private val seedDir = work.resolve("lakehouse_seed.parquet").toString
  /** Keys added by a pass lie above every seed key. */
  private val base = 1L << 40

  /** The seed rows: keyed line items, and where they are written. */
  def seedInput(spark: SparkSession): (DataFrame, String) =
    new Inputs(spark, seed).keyedLineitem(SeedRows, SeedRows / 4, SeedRows / 30,
      SeedRows / 600) -> seedDir

  private def seedRows(spark: SparkSession) = spark.read.parquet(seedDir)
  private var seedDigest = ""
  private var liveBytesOneShot = 0L

  /** A fresh table root seeded with the seed rows (version 1). */
  def setup(spark: SparkSession): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(Paths.get(root).toFile)
    Snapshots.append(seedRows(spark), root)
  }

  private def batch(spark: SparkSession, from: Long, n: Long): DataFrame =
    seedRows(spark).where(col("k") < n).withColumn("k", col("k") + from)

  private val rowChecks = Seq(RowPredicate("quantity_positive", col("l_quantity") <= 0))

  def pass(spark: SparkSession, spans: Spans): IndexedSeq[Call] = {
    if (seedDigest.isEmpty) {
      seedDigest = Digest.of(seedRows(spark))
      seedBytes = parquetBytes(Paths.get(seedDir))
    }
    var passStart = -1
    def write(name: String)(body: => Int): Call = Call(s"lake_$name", name, "write", () => {
      val before = Snapshots.headOf(root)
      if (name == "append") passStart = before
      val v = spans(s"sources.$name")(body)
      // a commit mints exactly the next version on the single writer
      require(v == before + 1 && Snapshots.headOf(root) == v,
        s"$name committed version $v over head $before")
      "committed"
    })
    def read(name: String, mustBeSeed: Boolean = false)(df: => DataFrame): Call =
      Call(s"lake_$name", name, "read", () => {
        val d = Digest.of(spans(s"sources.$name")(df))
        require(!mustBeSeed || d == seedDigest, s"$name read $d, seed rows are $seedDigest")
        d
      })
    def added(from: Long, n: Long): DataFrame = spark.range(from, from + n).toDF("k")
    IndexedSeq(
      write("append")(Snapshots.append(batch(spark, base, BatchRows), root)),
      write("update")(Snapshots.updateChecked(spark, root,
        col("k").between(base, base + BatchRows / 2 - 1),
        Map("l_quantity" -> (col("l_quantity") + 100.0)), rowChecks)),
      write("merge")(Snapshots.mergeChecked(spark, root, "k",
        batch(spark, base + BatchRows / 2, BatchRows)
          .withColumn("l_discount", col("l_discount") + 0.5), rowChecks)),
      read("read")(Snapshots.read(spark, root)),
      read("travel", mustBeSeed = true)(Snapshots.read(spark, root, passStart)),
      read("pruned_read")(Snapshots.readPruned(spark, root, Snapshots.headOf(root),
        "k", base + BatchRows / 4, base + BatchRows)),
      write("delete")(Snapshots.deleteWhere(spark, root, "k", added(base, BatchRows))),
      write("delete_checked")(Snapshots.deleteChecked(spark, root, "k",
        added(base + BatchRows, BatchRows / 2), rowChecks)),
      // compaction every pass: skipping it makes the next pass's
      // merge-on-read update and reads two to three times as costly
      write("compact")(Snapshots.compact(spark, root, 4))
        .copy(prepare = () => preCompactBytes = rootBytes()),
      Call("lake_expire", "expire", "write", () => {
        spans("sources.expire")(Snapshots.expire(root, Snapshots.headOf(root)))
        "expired"
      }))
  }

  private var seedBytes = 0L
  private var preCompactBytes = 0L
  private var counters = (0L, 0L, 0L)

  /** Per pass: the space amplification just before the latest
    * compaction (bytes under the root over the bytes of a one-shot
    * parquet write of the same live rows, which are the seed rows
    * then), and this thread's snapshot-store counter deltas.
    */
  def afterPass(): Map[String, Double] = {
    val now = (Snapshots.segmentReadsHere, Snapshots.queryPathFooterReadsHere,
      Snapshots.bodyMaterializationsHere)
    val (s0, f0, b0) = counters
    counters = now
    Map("space_amp" -> preCompactBytes.toDouble / seedBytes,
      "segment_reads" -> (now._1 - s0).toDouble,
      "footer_reads" -> (now._2 - f0).toDouble,
      "body_materializations" -> (now._3 - b0).toDouble)
  }

  private def parquetBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .mapToLong(Files.size(_)).sum() finally s.close()
  }

  /** Live data files and manifest megabytes of the head. */
  def footprint(): Map[String, Double] = {
    val manifests = Paths.get(root, "_manifests")
    val mb = {
      val s = Files.walk(manifests)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    } / 1048576.0
    Map("sources.files_live" -> Snapshots.files(root, Snapshots.headOf(root)).size.toDouble,
      "sources.manifest_mb" -> mb)
  }

  /** Bytes under the table root. */
  def rootBytes(): Long = {
    val s = Files.walk(Paths.get(root))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def checks(spark: SparkSession): Seq[(String, Boolean)] = Seq(
    "head_matches_seed" -> (Digest.of(Snapshots.read(spark, root)) == seedDigest))

}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two-JVM battery split (r16 verdict #1: the graded artifact must
  * measure operators, not session age). The parent merges child
  * results parsed from the full-precision first stdout line — this
  * spec pins the round-trip against the LIVE formatter and the shard
  * partition against the LIVE registry, so a formatting or slicing
  * change that would silently drop a query's time from the merged
  * artifact fails at build time.
  */
class BenchSplitSpec extends AnyFunSuite {

  test("parseFullnamesLine round-trips the live formatter, incl. -1 markers") {
    val results = Seq("q01_agg" -> 0.123, "q100_bm25_topk" -> 12.5,
      "q13_x" -> -1.0, "q222_semantic_pairs_distribute" -> 3.077)
    val line = Bench.fullnamesLine(results, "/root/testdata/sf0.1")
    val parsed = Bench.parseFullnamesLine(
      "some spark noise\n" + line + "\n{\"metric\":\"total\",...}\n")
    assert(parsed.contains(results))
  }

  test("parseFullnamesLine handles an empty shard and missing lines") {
    val empty = Bench.fullnamesLine(Seq.empty, "/root/testdata/sf0.01")
    assert(Bench.parseFullnamesLine(empty).contains(Seq.empty))
    assert(Bench.parseFullnamesLine("no machine line here").isEmpty)
  }

  test("parseMetaLine round-trips the live metaLine formatter") {
    val meta = Bench.BenchMeta(
      la = Seq((0.42, 1.2, 2.31), (18.25, 5.4, 3.0)),
      rr = Seq("q139_bigram_fluency" -> (8.5, 0.71)),
      io = Seq("q92_semantic_dedup" -> ((123456789L, 456L, 38000L)),
        "q01_agg" -> ((0L, 0L, 0L))),
      cf = Seq(0.413, 0.392))
    val line = Bench.metaLine(meta)
    val parsed = Bench.parseMetaLine("noise\n" + line + "\ntrailing")
    assert(parsed.contains(meta))
  }

  test("parseMetaLine handles empty sections and a missing line") {
    val empty = Bench.BenchMeta(Nil, Nil, Nil, Nil)
    assert(Bench.parseMetaLine(Bench.metaLine(empty)).contains(empty))
    assert(Bench.parseMetaLine("no meta line").isEmpty)
  }

  test("parseMetaLine degrades a truncated meta line to None, not a throw") {
    // r18 ADVICE: a present-but-truncated line (missing rr/io markers)
    // must degrade the shard's EVIDENCE, never abort the merge
    val full = Bench.metaLine(Bench.BenchMeta(
      la = Seq((0.4, 1.2, 2.3)), rr = Nil,
      io = Seq("q01_agg" -> ((1L, 2L, 3L))), cf = Seq(0.4)))
    for (cut <- Seq(full.indexOf("\"rr\":"), full.indexOf("\"io\":"),
      full.length - 5)) {
      val truncated = full.substring(0, cut)
      assert(Bench.parseMetaLine(truncated).forall(m => m.la.nonEmpty),
        s"truncation at $cut must not throw: $truncated")
    }
    // the sharpest case: markers gone entirely — no rr/io section to
    // parse, so the shard carries no meta at all
    assert(Bench.parseMetaLine("{\"metric\":\"bench_meta\",\"la\":[").isEmpty)
  }

  test("cpuFraction: sum CPU over sum wall x cores, skips failures") {
    val cores = Runtime.getRuntime.availableProcessors()
    val results = Seq("q1_a" -> 2.0, "q2_b" -> 2.0, "q3_c" -> -1.0)
    val io = Seq("q1_a" -> ((0L, 0L, (2000L * cores))), // full machine
      "q2_b" -> ((0L, 0L, 0L)),                         // fully stalled
      "q3_c" -> ((0L, 0L, 999999L)))                    // failed: excluded
    val cf = Bench.cpuFraction(results, io)
    // (2000*cores + 0) ms / (4.0 s * cores) = 0.5
    assert(cf.exists(v => math.abs(v - 0.5) < 1e-9), cf.toString)
    assert(Bench.cpuFraction(Seq("q1_a" -> -1.0), io).isEmpty)
    assert(Bench.cpuFraction(Nil, Nil).isEmpty)
  }

  test("machine line carries the adjudication block inside the kept tail") {
    val results = Seq("q92_semantic_dedup" -> 4.7, "q222_semantic_pairs_distributed" -> 4.0,
      "q01_agg" -> 0.1, "q13_x" -> -1.0)
    val meta = Bench.BenchMeta(
      la = Seq((0.4, 1.2, 2.3), (18.2, 5.4, 3.0)),
      rr = Seq("q139_bigram_fluency" -> (8.5, 0.71)),
      io = Seq("q92_semantic_dedup" -> ((123456789L, 4560L, 38000L)),
        "q222_semantic_pairs_distributed" -> ((0L, 0L, 1200L))),
      cf = Seq(0.43, 0.39))
    val line = Bench.machineLine(results, "sf0.1", meta)
    // cf/cfs/la/rr/hot sit between "sf" and the trailing "value" — the
    // region the driver's 2000-char tail always keeps
    val afterSf = line.substring(line.indexOf("\"sf\":"))
    // battery cf = (38 + 1.2) CPU-s / ((4.7 + 4.0) wall-s * cores) =
    // 4.506 / cores: "0.56" at 8 cores, "1.1" at 4. cores is
    // machine-dependent, so no literal holds on every host: compare the
    // rendered number with the live cpuFraction (specified above) to
    // the render's precision, 2dp under 1 and 1dp from 1 up
    val cfAt = afterSf.indexOf("\"cf\":")
    assert(cfAt >= 0, line)
    val cfRendered = afterSf.substring(cfAt + "\"cf\":".length).takeWhile(_ != ',')
    val cfLive = Bench.cpuFraction(results, meta.io)
    assert(cfLive.isDefined, "fixture carries CPU samples for both successful queries")
    val renderTol = if (cfLive.get >= 1.0) 0.05 else 0.005
    assert(cfRendered.toDoubleOption.exists(v => math.abs(v - cfLive.get) <= renderTol + 1e-9),
      s"rendered cf $cfRendered vs live ${cfLive.get}: $line")
    assert(afterSf.contains("\"cfs\":[0.43,0.39]"), line)
    assert(afterSf.indexOf("\"cf\":") < afterSf.indexOf("\"la\":"), line)
    assert(afterSf.contains("\"la\":[[0.4,1.2,2.3],[18.2,5.4,3]]"), line)
    assert(afterSf.contains("\"rr\":{\"139\":[8.5,0.71]}"), line)
    // hot = slowest-first, [read MB, GC s, CPU s] of the best run
    assert(afterSf.contains("\"hot\":{\"92\":[117.7,4.6,38],\"222\":[0,0,1.2]}"), line)
    assert(afterSf.indexOf("\"value\":") > afterSf.indexOf("\"hot\":"), line)
    // no meta → no adjudication fields, byte-identical legacy layout
    assert(!Bench.machineLine(results, "sf0.1").contains("\"la\":"))
  }

  test("documented heavies move to the shard head, rest keeps order") {
    val names = Seq("q01_agg", "q222_semantic_pairs_distributed",
      "q45_x", "q92_semantic_dedup", "q99_z")
    assert(Bench.heaviesFirst(names) == Seq(
      "q222_semantic_pairs_distributed", "q92_semantic_dedup",
      "q01_agg", "q45_x", "q99_z"))
    // a shard without any heavy is untouched
    val plain = Seq("q01_agg", "q45_x")
    assert(Bench.heaviesFirst(plain) == plain)
    // the full battery still covers every query exactly once
    val all = SparkEntry.rawQueries.keys.toSeq.sorted
    val merged = (0 until 2).flatMap(i =>
      Bench.heaviesFirst(Bench.shardSlice(all, i, 2)))
    assert(merged.sorted == all)
  }

  test("two shards partition the live registry: every query exactly once") {
    val all = SparkEntry.rawQueries.keys.toSeq.sorted
    val merged = Bench.shardSlice(all, 0, 2) ++ Bench.shardSlice(all, 1, 2)
    assert(merged == all, "shards must cover the battery exactly once, in order")
    // both halves substantial — the split only helps if it splits
    assert(Bench.shardSlice(all, 0, 2).size >= all.size / 3)
    assert(Bench.shardSlice(all, 1, 2).size >= all.size / 3)
  }
}

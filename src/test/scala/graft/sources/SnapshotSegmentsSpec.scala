package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Two-level manifests (r13): lists re-reference carried segments by
  * name (commit cost O(new), not O(table)), stats pruning skips whole
  * unopened segments, and reaping refcounts segments like data files.
  */
class SnapshotSegmentsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def listLines(root: String, v: Int): Seq[String] =
    Files.readAllLines(
      Paths.get(root).resolve("_manifests").resolve(s"$v.txt")).asScala.toSeq

  private def segPtrs(root: String, v: Int): Seq[String] =
    listLines(root, v).filter(_.startsWith("#segment\t")).map(_.split('\t')(1))

  private def segFiles(root: String): Set[String] = {
    val d = Paths.get(root).resolve("_manifests")
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_seg_")).toSet
    finally s.close()
  }

  test("appends re-reference parent segments by name; only one new segment per commit") {
    val root = Staging.tempDir("seg_reuse").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    Snapshots.append(Seq((3L, "c")).toDF("id", "s"), root)
    Snapshots.append(Seq((4L, "d")).toDF("id", "s"), root)
    val p1 = segPtrs(root, 1); val p2 = segPtrs(root, 2); val p3 = segPtrs(root, 3)
    assert(p1.size == 1 && p2.size == 2 && p3.size == 3,
      "each commit must add exactly one segment pointer")
    // v2/v3 carry v1's segment VERBATIM — same file, no rewrite
    assert(p2.take(1) == p1 && p3.take(2) == p2)
    // the list file itself holds no entry lines (headers + pointers only)
    assert(listLines(root, 3).forall(l => l.startsWith("#")))
    // resolution still yields the full ordered file set
    assert(Snapshots.files(root, 3).size ==
      Snapshots.files(root, 1).size + 2)
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("stats pruning skips non-overlapping segments without opening them") {
    val root = Staging.tempDir("seg_prune").toString
    // three disjoint id ranges, one segment each
    Snapshots.append((1L to 10L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), root)
    Snapshots.append((100L to 110L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), root)
    Snapshots.append((1000L to 1010L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1), root)
    val before = Snapshots.segmentReads.get()
    val hit = Snapshots.prunedFiles(spark, root, 3, "id", 100L, 120L)
    val opened = Snapshots.segmentReads.get() - before
    assert(hit == Snapshots.files(root, 2).diff(Snapshots.files(root, 1)),
      "pruning must return exactly the middle range's file")
    assert(opened == 1, s"only the overlapping segment may be opened, got $opened")
    // a range nothing matches opens nothing
    val b2 = Snapshots.segmentReads.get()
    assert(Snapshots.prunedFiles(spark, root, 3, "id", 5000L, 6000L).isEmpty)
    assert(Snapshots.segmentReads.get() == b2,
      "a fully non-overlapping predicate must resolve zero segments")
    // and the pointer aggregates agree with full resolution
    assert(Snapshots.prunedFiles(spark, root, 3, "id", 1L, 2000L).toSet ==
      Snapshots.files(root, 3).toSet)
  }

  test("expire reaps segments no retained list references; shared segments survive") {
    val root = Staging.tempDir("seg_expire").toString
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), root)
    Snapshots.append(Seq((2L, "b")).toDF("id", "s"), root)
    Snapshots.append(Seq((3L, "c")).toDF("id", "s"), root)
    val all = segFiles(root)
    assert(all.size == 3)
    Snapshots.expire(root, keepFrom = 3)
    // v1/v2 lists are gone, but their segments are still referenced by
    // v3's carried pointers — nothing may be reaped
    assert(segFiles(root) == all,
      "segments carried forward by a retained list must survive expire")
    assert(Snapshots.read(spark, root, 3).count() == 3)
    // compact collapses the pointer list; expiring history then strands
    // the pre-compaction segments and reap collects them
    val v4 = Snapshots.compact(spark, root, targetFiles = 1)
    assert(segPtrs(root, v4).size == 1)
    Snapshots.expire(root, keepFrom = v4)
    val left = segFiles(root)
    assert(left == segPtrs(root, v4).toSet,
      s"only the compacted segment may remain, got $left")
    assert(Snapshots.read(spark, root).count() == 3)
  }

  test("partition summaries skip whole segments on point lookups; untokened segments still scan") {
    val root = Staging.tempDir("seg_part").toString
    val spec = Snapshots.IdentityPartition("src")
    // commit 0: UN-partitioned (no #part tokens — never skippable),
    // then three partition-aligned ingests, one identity value each
    Snapshots.append(Seq((0L, "z")).toDF("id", "src"), root)
    Seq("a", "b", "c").foreach { v =>
      Snapshots.appendPartitioned(
        (1L to 5L).map(i => (i, v)).toDF("id", "src"), root, spec)
    }
    val v = Snapshots.latestVersion(root)
    val before = Snapshots.segmentReads.get()
    val hit = Snapshots.partitionPrunedFiles(root, v, spec, "b")
    val opened = Snapshots.segmentReads.get() - before
    // the 'a' and 'c' segments skip via their #partagg summaries; the
    // un-partitioned segment has no summary and must be opened (its
    // token-less file is kept by the evolution rule), so 2 opens
    assert(opened == 2, s"expected 2 segment opens (b + legacy), got $opened")
    val all = Snapshots.files(root, v)
    val bOnly = Snapshots.files(root, 3).diff(Snapshots.files(root, 2))
    val legacy = Snapshots.files(root, 1)
    assert(hit.toSet == (bOnly ++ legacy).toSet,
      "lookup must keep exactly partition b's files plus the untokened legacy file")
    // a literal NO partition holds: only the legacy segment opens
    val b2 = Snapshots.segmentReads.get()
    val miss = Snapshots.partitionPrunedFiles(root, v, spec, "nope")
    assert(Snapshots.segmentReads.get() - b2 == 1)
    assert(miss.toSet == legacy.toSet)
    assert(all.size == bOnly.size * 3 + legacy.size)
  }

  test("compactManifests packs the pointer list metadata-only; expire reaps the stranded segments") {
    val root = Staging.tempDir("seg_mrewrite").toString
    (1L to 5L).foreach(i =>
      Snapshots.append(Seq((i, s"r$i")).toDF("id", "s"), root))
    val pre = Snapshots.latestVersion(root)
    val dataFiles = Snapshots.files(root, pre)
    assert(segPtrs(root, pre).size == 5)
    val v = Snapshots.compactManifests(root)
    // one packed segment, the SAME data files, identical content
    assert(segPtrs(root, v).size == 1)
    assert(Snapshots.files(root, v) == dataFiles,
      "manifest rewrite must not touch the data file set")
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet ==
      (1L to 5L).toSet)
    // the pre-rewrite version keeps its own 5-pointer list (time travel)
    assert(segPtrs(root, pre).size == 5)
    // CDC skips the rewrite commit when a real change flanks it
    Snapshots.append(Seq((9L, "z")).toDF("id", "s"), root)
    val feed = Snapshots.changesBetween(spark, root, pre, v + 1)
    assert(feed.count() == 1, "the rewrite commit must contribute zero CDC rows")
    // expiring history strands the five per-commit segments; reap them
    val preSegs = segPtrs(root, pre).toSet
    Snapshots.expire(root, keepFrom = v)
    val left = segFiles(root)
    assert(!preSegs.exists(left.contains),
      s"pre-rewrite segments must be reaped once no retained list references them: $left")
    assert(Snapshots.read(spark, root).count() == 6)
  }

  test("compactManifests bin-packs at targetLines; packed stats stay commit-local and skippable") {
    val root = Staging.tempDir("seg_packed").toString
    // six disjoint contiguous id ranges, one 1-entry segment each
    (0 until 6).foreach { i =>
      val lo = i * 100L + 1
      Snapshots.append((lo to lo + 9).map(j => (j, s"r$j")).toDF("id", "s")
        .coalesce(1), root)
    }
    val pre = Snapshots.latestVersion(root)
    assert(segPtrs(root, pre).size == 6)
    val v = Snapshots.compactManifests(root, targetLines = 2)
    // 6 entries at target 2 → exactly 3 packed segments, same files
    assert(segPtrs(root, v).size == 3,
      s"expected 3 packed segments, got ${segPtrs(root, v)}")
    assert(Snapshots.files(root, v) == Snapshots.files(root, pre))
    // a point lookup AFTER the rewrite opens exactly one segment: the
    // packed pointers carry pair-local min/max, not table-wide spans
    val before = Snapshots.segmentReads.get()
    val hit = Snapshots.prunedFiles(spark, root, v, "id", 205L, 205L)
    assert(Snapshots.segmentReads.get() - before == 1,
      "point lookup must skip the two non-overlapping packed segments")
    assert(hit == Snapshots.files(root, 3).diff(Snapshots.files(root, 2)))
    // content round-trips; the rewrite stays CDC-invisible
    assert(Snapshots.read(spark, root).count() == 60)
    Snapshots.append(Seq((9999L, "z")).toDF("id", "s"), root)
    assert(Snapshots.changesBetween(spark, root, pre, v + 1).count() == 1)
    // the default target leaves small commits untouched (one segment
    // per commit run, no gratuitous cuts)
    assert(segPtrs(root, v + 1).size == 4)
  }

  test("clusterBy packing restores skipping on ingest-order-uncorrelated tables") {
    val root = Staging.tempDir("seg_cluster").toString
    // six contiguous id ranges committed in SHUFFLED order — the
    // backfill/multi-source ingest where commit-order packing fails:
    // adjacent commits span distant ranges, so every packed pair's
    // min/max covers most of the table
    Seq(0, 3, 1, 4, 2, 5).foreach { i =>
      val lo = i * 100L + 1
      Snapshots.append((lo to lo + 9).map(j => (j, s"r$j")).toDF("id", "s")
        .coalesce(1), root)
    }
    val pre = Snapshots.latestVersion(root)
    val v = Snapshots.compactManifests(root, targetLines = 2,
      clusterBy = Some("id"))
    assert(segPtrs(root, v).size == 3)
    assert(Snapshots.files(root, v).toSet == Snapshots.files(root, pre).toSet,
      "clustering reorders entries, never changes the file set")
    // clustered pairs are (ranges 0,1)(2,3)(4,5): a point lookup opens
    // exactly one segment — commit-order pairs (0,3)(1,4)(2,5) would
    // each span half the table and all three would open
    val before = Snapshots.segmentReads.get()
    val hit = Snapshots.prunedFiles(spark, root, v, "id", 305L, 305L)
    assert(Snapshots.segmentReads.get() - before == 1,
      "point lookup must open exactly the clustered segment")
    assert(hit.size == 1)
    // rows and remembered versions intact through the reorder
    assert(Snapshots.read(spark, root).count() == 60)
    assert(Snapshots.read(spark, root, 2).count() == 20)
    // delete scoping survives entry reordering: delete + re-cluster
    Snapshots.deleteWhere(spark, root, "id", Seq(305L, 6L).toDF("id"))
    Snapshots.compactManifests(root, targetLines = 2, clusterBy = Some("id"))
    assert(Snapshots.read(spark, root).count() == 58)
    assert(Snapshots.read(spark, root).filter($"id" === 305L).count() == 0)
  }

  test("rewriteManifests distributes the cluster sort: same body order, geometry, and content as the driver sort") {
    // two identical tables, same shuffled ingest; one rewrites on the
    // driver, one as a Spark job (threshold 0 forces distribution)
    def build(tag: String): String = {
      val root = Staging.tempDir(s"seg_dist_$tag").toString
      Seq(0, 3, 1, 4, 2, 5).foreach { i =>
        val lo = i * 100L + 1
        Snapshots.append((lo to lo + 9).map(j => (j, s"r$j")).toDF("id", "s")
          .coalesce(1), root)
      }
      root
    }
    val (ra, rb) = (build("drv"), build("job"))
    // counted-resolve seam: the driver sort materializes the body
    // exactly once; the forced-distributed path NEVER does (segments
    // resolve on executors, the driver holds pointer lines only)
    val m0 = Snapshots.bodyMaterializationsHere
    val va = Snapshots.compactManifests(ra, targetLines = 2,
      clusterBy = Some("id"))
    assert(Snapshots.bodyMaterializationsHere - m0 == 1,
      "driver-side cluster sort must materialize the body exactly once")
    val m1 = Snapshots.bodyMaterializationsHere
    val vb = Snapshots.rewriteManifests(spark, rb, targetLines = 2,
      clusterBy = Some("id"), maxDriverSortLines = 0L)
    assert(Snapshots.bodyMaterializationsHere == m1,
      "distributed rewrite must not materialize the body on the driver")
    // the job must produce the EXACT driver ordering: the body-order
    // sequence of per-file id mins (file names are write-unique, so
    // the recorded stats are the comparable identity across tables)
    def order(root: String, v: Int) =
      Snapshots.fileStats(spark, root, v, "id").map(_._2)
    assert(order(rb, vb) == order(ra, va),
      "distributed sort must reproduce the driver's stable (key, position) order")
    assert(order(rb, vb) == Seq(1L, 101L, 201L, 301L, 401L, 501L),
      "clustered body order is the sorted range order")
    // same pruning geometry: a point lookup opens exactly one segment
    val before = Snapshots.segmentReads.get()
    assert(Snapshots.prunedFiles(spark, rb, vb, "id", 305L, 305L).size == 1)
    assert(Snapshots.segmentReads.get() - before == 1)
    assert(Snapshots.read(spark, rb).count() == 60)
    // deletes ride group-0 in manifest order through the job path too
    Snapshots.deleteWhere(spark, rb, "id", Seq(305L, 6L).toDF("id"))
    Snapshots.rewriteManifests(spark, rb, targetLines = 2,
      clusterBy = Some("id"), maxDriverSortLines = 0L)
    assert(Snapshots.read(spark, rb).count() == 58)
    assert(Snapshots.read(spark, rb).filter($"id" === 305L).count() == 0)
    // below the threshold the session overload delegates to the
    // driver sort — same result, no job
    val rc = build("auto")
    val vc = Snapshots.rewriteManifests(spark, rc, targetLines = 2,
      clusterBy = Some("id"))
    assert(order(rc, vc) == order(ra, va))
  }

  test("non-clustered compactManifests streams: packed result identical to r15's materialized path") {
    val root = Staging.tempDir("seg_stream").toString
    (1 to 5).foreach { i =>
      Snapshots.append(Seq((i.toLong, s"v$i")).toDF("id", "s")
        .coalesce(1), root)
    }
    val pre = Snapshots.latestVersion(root)
    val m0 = Snapshots.bodyMaterializationsHere
    val v = Snapshots.compactManifests(root, targetLines = 2)
    assert(Snapshots.bodyMaterializationsHere == m0,
      "non-clustered re-pack must stream, never materialize the body")
    // entries ride verbatim in order (the q218 ordered-equality claim)
    assert(Snapshots.files(root, v) == Snapshots.files(root, pre))
    assert(Snapshots.read(spark, root).count() == 5)
  }

  test("delete commits carry delete lines through segments; DML still round-trips") {
    val root = Staging.tempDir("seg_dml").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), root)
    Snapshots.deleteWhere(spark, root, "id", Seq(2L).toDF("id"))
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet ==
      Set(1L, 3L))
    // the delete line lives inside v2's own segment, resolved on read
    assert(listLines(root, 2).forall(_.startsWith("#")))
    Snapshots.append(Seq((4L, "d")).toDF("id", "s"), root)
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L))
    // time travel across the delete boundary still honors scoping
    assert(Snapshots.read(spark, root, 1).count() == 3)
  }
}

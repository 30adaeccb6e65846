package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SnapshotsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("appends reuse prior files; old versions stay stable after new commits") {
    val root = Staging.tempDir("snap_spec").toString
    val v1 = Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    val v2 = Snapshots.append(Seq((3L, "c")).toDF("id", "s"), root)
    assert(v1 == 1 && v2 == 2 && Snapshots.latestVersion(root) == 2)
    // file-level reuse: v2's manifest carries v1's files verbatim
    assert(Snapshots.files(root, 2).toSet.intersect(
      Snapshots.files(root, 1).toSet) == Snapshots.files(root, 1).toSet)
    // time travel: v1 unchanged, v2 = union, default read = latest
    assert(Snapshots.read(spark, root, 1).select($"id").as[Long].collect().toSet == Set(1L, 2L))
    assert(Snapshots.read(spark, root, 2).select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // a third commit must not disturb either older version
    Snapshots.append(Seq((4L, "d")).toDF("id", "s"), root)
    assert(Snapshots.read(spark, root, 1).count() == 2)
    assert(Snapshots.read(spark, root, 2).count() == 3)
  }

  test("reading a nonexistent version fails loudly") {
    val root = Staging.tempDir("snap_spec2").toString
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), root)
    intercept[IllegalArgumentException] { Snapshots.read(spark, root, 7) }
  }

  test("compaction rewrites the file set but preserves content and time travel") {
    val root = Staging.tempDir("snap_spec3").toString
    Snapshots.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2, $"id"), root)
    Snapshots.append(
      Seq((3L, "c"), (4L, "d")).toDF("id", "s").repartition(2, $"id"), root)
    val preFiles = Snapshots.files(root, 2)
    assert(preFiles.size == 4)
    val v3 = Snapshots.compact(spark, root, targetFiles = 1)
    assert(v3 == 3 && Snapshots.latestVersion(root) == 3)
    // the new manifest references ONLY rewritten files...
    val postFiles = Snapshots.files(root, 3)
    assert(postFiles.size == 1)
    assert(postFiles.toSet.intersect(preFiles.toSet).isEmpty)
    // ...with identical content
    assert(Snapshots.read(spark, root, 3).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
    // time travel across the compaction boundary: old manifests still
    // resolve their original (untouched) files
    assert(Snapshots.files(root, 2) == preFiles)
    assert(Snapshots.read(spark, root, 1).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L))
    assert(Snapshots.read(spark, root, 2).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
    // appends continue on top of the compacted version
    Snapshots.append(Seq((5L, "e")).toDF("id", "s"), root)
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L, 5L))
    assert(Snapshots.files(root, 4).toSet.intersect(postFiles.toSet) == postFiles.toSet)
  }

  test("compacting an empty table fails loudly") {
    val root = Staging.tempDir("snap_spec4").toString
    intercept[IllegalArgumentException] { Snapshots.compact(spark, root, 1) }
  }

  test("expire deletes only files no retained manifest references") {
    val root = Staging.tempDir("snap_spec5").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    Snapshots.append(Seq((3L, "c")).toDF("id", "s"), root)
    Snapshots.compact(spark, root, targetFiles = 1)
    val v1Files = Snapshots.files(root, 1)
    // keepFrom=2: v1's manifest goes, but v2 still REFERENCES v1's
    // appended files (append reuses them) — so nothing is deleted
    assert(Snapshots.expire(root, keepFrom = 2) == 0)
    assert(v1Files.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    intercept[IllegalArgumentException] { Snapshots.read(spark, root, 1) }
    assert(Snapshots.read(spark, root, 2).count() == 3)
    // keepFrom=3: only the compacted v3 survives; every appended file
    // (v2's full set) is now unreferenced and gets deleted
    val v2Files = Snapshots.files(root, 2)
    assert(Snapshots.expire(root, keepFrom = 3) == v2Files.size)
    assert(v2Files.forall(f => !java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    intercept[IllegalArgumentException] { Snapshots.read(spark, root, 2) }
    assert(Snapshots.read(spark, root, 3).select($"id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }

  test("clustered compaction + footer stats give real file skipping") {
    val root = Staging.tempDir("snap_spec7").toString
    Snapshots.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "s"), root)
    val v = Snapshots.compact(spark, root, targetFiles = 4, sortBy = Some("id"))
    val stats = Snapshots.fileStats(spark, root, v, "id")
    assert(stats.size == 4)
    // clustered: disjoint ranges covering 0..99
    val sorted = stats.sortBy(_._2)
    assert(sorted.head._2 == 0L && sorted.last._3 == 99L)
    assert(sorted.sliding(2).forall { case Seq(a, b) => a._3 < b._2 })
    // point range plans one file; full range all 4; disjoint none
    assert(Snapshots.prunedFiles(spark, root, v, "id", 0, 0).size == 1)
    assert(Snapshots.prunedFiles(spark, root, v, "id", 0, 99).size == 4)
    assert(Snapshots.prunedFiles(spark, root, v, "id", -10, -1).isEmpty)
    // pruned read returns exactly the range's rows; skip-all is empty
    assert(Snapshots.readPruned(spark, root, v, "id", 10, 20)
      .select($"id").as[Long].collect().toSet == (10L to 20L).toSet)
    assert(Snapshots.readPruned(spark, root, v, "id", -10, -1).count() == 0)
  }

  test("expire bounds-checks keepFrom") {
    val root = Staging.tempDir("snap_spec6").toString
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), root)
    intercept[IllegalArgumentException] { Snapshots.expire(root, 0) }
    intercept[IllegalArgumentException] { Snapshots.expire(root, 2) }
  }

  test("concurrent appends all commit via optimistic rebase — no lost updates") {
    val root = Staging.tempDir("snap_spec8").toString
    Snapshots.append(Seq((-1L, "base")).toDF("id", "s"), root)
    // 8 writers race 3 commits each; every conflict must rebase, never
    // drop a commit or clobber a version
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = for (w <- 0 until 8) yield Future {
        for (i <- 0 until 3) yield Snapshots.append(
          Seq((w * 100L + i, s"w$w-$i")).toDF("id", "s"), root)
      }
      val versions = Await.result(Future.sequence(fs), 120.seconds).flatten
      // 1 base + 24 concurrent commits, each with a distinct version
      assert(versions.toSet.size == 24)
      assert(Snapshots.latestVersion(root) == 25)
      // no lost updates: the final version carries every row
      assert(Snapshots.read(spark, root).count() == 25)
      // every intermediate version still resolves and is monotone
      for (v <- 1 to 25) assert(Snapshots.read(spark, root, v).count() == v.toLong)
    } finally pool.shutdown()
  }

  test("merge upserts in one atomic commit: matched replaced, unmatched inserted") {
    val root = Staging.tempDir("snap_spec10").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), root)
    val v2 = Snapshots.merge(spark, root, "id",
      Seq((2L, "B2"), (4L, "d")).toDF("id", "s"))
    assert(v2 == 2)
    assert(Snapshots.latestVersion(root) == 2) // delete + insert = ONE version
    assert(Snapshots.read(spark, root).as[(Long, String)].collect().sorted
      .toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // time travel to the pre-merge version is untouched
    assert(Snapshots.read(spark, root, 1).as[(Long, String)].collect().sorted
      .toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // a second merge re-replaces a previously merged key (sequence
    // scoping: the new delete outranks v2's data files)
    Snapshots.merge(spark, root, "id", Seq((4L, "D3")).toDF("id", "s"))
    assert(Snapshots.read(spark, root).filter($"id" === 4L)
      .select($"s").as[String].head() == "D3")
    // duplicate source keys are rejected up front, nothing committed
    val before = Snapshots.latestVersion(root)
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, root, "id",
        Seq((5L, "x"), (5L, "y")).toDF("id", "s"))
    }
    assert(Snapshots.latestVersion(root) == before)
    // compaction purges the merge tombstones, content unchanged
    val vc = Snapshots.compact(spark, root, targetFiles = 1)
    assert(Snapshots.deleteSets(root, vc).isEmpty)
    assert(Snapshots.read(spark, root, vc).as[(Long, String)].collect().sorted
      .toSeq == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "D3")))
  }

  test("changesBetween emits typed CDC rows and skips rewrite commits") {
    val root = Staging.tempDir("snap_spec11").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), root) // v1
    Snapshots.merge(spark, root, "id",
      Seq((2L, "B2"), (4L, "d")).toDF("id", "s"))                                // v2
    Snapshots.deleteWhere(spark, root, "id", Seq(Tuple1(3L)).toDF("id"))         // v3
    Snapshots.compact(spark, root, targetFiles = 1)                              // v4 rewrite
    Snapshots.append(Seq((5L, "e")).toDF("id", "s"), root)                       // v5
    val changes = Snapshots.changesBetween(spark, root, 0, 5)
      .select($"id", $"s", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Int)].collect().toSet
    assert(changes == Set(
      (1L, "a", "insert", 1), (2L, "b", "insert", 1), (3L, "c", "insert", 1),
      (2L, "b", "update_preimage", 2), (2L, "B2", "update_postimage", 2),
      (4L, "d", "insert", 2),
      (3L, "c", "delete", 3),
      (5L, "e", "insert", 5))) // v4 (compaction) contributes nothing
    // incremental tail read: only what changed after v2
    assert(Snapshots.changesBetween(spark, root, 2, 5)
      .select($"_change_type").as[String].collect().toSet ==
      Set("delete", "insert"))
    // replaying the feed reconstructs the final state: additions are
    // insert/update_postimage, removals are delete/update_preimage
    val added = changes.filter(c =>
      c._3 == "insert" || c._3 == "update_postimage").map(c => (c._1, c._2))
    val removed = changes.filter(c =>
      c._3 == "delete" || c._3 == "update_preimage").map(c => (c._1, c._2))
    assert((added -- removed) ==
      Snapshots.read(spark, root).as[(Long, String)].collect().toSet)
  }

  test("metadata tables and metadata-only count resolve from manifests") {
    val root = Staging.tempDir("snap_spec12").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .repartition(2), root)                                        // v1: 2 files
    Snapshots.append(Seq((3L, "c")).toDF("id", "s").repartition(1), root) // v2
    // zero data-file opens on the metadata path
    val before = Snapshots.queryPathFooterReads.get()
    assert(Snapshots.metadataCount(root) == 3L)
    assert(Snapshots.metadataCount(root, 1) == 2L)
    val ft = Snapshots.filesTable(spark, root)
      .as[(String, Int, Long)].collect()
    assert(ft.length == 3 && ft.map(_._3).sum == 3L)
    assert(ft.map(_._2).toSet == Set(1, 2))
    Snapshots.compact(spark, root, targetFiles = 1)                 // v3 rewrite
    val st = Snapshots.snapshotsTable(spark, root)
      .as[(Int, Int, Int, Long, Boolean)].collect().sortBy(_._1)
    assert(st.map(t => (t._1, t._2, t._3, t._4, t._5)).toSeq == Seq(
      (1, 2, 0, 2L, false), (2, 3, 0, 3L, false), (3, 1, 0, 3L, true)))
    assert(Snapshots.queryPathFooterReads.get() == before)
    // merge-on-read tombstones make physical != logical: refuse
    Snapshots.deleteWhere(spark, root, "id", Seq(Tuple1(1L)).toDF("id"))
    intercept[IllegalArgumentException] { Snapshots.metadataCount(root) }
    // v4 added an equality set, v5 a positional one: both tables count both
    Snapshots.deleteWhereMatching(spark, root, $"id" === 2L)
    val sets = Snapshots.snapshotsTable(spark, root)
      .as[(Int, Int, Int, Long, Boolean)].collect().map(t => t._1 -> t._3).toMap
    val added = Snapshots.history(spark, root)
      .as[(Int, String, Long, Int)].collect().map(h => h._1 -> h._4).toMap
    assert(sets(4) == 1 && sets(5) == 2 && added(4) == 1 && added(5) == 1, (sets, added))
  }

  test("bloom tokens skip point-lookup files with no false negatives") {
    val root = Staging.tempDir("snap_spec13").toString
    val df = Seq((1L, "alpha"), (2L, "alpha"), (3L, "beta"),
      (4L, "gamma"), (5L, "delta")).toDF("id", "s")
    Snapshots.append(df.repartition(2, $"s"), root, bloomCols = Seq("s"))
    assert(Snapshots.files(root, 1).size == 2)
    // no false negatives: every present value is fully recovered
    for (v <- Seq("alpha", "beta", "gamma", "delta")) {
      val expected = df.filter($"s" === v).as[(Long, String)].collect().toSet
      assert(Snapshots.readBloomPruned(spark, root, 1, "s", v)
        .as[(Long, String)].collect().toSet == expected)
      assert(Snapshots.bloomPrunedFiles(root, 1, "s", v).nonEmpty)
    }
    // clustered values prune to fewer files than the table holds
    assert(Snapshots.bloomPrunedFiles(root, 1, "s", "alpha").size == 1)
    // an absent value prunes everything (deterministic given the data)
    assert(Snapshots.bloomPrunedFiles(root, 1, "s", "zeta").isEmpty)
    assert(Snapshots.readBloomPruned(spark, root, 1, "s", "zeta").count() == 0)
    // a column without bloom tokens never prunes
    assert(Snapshots.bloomPrunedFiles(root, 1, "id", "1").size == 2)
  }

  test("partition values with Hive-escaped characters round-trip through pruning") {
    val root = Staging.tempDir("snap_spec_esc").toString
    val df = Seq((1L, "a:b"), (2L, "c=d"), (3L, "plain"))
      .toDF("id", "s")
    Snapshots.appendPartitioned(df, root, Snapshots.IdentityPartition("s"))
    // Spark writes _p=a%3Ab on disk; the manifest token must carry the
    // RAW value or the literal compare silently prunes the partition
    for ((v, id) <- Seq(("a:b", 1L), ("c=d", 2L), ("plain", 3L))) {
      val hit = Snapshots.readPartitionPruned(spark, root, 1,
        Snapshots.IdentityPartition("s"), v)
      assert(hit.select($"id").as[Long].collect().toSeq == Seq(id),
        s"value '$v' mispruned")
    }
  }

  test("comma-valued partitions never get a #partagg summary and still prune right") {
    // the comma is the #partagg list separator: a comma-containing
    // value can never be represented in a summary, so the writer's
    // token-safe guard must SUPPRESS the summary (segment always
    // opened → per-entry tokens decide) rather than corrupt the list
    val root = Staging.tempDir("snap_spec_comma").toString
    val df = Seq((1L, "a,b"), (2L, "safe")).toDF("id", "s")
    Snapshots.appendPartitioned(df, root, Snapshots.IdentityPartition("s"))
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val listing = Files.list(Paths.get(root, "_manifests"))
    val manifestText = try listing.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString("\n")
    finally listing.close()
    assert(!manifestText.contains("#partagg:"),
      "a comma-containing partition value must suppress the summary")
    for ((v, id) <- Seq(("a,b", 1L), ("safe", 2L)))
      assert(Snapshots.readPartitionPruned(spark, root, 1,
        Snapshots.IdentityPartition("s"), v)
        .select($"id").as[Long].collect().toSeq == Seq(id),
        s"value '$v' mispruned")
  }

  test("updateWhere SET right-hand sides all read the OLD row (swap works)") {
    val root = Staging.tempDir("snap_spec_swap").toString
    Snapshots.append(Seq((1L, 10L, 20L), (2L, 30L, 40L))
      .toDF("id", "a", "b"), root)
    Snapshots.updateWhere(spark, root, $"id" === 1L,
      Map("a" -> $"b", "b" -> $"a"))
    val got = Snapshots.read(spark, root)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 20L, 10L), (2L, 30L, 40L)),
      s"SET must not see its sibling assignment's new value: $got")
  }

  test("partition transforms prune point lookups exactly") {
    val root = Staging.tempDir("snap_spec14").toString
    val df = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "c", 40L)).toDF("id", "s", "x")
    Snapshots.appendPartitioned(df, root, Snapshots.IdentityPartition("s"))
    assert(Snapshots.files(root, 1).size == 3) // one file per value
    // identity: exact routing, misses prune everything
    assert(Snapshots.partitionPrunedFiles(root, 1,
      Snapshots.IdentityPartition("s"), "a").size == 1)
    assert(Snapshots.partitionPrunedFiles(root, 1,
      Snapshots.IdentityPartition("s"), "zz").isEmpty)
    assert(Snapshots.readPartitionPruned(spark, root, 1,
      Snapshots.IdentityPartition("s"), "a")
      .select($"id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the partition scratch column never leaks into the table
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("id", "s", "x"))
    assert(Snapshots.read(spark, root).count() == 4)
    // bucket: the literal's bucket is derived driver-side, same hash
    val spec = Snapshots.BucketPartition("id", 2)
    val root2 = Staging.tempDir("snap_spec15").toString
    Snapshots.appendPartitioned(df, root2, spec)
    for (i <- 1L to 4L) {
      val hit = Snapshots.readPartitionPruned(spark, root2, 1, spec, i.toString)
      assert(hit.select($"id").as[Long].collect().toSeq == Seq(i))
      assert(Snapshots.partitionPrunedFiles(root2, 1, spec, i.toString)
        .size < Snapshots.files(root2, 1).size ||
        Snapshots.files(root2, 1).size == 1)
    }
    // a spec with a different transform name never prunes v1's files
    assert(Snapshots.partitionPrunedFiles(root2, 1,
      Snapshots.IdentityPartition("id"), "1").size ==
      Snapshots.files(root2, 1).size)
  }

  test("tags survive expiration, stay immutable, and resolve reads") {
    val root = Staging.tempDir("snap_spec16").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root) // v1
    Snapshots.tag(root, "release-1", 1)
    Snapshots.append(Seq((3L, "c")).toDF("id", "s"), root)            // v2
    Snapshots.compact(spark, root, targetFiles = 1)                   // v3
    intercept[IllegalArgumentException] { Snapshots.tag(root, "release-1", 2) }
    intercept[IllegalArgumentException] { Snapshots.tag(root, "nope", 9) }
    Snapshots.expire(root, keepFrom = 3)
    // the tagged version survives the sweep in full...
    assert(Snapshots.tagVersion(root, "release-1") == 1)
    assert(Snapshots.readTag(spark, root, "release-1")
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // ...while the untagged v2 is gone and latest is intact
    intercept[IllegalArgumentException] { Snapshots.read(spark, root, 2) }
    assert(Snapshots.read(spark, root).count() == 3)
    assert(Snapshots.tags(root) == Seq("release-1" -> 1))
  }

  test("removeOrphans deletes only unreferenced parquet files") {
    val root = Staging.tempDir("snap_spec17").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    Snapshots.append(Seq((3L, "c")).toDF("id", "s"), root)
    // debris of a writer that died before its CAS: a data dir and a
    // delete dir no manifest references
    Seq((9L, "x")).toDF("id", "s").repartition(1)
      .write.parquet(s"$root/data_v9_deadbeef")
    Seq(Tuple1(9L)).toDF("id").repartition(1)
      .write.parquet(s"$root/delete_v9_deadbeef")
    assert(Snapshots.removeOrphans(root, olderThanMillis = 0L) == 2)
    assert(Snapshots.removeOrphans(root, olderThanMillis = 0L) == 0) // idempotent
    // a young file is protected by the age guard
    Seq((8L, "y")).toDF("id", "s").repartition(1)
      .write.parquet(s"$root/data_v8_dead")
    assert(Snapshots.removeOrphans(root, olderThanMillis = 3600000L) == 0)
    assert(Snapshots.removeOrphans(root, olderThanMillis = 0L) == 1)
    // every referenced file survived
    assert(Snapshots.read(spark, root).count() == 3)
    assert(Snapshots.read(spark, root, 1).count() == 2)
  }

  test("metadataMinMax answers from manifests and refuses unsound cases") {
    val root = Staging.tempDir("snap_spec18").toString
    Snapshots.append(Seq((5L, "a"), (2L, "b")).toDF("id", "s"), root)
    Snapshots.append(Seq((9L, "c")).toDF("id", "s"), root)
    val before = Snapshots.queryPathFooterReads.get()
    assert(Snapshots.metadataMinMax(root, column = "id") == (2L, 9L))
    assert(Snapshots.metadataMinMax(root, 1, "id") == (2L, 5L))
    assert(Snapshots.queryPathFooterReads.get() == before)
    Snapshots.deleteWhere(spark, root, "id", Seq(Tuple1(9L)).toDF("id"))
    intercept[IllegalArgumentException] {
      Snapshots.metadataMinMax(root, column = "id")
    }
    val v = Snapshots.compact(spark, root, targetFiles = 1)
    assert(Snapshots.metadataMinMax(root, v, "id") == (2L, 5L))
  }

  test("concurrent delete rebases with sequence-correct scoping") {
    val root = Staging.tempDir("snap_spec9").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), root)
    // delete id=2, then re-append id=2 — the re-insert must survive
    Snapshots.deleteWhere(spark, root, "id", Seq(Tuple1(2L)).toDF("id"))
    Snapshots.append(Seq((2L, "b2")).toDF("id", "s"), root)
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
    assert(Snapshots.read(spark, root, 2).select($"id").as[Long].collect()
      .sorted.toSeq == Seq(1L, 3L))
    // compaction purges the tombstones
    val v4 = Snapshots.compact(spark, root, targetFiles = 1)
    assert(Snapshots.deleteSets(root, v4).isEmpty)
    assert(Snapshots.read(spark, root, v4).count() == 3)
  }

  test("positional deletes: exact physical rows, duplicate separation, sequencing, CDC, purge") {
    import org.apache.spark.sql.functions.col
    val root = Staging.tempDir("snap_spec_posdel").toString
    // two physical copies of key 1 with different payloads — the case
    // an equality delete cannot separate
    Snapshots.append(
      Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 31L)).toDF("id", "x"), root)
    Snapshots.deleteWhereMatching(spark, root, col("x") % 2 === 1)
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 20L))
    // time travel unaffected
    assert(Snapshots.read(spark, root, 1).count() == 4)
    // a matching row appended AFTER the delete survives (sequence scope)
    Snapshots.append(Seq((4L, 41L)).toDF("id", "x"), root)
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 20L, 4L -> 41L))
    // CDC: the delete commit's preimages are exactly the two tombstoned rows
    assert(Snapshots.changesBetween(spark, root, 1, 2)
      .select($"id", $"x", $"_change_type").as[(Long, Long, String)]
      .collect().toSet == Set((1L, 11L, "delete"), (3L, 31L, "delete")))
    // metadata-only answers refuse while tombstones are live
    intercept[IllegalArgumentException] { Snapshots.metadataCount(root, 2) }
    // compaction purges the tombstones, content preserved
    val v4 = Snapshots.compact(spark, root, targetFiles = 1)
    assert(Snapshots.posDeleteSets(root, v4).isEmpty)
    assert(Snapshots.read(spark, root, v4).count() == 3)
  }

  test("positional delete racing a rewrite aborts instead of resurrecting rows") {
    import org.apache.spark.sql.functions.{col, udf}
    val root = Staging.tempDir("snap_spec_posdel_race").toString
    Snapshots.append(Seq((1L, 10L), (2L, 21L)).toDF("id", "x"), root)
    SnapshotsSpec.mergeGate.set(new java.util.concurrent.CountDownLatch(1))
    SnapshotsSpec.mergeEntered.set(new java.util.concurrent.CountDownLatch(1))
    val wait = udf(() => {
      SnapshotsSpec.mergeEntered.get().countDown()
      SnapshotsSpec.mergeGate.get().await()
      true
    })
    val worker = new java.util.concurrent.FutureTask(() =>
      Snapshots.deleteWhereMatching(spark, root, col("x") % 2 === 1 && wait()))
    new Thread(worker, "posdel-writer").start()
    SnapshotsSpec.mergeEntered.get().await() // parked resolving victims
    Snapshots.compact(spark, root, targetFiles = 1) // the rewrite lands
    SnapshotsSpec.mergeGate.get().countDown()
    val r = try { worker.get(); None } catch {
      case e: java.util.concurrent.ExecutionException => Some(e.getCause)
    }
    assert(r.exists(_.isInstanceOf[java.util.ConcurrentModificationException]), r)
    // nothing was deleted and no tombstone set leaked into the manifest
    assert(Snapshots.read(spark, root).count() == 2)
    assert(Snapshots.posDeleteSets(root, Snapshots.latestVersion(root)).isEmpty)
  }

  test("zero-match positional delete and update commit cleanly and change nothing") {
    import org.apache.spark.sql.functions.col
    val root = Staging.tempDir("snap_spec_nomatch").toString
    Snapshots.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), root)
    val v2 = Snapshots.deleteWhereMatching(spark, root, col("x") > 999)
    val v3 = Snapshots.updateWhere(spark, root, col("x") > 999,
      Map("x" -> (col("x") + 1L)))
    assert(v2 == 2 && v3 == 3)
    // content identical at every version; empty tombstone sets are
    // harmless metadata, not read-path hazards
    for (v <- 1 to 3)
      assert(Snapshots.read(spark, root, v).as[(Long, Long)].collect().toSet ==
        Set(1L -> 10L, 2L -> 20L), s"v$v drifted")
  }

  test("updateWhere: one atomic MoR commit, update-of-update, CDC, time travel") {
    import org.apache.spark.sql.functions.col
    val root = Staging.tempDir("snap_spec_upd").toString
    Snapshots.append(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x"), root)
    // v2: x += 100 where id >= 2
    Snapshots.updateWhere(spark, root, col("id") >= 2,
      Map("x" -> (col("x") + 100L)))
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 120L, 3L -> 130L))
    assert(Snapshots.read(spark, root, 1).as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 20L, 3L -> 30L))
    // v3: update-of-update — the v2 images are older files by now
    Snapshots.updateWhere(spark, root, col("id") === 3,
      Map("x" -> (col("x") + 7L)))
    assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 120L, 3L -> 137L))
    // CDC of v2: preimages out, postimages in
    assert(Snapshots.changesBetween(spark, root, 1, 2)
      .select($"id", $"x", $"_change_type").as[(Long, Long, String)]
      .collect().toSet ==
      Set((2L, 20L, "delete"), (3L, 30L, "delete"),
        (2L, 120L, "insert"), (3L, 130L, "insert")))
    // compaction purges both commits' tombstones, content preserved
    val v4 = Snapshots.compact(spark, root, targetFiles = 1)
    assert(Snapshots.posDeleteSets(root, v4).isEmpty)
    assert(Snapshots.read(spark, root, v4).as[(Long, Long)].collect().toSet ==
      Set(1L -> 10L, 2L -> 120L, 3L -> 137L))
  }

  test("type promotion: int->long, float->double, decimal widening; off-matrix rejected") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.sum
    val root = Staging.tempDir("snap_spec_promo").toString
    Snapshots.append(
      Seq((1, 1.5f, "12.34")).toDF("id", "x", "d")
        .select($"id", $"x", $"d".cast(DecimalType(5, 2)).as("d")), root)
    // a WIDER append promotes the committed schema in place
    Snapshots.append(
      Seq((2L, 2.5d, "9999999999.99")).toDF("id", "x", "d")
        .select($"id", $"x", $"d".cast(DecimalType(12, 2)).as("d")), root)
    val latest = Snapshots.read(spark, root)
    assert(latest.schema("id").dataType == LongType)
    assert(latest.schema("x").dataType == DoubleType)
    assert(latest.schema("d").dataType == DecimalType(12, 2))
    // pre-promotion files read back widened, exactly (1.5f == 1.5d)
    assert(latest.select(sum($"id")).as[Long].head() == 3L)
    assert(latest.select($"x").as[Double].collect().sorted.toSeq == Seq(1.5d, 2.5d))
    // time travel: v1 still reads under ITS committed schema
    assert(Snapshots.read(spark, root, 1).schema("id").dataType == IntegerType)
    assert(Snapshots.read(spark, root, 1).schema("d").dataType == DecimalType(5, 2))
    // a NARROW append into the promoted table stays legal, schema stays wide
    Snapshots.append(
      Seq((4, 4.5f, "1.00")).toDF("id", "x", "d")
        .select($"id", $"x", $"d".cast(DecimalType(5, 2)).as("d")), root)
    assert(Snapshots.read(spark, root).schema("id").dataType == LongType)
    assert(Snapshots.read(spark, root).select(sum($"id")).as[Long].head() == 7L)
    // byte-reinterpreting changes stay rejected
    intercept[IllegalArgumentException] {
      Snapshots.append(Seq(("oops", 1.0d, "1.00")).toDF("id", "x", "d")
        .select($"id", $"x", $"d".cast(DecimalType(12, 2)).as("d")), root)
    }
    intercept[IllegalArgumentException] { // scale change shifts the point
      Snapshots.append(Seq((5L, 1.0d, "1.000")).toDF("id", "x", "d")
        .select($"id", $"x", $"d".cast(DecimalType(12, 3)).as("d")), root)
    }
  }

  test("serializable merge: concurrent overlapping commit aborts, disjoint rebases") {
    import org.apache.spark.sql.functions.{col, udf}
    def run(concurrentKey: Long): Either[Throwable, Set[(Long, String)]] = {
      val root = Staging.tempDir("snap_spec_ser").toString
      Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
      // deterministic interleave: the merge SOURCE parks on a latch at
      // first evaluation (the dup-check action, after base0 capture),
      // the main thread lands a concurrent append, then releases
      SnapshotsSpec.mergeGate.set(new java.util.concurrent.CountDownLatch(1))
      SnapshotsSpec.mergeEntered.set(new java.util.concurrent.CountDownLatch(1))
      val wait = udf(() => {
        SnapshotsSpec.mergeEntered.get().countDown()
        SnapshotsSpec.mergeGate.get().await()
        true
      })
      val source = Seq((2L, "B2"), (9L, "i")).toDF("id", "s").filter(wait())
      val worker = new java.util.concurrent.FutureTask(() =>
        Snapshots.merge(spark, root, "id", source))
      new Thread(worker, "merge-writer").start()
      // the merge is parked inside its FIRST action (the dup-check),
      // which runs after base0 capture — the window is open for sure
      SnapshotsSpec.mergeEntered.get().await()
      Snapshots.append(Seq((concurrentKey, "c")).toDF("id", "s"), root)
      SnapshotsSpec.mergeGate.get().countDown()
      try Right {
        worker.get(120, java.util.concurrent.TimeUnit.SECONDS)
        Snapshots.read(spark, root).as[(Long, String)].collect().toSet
      } catch {
        case e: java.util.concurrent.ExecutionException => Left(e.getCause)
      }
    }
    // overlapping key (2): the merge must ABORT, and the table keeps
    // the winner's row — no silent last-writer-wins on key 2
    val aborted = run(concurrentKey = 2L)
    assert(aborted.isLeft &&
      aborted.swap.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected ConcurrentModificationException, got $aborted")
    // disjoint key (7): the merge rebases and converges — both commits
    val ok = run(concurrentKey = 7L)
    assert(ok == Right(Set(1L -> "a", 2L -> "B2", 7L -> "c", 9L -> "i")), ok)
  }

  test("appendChecked publishes clean batches, refuses violations, and leaves no debris") {
    import graft.operators.QualityChecks.{RowPredicate, Unique}
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Staging.tempDir("snap_checked").toString
    val checks = Seq(
      Unique("unique_id", $"id"),
      RowPredicate("v_nonneg", $"v" < 0L))
    val v1 = Snapshots.appendChecked(
      Seq((1L, 5L), (2L, 7L)).toDF("id", "v"), root, checks)
    assert(v1 == 1 && Snapshots.read(spark, root).count() == 2)
    def dataDirs() = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("data_v")).toSet
      finally s.close()
    }
    val before = dataDirs()
    // duplicate key: refused, named, staged files deleted, no version
    val e1 = intercept[IllegalStateException] {
      Snapshots.appendChecked(
        Seq((3L, 1L), (3L, 2L)).toDF("id", "v"), root, checks)
    }
    assert(e1.getMessage.contains("unique_id"))
    // range violation: refused and named
    val e2 = intercept[IllegalStateException] {
      Snapshots.appendChecked(Seq((4L, -9L)).toDF("id", "v"), root, checks)
    }
    assert(e2.getMessage.contains("v_nonneg"))
    assert(dataDirs() == before, "refused batches must leave no staged files")
    assert(Snapshots.latestVersion(root) == 1,
      "a refused batch must mint no version")
    assert(Snapshots.read(spark, root).count() == 2)
    // a clean retry proceeds normally
    assert(Snapshots.appendChecked(
      Seq((3L, 1L)).toDF("id", "v"), root, checks) == 2)
    assert(Snapshots.read(spark, root).count() == 3)
    // and no checks at all is a contract error, not a silent append
    intercept[IllegalArgumentException] {
      Snapshots.appendChecked(Seq((9L, 9L)).toDF("id", "v"), root, Nil)
    }
    // Unique is SNAPSHOT-WIDE (r15): a later batch re-appending a key
    // that already lives in the table refuses like an internal dup
    val preCross = dataDirs()
    val e3 = intercept[IllegalStateException] {
      Snapshots.appendChecked(Seq((1L, 8L)).toDF("id", "v"), root, checks)
    }
    assert(e3.getMessage.contains("unique_id"))
    assert(Snapshots.latestVersion(root) == 2 && dataDirs() == preCross,
      "cross-append refusal must publish nothing and strand nothing")
    // a deleted key is re-insertable: uniqueness is over LIVE rows
    Snapshots.deleteWhere(spark, root, "id", Seq(1L).toDF("id"))
    assert(Snapshots.appendChecked(
      Seq((1L, 8L)).toDF("id", "v"), root, checks) == 4)
  }

  test("deleteChecked: inbound RI refuses orphaning deletes, cleans staged tombstones, aborts on concurrent commits") {
    import graft.operators.QualityChecks.InboundRef
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Staging.tempDir("snap_checked_del").toString
    Snapshots.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"), root)
    val child = Seq(2L, 3L).toDF("fk")
    val checks = Seq(InboundRef("child_fk", child, $"fk", $"id"))
    def stagedDirs() = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("delete_v")).toSet
      finally s.close()
    }
    val before = stagedDirs()
    // deleting a referenced key orphans child rows: refused, named,
    // staged tombstones removed, no version minted
    val e = intercept[IllegalStateException] {
      Snapshots.deleteChecked(spark, root, "id", Seq(3L).toDF("id"), checks)
    }
    assert(e.getMessage.contains("child_fk") && e.getMessage.contains("1 rows"))
    assert(stagedDirs() == before, "refused delete must strand nothing")
    assert(Snapshots.latestVersion(root) == 1)
    assert(Snapshots.read(spark, root).count() == 4)
    // deleting an unreferenced key publishes; referenced rows survive
    assert(Snapshots.deleteChecked(spark, root, "id",
      Seq(4L).toDF("id"), checks) == 2)
    assert(Snapshots.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L))
    // NULL fks pass (the RefIntegrity null rule, mirrored)
    val nullChild = Seq(Option(2L), Option.empty[Long]).toDF("fk")
    assert(Snapshots.deleteChecked(spark, root, "id", Seq(1L).toDF("id"),
      Seq(InboundRef("null_fk", nullChild, $"fk", $"id"))) == 3)
    // a concurrent commit that can REMOVE keys (here: a delete)
    // between validation and publish aborts (the post-image basis
    // moved); a REWRITE must NOT (same rows) and neither must an
    // APPEND (only adds keys — InboundRef is monotone, r16).
    // Seam-injected for determinism, restored in finally.
    try {
      Snapshots.afterCheckedValidation = () =>
        { Snapshots.deleteWhere(spark, root, "id", Seq(98L).toDF("id")); () }
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.deleteChecked(spark, root, "id", Seq(99L).toDF("id"), checks)
      }
    } finally Snapshots.afterCheckedValidation = () => ()
    val live = Snapshots.read(spark, root).count()
    try {
      Snapshots.afterCheckedValidation = () =>
        { Snapshots.compact(spark, root, targetFiles = 1); () }
      assert(Snapshots.deleteChecked(spark, root, "id",
        Seq(99L).toDF("id"), checks) > 0,
        "a rewrite-only window must not abort a checked delete")
    } finally Snapshots.afterCheckedValidation = () => ()
    try {
      Snapshots.afterCheckedValidation = () =>
        { Snapshots.append(Seq((51L, "w")).toDF("id", "s"), root); () }
      assert(Snapshots.deleteChecked(spark, root, "id",
        Seq(99L).toDF("id"), checks) > 0,
        "a concurrent APPEND must not abort a checked delete (monotone)")
    } finally Snapshots.afterCheckedValidation = () => ()
    assert(Snapshots.read(spark, root).count() == live + 1,
      "no-op deletes, the rewrite, and the appended row preserve live rows")
    // write-side checks in the list are skipped, not spuriously
    // enforced: a RowPredicate no current row satisfies must not
    // refuse a clean delete (a delete cannot mint it)
    assert(Snapshots.deleteChecked(spark, root, "id", Seq(99L).toDF("id"),
      graft.operators.QualityChecks.RowPredicate(
        "all_rows_bad", org.apache.spark.sql.functions.lit(true)) +: checks) > 0,
      "deleteChecked must skip row-local checks by construction")
  }

  test("cross-unique across schema widening: NULL keys see pre-evolution survivors as NULL (batch-independent verdict)") {
    import graft.operators.QualityChecks.Unique
    val root = Staging.tempDir("snap_widen_unique").toString
    Snapshots.append(Seq((1L, 5L), (2L, 7L)).toDF("id", "v"), root)
    // the widening batch introduces `tag`; survivors predate it and
    // read back null-filled — so a NULL-tag batch collides with them
    // EXACTLY as it would against a post-widening read (r16: the
    // verdict must not depend on whether rows are seen pre- or
    // post-evolution)
    val checksTag = Seq(Unique("unique_tag", $"tag"))
    val e = intercept[IllegalStateException] {
      Snapshots.appendChecked(
        Seq((3L, 1L, Option.empty[String])).toDF("id", "v", "tag"),
        root, checksTag)
    }
    assert(e.getMessage.contains("unique_tag"),
      s"NULL key vs pre-evolution (null-filled) survivors must refuse: $e")
    // non-null new-column keys collide with nothing pre-evolution
    assert(Snapshots.appendChecked(
      Seq((3L, 1L, Option("x"))).toDF("id", "v", "tag"),
      root, checksTag) == 2)
    // a typo'd key column (absent from batch AND survivors) fails
    // CLOSED — analysis error, never a silent pass
    intercept[Exception] {
      Snapshots.appendChecked(Seq((4L, 2L, Option("y"))).toDF("id", "v", "tag"),
        root, Seq(Unique("unique_oops", $"no_such_col")))
    }
    assert(Snapshots.latestVersion(root) == 2)
  }

  test("cross-unique matches columns with the analyzer's resolver: case-variant batch columns don't null out survivors") {
    import graft.operators.QualityChecks.Unique
    val root = Staging.tempDir("snap_case_unique").toString
    Snapshots.append(Seq((1L, 5L, "x")).toDF("id", "v", "tag"), root)
    // under default case-INsensitive resolution, batch column 'TAG' IS
    // the survivors' 'tag' — a case-sensitive missing-column test
    // would null-fill it, replacing the survivors' real keys and
    // letting this genuine collision publish (r16 review finding)
    val e = intercept[IllegalStateException] {
      Snapshots.appendChecked(Seq((2L, 6L, "x")).toDF("id", "v", "TAG"),
        root, Seq(Unique("unique_tag", $"TAG")))
    }
    assert(e.getMessage.contains("unique_tag"),
      s"case-variant batch column must still collide with survivors: $e")
    assert(Snapshots.latestVersion(root) == 1)
  }

  test("empty checked batch still validates InboundRef against the table (verdict cannot depend on batching)") {
    import graft.operators.QualityChecks.InboundRef
    val root = Staging.tempDir("snap_empty_inbound").toString
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), root)
    val orphaned = Seq(42L).toDF("fk") // 42 not in the table
    val ri = Seq(InboundRef("fk_covered", orphaned, $"fk", $"id"))
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    // the table ALREADY violates the declared check: an empty append
    // must refuse exactly as a one-row append would
    intercept[IllegalStateException] {
      Snapshots.appendChecked(empty, root, ri)
    }
    assert(Snapshots.latestVersion(root) == 1,
      "refused empty checked append must mint nothing")
    // and once the table covers the key, the empty append publishes
    Snapshots.append(Seq((42L, "b")).toDF("id", "s"), root)
    assert(Snapshots.appendChecked(empty, root, ri) == 3)
  }

  test("appendChecked InboundRef basis: concurrent delete aborts, concurrent append keeps liveness") {
    import graft.operators.QualityChecks.InboundRef
    val root = Staging.tempDir("snap_append_inbound_basis").toString
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
    val ri = Seq(InboundRef("fk_covered", Seq(1L).toDF("fk"), $"fk", $"id"))
    // a concurrent DELETE between validation and publish can remove
    // the referenced key — the append must abort, staging nothing
    try {
      Snapshots.afterCheckedValidation = () =>
        { Snapshots.deleteWhere(spark, root, "id", Seq(2L).toDF("id")); () }
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.appendChecked(Seq((3L, "c")).toDF("id", "s"), root, ri)
      }
    } finally Snapshots.afterCheckedValidation = () => ()
    import scala.jdk.CollectionConverters._
    val stray = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("data_v3")).toSeq finally s.close()
    }
    assert(stray.isEmpty, s"aborted append must unstage its files: $stray")
    // a concurrent APPEND only adds keys — monotone for InboundRef, so
    // the checked append rebases and publishes (r16)
    try {
      Snapshots.afterCheckedValidation = () =>
        { Snapshots.append(Seq((9L, "z")).toDF("id", "s"), root); () }
      assert(Snapshots.appendChecked(
        Seq((4L, "d")).toDF("id", "s"), root, ri) > 0,
        "a concurrent append must not abort an InboundRef-checked append")
    } finally Snapshots.afterCheckedValidation = () => ()
    assert(Snapshots.read(spark, root).select($"id").as[Long]
      .collect().toSet == Set(1L, 4L, 9L))
  }

  test("stats pruning covers INT32 columns and refuses non-integral ones loudly") {
    val root = Staging.tempDir("snap_int32_stats").toString
    // int/short/date columns are INT32-physical in parquet: without a
    // stats token the pruner's missing-token = all-null rule would
    // silently drop their files from a range scan (r16 review finding)
    Snapshots.append(Seq((1, 10L, "a")).toDF("i", "l", "s").coalesce(1), root)
    Snapshots.append(Seq((25, 20L, "b")).toDF("i", "l", "s").coalesce(1), root)
    val v = Snapshots.latestVersion(root)
    assert(Snapshots.prunedFiles(spark, root, v, "i", 20, 30).size == 1,
      "the int column's in-range file must be kept, the other pruned")
    assert(Snapshots.readPruned(spark, root, v, "i", 0, 5)
      .select($"l").as[Long].collect().toSeq == Seq(10L))
    assert(Snapshots.readPruned(spark, root, v, "i", 26, 99).count() == 0)
    assert(Snapshots.metadataMinMax(root, v, "i") == (1L, 25L))
    // a string column cannot ride the integral token grammar — the
    // pruner must refuse, never silently treat it as all-null
    intercept[IllegalArgumentException] {
      Snapshots.prunedFiles(spark, root, v, "s", 0, 1)
    }
    intercept[IllegalArgumentException] {
      Snapshots.metadataMinMax(root, v, "s")
    }
  }

  test("partition values with tabs and newlines survive the manifest grammar") {
    val root = Staging.tempDir("snap_part_escape").toString
    val df = Seq(("San\tFrancisco", 1L), ("Oslo", 2L), ("a\nb", 3L))
      .toDF("city", "x")
    Snapshots.appendPartitioned(df, root, Snapshots.IdentityPartition("city"))
    val v = Snapshots.latestVersion(root)
    assert(Snapshots.read(spark, root).count() == 3)
    val spec = Snapshots.IdentityPartition("city")
    // the raw tab used to split the #part: token mid-line (silently
    // pruning the partition); the raw newline split the ENTRY in two
    // (a bogus path-only line). Escaped-to-escaped compares are exact.
    assert(Snapshots.partitionPrunedFiles(root, v, spec, "San\tFrancisco").size == 1)
    assert(Snapshots.partitionPrunedFiles(root, v, spec, "a\nb").size == 1)
    assert(Snapshots.partitionPrunedFiles(root, v, spec, "Oslo").size == 1)
    assert(Snapshots.partitionPrunedFiles(root, v, spec, "nowhere").isEmpty)
  }

  test("sequence scoping survives a table rooted under a data_v-shaped ancestor dir") {
    // the ancestor segment contains 'data_v1' as a substring; an
    // unanchored first-match would assign EVERY file sequence 1 and
    // the v2 delete would kill the v3 re-insert (r16 review finding)
    val parent = Staging.tempDir("data_v1_lake")
    val root = parent.resolve("t1").toString
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), root)        // v1
    Snapshots.deleteWhere(spark, root, "id", Seq(1L).toDF("id"))  // v2
    Snapshots.append(Seq((1L, "re")).toDF("id", "s"), root)       // v3
    assert(Snapshots.read(spark, root).as[(Long, String)]
      .collect().toSeq == Seq((1L, "re")),
      "a key re-inserted after its delete must survive")
  }

  test("empty checked batch on an EMPTY table still validates InboundRef") {
    import graft.operators.QualityChecks.InboundRef
    val root = Staging.tempDir("snap_empty_empty_inbound").toString
    val ri = Seq(InboundRef("fk", Seq(1L).toDF("fk"), $"fk", $"id"))
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    // post-image of an empty append on an empty table is empty: every
    // non-null referencing key is an orphan — refuse, mint nothing
    intercept[IllegalStateException] {
      Snapshots.appendChecked(empty, root, ri)
    }
    assert(Snapshots.latestVersion(root) == 0)
  }

  test("checked write racing a rollback aborts with CME and strands nothing") {
    import graft.operators.QualityChecks.InboundRef
    import scala.jdk.CollectionConverters._
    val root = Staging.tempDir("snap_rollback_race").toString
    Snapshots.append(Seq((1L, "a")).toDF("id", "s"), root)
    Snapshots.createBranch(root, "dev") // materializes the main ref
    Snapshots.append(Seq((2L, "b")).toDF("id", "s"), root)
    val ri = Seq(InboundRef("fk", Seq(1L).toDF("fk"), $"fk", $"id"))
    // the rollback makes the validation basis a NON-ancestor of the
    // commit parent; the window walker must treat the unresolvable
    // window as invalidated (CME + staged cleanup), not leak its
    // divergence IllegalArgumentException mid-condition
    try {
      Snapshots.afterCheckedValidation = () =>
        { Snapshots.rollback(root, "main", 1); () }
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.appendChecked(Seq((3L, "c")).toDF("id", "s"), root, ri)
      }
    } finally Snapshots.afterCheckedValidation = () => ()
    val stray = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("data_v3") || n.startsWith("data_v4"))
        .toSeq
      finally s.close()
    }
    assert(stray.isEmpty, s"aborted append must unstage its files: $stray")
    assert(Snapshots.read(spark, root).as[(Long, String)]
      .collect().toSeq == Seq((1L, "a")), "the rollback's view stands")
  }

  test("mergeChecked/updateChecked validate the post-image; refusals publish nothing") {
    import graft.operators.QualityChecks.{RowPredicate, Unique}
    import org.apache.spark.sql.functions.lit
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Staging.tempDir("snap_checked_dml").toString
    val checks = Seq(
      Unique("unique_id", $"id"),
      Unique("unique_tag", $"tag"),
      RowPredicate("v_nonneg", $"v" < 0L))
    Snapshots.appendChecked(
      Seq((1L, 5L, "a"), (2L, 7L, "b")).toDF("id", "v", "tag"), root, checks)
    def stagedDirs() = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("data_v") || n.startsWith("delete_v")).toSet
      finally s.close()
    }
    val before = stagedDirs()
    // row-predicate violation in the merge source: refused, named
    val e1 = intercept[IllegalStateException] {
      Snapshots.mergeChecked(spark, root, "id",
        Seq((2L, -1L, "b2")).toDF("id", "v", "tag"), checks)
    }
    assert(e1.getMessage.contains("v_nonneg"))
    // secondary-unique collision with an UNTOUCHED row: merging key 3
    // with tag "a" collides with survivor id=1 — refused
    val e2 = intercept[IllegalStateException] {
      Snapshots.mergeChecked(spark, root, "id",
        Seq((3L, 9L, "a")).toDF("id", "v", "tag"), checks)
    }
    assert(e2.getMessage.contains("unique_tag"))
    assert(stagedDirs() == before && Snapshots.latestVersion(root) == 1,
      "refused merges must publish nothing and strand nothing")
    // replacing a key with its OWN tag never false-refuses (the
    // survivor set excludes the replaced key)
    val v2 = Snapshots.mergeChecked(spark, root, "id",
      Seq((2L, 9L, "b")).toDF("id", "v", "tag"), checks)
    assert(v2 == 2)
    assert(Snapshots.read(spark, root).as[(Long, Long, String)].collect().toSet
      == Set((1L, 5L, "a"), (2L, 9L, "b")))
    // updateChecked: a SET driving a value out of range refuses
    val e3 = intercept[IllegalStateException] {
      Snapshots.updateChecked(spark, root, $"id" === 1L,
        Map("v" -> lit(-3L)), checks)
    }
    assert(e3.getMessage.contains("v_nonneg"))
    // a SET colliding a unique column with an untouched row refuses
    val e4 = intercept[IllegalStateException] {
      Snapshots.updateChecked(spark, root, $"id" === 1L,
        Map("tag" -> lit("b")), checks)
    }
    assert(e4.getMessage.contains("unique_tag"))
    assert(stagedDirs().filterNot(_.contains("_v2_")) == before &&
      Snapshots.latestVersion(root) == 2)
    // a clean checked update (keeps its own keys) publishes
    val v3 = Snapshots.updateChecked(spark, root, $"id" === 1L,
      Map("v" -> lit(6L)), checks)
    assert(v3 == 3)
    assert(Snapshots.read(spark, root).as[(Long, Long, String)].collect().toSet
      == Set((1L, 6L, "a"), (2L, 9L, "b")))
  }

  test("cross-batch Unique is null-safe: two NULL keys refuse across commits like within one") {
    import graft.operators.QualityChecks.Unique
    val root = Staging.tempDir("snap_checked_null").toString
    val checks = Seq(Unique("unique_id", $"id"))
    // one NULL key in a batch is fine (a single-member group)
    Snapshots.appendChecked(
      Seq((Some(1L), 5L), (None, 6L)).toDF("id", "v"), root, checks)
    // a second NULL key arriving in a LATER batch must refuse exactly
    // like two NULLs in one batch (the report's groupBy leg) —
    // verdicts cannot depend on batching
    val e = intercept[IllegalStateException] {
      Snapshots.appendChecked(
        Seq((Option.empty[Long], 7L)).toDF("id", "v"), root, checks)
    }
    assert(e.getMessage.contains("unique_id"))
    assert(Snapshots.latestVersion(root) == 1)
  }

  test("appendChecked revalidates Unique on rebase: a racing duplicate refuses, disjoint proceeds") {
    import graft.operators.QualityChecks.Unique
    val root = Staging.tempDir("snap_checked_rebase").toString
    val checks = Seq(Unique("unique_id", $"id"))
    Snapshots.appendChecked(Seq((1L, 5L)).toDF("id", "v"), root, checks)
    // a commit lands INSIDE the optimistic window (after validation,
    // before the CAS) carrying the same key this batch appends — the
    // in-loop revalidation must refuse what validation couldn't see
    Snapshots.afterCheckedValidation =
      () => { Snapshots.append(Seq((2L, 9L)).toDF("id", "v"), root); () }
    try {
      val e = intercept[IllegalStateException] {
        Snapshots.appendChecked(Seq((2L, 7L)).toDF("id", "v"), root, checks)
      }
      assert(e.getMessage.contains("unique_id"))
      assert(Snapshots.latestVersion(root) == 2,
        "only the racing append may have committed")
      // disjoint key through the same window: revalidates and proceeds
      Snapshots.afterCheckedValidation =
        () => { Snapshots.append(Seq((3L, 9L)).toDF("id", "v"), root); () }
      assert(Snapshots.appendChecked(
        Seq((4L, 7L)).toDF("id", "v"), root, checks) == 4)
      assert(Snapshots.read(spark, root).as[(Long, Long)].collect().toSet ==
        Set((1L, 5L), (2L, 9L), (3L, 9L), (4L, 7L)))
    } finally Snapshots.afterCheckedValidation = () => ()
  }

  test("checked merge: Unique checks abort on any concurrent commit; row-local checks rebase") {
    import org.apache.spark.sql.functions.udf
    import graft.operators.QualityChecks.{RowPredicate, Unique}
    def run(checks: Seq[graft.operators.QualityChecks.Check])
        : (Either[Throwable, Int], Set[(Long, String)]) = {
      val root = Staging.tempDir("snap_checked_race").toString
      Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), root)
      SnapshotsSpec.mergeGate.set(new java.util.concurrent.CountDownLatch(1))
      SnapshotsSpec.mergeEntered.set(new java.util.concurrent.CountDownLatch(1))
      val wait = udf(() => {
        SnapshotsSpec.mergeEntered.get().countDown()
        SnapshotsSpec.mergeGate.get().await()
        true
      })
      val source = Seq((2L, "B2"), (9L, "i")).toDF("id", "s").filter(wait())
      val worker = new java.util.concurrent.FutureTask(() =>
        Snapshots.mergeChecked(spark, root, "id", source, checks))
      new Thread(worker, "checked-merge-writer").start()
      SnapshotsSpec.mergeEntered.get().await()
      // a DISJOINT-key append lands inside the merge's window
      Snapshots.append(Seq((7L, "c")).toDF("id", "s"), root)
      SnapshotsSpec.mergeGate.get().countDown()
      val out = try Right(worker.get(120, java.util.concurrent.TimeUnit.SECONDS))
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
      (out, Snapshots.read(spark, root).as[(Long, String)].collect().toSet)
    }
    // a declared Unique could collide with the concurrent row on a
    // column the merge-key check doesn't cover — the checked merge
    // must ABORT (the unchecked merge would rebase; the serializable-
    // merge test proves that), publishing nothing
    val (aborted, tableAfterAbort) = run(Seq(Unique("unique_id", $"id")))
    assert(aborted.isLeft && aborted.swap.exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"expected ConcurrentModificationException, got $aborted")
    assert(tableAfterAbort == Set(1L -> "a", 2L -> "b", 7L -> "c"))
    // row-local checks are basis-free: the same race REBASES and lands
    val (ok, tableAfterOk) = run(Seq(RowPredicate("s_not_null", $"s".isNull)))
    assert(ok.isRight, s"row-local checked merge must rebase, got $ok")
    assert(tableAfterOk ==
      Set(1L -> "a", 2L -> "B2", 7L -> "c", 9L -> "i"))
  }

  test("commit stamps are strictly monotone; versionAsOf resolves and refuses correctly") {
    val root = Staging.tempDir("snap_ts").toString
    // burst commits would land within the same millisecond without the bump
    (1 to 4).foreach(i => Snapshots.append(Seq((i.toLong, "x")).toDF("id", "s"), root))
    val ts = (1 to 4).map(v => Snapshots.commitTimeOf(root, v))
    assert(ts == ts.sorted && ts.distinct == ts,
      s"commit stamps must be strictly increasing along the lineage, got $ts")
    // each commit's own stamp resolves to exactly that commit
    (1 to 4).foreach(v =>
      assert(Snapshots.versionAsOf(root, ts(v - 1)) == v))
    // between two stamps → the earlier commit; beyond head → head
    assert(Snapshots.versionAsOf(root, ts(2) - 1) == 2)
    assert(Snapshots.versionAsOf(root, Long.MaxValue) == 4)
    // before history: refuse, never silently return the oldest
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(root, ts(0) - 1)
    }
    // branch-aware: a branch resolves along ITS lineage — at the fork
    // stamp it sees the fork commit, never main-only successors
    Snapshots.createBranch(root, "b", from = 2)
    val bv = Snapshots.appendTo(Seq((99L, "y")).toDF("id", "s"), root, "b")
    assert(Snapshots.versionAsOf(root, Long.MaxValue, "b") == bv)
    assert(Snapshots.versionAsOf(root, ts(1), "b") == 2)
  }

  test("bloom- and partition-pruned point lookups honor equality and positional deletes") {
    val root = Staging.tempDir("snap_spec_pruned_mor").toString
    val spec = Snapshots.IdentityPartition("s")
    Snapshots.appendPartitioned(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("id", "s", "x"),
      root, spec)
    Snapshots.append(Seq((4L, "a", 40L), (5L, "b", 50L)).toDF("id", "s", "x"),
      root, bloomCols = Seq("s"))
    Snapshots.deleteWhere(spark, root, "id", Seq(1L, 4L).toDF("id"))
    // positional: tombstones the pre-update rows, appends their images
    val head = Snapshots.updateWhere(spark, root, $"id" === 2L || $"id" === 5L,
      Map("x" -> ($"x" + 1L)))
    val want = Map(
      "a" -> Set((2L, "a", 21L)),
      "b" -> Set((3L, "b", 30L), (5L, "b", 51L)))
    for ((value, rows) <- want) {
      assert(Snapshots.readBloomPruned(spark, root, head, "s", value)
        .as[(Long, String, Long)].collect().toSet == rows, s"bloom '$value'")
      assert(Snapshots.readPartitionPruned(spark, root, head, spec, value)
        .as[(Long, String, Long)].collect().toSet == rows, s"partition '$value'")
    }
  }

  test("head read plan keeps one shape however many versions and delete sets it merges") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val walk = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val root = Staging.tempDir("snap_spec_mor_shape").toString
    def rows(ids: Range) = ids.map(i => (i.toLong, i * 10L)).toDF("id", "x")
    // one data version plus an equality and a positional delete set
    def round(i: Int): Unit = {
      Snapshots.append(rows(i * 10 until i * 10 + 5), root)
      Snapshots.deleteWhere(spark, root, "id", Seq(i * 10L).toDF("id"))
      Snapshots.deleteWhereMatching(spark, root, $"id" === i * 10L + 1)
    }
    def shape(): (Int, Int, Int) = {
      val df = Snapshots.read(spark, root)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val dataScans = walk.collect(plan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("/data_v")) => s
      }
      val antis = walk.collect(plan) {
        case j: BaseJoinExec if j.joinType == LeftAnti => j
      }
      val unions = walk.collect(plan) { case u: UnionExec => u }
      (dataScans.size, antis.size, unions.size)
    }
    def dataVersions =
      Snapshots.filesTable(spark, root).select("commit_version").distinct().count()
    (0 until 2).foreach(round)
    assert(dataVersions == 2)
    assert(shape() == (1, 2, 0), "2 data versions")
    (2 until 6).foreach(round)
    assert(dataVersions == 6)
    assert(shape() == (1, 2, 0), "6 data versions")
    assert(Snapshots.read(spark, root).select($"id").as[Long].collect().sorted.toSeq ==
      (0 until 6).flatMap(i => (i * 10 + 2 until i * 10 + 5).map(_.toLong)))
  }
}

object SnapshotsSpec {
  /** Latch the serializable-merge race test's source UDF parks on —
    * object-level because the UDF is serialized into the task and must
    * deref the SAME latch cell in local mode.
    */
  val mergeGate =
    new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CountDownLatch]()
  val mergeEntered =
    new java.util.concurrent.atomic.AtomicReference[java.util.concurrent.CountDownLatch]()
}

package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Randomized DML invariants for the snapshot store: arbitrary
  * interleavings of append / merge / equality-delete / row-update /
  * compact must keep the live table equal to a trivial reference
  * interpreter (a driver-side Map), and every REMEMBERED version must
  * read back byte-stably no matter what lands after it — the
  * sequence-scoping contract (a key re-inserted after its delete
  * survives; an update's post-image outlives its own commit's
  * tombstones; compaction changes bytes, never rows) exercised down
  * random paths instead of the hand-picked gate choreographies.
  */
class SnapshotDmlPropertySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private sealed trait Op
  // `asInt` writes the ids as int (the table widens to long on the
  // first long write); `layout` picks the file layout the pruned
  // reads route through
  private case class Append(keys: Seq[Long], delta: Long, asInt: Boolean = false,
                            layout: Layout = Plain) extends Op
  private case class Merge(keys: Seq[Long], delta: Long) extends Op
  private case class Delete(keys: Seq[Long], asInt: Boolean = false) extends Op
  // positional tombstones over every live row whose v is a multiple
  private case class DeleteMatching(mod: Long) extends Op
  private case class Update(mod: Long, delta: Long) extends Op
  private case object Compact extends Op
  private case object CompactManifests extends Op
  // r15: the CHECKED commit paths join the interleavings — a clean
  // checked write behaves exactly like its unchecked twin; a violating
  // one must refuse leaving NO version, NO model drift, NO debris
  private case class CheckedAppend(keys: Seq[Long], delta: Long,
                                   violate: Boolean) extends Op
  private case class CheckedMerge(keys: Seq[Long], delta: Long,
                                  violate: Boolean) extends Op
  private case class CheckedUpdate(mod: Long, delta: Long,
                                   violate: Boolean) extends Op
  // r15: stats-clustered rewrite — entry reordering must be invisible
  // to rows, delete scoping, and every remembered version
  private case object CompactManifestsClustered extends Op
  // r16: the delete side of the checked-DML surface — a delete that
  // orphans a referenced key must refuse leaving NO version, NO model
  // drift; a clean one behaves exactly like deleteWhere
  private case class CheckedDelete(keys: Seq[Long], violate: Boolean) extends Op
  // r16: the clustered rewrite FORCED down the distributed (Spark-job)
  // path — must be row-, scoping-, and history-invisible exactly like
  // the driver-sort spelling it replaces above the memory threshold
  private case object RewriteManifestsDistributed extends Op

  private sealed trait Layout
  private case object Plain extends Layout
  private case object Bloom extends Layout
  private case object Bucketed extends Layout
  private val bucketSpec = Snapshots.BucketPartition("id", 4)

  private val keysGen = Gen.nonEmptyListOf(Gen.choose(0L, 39L)).map(_.distinct)
  private val opGen: Gen[Op] = Gen.frequency(
    4 -> (for { k <- keysGen; d <- Gen.choose(1L, 9L) } yield Append(k, d)),
    4 -> (for { k <- keysGen; d <- Gen.choose(1L, 9L) } yield Merge(k, d)),
    3 -> keysGen.map(Delete(_)),
    2 -> (for { m <- Gen.choose(2L, 5L); d <- Gen.choose(1L, 9L) }
      yield Update(m, d)),
    1 -> Gen.const(Compact),
    // r14: metadata-only manifest rewrite — rows, delete scoping, and
    // every remembered version must be bit-identical through it
    1 -> Gen.const(CompactManifests),
    2 -> (for { k <- keysGen; d <- Gen.choose(1L, 9L); bad <- Gen.oneOf(true, false) }
      yield CheckedAppend(k, d, bad)),
    2 -> (for { k <- keysGen; d <- Gen.choose(1L, 9L); bad <- Gen.oneOf(true, false) }
      yield CheckedMerge(k, d, bad)),
    1 -> (for { m <- Gen.choose(2L, 5L); d <- Gen.choose(1L, 9L); bad <- Gen.oneOf(true, false) }
      yield CheckedUpdate(m, d, bad)),
    1 -> Gen.const(CompactManifestsClustered),
    2 -> (for { k <- keysGen; bad <- Gen.oneOf(true, false) }
      yield CheckedDelete(k, bad)),
    1 -> Gen.const(RewriteManifestsDistributed))

  // every value any clean op writes is ≥ 0, so the range check passes
  // exactly when no violation was planted
  private val vChecks = Seq(
    graft.operators.QualityChecks.RowPredicate("v_nonneg", col("v") < 0L))

  // the merge-on-read input: keys 2 and 3 die and come back across
  // versions under both delete flavors, with equality sets on `id`
  // written before and after the int -> long widening
  private val reinsertScript: Seq[Op] = Seq(
    Append((0L to 9L), 0L, asInt = true, layout = Bucketed),
    Delete(Seq(1L, 2L, 3L), asInt = true),
    Append(Seq(1L, 2L, 3L), 100L, asInt = true, layout = Bloom),
    DeleteMatching(3L),
    Append(Seq(2L, 3L, 4L, 11L), 200L, layout = Bloom),
    Delete(Seq(2L, 3L, 11L)),
    Merge(Seq(3L, 5L), 7L),
    Append(Seq(2L, 11L), 400L, layout = Bucketed),
    Update(2L, 1L))

  test("random DML interleavings match the reference interpreter; remembered versions stay stable") {
    val inputs = (1 to 5).map { i =>
      i -> (Append((0L to 9L), 0L) +: Gen.listOfN(12, opGen)
        .pureApply(Gen.Parameters.default, Seed(7000L + i)))
    } :+ (6 -> reinsertScript)
    inputs.foreach { case (i, ops) =>
      // a space in the root: `_metadata.file_path` URI-escapes it, the
      // manifest paths do not
      val root = Staging.tempDir(s"dml_prop_$i").resolve("a table").toString
      val S = Snapshots

      // model: MULTISET of (id, v) — appends may duplicate ids; merge
      // and delete act on ALL rows of a key; update rewrites matching
      // rows in place
      var model = Vector.empty[(Long, Long)]
      var snapshots = List.empty[(Int, Vector[(Long, Long)])]
      def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "v")

      ops.foreach { op =>
        val ver = op match {
          case Append(keys, d, asInt, layout) =>
            val rows = keys.map(k => k -> (k + d))
            model = model ++ rows
            val batch =
              if (asInt) rows.map { case (k, v) => (k.toInt, v) }.toDF("id", "v")
              else df(rows)
            layout match {
              case Plain => S.append(batch.repartition(2), root)
              case Bloom => S.append(batch.repartition(2), root, bloomCols = Seq("id"))
              case Bucketed => S.appendPartitioned(batch, root, bucketSpec)
            }
          case Merge(keys, d) =>
            val rows = keys.map(k => k -> (k * 10 + d))
            model = model.filterNot(r => keys.contains(r._1)) ++ rows
            S.merge(spark, root, "id", df(rows).repartition(1))
          case Delete(keys, asInt) =>
            model = model.filterNot(r => keys.contains(r._1))
            S.deleteWhere(spark, root, "id",
              if (asInt) keys.map(_.toInt).toDF("id") else keys.toDF("id"))
          case DeleteMatching(m) =>
            model = model.filterNot(_._2 % m == 0)
            S.deleteWhereMatching(spark, root, pmod(col("v"), lit(m)) === 0)
          case Update(m, d) =>
            model = model.map { case (k, v) =>
              if (v % m == 0) (k, v + d) else (k, v) }
            S.updateWhere(spark, root, pmod(col("v"), lit(m)) === 0,
              Map("v" -> (col("v") + d)))
          case Compact =>
            S.compact(spark, root, targetFiles = 2)
          case CompactManifests =>
            S.compactManifests(root)
          case CheckedAppend(keys, d, bad) =>
            val rows = keys.map(k => k -> (if (bad) -(k + d) else k + d))
            if (bad) {
              val head = S.latestVersion(root)
              intercept[IllegalStateException] {
                S.appendChecked(df(rows).repartition(2), root, vChecks)
              }
              assert(S.latestVersion(root) == head,
                s"seed $i: refused checked append minted a version")
              head
            } else {
              model = model ++ rows
              S.appendChecked(df(rows).repartition(2), root, vChecks)
            }
          case CheckedMerge(keys, d, bad) =>
            val rows = keys.map(k => k -> (if (bad) -(k * 10 + d) else k * 10 + d))
            if (bad) {
              val head = S.latestVersion(root)
              intercept[IllegalStateException] {
                S.mergeChecked(spark, root, "id", df(rows).repartition(1), vChecks)
              }
              assert(S.latestVersion(root) == head,
                s"seed $i: refused checked merge minted a version")
              head
            } else {
              model = model.filterNot(r => keys.contains(r._1)) ++ rows
              S.mergeChecked(spark, root, "id", df(rows).repartition(1), vChecks)
            }
          case CheckedUpdate(m, d, bad) =>
            val set = Map("v" -> (if (bad) lit(-1L) else col("v") + d))
            if (bad) {
              // refused only if some row MATCHES; an empty match set
              // stages no files and commits a (valid) empty update
              val matches = model.exists(_._2 % m == 0)
              val head = S.latestVersion(root)
              if (matches) {
                intercept[IllegalStateException] {
                  S.updateChecked(spark, root,
                    pmod(col("v"), lit(m)) === 0, set, vChecks)
                }
                assert(S.latestVersion(root) == head,
                  s"seed $i: refused checked update minted a version")
                head
              } else
                S.updateChecked(spark, root,
                  pmod(col("v"), lit(m)) === 0, set, vChecks)
            } else {
              model = model.map { case (k, v) =>
                if (v % m == 0) (k, v + d) else (k, v) }
              S.updateChecked(spark, root,
                pmod(col("v"), lit(m)) === 0, set, vChecks)
            }
          case CompactManifestsClustered =>
            S.compactManifests(root, targetLines = 3,
              clusterBy = Some("id"))
          case CheckedDelete(keys, bad) =>
            // violate: reference the delete keys themselves — none can
            // resolve in the post-image, so a nonempty key set always
            // orphans. clean: reference only keys that SURVIVE the
            // delete (or nothing, when the table empties) — the
            // post-image resolves them all
            val live = model.map(_._1).distinct
            val refKeys =
              if (bad) keys else live.filterNot(keys.contains).take(3)
            val ri = Seq(graft.operators.QualityChecks.InboundRef(
              "ri_orphans", refKeys.toDF("rid"), col("rid"), col("id")))
            if (bad) {
              val head = S.latestVersion(root)
              intercept[IllegalStateException] {
                S.deleteChecked(spark, root, "id", keys.toDF("id"), ri)
              }
              assert(S.latestVersion(root) == head,
                s"seed $i: refused checked delete minted a version")
              head
            } else {
              model = model.filterNot(r => keys.contains(r._1))
              S.deleteChecked(spark, root, "id", keys.toDF("id"), ri)
            }
          case RewriteManifestsDistributed =>
            S.rewriteManifests(spark, root, targetLines = 3,
              clusterBy = Some("id"), maxDriverSortLines = 0L)
        }
        val got = S.read(spark, root)
          .as[(Long, Long)].collect().toVector.sorted
        assert(got == model.sorted,
          s"seed $i after $op: got $got\nwant ${model.sorted}")
        snapshots ::= (ver, model)
      }

      // every remembered version reads back exactly its frozen state,
      // and so does every pruned read of it (the exact predicate over
      // the model)
      snapshots.foreach { case (v, want) =>
        def check(what: String, got: org.apache.spark.sql.DataFrame,
                  keep: ((Long, Long)) => Boolean): Unit = {
          val rows = got.as[(Long, Long)].collect().toVector.sorted
          assert(rows == want.filter(keep).sorted, s"seed $i: v$v $what drifted: $rows")
        }
        check("read", S.read(spark, root, v), _ => true)
        check("readPruned", S.readPruned(spark, root, v, "id", 3L, 11L),
          r => r._1 >= 3L && r._1 <= 11L)
        check("readBloomPruned", S.readBloomPruned(spark, root, v, "id", "2"), _._1 == 2L)
        check("readPartitionPruned",
          S.readPartitionPruned(spark, root, v, bucketSpec, "3"), _._1 == 3L)
      }

      // two-level manifest invariants (r13), down the same random
      // paths: every pointer resolves to an existing segment whose
      // line count matches its advertisement, and after an orphan
      // sweep the on-disk segment set equals the referenced set (a
      // CAS-retried commit may strand a content-addressed segment;
      // nothing referenced may vanish)
      segmentInvariants(root, i)
      S.removeOrphans(root, olderThanMillis = 0L)
      segmentInvariants(root, i)
      assert(diskSegments(root) == referencedSegments(root).keySet,
        s"seed $i: orphan sweep must leave exactly the referenced segments")
      snapshots.foreach { case (v, want) =>
        val got = S.read(spark, root, v)
          .as[(Long, Long)].collect().toVector.sorted
        assert(got == want.sorted, s"seed $i: v$v drifted after orphan sweep")
      }

      // r15: commit stamps strictly monotone down the same random
      // paths, and timestamp travel resolves EVERY remembered version
      // exactly from its own commit time
      val head = S.latestVersion(root)
      val tss = (1 to head).map(v => S.commitTimeOf(root, v))
      assert(tss == tss.sorted && tss.distinct == tss,
        s"seed $i: commit stamps not strictly monotone: $tss")
      snapshots.map(_._1).distinct.foreach { v =>
        assert(S.versionAsOf(root, S.commitTimeOf(root, v)) == v,
          s"seed $i: versionAsOf(ts(v$v)) must resolve v$v")
      }
    }
  }

  test("every write path, raced through the commit loop by an append, a dependent delete and a compact") {
    import graft.operators.QualityChecks.{InboundRef, Unique}
    type Rows = Vector[(Long, Long)]
    val S = Snapshots
    def df(rows: (Long, Long)*) = rows.toDF("id", "v")
    val base: Rows = (0L to 5L).map(k => k -> k).toVector
    val refs1 = Seq(InboundRef("ri_1", Seq(1L).toDF("rid"), col("rid"), col("id")))
    val unique = Seq(Unique("unique_id", col("id")))

    // the racer commits inside the writer's loop, after it staged;
    // `dep` is the key the writer depends on (its referenced key, or
    // the key it merges, updates or deletes)
    case class Racer(name: String, run: (String, Long) => Int,
                     effect: (Rows, Long) => Rows)
    val racers = Seq(
      Racer("disjoint append", (r, _) => S.append(df(50L -> 50L), r),
        (m, _) => m :+ (50L -> 50L)),
      Racer("dependent delete",
        (r, k) => S.deleteWhere(spark, r, "id", Seq(k).toDF("id")),
        (m, k) => m.filterNot(_._1 == k)),
      Racer("compact", (r, _) => S.compact(spark, r, targetFiles = 1),
        (m, _) => m))

    // a writer: its dependency key, its effect given the rows it read
    // and the rows after the racer, its setup (run before the race,
    // returning the raced call) and its documented outcome per racer —
    // Some(exception class) aborts, None commits
    val cme = Some(classOf[java.util.ConcurrentModificationException])
    val ise = Some(classOf[IllegalStateException])
    case class Writer(name: String, dep: Long, effect: (Rows, Rows) => Rows,
                      setup: String => () => Int,
                      outcomes: Seq[Option[Class[_ <: Throwable]]])
    val bump: Rows => Rows = _.filter(_._1 == 2L).map { case (k, v) => (k, v + 100) }
    val writers = Seq(
      Writer("append", 1L, (_, m) => m :+ (10L -> 10L),
        r => () => S.append(df(10L -> 10L), r), Seq(None, None, None)),
      Writer("appendChecked Unique", 1L, (_, m) => m :+ (10L -> 10L),
        r => () => S.appendChecked(df(10L -> 10L), r, unique), Seq(None, None, None)),
      Writer("appendChecked InboundRef", 1L, (_, m) => m :+ (10L -> 10L),
        r => () => S.appendChecked(df(10L -> 10L), r, refs1), Seq(None, cme, None)),
      Writer("deleteWhere", 3L, (_, m) => m.filterNot(_._1 == 3L),
        r => () => S.deleteWhere(spark, r, "id", Seq(3L).toDF("id")),
        Seq(None, None, None)),
      Writer("deleteChecked", 1L, (_, m) => m.filterNot(_._1 == 3L),
        r => () => S.deleteChecked(spark, r, "id", Seq(3L).toDF("id"), refs1),
        Seq(None, cme, None)),
      Writer("deleteWhereMatching", 3L, (_, m) => m.filterNot(_._1 == 3L),
        r => () => S.deleteWhereMatching(spark, r, col("id") === 3L),
        Seq(None, None, cme)),
      // an unchecked update rebases onto a winner that leaves the rows
      // it tombstones live (the disjoint append); a winner that deleted
      // one of them aborts it, as a key conflict aborts a merge —
      // rebasing would bring the deleted row back as its image
      Writer("updateWhere", 2L, (b, m) => m.filterNot(_._1 == 2L) ++ bump(b),
        r => () => S.updateWhere(spark, r, col("id") === 2L,
          Map("v" -> (col("v") + 100L))), Seq(None, cme, cme)),
      Writer("updateChecked", 2L, (b, m) => m.filterNot(_._1 == 2L) ++ bump(b),
        r => () => S.updateChecked(spark, r, col("id") === 2L,
          Map("v" -> (col("v") + 100L)), unique), Seq(cme, cme, cme)),
      Writer("merge", 2L, (_, m) => m.filterNot(_._1 == 2L) :+ (2L -> 77L),
        r => () => S.merge(spark, r, "id", df(2L -> 77L)), Seq(None, cme, None)),
      Writer("mergeChecked", 1L, (_, m) => m.filterNot(_._1 == 2L) :+ (2L -> 77L),
        r => () => S.mergeChecked(spark, r, "id", df(2L -> 77L), refs1),
        Seq(None, cme, None)),
      Writer("compact", 1L, (_, m) => m,
        r => () => S.compact(spark, r, targetFiles = 2), Seq(ise, ise, ise)),
      Writer("compactManifests", 1L, (_, m) => m,
        r => () => S.compactManifests(r), Seq(ise, ise, ise)),
      Writer("cherryPick", 1L, (_, m) => m :+ (30L -> 30L), { r =>
        S.createBranch(r, "dev")
        val picked = S.appendTo(df(30L -> 30L), r, "dev")
        () => S.cherryPick(spark, r, "main", picked)
      }, Seq(None, None, None)))

    val failures = for {
      (w, wi) <- writers.zipWithIndex
      (racer, expected) <- racers.zip(w.outcomes)
    } yield {
      val root = Staging.tempDir(s"race_$wi").toString
      S.append(df(base: _*).repartition(2), root)
      val call = w.setup(root)
      val before = S.latestVersion(root)
      val result =
        try {
          S.afterCheckedValidation = () => { racer.run(root, w.dep); () }
          try Right(call()) catch { case e: Exception => Left(e) }
        } finally S.afterCheckedValidation = () => ()
      val raced = racer.effect(base, w.dep)
      val want = (if (expected.isEmpty) w.effect(base, raced) else raced).sorted
      val got = S.read(spark, root).as[(Long, Long)].collect().toVector.sorted
      val minted = S.latestVersion(root) - before
      val problems = Seq(
        (result, expected) match {
          case (Right(v), None) if v == S.latestVersion(root) && minted == 2 => ""
          case (Left(e), Some(c)) if c.isInstance(e) && minted == 1 => ""
          case _ => s"outcome $result, ${minted} versions minted"
        },
        if (got == want) "" else s"rows $got, want $want",
        {
          val stray = unreferencedStagedDirs(root)
          if (stray.isEmpty) "" else s"staged dirs left: $stray"
        }).filter(_.nonEmpty)
      if (problems.isEmpty) None
      else Some(s"${w.name} raced by ${racer.name}: ${problems.mkString("; ")}")
    }
    assert(failures.flatten.isEmpty, failures.flatten.mkString("\n", "\n", ""))
  }

  /** `data_v*`/`delete_v*` dirs under `root` that no live manifest
    * references — debris a refused or failed commit must not leave.
    */
  private def unreferencedStagedDirs(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val S = Snapshots
    val rootP = java.nio.file.Paths.get(root).toAbsolutePath
    val referenced = (1 to S.latestVersion(root))
      .filter(v => java.nio.file.Files.exists(manifestsDir(root).resolve(s"$v.txt")))
      .flatMap(v => S.files(root, v) ++ S.deleteSets(root, v).flatMap(_._2) ++
        S.posDeleteSets(root, v).flatMap(_._2))
      .map(f => rootP.relativize(java.nio.file.Paths.get(f).toAbsolutePath)
        .getName(0).toString)
      .toSet
    val s = java.nio.file.Files.list(rootP)
    val onDisk = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("(data|delete)_v\\d+_.*")).toSet finally s.close()
    onDisk -- referenced
  }

  private def manifestsDir(root: String) =
    java.nio.file.Paths.get(root).resolve("_manifests")

  /** (segment file name → advertised line count) across LIVE lists. */
  private def referencedSegments(root: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val md = manifestsDir(root)
    val s = java.nio.file.Files.list(md)
    val lists = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.txt")).toSeq finally s.close()
    lists.flatMap { l =>
      java.nio.file.Files.readAllLines(md.resolve(l)).asScala
        .filter(_.startsWith("#segment\t"))
        .map { p => val t = p.split('\t'); t(1) -> t(2).toInt }
    }.toMap
  }

  private def diskSegments(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(manifestsDir(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_seg_")).toSet finally s.close()
  }

  private def segmentInvariants(root: String, seed: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val md = manifestsDir(root)
    referencedSegments(root).foreach { case (name, n) =>
      val p = md.resolve(name)
      assert(java.nio.file.Files.exists(p), s"seed $seed: dangling segment $name")
      val lines = java.nio.file.Files.readAllLines(p).asScala.count(_.nonEmpty)
      assert(lines == n,
        s"seed $seed: $name advertises $n lines, holds $lines")
    }
  }
}

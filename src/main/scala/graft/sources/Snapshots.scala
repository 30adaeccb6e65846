package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Table-format-lite: versioned immutable snapshots over plain parquet
  * with TWO-LEVEL file manifests — the time-travel / isolation core of
  * the lakehouse formats (Iceberg/Delta), reduced to the part an
  * engine must get right. Each commit writes ONLY its new data files,
  * one content-addressed manifest SEGMENT listing them, and a manifest
  * LIST that re-references every carried-forward segment by name
  * (Iceberg's manifest-list/manifest split, r13): commit metadata cost
  * is O(new files + commits), never O(table files), the list stays
  * small enough to read in one driver call at any table size, and
  * stats pruning skips whole unopened segments from the pointers'
  * aggregate min/max. A `_latest` pointer names the current version.
  * Readers resolve a manifest and read exactly its files, so an old
  * version stays byte-stable no matter how many commits land after
  * it, and a reader never sees a half-written commit: list and
  * segments are staged to temp names and atomically linked into place,
  * and files are referenced only after they are fully written (the
  * parquet job completed). Pre-r13 flat manifests (inline entry lines)
  * read unchanged and migrate into segments on their next
  * carried-forward commit.
  *
  * Deliberately NOT here: concurrent-writer conflict detection (a
  * single-writer commit protocol; formats add optimistic retry on the
  * pointer swap). Compaction IS here (r8, [[compact]]): N-small-files
  * → few-rewritten-files as a new version whose manifest drops the old
  * files — while every prior manifest keeps referencing them, so time
  * travel survives the rewrite (Iceberg `rewrite_data_files` /
  * Delta OPTIMIZE semantics, reduced to the manifest move). Row-level
  * DELETES are here since r9 ([[deleteWhere]]): equality-delete files
  * in the manifest, merged on read (Iceberg v2 merge-on-read), purged
  * by the next [[compact]] rewrite.
  */
object Snapshots {

  private def manifestPath(root: Path, v: Int): Path =
    root.resolve("_manifests").resolve(s"$v.txt")

  /** Manifest entry lines of snapshot `v` (one per data file). Since r9
    * each line is TSV: `path<TAB>#stats<TAB>col=min..max…` — the
    * per-file INT64 column statistics collected ONCE at commit time,
    * the Iceberg/Delta manifest contract (writers report stats with the
    * commit; readers plan file skipping from the manifest alone, no
    * footer I/O on the query path). Pre-r9 manifests are path-only
    * lines; [[fileStats]] falls back to footer reads for those.
    */
  /** All manifest body REFS of snapshot `v`, UNRESOLVED: `#segment`
    * pointer lines stay pointers, inline entry/delete lines pass as-is.
    * This is what carry-forward commits splice into their children —
    * the two-level contract's whole point is that a child re-references
    * the parent's segments by name instead of rewriting their entries.
    */
  private def bodyRefs(root: String, v: Int): Seq[String] = {
    val p = manifestPath(Paths.get(root), v)
    require(Files.exists(p), s"snapshot $v does not exist under $root")
    Files.readAllLines(p).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#schema\t") &&
        !l.startsWith("#props\t"))
  }

  /** The parent's body refs a commit carries forward — none onto the
    * empty table (parent 0, an append's first commit or a branch
    * created at 0).
    */
  private def carriedRefs(root: String, parent: Int): Seq[String] =
    if (parent == 0) Nil else bodyRefs(root, parent)

  /** All manifest body lines: data-file entries AND `#delete` lines
    * (the schema header is metadata, not an entry), with `#segment`
    * pointers resolved ([[resolveBody]]). Carried forward BY REFERENCE
    * (see [[bodyRefs]]) by [[append]]/[[deleteWhere]].
    */
  private def rawLines(root: String, v: Int): Seq[String] =
    resolveBody(Paths.get(root), bodyRefs(root, v))

  // ---- MANIFEST LISTS (r13): two-level snapshot metadata ----
  // A version's manifest is a LIST: header lines plus body refs, where
  // a body ref is either an inline line (legacy / degenerate) or a
  //   #segment\t<_seg_<sha256>.txt>\t<n>\t<agg col=min..max… | #nostats>
  // pointer to an immutable, CONTENT-ADDRESSED segment file holding n
  // body lines. Commits write ONE new segment for their own lines and
  // re-reference every carried-forward segment by name, so commit cost
  // is O(new files + segments), not O(total files) — at 100 TB the
  // per-snapshot manifest is itself big data and rewriting it per
  // commit is the scale bug this closes (Iceberg's manifest-list /
  // manifest split, reduced to the reuse + pruning contract). The
  // pointer carries per-column aggregate min/max over its entries, so
  // stats pruning ([[prunedFiles]]) skips whole segments WITHOUT
  // opening them; [[compact]] naturally collapses a long pointer list
  // back to one segment (manifest compaction rides data compaction).
  // Content addressing makes racing writers of identical content
  // converge on one file, and reaping refcounts segments exactly like
  // data files ([[reapVersions]]/[[removeOrphans]]).

  private val SegmentPtr = "#segment\t"

  /** Segment reads on any resolve path — the two-level analogue of
    * [[queryPathFooterReads]]: SnapshotSegmentsSpec asserts stats
    * pruning opens only the overlapping segments.
    */
  val segmentReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** THIS thread's segment-read count (r16): manifest resolution is a
    * driver-side call, so a gate metering "how many segments did MY
    * lookup open" delta-reads this instead of the JVM-global
    * [[segmentReads]] — a concurrent reader in the same JVM (parallel
    * gates, another table) can no longer skew the delta.
    */
  private val segmentReadsTL =
    ThreadLocal.withInitial[java.lang.Long](() => 0L)
  def segmentReadsHere: Long = segmentReadsTL.get()

  /** Test seam (r16): THIS thread's count of [[resolveBody]] calls —
    * in-memory body materializations. The memory-bounded rewrite
    * paths (streaming non-clustered, distributed clustered) claim to
    * never materialize the resolved body as one driver Seq; a spec
    * asserts that claim through this counter instead of trusting the
    * code shape to survive refactors. Thread-local, same convention
    * as [[segmentReadsHere]].
    */
  private val bodyMaterializationsTL =
    ThreadLocal.withInitial[java.lang.Long](() => 0L)
  def bodyMaterializationsHere: Long = bodyMaterializationsTL.get()

  /** Splice segment pointers: each `#segment` ref contributes its
    * file's lines in place, inline refs pass through — resolution
    * preserves manifest order exactly.
    */
  private def resolveBody(rootP: Path, refs: Seq[String]): Seq[String] = {
    bodyMaterializationsTL.set(bodyMaterializationsTL.get() + 1L)
    resolveBodyIter(rootP, refs).toVector
  }

  /** Lazy [[resolveBody]] (r16): one segment's lines in memory at a
    * time — the bound that lets the non-clustered manifest rewrite
    * stream a 10⁷-entry body through [[segmentize]]'s O(targetLines)
    * run buffer instead of materializing O(table files) strings on
    * the driver.
    */
  private def resolveBodyIter(rootP: Path, refs: Seq[String]): Iterator[String] =
    refs.iterator.flatMap { l =>
      if (l.startsWith(SegmentPtr)) {
        segmentReads.incrementAndGet()
        segmentReadsTL.set(segmentReadsTL.get() + 1L)
      }
      refLines(rootP, l).iterator
    }

  /** One ref's lines, NO counters — the pure parsing core of the
    * segment-pointer grammar, shared by [[resolveBodyIter]] (driver;
    * counters at the call site) and the distributed rewrite's
    * executor-side resolve, so a format change can never silently
    * skip one copy (r16).
    */
  private[sources] def refLines(rootP: Path, ref: String): Seq[String] =
    if (ref.startsWith(SegmentPtr)) {
      val name = ref.split('\t')(1)
      Files.readAllLines(rootP.resolve("_manifests").resolve(name))
        .asScala.toSeq.filter(_.nonEmpty)
    } else Seq(ref)

  /** Most distinct partition values a `#partagg:` summary records; a
    * segment spanning more simply isn't partition-skippable (opened and
    * pruned per entry, as before).
    */
  private val MaxPartSummaryValues = 32

  /** Max body lines per packed segment (r15 — the line-count analogue
    * of Iceberg `rewrite_manifests`' target-size bin-packing). Two
    * scale failures of unbounded packing at 100 TB: (a) one segment
    * spanning the whole table carries table-wide aggregate min/max, so
    * the segment-level skip [[prunedFiles]] plans from degrades to
    * open-everything right after the operation meant to tidy metadata;
    * (b) resolving that segment is one driver call reading O(table
    * files) lines. Cutting runs at this bound keeps a packed list at
    * O(files/target) segments, each with commit-order-local stats —
    * tight for the range-correlated ingest every append-only table is
    * — and bounds per-segment driver I/O. 8192 lines ≈ 1-2 MB per
    * segment file (Iceberg's 8 MB default scaled to the skinnier line
    * grammar), small enough that a point lookup's opened segments stay
    * cheap, large enough that list length stays O(commits)/O(packs).
    */
  val SegmentTargetLines = 8192

  /** Per-column aggregate stats tokens for a segment pointer:
    * `col=min..max` over every entry that carries the column (entries
    * without a column's token hold no matchable value — the pruner
    * contract — so they don't widen the range); `#nostats` if any DATA
    * entry predates commit-time stats (its files need the footer
    * fallback, so the segment must never be skipped unopened). Delete
    * lines carry no prunable stats and are ignored here.
    *
    * Partition summaries (r13): `#partagg:<transform>=v1,v2,…` when
    * EVERY data entry carries the transform's `#part:` token, the
    * distinct value set is ≤ [[MaxPartSummaryValues]], and every value
    * is token-safe — Iceberg's manifest-level partition summary: a
    * point lookup whose home value is absent skips the segment
    * unopened ([[partitionPrunedFiles]]). The all-entries condition is
    * what makes the skip sound: one untokened file inside would have
    * to be scanned.
    */
  private def segmentAggTokens(lines: Seq[String]): Seq[String] = {
    val dataLines = lines.filterNot(l =>
      l.startsWith("#delete\t") || l.startsWith("#posdelete\t"))
    val colTokens: Seq[String] =
      if (dataLines.exists { l =>
          val parts = l.split('\t'); parts.length < 2 || parts(1) != "#stats" })
        Seq("#nostats")
      else {
        val agg = scala.collection.mutable.Map[String, (Long, Long)]()
        for (l <- dataLines; t <- l.split('\t').drop(2).takeWhile(!_.startsWith("#"))) {
          val i = t.indexOf('=')
          val c = t.take(i)
          val b = t.drop(i + 1).split("\\.\\.")
          val (mn, mx) = (b(0).toLong, b(1).toLong)
          val cur = agg.get(c)
          agg(c) = (cur.fold(mn)(p => math.min(p._1, mn)),
            cur.fold(mx)(p => math.max(p._2, mx)))
        }
        agg.toSeq.sortBy(_._1).map { case (c, (mn, mx)) => s"$c=$mn..$mx" }
      }
    val partTokens: Seq[String] = {
      val perEntry: Seq[Map[String, String]] = dataLines.map { l =>
        l.split('\t').filter(_.startsWith("#part:")).map { t =>
          val kv = t.stripPrefix("#part:")
          val i = kv.indexOf('=')
          kv.take(i) -> kv.drop(i + 1)
        }.toMap
      }
      perEntry.flatMap(_.keys).distinct.sorted.flatMap { tr =>
        val vals = perEntry.map(_.get(tr))
        if (dataLines.nonEmpty && vals.forall(_.isDefined)) {
          val distinct = vals.flatten.distinct.sorted
          if (distinct.size <= MaxPartSummaryValues &&
              distinct.forall(_.matches("[A-Za-z0-9_.-]+")))
            Some(s"#partagg:$tr=${distinct.mkString(",")}")
          else None
        } else None
      }
    }
    colTokens ++ partTokens
  }

  /** Write `lines` as a content-addressed segment (SHA-256 of content —
    * identical content converges on one file; racing writers of the
    * same bytes both succeed) and return its pointer line. SHA-256, not
    * MD5: segment bytes embed data-derived values (`#part:` identity
    * tokens), and MD5 collisions are CONSTRUCTIBLE — a crafted pair of
    * partition values could alias two distinct segments and silently
    * corrupt a snapshot's file set. md5-low-60 survives elsewhere only
    * as a portable COMPARISON hash (bucketing/blooms), never identity.
    * Staged under a `_tmp_` name (the crash-debris sweep's contract)
    * and hard-linked into place; EEXIST means the identical segment is
    * already published.
    */
  private def writeSegment(rootP: Path, lines: Seq[String]): String = {
    val bytes = lines.mkString("\n").getBytes("UTF-8")
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map(b => f"$b%02x").mkString
    val name = s"_seg_$hash.txt"
    val target = rootP.resolve("_manifests").resolve(name)
    if (!Files.exists(target)) {
      val tmp = rootP.resolve("_manifests").resolve(s"_tmp_seg_${newToken()}.txt")
      Files.write(tmp, bytes)
      try Files.createLink(target, tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)
    }
    (Seq("#segment", name, lines.size.toString) ++
      segmentAggTokens(lines)).mkString("\t")
  }

  /** Turn a commit's body into list form: each run of consecutive
    * inline lines becomes one new segment, pointer refs pass through
    * untouched — order-preserving for any interleaving, and in
    * practice a commit is (carried pointers)* + (its own new lines).
    *
    * Runs additionally split where consecutive DATA lines change
    * "statsness": on flat-manifest migration the parent's carried
    * legacy path-only entries and the commit's freshly written
    * stats-bearing entries would otherwise merge into ONE segment,
    * whose pointer gets `#nostats` — making the NEW files permanently
    * unskippable (and footer-read-taxed) until a compact rewrites
    * them. Flushing the legacy run separately quarantines `#nostats`
    * to the entries that earned it. Delete lines carry no prunable
    * stats and ride whichever run is open.
    *
    * Runs also cut at `targetLines` ([[SegmentTargetLines]]): a
    * resolved body re-packed by [[compactManifests]] (or one huge
    * append) becomes O(lines/target) segments instead of one, so each
    * pointer's aggregate stats stay commit-order-local — skippable —
    * and no single segment resolve reads unbounded lines. Order is
    * preserved across cuts, so delete-line sequence scoping and CDC
    * windows are untouched (a segment boundary is physical grouping
    * only; [[resolveBody]] splices pointers back in place).
    */
  private def segmentize(rootP: Path, lines: Seq[String],
                         targetLines: Int = SegmentTargetLines): Seq[String] =
    segmentizeIter(rootP, lines.iterator, targetLines)

  /** Iterator-driven [[segmentize]] core: memory is O(one run) —
    * ≤ targetLines lines — regardless of body size, so both the
    * streaming rewrite (driver) and the distributed rewrite's
    * per-partition writers (executors; segment files are
    * content-addressed, so concurrent/retried writers converge)
    * share the ONE cutting spelling.
    */
  private def segmentizeIter(rootP: Path, lines: Iterator[String],
                             targetLines: Int): Seq[String] = {
    require(targetLines > 0, s"targetLines must be positive, got $targetLines")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val run = scala.collection.mutable.ArrayBuffer[String]()
    var runHasStats: Option[Boolean] = None
    def flush(): Unit =
      if (run.nonEmpty) {
        out += writeSegment(rootP, run.toSeq); run.clear()
        runHasStats = None
      }
    def isDelete(l: String) =
      l.startsWith("#delete\t") || l.startsWith("#posdelete\t")
    lines.foreach { l =>
      if (l.startsWith(SegmentPtr)) { flush(); out += l }
      else {
        if (!isDelete(l)) {
          val parts = l.split('\t')
          val hasStats = parts.length >= 2 && parts(1) == "#stats"
          if (runHasStats.exists(_ != hasStats)) flush()
          runHasStats = Some(hasStats)
        }
        run += l
        if (run.size >= targetLines) flush()
      }
    }
    flush()
    out.toSeq
  }

  /** Segment files referenced by version `v`'s manifest list. */
  private def segmentRefsOf(root: String, v: Int): Seq[String] =
    bodyRefs(root, v).collect {
      case l if l.startsWith(SegmentPtr) => l.split('\t')(1)
    }

  /** Commit-scoped properties of version `v` (r9): `#props` header
    * lines are metadata about THE COMMIT ITSELF — unlike entry lines
    * they are NOT carried forward by children ([[rawLines]] strips
    * them). Since r14 EVERY commit carries one (the monotone `ts`
    * stamp, plus `op`/`parent`/`branch` where the writer sets them);
    * notable consumers: [[compact]]'s `rewrite=true` (Delta's
    * `dataChange=false` — the commit reorganized bytes without
    * changing the table's rows, so CDC readers skip it) and
    * [[versionAsOf]]'s `ts`.
    */
  def propsOf(root: String, v: Int): Map[String, String] = {
    val p = manifestPath(Paths.get(root), v)
    require(Files.exists(p), s"snapshot $v does not exist under $root")
    Files.readAllLines(p).asScala
      .filter(_.startsWith("#props\t"))
      .flatMap(_.stripPrefix("#props\t").split('\t'))
      .map { kv => val i = kv.indexOf('=')
        kv.take(i) -> kv.drop(i + 1) }
      .toMap
  }

  // ---- body-line views (r16): each is a pure function of ONE
  // resolved body, so a read path can resolve the segments once and
  // derive entries + both delete flavors from the same pass instead
  // of re-reading every segment file three times per read
  private def entriesOf(lines: Seq[String]): Seq[String] =
    lines.filterNot(l =>
      l.startsWith("#delete\t") || l.startsWith("#posdelete\t"))

  private def deleteSetsOf(lines: Seq[String]): Seq[((Int, String), Seq[String])] =
    lines.collect {
      case l if l.startsWith("#delete\t") =>
        val parts = l.split('\t')
        ((parts(3).toInt, parts(2)), parts(1))
    }.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2)) }.toSeq

  private def posDeleteSetsOf(lines: Seq[String]): Seq[(Int, Seq[String])] =
    lines.collect {
      case l if l.startsWith("#posdelete\t") =>
        val parts = l.split('\t')
        (parts(2).toInt, parts(1))
    }.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2)) }.toSeq

  private def entries(root: String, v: Int): Seq[String] =
    entriesOf(rawLines(root, v))

  /** Equality-delete sets of snapshot `v`, grouped (commit version,
    * key column) → delete-file paths. The commit version scopes which
    * data files each set applies to (sequence-number semantics).
    */
  def deleteSets(root: String, v: Int): Seq[((Int, String), Seq[String])] =
    deleteSetsOf(rawLines(root, v))

  /** POSITIONAL delete sets of snapshot `v` (Iceberg v2's second
    * delete flavor): commit version → parquet files of
    * (file_path, pos) tombstones. Where an equality delete kills
    * EVERY row carrying a key, a positional tombstone kills one
    * physical row — the only delete that can separate duplicates.
    * Same sequence scoping as [[deleteSets]].
    */
  def posDeleteSets(root: String, v: Int): Seq[(Int, Seq[String])] =
    posDeleteSetsOf(rawLines(root, v))

  /** The commit sequence a data file belongs to — the number that
    * decides which delete sets apply to it — from its
    * `data_v<N>_<token>` PATH SEGMENT. Anchored to whole segments and
    * taking the LAST match (r16 review finding): an unanchored
    * first-match would read a table rooted under an ancestor
    * directory that happens to be named like `data_v2_lake` as
    * sequence 2 for EVERY file — mis-scoping all delete sets (a
    * re-inserted key would silently vanish). The table's own data dir
    * is always the deepest such segment (partition subdirs below it
    * are `col=value`-shaped and cannot match a bare segment pattern).
    */
  private val DataDirSegment = "data_v(\\d+)_[0-9a-f]{8}".r
  private def dataVersionOf(f: String): Int = {
    val segs = f.split('/').reverseIterator.collectFirst {
      case DataDirSegment(n) => n.toInt
    }
    require(segs.isDefined, s"data file outside a data_v dir: $f")
    segs.get
  }

  /** The schema snapshot `v` was committed with (r9): each manifest
    * carries its version's full schema as a `#schema` header line —
    * the Iceberg/Delta metadata contract that makes schema evolution
    * version-travel correctly: reading v1 after a widening append
    * returns v1's OWN columns, and reading the widened version
    * null-fills the new column for rows in pre-evolution files (Spark's
    * explicit-schema parquet read clips by name). None for a pre-r9
    * path-only manifest (reader falls back to file-derived schema).
    */
  def schemaOf(root: String, v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val p = manifestPath(Paths.get(root), v)
    require(Files.exists(p), s"snapshot $v does not exist under $root")
    Files.readAllLines(p).asScala
      .collectFirst { case l if l.startsWith("#schema\t") =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix("#schema\t"))
          .asInstanceOf[org.apache.spark.sql.types.StructType] }
  }

  /** [[schemaOf]], falling back to the files' inferred schema for a
    * pre-r9 manifest.
    */
  private def schemaAt(spark: SparkSession, root: String, v: Int)
      : org.apache.spark.sql.types.StructType =
    schemaOf(root, v).getOrElse(spark.read.parquet(files(root, v): _*).schema)

  /** Files of snapshot `v`, in manifest order. */
  def files(root: String, v: Int): Seq[String] = filesOf(entries(root, v))

  private def filesOf(entries: Seq[String]): Seq[String] =
    entries.map(_.split('\t').head)

  /** Latest committed version, 0 if the table is empty. Derived from
    * the MANIFEST DIRECTORY (max committed number), not the `_latest`
    * hint file: under concurrent writers the hint can lag or regress
    * (writer A's pointer update racing writer B's), but a manifest
    * rename is the commit itself — the set of manifest files IS the
    * committed history. `_latest` is still written as a debugging hint.
    */
  def latestVersion(root: String): Int = {
    val dir = Paths.get(root).resolve("_manifests")
    if (!Files.exists(dir)) return 0
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("\\d+\\.txt") => s.stripSuffix(".txt").toInt }
      .maxOption.getOrElse(0)
    finally listing.close()
  }

  /** Write `df` into a staged dir ([[Staged.dir]]) and return the new
    * files, sorted. The dir name carries a WRITER-UNIQUE token beside
    * the version (r9 optimistic concurrency): two writers racing on the
    * same target version write to disjoint directories, and the loser
    * of the manifest CAS renames its dir to the rebased version instead
    * of re-writing the data (Iceberg's uuid-named data files + retried
    * metadata commit, reduced to a dir rename).
    */
  private def writeStaged(df: DataFrame, dir: Path): Seq[String] = {
    df.write.mode("overwrite").parquet(dir.toString)
    listParquet(dir)
  }

  /** The `.parquet` files directly under a staged dir, absolute and
    * sorted — the one spelling of "what did that write job produce"
    * (committer markers excluded; DirectoryStream closed, the fd
    * discipline every lister here must keep).
    */
  private def listParquet(dir: Path): Seq[String] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.toString).toSeq.sorted
    finally listing.close()
  }

  private def newToken(): String =
    java.util.UUID.randomUUID.toString.take(8)

  /** Query-path footer opens — incremented ONLY by the legacy
    * footer-stats fallback, never by commit-time stats collection. The
    * q165 gate asserts this stays at zero across a manifest-stats
    * pruning plan: the production contract is that split planning reads
    * manifests, not N data-file footers from the driver.
    */
  val queryPathFooterReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** THIS thread's query-path footer opens — the
    * [[segmentReadsHere]] convention applied to the footer counter,
    * for gates metering their own lookup's cost in a shared JVM.
    */
  private val queryPathFooterReadsTL =
    ThreadLocal.withInitial[java.lang.Long](() => 0L)
  def queryPathFooterReadsHere: Long = queryPathFooterReadsTL.get()

  /** Per-file min/max of every INT64 leaf column, from one footer read
    * (metadata pages only). Used at COMMIT time — once per file
    * lifetime, the write side of the manifest-stats contract — and as
    * the [[fileStats]] fallback for pre-r9 path-only manifests.
    */
  private def footerLongStats(
      conf: org.apache.hadoop.conf.Configuration,
      f: String): Map[String, (Long, Long)] =
    footerInfo(conf, f)._2

  /** One footer read → (row count, per-integral-column min/max). Both
    * facts ride the same metadata pages; reading them together keeps
    * "one footer open per file lifetime" true after row counts joined
    * the manifest (r9 metadata-tables work).
    *
    * INT32 columns record stats too (widened to Long — exact, ints
    * embed in longs; r16 review finding): the pruner's "no stats
    * token ⇒ the column holds only nulls in this file ⇒ nothing can
    * match" rule is only sound if every file with integral VALUES got
    * a token — an INT32-only filter silently pruned files holding
    * live int/short/byte/date rows. Non-integral types (strings,
    * floats) stay tokenless; the stats-pruning entry points REFUSE
    * those columns loudly ([[requireStatsPrunable]]) instead of
    * mis-pruning.
    */
  private def footerInfo(
      conf: org.apache.hadoop.conf.Configuration,
      f: String): (Long, Map[String, (Long, Long)]) = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(f), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val stats = blocks
        .flatMap(_.getColumns.asScala)
        .filter { c =>
          val t = c.getPrimitiveType.getPrimitiveTypeName
          t == PrimitiveTypeName.INT64 || t == PrimitiveTypeName.INT32
        }
        .filter(c => c.getStatistics != null && c.getStatistics.hasNonNullValue)
        .groupBy(_.getPath.toDotString)
        .map { case (name, chunks) =>
          val st = chunks.map(_.getStatistics)
          name -> (
            st.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
            st.map(_.genericGetMax.asInstanceOf[Number].longValue).max)
        }.toMap
      (rows, stats)
    } finally reader.close()
  }

  /** LOUD refusal for stats pruning on a column whose type the
    * `col=mn..mx` token grammar cannot carry (r16): the pruner's
    * missing-token rule reads "all null", so a string/float column
    * would silently prune files holding live rows — wrong results,
    * the one thing a pruner must never produce. Integral types
    * (long/int/short/byte, date, timestamp — INT32/INT64 physical)
    * are exact in the grammar; everything else must scan.
    */
  private def requireStatsPrunable(root: String, version: Int,
                                   column: String): Unit =
    schemaOf(root, version).flatMap(_.fields.find(_.name == column))
      .map(_.dataType).foreach {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType => ()
        case dt => throw new IllegalArgumentException(
          s"stats pruning on '$column' ($dt) is unsupported — the " +
            "manifest stats grammar carries integral ranges only, and " +
            "treating a tokenless column as all-null would silently " +
            "drop live files; scan instead")
      }

  /** Manifest entry lines for freshly written files: path + the
    * commit-time stats block. A rowless (or all-null) column simply has
    * no stats token — under the `#stats` marker that means "no value
    * can match", which is exactly how the pruner treats it.
    */
  private def entryLines(df: DataFrame, newFiles: Seq[String]): Seq[String] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    newFiles.map { f =>
      val (rows, colStats) = footerInfo(conf, f)
      val stats = colStats.toSeq.sortBy(_._1)
        .map { case (c, (mn, mx)) => s"$c=$mn..$mx" }
      // trailing #rows token: never collides with a `col=..` stats
      // token (column names can't start with '#'), ignored by pre-r9
      // parsers that scan for their own column prefix
      ((f +: "#stats" +: stats) :+ s"#rows=$rows").mkString("\t")
    }
  }

  /** Atomically publish version `v` with exactly `fileSet` as its file
    * list. The manifest LINK is the commit — and the CAS: hard-linking
    * the staged file onto an existing manifest name throws
    * `FileAlreadyExistsException`, which is exactly the "another
    * writer claimed this version" signal [[commitLoop]] catches and
    * rebases on. `_latest` is
    * written after as a non-authoritative hint ([[latestVersion]] scans
    * the manifest dir). The staged temp name carries a writer-unique
    * token so racing stagings never collide.
    */
  private def commit(rootP: Path, v: Int, schema: org.apache.spark.sql.types.StructType,
                     fileSet: Seq[String], props: Map[String, String]): Unit = {
    val token = newToken()
    val tmp = rootP.resolve("_manifests").resolve(s"_tmp_${v}_$token.txt")
    // commit timestamp (r14): stamped on EVERY commit, strictly
    // monotone along the lineage (a same-millisecond burst bumps by
    // 1 ms off the parent's stamp) — the property [[versionAsOf]]
    // needs for timestamp travel to be well-defined; Iceberg leaves
    // ties to the catalog, we close them at the source. Wall time is
    // metadata here, never query-result data, so determinism of the
    // gate hashes is untouched.
    val parentV = props.get("parent").map(_.toInt).getOrElse(v - 1)
    // a concurrent expire can reap the parent manifest between the
    // exists check and the read (TOCTOU) — an expired parent imposes
    // no ordering constraint, so degrade to the plain wall clock
    // rather than aborting a commit whose data is already written
    val parentTs =
      try {
        if (parentV >= 1 && Files.exists(manifestPath(rootP, parentV)))
          commitTimeOf(rootP.toString, parentV)
        else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }
    val stamped = props +
      ("ts" -> math.max(System.currentTimeMillis(), parentTs + 1L).toString)
    val headers = s"#schema\t${schema.json}" +:
      Seq(("#props" +: stamped.toSeq.sortBy(_._1)
        .map { case (k, w) => s"$k=$w" }).mkString("\t"))
    // two-level commit (r13): inline body lines become content-addressed
    // segments, carried-forward pointers ride through by reference —
    // the list file stays O(commits since last compact), never O(files)
    Files.write(tmp, (headers ++ segmentize(rootP, fileSet))
      .mkString("\n").getBytes("UTF-8"))
    // hard link, NOT rename: POSIX rename(2) silently REPLACES an
    // existing target (ATOMIC_MOVE is no CAS there), while link(2)
    // fails with EEXIST — the one atomic create-if-absent the
    // filesystem gives us (same trick as classic lock files)
    try Files.createLink(manifestPath(rootP, v), tmp)
    catch { case e: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp); throw e }
    finally Files.deleteIfExists(tmp)
    val latestTmp = rootP.resolve(s"_tmp_latest_${v}_$token")
    Files.write(latestTmp, v.toString.getBytes("UTF-8"))
    Files.move(latestTmp, rootP.resolve("_latest"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commit `df` as an APPEND snapshot; returns the new version. The
    * prior version's manifest entries ride forward VERBATIM (their
    * stats were collected at their own commit); only the new files pay
    * a footer read, once, here.
    *
    * SCHEMA EVOLUTION (r9): the committed schema is the prior version's
    * schema widened by `df`'s new columns (ADD COLUMN — the evolution
    * every append-mostly store needs first); all fields commit as
    * nullable because pre-evolution files null-fill the new columns and
    * a widening append may omit an old column.
    *
    * TYPE PROMOTION (r10): same-name columns may differ in type along
    * the Iceberg promotion matrix — int → long, float → double,
    * decimal(P, S) → decimal(P' > P, S) — and the committed schema
    * carries the WIDER of the two in either direction (a narrow append
    * into a promoted column stays legal; a wide append promotes the
    * table). Data files are never rewritten: Spark 4's parquet readers
    * widen a narrow physical type to the requested schema on scan, so
    * pre-promotion files read as the promoted type while time travel
    * to a pre-promotion version still reads under THAT version's
    * schema. Any type change off the matrix still fails loudly —
    * promotion must never reinterpret bytes (long → int truncates,
    * scale changes shift the point — both rejected).
    */
  private def widenedSchema(df: DataFrame, root: String, prev: Int)
      : org.apache.spark.sql.types.StructType =
    promotedSchema(df.schema, root, prev)

  private def promotedSchema(incoming: org.apache.spark.sql.types.StructType,
                             root: String, prev: Int)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def promoted(a: DataType, b: DataType): DataType = (a, b) match {
      case _ if a == b => a
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case (d1: DecimalType, d2: DecimalType) if d1.scale == d2.scale =>
        DecimalType(math.max(d1.precision, d2.precision), d1.scale)
      case _ => throw new IllegalArgumentException(
        s"type change outside the promotion matrix: $a <-> $b " +
          "(int->long, float->double, decimal precision widening only)")
    }
    (if (prev == 0) None else schemaOf(root, prev)) match {
      case None => incoming
      case Some(ps) =>
        val widened = ps.fields.map { pf =>
          incoming.find(_.name == pf.name) match {
            case Some(f) =>
              try pf.copy(dataType = promoted(pf.dataType, f.dataType))
              catch { case e: IllegalArgumentException =>
                throw new IllegalArgumentException(
                  s"column '${pf.name}': ${e.getMessage}") }
            case None => pf
          }
        }
        StructType(
          (widened ++ incoming.fields.filterNot(f =>
            ps.fieldNames.contains(f.name))).map(_.copy(nullable = true)))
    }
  }

  /** OPTIMISTIC-CONCURRENCY append (r9): the data files are written
    * once to a writer-unique directory; the manifest rename is a CAS on
    * the version number. On conflict the loser REBASES — recompute the
    * latest version, rename its (already-written) data dir to the new
    * version, re-derive the carried-forward entries and schema from the
    * winner's manifest, and retry the CAS. An append conflicts with
    * nothing semantically (its rows are new), so the retry always
    * converges — the Iceberg/Delta optimistic-commit protocol with the
    * data write amortized across retries.
    */
  def append(df: DataFrame, root: String): Int = append(df, root, Nil)

  /** [[append]] onto a BRANCH head (r11): same protocol, the parent is
    * the branch's current head and the commit advances the branch ref.
    */
  def appendTo(df: DataFrame, root: String, branch: String): Int =
    append(df, root, Nil, branch)

  /** [[append]] with per-file BLOOM FILTERS over `bloomCols` (string
    * point-lookup skipping — the Parquet/Iceberg bloom write property):
    * each new file's manifest entry gains a `#bloom:<col>=<hex>` token
    * built by [[bloomHexByFile]]'s one extra columnar pass over the
    * just-written files. Bloom config is a WRITER property, as in the
    * real systems: a later [[compact]] rewrite does not re-bloom (its
    * writer wasn't configured to), and [[bloomPrunedFiles]] keeps any
    * file without a bloom token — absence of evidence prunes nothing.
    */
  def append(df: DataFrame, root: String, bloomCols: Seq[String],
             branch: String = "main"): Int = {
    val st = new Staged(root, Seq("data"))
    val newFiles = writeStaged(df, st.dir("data"))
    val blooms = bloomCols.map(c =>
      c -> bloomHexByFile(df.sparkSession, newFiles, c)).toMap
    val lines = entryLines(df, newFiles).map { line =>
      val f = line.split('\t').head
      // a file the bloom pass scanned but got no rows from (an empty
      // partition's file, or an all-null column) carries the EMPTY
      // bitset — "no value can match", the same semantics the stats
      // pruner gives a statless column. Only a column NOT configured
      // for blooms is exempt from pruning.
      val toks = bloomCols.map(c =>
        s"#bloom:$c=${blooms(c).getOrElse(f, bitsToHex(Nil))}")
      (line +: toks).mkString("\t")
    }
    casAppend(df, st, branch, lines)
  }

  /** The append commit, shared by [[append]], [[appendChecked]] and
    * [[appendPartitioned]]: an append conflicts with nothing
    * semantically — its rows are new — so [[commitLoop]] rebases it
    * onto any winner, under the parent's schema widened by `df`'s.
    *
    * `checks`/`validatedBasis` (r15): [[appendChecked]]'s snapshot-
    * wide Unique validation ran against `validatedBasis`'s live rows;
    * whenever the commit parent moves past that basis, the cross-
    * unique legs REVALIDATE against the new head before publishing —
    * unlike [[mergeChecked]]'s abort-on-any-commit rule, an append
    * stays live under contention (its rows conflict with nothing
    * unless a key collides, which is exactly what the revalidation
    * refuses). Bounded at one key-pruned survivor scan per basis
    * move; unchecked appends (checks empty) skip all of it. An
    * InboundRef basis has no cheap key-scoped revalidation, so a
    * commit that can REMOVE a referenced key aborts the append
    * ([[basisInvalidated]]) — declaring a post-image check trades
    * rebase liveness for the stronger promise.
    */
  private def casAppend(df: DataFrame, st: Staged, branch: String,
                        lines: Seq[String],
                        checks: Seq[graft.operators.QualityChecks.Check] = Nil,
                        validatedBasis: Int = -1): Int = {
    var basis = validatedBasis
    val uniques = checks.collect {
      case u: graft.operators.QualityChecks.Unique => u }
    val inbounds = checks.filter(
      _.isInstanceOf[graft.operators.QualityChecks.InboundRef])
    commitLoop(st, branch) { (_, parent) =>
      if (basisInvalidated(st.root, inbounds, basis, parent))
        throw new java.util.ConcurrentModificationException(
          s"checked append aborted: a concurrent commit in ($basis, " +
            s"$parent] invalidated its InboundRef post-image basis — " +
            "re-read and re-run")
      if (uniques.nonEmpty && parent != basis) {
        val files = lines.map(l => st.moved(l.split('\t').head))
        val bad =
          if (files.isEmpty) Nil
          else crossUniqueBad(df.sparkSession.read.parquet(files: _*),
            uniques, read(df.sparkSession, st.root, parent))
        if (bad.nonEmpty) throw new IllegalStateException(
          "appendChecked refused — constraint violations: " + bad.map {
            case (n, c) => s"$n ($c rows)" }.mkString(", "))
        basis = parent
      }
      () => Attempt(widenedSchema(df, st.root, parent),
        carriedRefs(st.root, parent) ++ lines, Map("op" -> "append"))
    }
  }

  /** Cross-batch leg of a snapshot-wide Unique check: per check, how
    * many batch keys collide with `survivors`' keys. Null-SAFE
    * equality — two NULL keys in one batch refuse (report's groupBy
    * leg), so a NULL against a NULL survivor must refuse the same
    * way; verdicts cannot depend on batching.
    *
    * Schema widening (r16 — the batching-independence rule applied to
    * evolution): when THIS batch introduces a key column, the
    * survivor scan predates it. Post-widening reads null-fill those
    * rows, so the leg validates against the SAME view — survivors
    * null-filled at every batch column they predate (typed from the
    * batch, the widener; exactly the image read() returns after the
    * commit) — rather than silently skipping: a NULL-keyed batch
    * refuses against pre-evolution survivors exactly as an identical
    * later batch would refuse against their null-filled read image.
    * A typo'd key column (absent from the batch too) still fails the
    * analysis — constraint enforcement fails CLOSED, never open.
    * Shared by [[validateStagedOrAbort]] and [[casAppend]]'s
    * revalidate-on-rebase.
    */
  private def crossUniqueBad(batch: DataFrame,
      uniques: Seq[graft.operators.QualityChecks.Unique],
      survivors: DataFrame): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{col, lit}
    // match batch columns against survivors with the ANALYZER's
    // resolver, not raw string equality (r16): under the default
    // case-insensitive resolution a batch column 'Tag' vs survivor
    // 'tag' is the SAME column — a case-sensitive contains() would
    // treat it as missing and withColumn would REPLACE the survivors'
    // real key column with nulls, silently failing the Unique check
    // open for case-variant spellings
    val resolver = batch.sparkSession.sessionState.analyzer.resolver
    val surv = batch.schema.fields
      .filterNot(f => survivors.columns.exists(resolver(_, f.name)))
      .foldLeft(survivors)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
    uniques.map { u =>
      u.name -> batch.select(u.key.as("_bk"))
        .join(surv.select(u.key.as("_sk")),
          col("_bk") <=> col("_sk"), "left_semi")
        .count()
    }.filter(_._2 > 0)
  }

  /** The ONE staged-batch validation of the checked writes
    * ([[appendChecked]]/[[mergeChecked]]/[[updateChecked]]/
    * [[deleteChecked]], whose batch is empty): run
    * `checks` against the staged bytes at `newFiles`, extend every
    * [[graft.operators.QualityChecks.Unique]] check to the POST-IMAGE
    * by also counting batch keys colliding with `survivors` (the
    * post-image rows NOT written by this commit — r15, closing the
    * r14 batch-scoped-uniqueness gap), and on ANY violation or
    * validation error delete the staged dirs and throw with the
    * violating checks named. Scale shape: the batch legs are
    * QualityChecks' one-scan report; each cross-batch unique leg is a
    * key-column-pruned semi-join of the batch against the survivor
    * scan — O(table's key column), the price of a uniqueness promise
    * without a key index, paid only when a Unique check is declared.
    * RowPredicate and RefIntegrity stay batch-scoped BY CONSTRUCTION,
    * not as a gap: they are row-local, and rows not in this batch
    * passed them at their own checked commit (delete/compact commits
    * cannot mint a row-local violation).
    */
  private def validateStagedOrAbort(spark: SparkSession,
      st: Staged, newFiles: Seq[String],
      checks: Seq[graft.operators.QualityChecks.Check],
      survivors: => Option[DataFrame], op: String): Unit = {
    import org.apache.spark.sql.functions.col
    val uniques = checks.collect {
      case u: graft.operators.QualityChecks.Unique => u }
    // InboundRef (r16) is post-image-scoped BY NATURE: the referencing
    // table's keys must resolve against the table's full surviving
    // rows — a lone batch would false-refuse every key it doesn't
    // happen to carry. Evaluated against batch ∪ survivors below;
    // batch-local legs exclude it.
    val inbounds = checks.collect {
      case i: graft.operators.QualityChecks.InboundRef => i }
    val batchChecks = checks.filterNot(
      _.isInstanceOf[graft.operators.QualityChecks.InboundRef])
    // an all-empty-partition write stages no files; nothing WRITTEN
    // can violate a write-scoped constraint (and an empty batch
    // collides with nothing) — but a post-image-scoped InboundRef
    // must still run against the survivors (r16): its verdict is
    // about the TABLE, so "verdicts cannot depend on batching" means
    // an empty append refuses on a pre-existing orphan exactly as a
    // one-row append would. The staged dirs are deleted on EVERY
    // validation failure — a malformed check (column typo) or a
    // failed validation job must not strand the batch's bytes any
    // more than a refusal does ("a refused batch changes NOTHING"
    // covers the error paths too)
    val bad: Seq[(String, Long)] =
      try {
        if (newFiles.isEmpty) {
          if (inbounds.isEmpty) Nil
          else survivors match {
            case Some(s) =>
              graft.operators.QualityChecks.report(s, inbounds)
                .filter(!col("passed"))
                .collect()
                .map(r => (r.getString(0), r.getLong(1))).toSeq
            case None =>
              // empty batch on an EMPTY table: the post-image is
              // empty, so every non-null referencing key is an orphan
              // — count them directly (report() would need a table
              // frame that doesn't exist yet)
              inbounds.map { c =>
                c.name -> c.referencing.select(c.refKey.as("_k"))
                  .filter(col("_k").isNotNull).count()
              }.filter(_._2 > 0)
          }
        }
        else {
          val batch = spark.read.parquet(newFiles: _*)
          val batchBad =
            if (batchChecks.isEmpty) Nil
            else graft.operators.QualityChecks.report(batch, batchChecks)
              .filter(!col("passed"))
              .collect() // bounded: ≤ one row per declared check
              .map(r => (r.getString(0), r.getLong(1))).toSeq
          // `survivors` is by-name and resolved only here: a checked
          // write with no post-image-scoped check (Unique/InboundRef)
          // never pays the survivor scan
          val crossBad =
            if (uniques.isEmpty) Nil
            else survivors.toSeq.flatMap(crossUniqueBad(batch, uniques, _))
          // inbound RI sees the POST-IMAGE: batch ∪ survivors
          // (allowMissingColumns: a widening batch's survivors
          // null-fill, the crossUniqueBad read-image rule)
          val inboundBad =
            if (inbounds.isEmpty) Nil
            else {
              val post = survivors.fold(batch)(s =>
                batch.unionByName(s, allowMissingColumns = true))
              graft.operators.QualityChecks.report(post, inbounds)
                .filter(!col("passed"))
                .collect()
                .map(r => (r.getString(0), r.getLong(1))).toSeq
            }
          (batchBad ++ crossBad ++ inboundBad).groupBy(_._1)
            .map { case (n, xs) => (n, xs.map(_._2).sum) }.toSeq.sortBy(_._1)
        }
      } catch { case scala.util.control.NonFatal(e) => st.drop(); throw e }
    if (bad.nonEmpty) {
      st.drop()
      throw new IllegalStateException(
        s"$op refused — constraint violations: " + bad.map {
          case (n, c) => s"$n ($c rows)" }.mkString(", "))
    }
  }

  /** CHECKED append (r14 — Delta CHECK constraints / expectations with
    * fail-the-write semantics): stage `df`'s data files, validate the
    * WRITTEN BYTES against `checks` ([[graft.operators.QualityChecks]]
    * — row predicates, uniqueness, referential integrity), and publish
    * only if every check passes; otherwise delete the staged files and
    * refuse with the violating checks named. Validating what was
    * actually written — a cheap columnar re-read, not a second pass
    * over the source plan — means a non-deterministic or
    * serialization-lossy source cannot sneak rows past the contract,
    * and a crash between stage and publish leaves only `_tmp_`-swept
    * debris. The check plan is QualityChecks' one-scan shape (all row
    * predicates as conditional sums in a single aggregate; anti-joins
    * ship key columns only), so the total cost is one write + one
    * columnar validation read at any scale. A refused batch changes
    * NOTHING: no version, no manifest, no ref movement.
    *
    * Unique checks are SNAPSHOT-WIDE (r15): the batch is validated
    * internally AND against the branch head's live rows, so duplicate
    * keys across separate appends refuse exactly like duplicates
    * within one ([[validateStagedOrAbort]]); if the head moves before
    * this append's CAS lands, the cross-unique legs REVALIDATE
    * against the new head inside the commit loop ([[casAppend]]), so
    * a racing append of the same key cannot slip a duplicate through
    * the optimistic window. Appends stay live under disjoint-key
    * contention (the rebase revalidates and proceeds), unlike
    * [[mergeChecked]]'s stricter abort-on-any-commit rule.
    */
  def appendChecked(df: DataFrame, root: String,
                    checks: Seq[graft.operators.QualityChecks.Check],
                    branch: String = "main"): Int = {
    require(checks.nonEmpty, "appendChecked without checks is append")
    val st = new Staged(root, Seq("data"))
    val newFiles = writeStaged(df, st.dir("data"))
    val head = headOf(root, branch)
    validateStagedOrAbort(df.sparkSession, st, newFiles, checks,
      survivors = if (head > 0) Some(read(df.sparkSession, root, head))
                  else None,
      op = "appendChecked")
    casAppend(df, st, branch, entryLines(df, newFiles),
      checks = checks, validatedBasis = head)
  }

  /** COMPACTION — the small-file management every append-only snapshot
    * store accumulates a need for: rewrite the LATEST version's file
    * set into `targetFiles` consolidated files and commit them as a
    * new version whose manifest references ONLY the rewritten files.
    * The original data files are never modified or deleted, and every
    * prior manifest still lists them — so time travel to any
    * pre-compaction version reads exactly the bytes it always did,
    * while readers of the new version scan `targetFiles` files instead
    * of the append-accumulated many (at 100 TB the difference is task
    * scheduling and footer overhead: thousands of splits per manifest
    * resolve vs the write-amplification of one bounded rewrite).
    * Content is byte-identical by construction — one read of the prior
    * manifest, one round-robin redistribution, no row logic on the
    * path. Returns the new version.
    */
  def compact(spark: SparkSession, root: String, targetFiles: Int,
              sortBy: Option[String] = None,
              zorderBy: Seq[String] = Nil,
              branch: String = "main"): Int = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are exclusive clustering modes")
    require(zorderBy.isEmpty || zorderBy.size == 2,
      s"zorderBy interleaves exactly 2 columns: $zorderBy")
    val prev = headOf(root, branch)
    require(prev > 0, s"nothing to compact under $root")
    val st = new Staged(root, Seq("data"))
    val prevData = read(spark, root, prev)
    import org.apache.spark.sql.functions.{broadcast, col, expr, max, min}
    // sortBy: CLUSTERED compaction (Iceberg sort-order rewrite / Delta
    // OPTIMIZE ZORDER's 1-column case) — range-partition + sort within,
    // so each output file covers a disjoint key range and footer
    // min/max stats turn [[readPruned]] into genuine file skipping.
    // zorderBy: TWO-dimension clustering (Delta OPTIMIZE ZORDER BY
    // (x, y)): bucket-normalize each dim to 16 bits against its global
    // min/max (one scalar broadcast — monotone, skew-tolerant enough
    // for layout), interleave with the shared [[graft.functions.ZOrder]]
    // Morton code, range-partition + sort on the code, and DROP the
    // code before write — every output file gets a bounded min/max BOX
    // in both dims, so [[readPruned]] skips files on EITHER column.
    // Without either: round-robin, balancing file sizes regardless of
    // the key distribution (the production default for a pure
    // file-count rewrite).
    val reshaped = (sortBy, zorderBy) match {
      case (Some(c), _) => prevData
        .repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(c)
      case (_, Seq(cx, cy)) =>
        val mm = prevData.agg(
          min(col(cx)).as("_mnx"), max(col(cx)).as("_mxx"),
          min(col(cy)).as("_mny"), max(col(cy)).as("_mxy"))
        // DECIMAL(38,0) + integral div (the q171 overflow discipline):
        // the double spelling `(c-mn)*65536/(mx-mn+1)` overflows the
        // int64 multiply above a ~2^47 key range and loses ULPs above
        // 2^53, yielding out-of-range or misordered buckets (advisor
        // r9). Decimal is exact over the full long range; bucket fits
        // a long by construction (0..65535).
        def bucket16(c: String, mn: String, mx: String) =
          expr(s"(cast($c as decimal(38,0)) - $mn) * 65536" +
            s" div (cast($mx as decimal(38,0)) - $mn + 1)")
        prevData.crossJoin(broadcast(mm))
          .withColumn("_zcode", graft.functions.ZOrder.code(
            bucket16(cx, "_mnx", "_mxx").cast("long"),
            bucket16(cy, "_mny", "_mxy").cast("long")))
          .repartitionByRange(targetFiles, col("_zcode"))
          .sortWithinPartitions("_zcode")
          .select(prevData.columns.map(col).toIndexedSeq: _*)
      case _ => prevData.repartition(targetFiles)
    }
    val newFiles = writeStaged(reshaped, st.dir("data"))
    val lines = entryLines(reshaped, newFiles)
    val schema = schemaOf(root, prev).getOrElse(prevData.schema)
    // a compaction REWRITES version `prev`'s content, so a commit that
    // landed meanwhile ON THIS BRANCH invalidates the rewrite — fail
    // loudly for the caller to re-run against the new head (Iceberg's
    // rewrite_data_files revalidation, reduced to abort-and-retry);
    // appends/deletes rebase automatically because their rows are new.
    // A mere VERSION-NUMBER collision (another branch's writer claimed
    // the number) is not a conflict: the loop reallocates and retries.
    commitLoop(st, branch) { (_, parent) =>
      if (parent != prev) throw new IllegalStateException(
        s"concurrent commit landed during compaction of v$prev — " +
          "re-run compact against the new head version")
      // Delta's dataChange=false: same rows, new bytes — CDC skips it
      () => Attempt(schema, lines, Map("rewrite" -> "true", "op" -> "rewrite"))
    }
  }

  /** METADATA-ONLY manifest compaction (r14 — Iceberg's
    * `rewrite_manifests`): collapse `branch`'s head pointer list — one
    * `#segment` ref per commit since the last rewrite — into freshly
    * packed segments, touching NO data files. [[compact]] already
    * collapses the list as a side effect of rewriting data, but a
    * long-lived append-only table should not have to rewrite its
    * BYTES to tidy its METADATA: after 10k commits the head list
    * carries 10k pointer lines (each a resolve-time file open), and
    * this one commit packs them into O(body/`targetLines`) freshly cut
    * segments ([[SegmentTargetLines]] default — size-bounded like
    * Iceberg's bin-packed `rewrite_manifests`, NOT one table-spanning
    * segment, so each packed pointer keeps commit-order-local stats
    * and point lookups still skip segments after the rewrite; q218
    * gates exactly that) while every entry — data lines with their
    * original commit versions, delete lines with their sequence
    * scoping — rides through VERBATIM in order, so reads, CDC windows,
    * and delete semantics are untouched. Commits with `rewrite=true`
    * (Delta's `dataChange=false`), so CDC readers skip it; old
    * versions keep their own lists for time travel; orphaned segments
    * — including ones pre-cut here for an attempt that then lost the
    * head race — reap through [[expire]]/[[removeOrphans]] exactly
    * like data files (content addressing means a retry converges on
    * the same files). Aborts if a concurrent commit moves the head
    * mid-rewrite (the [[compact]] revalidation contract); a mere
    * version-number collision with another branch's writer just
    * reallocates and retries.
    *
    * `clusterBy` (r15 — Iceberg `rewrite_manifests`' cluster-by):
    * commit-order packing keeps segment stats tight only when values
    * correlate with ingest order; an ingest that interleaves ranges
    * (backfills, multi-source loads) leaves every packed segment
    * spanning the table and nothing skips. Clustering SORTS the data
    * entries by their manifest-recorded min of the named column
    * before cutting, so each packed segment covers a contiguous value
    * range regardless of commit order. Sound because entry ORDER in a
    * manifest carries no semantics: delete lines scope by their
    * embedded version stamps and data files by their `data_v<N>`
    * paths, never by position ([[deleteSets]]/[[dataVersionOf]]) —
    * only scan order changes. Entries without a stats token for the
    * column sort stably to the tail (and the statsness split keeps
    * legacy `#nostats` runs quarantined as before); the sort reads
    * TOKENS only — a metadata-only op never pays a footer read.
    */
  def compactManifests(root: String, branch: String = "main",
                       targetLines: Int = SegmentTargetLines,
                       clusterBy: Option[String] = None): Int =
    compactManifestsImpl(None, root, branch, targetLines, clusterBy,
      Long.MaxValue)

  /** Default body-size bound for the driver-side cluster sort
    * (~40 MB of entry strings); above it the rewrite distributes.
    */
  val DriverSortMaxLines: Long = 1L << 18

  /** [[compactManifests]] with a DRIVER-MEMORY BOUND (r16 — the
    * Iceberg lesson that `rewrite_manifests` is a Spark job; named
    * after it): the no-session overload's cluster sort materializes the whole resolved
    * body on the driver — O(table data files) entry strings, GBs at
    * 10⁷ files. This overload counts the body from the pointer
    * tokens (zero I/O) and, when a `clusterBy` body exceeds
    * `maxDriverSortLines`, runs the rewrite AS A SPARK JOB: segments
    * resolve on executors, the cluster sort is a range-shuffle on
    * (group, statMin, position), and each sorted partition cuts and
    * writes its own content-addressed segments ([[segmentizeIter]])
    * — the driver holds only the returned pointer lines,
    * O(body/targetLines). Ordering is IDENTICAL to the driver sort
    * (deletes first in manifest order, then data by stable
    * statMin), so both paths resolve to the same body; only segment
    * cut points may differ at partition boundaries (bin-packing is
    * approximate either way). Non-clustered rewrites stream on the
    * driver at O(segment) memory regardless of the threshold — no
    * job needed when no sort is.
    *
    * Shared-FS contract: executors write `_manifests/_seg_*` files,
    * exactly as they already write the store's data parquet —
    * content addressing makes concurrent/retried task writers
    * converge on identical files, and a lost CAS race orphans
    * segments that [[removeOrphans]] reaps like data files.
    */
  def rewriteManifests(spark: SparkSession, root: String,
                       branch: String = "main",
                       targetLines: Int = SegmentTargetLines,
                       clusterBy: Option[String] = None,
                       maxDriverSortLines: Long = DriverSortMaxLines): Int =
    compactManifestsImpl(Some(spark), root, branch, targetLines, clusterBy,
      maxDriverSortLines)

  private def compactManifestsImpl(spark: Option[SparkSession], root: String,
                                   branch: String, targetLines: Int,
                                   clusterBy: Option[String],
                                   maxDriverSortLines: Long): Int = {
    val rootP = Paths.get(root)
    val prev = headOf(root, branch)
    require(prev > 0, s"nothing to compact under $root")
    val schema = schemaOf(root, prev).getOrElse(
      throw new IllegalStateException(
        s"v$prev carries no schema header; commit data before compacting manifests"))
    val refs = bodyRefs(root, prev)
    // body size from the pointers' line-count token — no segment I/O
    val totalLines = refs.iterator.map(l =>
      if (l.startsWith(SegmentPtr)) l.split('\t')(2).toLong else 1L).sum
    // pre-cut the resolved body into size-bounded segments HERE (the
    // publish path passes `#segment` pointers through untouched) —
    // segment files are content-addressed and immutable, so writing
    // them before the CAS loop is safe under races
    val lines = (clusterBy, spark) match {
      case (None, _) =>
        // streaming re-pack: never materializes the body
        segmentizeIter(rootP, resolveBodyIter(rootP, refs), targetLines)
      case (Some(c), Some(sp)) if totalLines > maxDriverSortLines =>
        distributedClusteredSegments(sp, rootP, refs, c, targetLines,
          totalLines)
      case (Some(c), _) =>
        // in-memory cluster sort — bounded by the threshold when a
        // session was given; the no-session convenience carries the
        // O(body) driver bound documented above
        val resolved = resolveBody(rootP, refs)
        val (dels, data) = resolved.partition(l =>
          l.startsWith("#delete\t") || l.startsWith("#posdelete\t"))
        segmentize(rootP,
          dels ++ data.sortBy(statMinOf(_, c).getOrElse(Long.MaxValue)),
          targetLines)
    }
    commitLoop(new Staged(root, Nil), branch) { (_, parent) =>
      if (parent != prev) throw new IllegalStateException(
        s"concurrent commit landed during manifest compaction of v$prev — " +
          "re-run against the new head version")
      () => Attempt(schema, lines,
        Map("rewrite" -> "true", "op" -> "rewrite-manifests"))
    }
  }

  /** The distributed clustered rewrite (r16 — Iceberg's
    * `rewrite_manifests` Spark action): resolve every segment on an
    * executor, range-shuffle the body by (group, statMin, manifest
    * position) — deletes first in manifest order, data by stable
    * cluster key, the EXACT order the driver sort produces — and let
    * each sorted partition cut + write its own segments. Partition
    * count targets ~8 segments per task; `repartitionByRange` with an
    * explicit N is exempt from AQE coalescing, and its sampled range
    * boundaries only move segment CUT POINTS, never line order.
    * Returns the pointer lines in body order (the only thing the
    * driver holds).
    */
  private def distributedClusteredSegments(sp: SparkSession, rootP: Path,
      refs: Seq[String], column: String, targetLines: Int,
      totalLines: Long): Seq[String] = {
    import sp.implicits._
    import org.apache.spark.sql.functions.col
    val rootStr = rootP.toString
    val nPart = math.max(1, math.min(512,
      math.ceil(totalLines.toDouble / (targetLines.toDouble * 8)).toInt))
    val resolved = refs.zipWithIndex.toDS()
      .repartition(math.max(1, math.min(refs.size, nPart)))
      .flatMap { case (ref, i) =>
        // the shared parsing core ([[refLines]]) — the global counter
        // increment is exact same-JVM accounting under local mode and
        // best-effort on a real cluster (executor-side copies of the
        // object don't report back; the metering convention's gates
        // are driver-resolved, never this path)
        if (ref.startsWith(SegmentPtr)) segmentReads.incrementAndGet()
        val ls = refLines(java.nio.file.Paths.get(rootStr), ref)
        ls.zipWithIndex.map { case (line, j) =>
          val isDel = line.startsWith("#delete\t") ||
            line.startsWith("#posdelete\t")
          val key = if (isDel) Long.MinValue
                    else statMinOf(line, column).getOrElse(Long.MaxValue)
          (if (isDel) 0 else 1, key, i, j, line)
        }
      }.toDF("grp", "key", "i", "j", "line")
    val ptrs = resolved
      .repartitionByRange(nPart, col("grp"), col("key"), col("i"), col("j"))
      .sortWithinPartitions(col("grp"), col("key"), col("i"), col("j"))
      .select(col("line")).as[String]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        segmentizeIter(Paths.get(rootStr), it, targetLines)
          .zipWithIndex.map { case (p, k) => (pid, k, p) }.iterator
      }
      .collect()
    ptrs.sortBy(t => (t._1, t._2)).map(_._3).toSeq
  }

  /** TOKEN-ONLY stats min of a data entry's `column` — the cluster
    * sort key of [[compactManifests]]: same `col=mn..mx` grammar as
    * [[entryStatsFor]] but with NO footer fallback (a metadata-only
    * rewrite must never open data files); None for path-only entries
    * or entries holding no value of the column.
    */
  private def statMinOf(line: String, column: String): Option[Long] = {
    val parts = line.split('\t')
    if (parts.length > 1 && parts(1) == "#stats")
      parts.drop(2).takeWhile(!_.startsWith("#")).collectFirst {
        case t if t.startsWith(column + "=") =>
          t.substring(column.length + 1).split("\\.\\.")(0).toLong
      }
    else None
  }

  /** Per-file (path, min, max) statistics of a LONG column of snapshot
    * `v` — read from the MANIFEST (r9): the stats were collected once
    * at commit time and travel with the file entry, so query-path split
    * planning is a manifest parse, zero data-file I/O (the Iceberg
    * manifest-stats / Delta Add-action contract; q165 gates the
    * zero-footer-opens invariant via [[queryPathFooterReads]]). A file
    * with a `#stats` block but no token for `column` has no non-null
    * value in it and is omitted (it can never match a predicate).
    * Pre-r9 path-only entries fall back to a counted footer read.
    */
  def fileStats(spark: SparkSession, root: String, version: Int,
                column: String): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    entries(root, version).flatMap(entryStatsFor(conf, _, column))
  }

  /** The ONE parser of a data entry's per-column stats (r13 review:
    * [[fileStats]] and [[prunedFiles]] each carried a copy of the
    * token grammar + footer-fallback accounting): `(path, min, max)`
    * for `column`, from the entry's `#stats` token or — for a pre-r9
    * path-only entry — a counted footer read; None when the file holds
    * no non-null value of the column.
    */
  private def entryStatsFor(conf: org.apache.hadoop.conf.Configuration,
                            line: String,
                            column: String): Option[(String, Long, Long)] = {
    val parts = line.split('\t')
    val f = parts.head
    if (parts.length > 1 && parts(1) == "#stats")
      parts.drop(2).collectFirst {
        case t if t.startsWith(column + "=") =>
          val b = t.substring(column.length + 1).split("\\.\\.")
          (f, b(0).toLong, b(1).toLong)
      }
    else {
      queryPathFooterReads.incrementAndGet()
      queryPathFooterReadsTL.set(queryPathFooterReadsTL.get() + 1L)
      footerLongStats(conf, f).get(column).map { case (mn, mx) => (f, mn, mx) }
    }
  }

  /** The manifest files of snapshot `v` whose [column min, max] range
    * overlaps [lo, hi] — the file-skipping half of stats-based pruning.
    * A `#segment` pointer's aggregate stats decide whole segments
    * WITHOUT opening them ([[prunedWalk]]); only `#nostats` segments
    * (legacy entries swept into a segment) and overlapping segments
    * resolve to per-file checks.
    */
  def prunedFiles(spark: SparkSession, root: String, version: Int,
                  column: String, lo: Long, hi: Long): Seq[String] =
    prunedWalk(root, bodyRefs(root, version),
      statsPrune(spark, root, version, column, lo, hi))

  /** [[prunedFiles]]' rule: a pointer whose aggregate range misses
    * [lo, hi], or that carries no token for the column (no entry
    * inside can match), skips unopened; a `#nostats` pointer always
    * opens. An entry survives when its range — from its stats token
    * or, for a pre-r9 entry, a counted footer read — overlaps.
    */
  private def statsPrune(spark: SparkSession, root: String, version: Int,
                         column: String, lo: Long, hi: Long): FilePrune = {
    requireStatsPrunable(root, version, column)
    val conf = spark.sparkContext.hadoopConfiguration
    def overlaps(mn: Long, mx: Long) = mx >= lo && mn <= hi
    FilePrune(
      skipSegment = toks => !toks.contains("#nostats") &&
        !toks.collectFirst {
          case t if t.startsWith(column + "=") =>
            val b = t.substring(column.length + 1).split("\\.\\.")
            overlaps(b(0).toLong, b(1).toLong)
        }.getOrElse(false),
      keepEntry = line => entryStatsFor(conf, line, column)
        .exists { case (_, mn, mx) => overlaps(mn, mx) })
  }

  /** What one file-pruning rule decides from manifest text alone:
    * whether a `#segment` pointer's aggregate tokens prove that no
    * entry inside survives (the segment is then skipped unopened), and
    * whether one data entry keeps its file. A skip must be sound:
    * every entry of a skipped segment fails `keepEntry` too.
    */
  private final case class FilePrune(skipSegment: Array[String] => Boolean,
                                     keepEntry: String => Boolean)

  /** THE file-pruning walk behind [[prunedFiles]],
    * [[partitionPrunedFiles]] and [[bloomPrunedFiles]], in manifest
    * order. Over a version's body refs it opens only the segments `p`
    * cannot skip (the two-level fast path, r13: at 100 TB, planning
    * from k pointer lines instead of an O(files) manifest); over an
    * already resolved body, which holds no pointers, it is the plain
    * entry filter. Delete lines never survive.
    */
  private def prunedWalk(root: String, refs: Seq[String], p: FilePrune): Seq[String] = {
    def kept(lines: Seq[String]) = filesOf(entriesOf(lines).filter(p.keepEntry))
    refs.flatMap { ref =>
      if (!ref.startsWith(SegmentPtr)) kept(Seq(ref))
      else if (p.skipSegment(ref.split('\t').drop(3))) Nil
      else kept(resolveBody(Paths.get(root), Seq(ref)))
    }
  }

  private val BloomBits = 1024
  private val BloomHashes = 4

  /** md5-low-60 of a UTF-8 string ON THE DRIVER — bit-identical to
    * [[graft.operators.Winnowing.portableHash]] (the engine-wide
    * portable hash): last 15 hex chars of the md5 digest parsed
    * base-16. Used to hash a point-lookup literal against manifest
    * blooms; one literal per query, so a driver-side hash is the
    * right tool.
    */
  private def md5Low60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(17), 16)
  }

  /** Canonical bloom hex encoding: 256 hex chars, bit b lives in char
    * b/4 (from the left) at in-char position b%4. Symmetric with
    * [[hexHasBit]]; the encoding is part of the manifest contract.
    */
  private def bitsToHex(bits: Iterable[Int]): String = {
    val nib = new Array[Int](BloomBits / 4)
    bits.foreach(b => nib(b / 4) |= (1 << (b % 4)))
    nib.map(n => f"$n%x").mkString
  }

  private def hexHasBit(hex: String, b: Int): Boolean =
    ((Integer.parseInt(hex.charAt(b / 4).toString, 16) >> (b % 4)) & 1) == 1

  /** Per-file bloom bitsets over `column`, computed DISTRIBUTED from a
    * columnar scan of ONLY the new files' bloom column — the write-side
    * cost a real writer (Iceberg/Parquet bloom properties) pays inside
    * the file writer itself; here it is one extra single-column
    * vectorized pass over just-written data, never O(table). Each value
    * sets [[BloomHashes]] salted md5-low-60 bits in a [[BloomBits]]-bit
    * set; the per-file DISTINCT bucket lists (≤ 1024 ints each —
    * metadata-sized) come back to the driver to be hex-encoded into the
    * manifest.
    */
  private def bloomHexByFile(spark: SparkSession, newFiles: Seq[String],
                             bloomCol: String): Map[String, String] = {
    import org.apache.spark.sql.functions._
    if (newFiles.isEmpty) return Map.empty
    val salted = (0 until BloomHashes).map(j =>
      pmod(graft.operators.Winnowing.portableHash(
        concat(col("_v"), lit("#" + j))), lit(BloomBits.toLong)).cast("int"))
    val rows = spark.read.parquet(newFiles: _*)
      .select(input_file_name().as("_file"),
        col(bloomCol).cast("string").as("_v"))
      .where(col("_v").isNotNull)
      .select(col("_file"), explode(array(salted: _*)).as("_b"))
      .groupBy("_file")
      .agg(collect_set(col("_b")).as("_bits"))
      .collect()
    rows.map { r =>
      val path = new java.net.URI(r.getString(0)).getPath
      path -> bitsToHex(r.getSeq[Int](1))
    }.toMap
  }

  /** COMMIT HISTORY — Delta's `DESCRIBE HISTORY` / Iceberg's
    * `table.history`: one row per version with the OPERATION the
    * commit recorded (`op=` prop, r10: append / merge / delete /
    * update / rewrite; "unknown" for pre-r10 manifests), the rows its
    * NEW data files added (summed from the manifest `#rows` tokens —
    * zero data-file opens), and the delete sets it added. Driver-side
    * manifest text by design, like every metadata table here.
    * Expired versions (manifest deleted by [[expire]]) are simply
    * absent rows — DESCRIBE HISTORY keeps working after retention,
    * as it does in Delta/Iceberg. BRANCH-AWARE (r11): the history is
    * the ref's parent-pointer [[lineage]], so two branches report
    * disjoint-after-the-fork trails and version numbers another
    * branch claimed never appear.
    */
  def history(spark: SparkSession, root: String,
              branch: String = "main"): DataFrame = {
    import spark.implicits._
    lineage(root, headOf(root, branch))
      .map { v =>
      val op = propsOf(root, v).getOrElse("op", "unknown")
      val added = entries(root, v)
        .filter(l => dataVersionOf(l.split('\t').head) == v)
      // −1 = "row count unknown" (a pre-r9 path-only entry): surface
      // the sentinel rather than a wrong 0, as snapshotsTable does
      val counts = added.map(rowsTokenOf)
      val rows = if (counts.contains(-1L)) -1L else counts.sum
      val delsAdded = deleteSets(root, v).count(_._1._1 == v) +
        posDeleteSets(root, v).count(_._1 == v)
      (v, op, rows, delsAdded)
    }.toDF("version", "operation", "rows_added", "delete_sets_added")
  }

  private def rowsTokenOf(line: String): Long =
    line.split('\t').collectFirst {
      case t if t.startsWith("#rows=") => t.stripPrefix("#rows=").toLong
    }.getOrElse(-1L)

  /** The per-file metadata TABLE of snapshot `v` — Iceberg's
    * `table.files` / Delta's Add actions surfaced as a DataFrame,
    * resolved from the MANIFEST alone (zero data-file opens): path,
    * the commit version the file belongs to (its sequence number), and
    * its physical row count (−1 for a pre-r9 entry whose commit did
    * not record one). Driver-side by design — manifests are the
    * metadata a planner holds; the table is O(files), not O(rows).
    */
  def filesTable(spark: SparkSession, root: String, version: Int = -1)
      : DataFrame = {
    import spark.implicits._
    val v = if (version == -1) headOf(root, "main") else version
    entries(root, v).map { line =>
      val f = line.split('\t').head
      (f, dataVersionOf(f), rowsTokenOf(line))
    }.toDF("file", "commit_version", "row_count")
  }

  /** The history TABLE — Iceberg's `table.snapshots` / Delta's
    * DESCRIBE HISTORY: one row per live (unexpired) version with its
    * file count, delete-set count, manifest-summed physical row count
    * (−1 if any entry predates row counts), and the rewrite flag.
    * Resolved entirely from manifests.
    */
  def snapshotsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val rootP = Paths.get(root)
    (1 to latestVersion(root))
      .filter(v => Files.exists(manifestPath(rootP, v)))
      .map { v =>
        val es = entries(root, v)
        val counts = es.map(rowsTokenOf)
        (v, es.size, deleteSets(root, v).size,
          if (counts.contains(-1L)) -1L else counts.sum,
          propsOf(root, v).get("rewrite").contains("true"))
      }.toDF("version", "n_files", "n_delete_sets", "file_rows",
        "is_rewrite")
  }

  /** Metadata table over version `v`'s manifest LIST (r13 — Iceberg's
    * `.manifests` relation): one row per `#segment` pointer, in list
    * order — segment file name, advertised entry count, and whether
    * pointer-level aggregate stats permit skipping it unopened
    * (`false` = a `#nostats` sweep of legacy entries). Inline legacy
    * entry lines are not segments and do not appear; a fully flat
    * pre-r13 manifest yields an empty relation.
    */
  def manifestsTable(spark: SparkSession, root: String,
                     version: Int = -1): DataFrame = {
    import spark.implicits._
    val v = if (version == -1) headOf(root, "main") else version
    bodyRefs(root, v).zipWithIndex.collect {
      case (l, i) if l.startsWith(SegmentPtr) =>
        val t = l.split('\t')
        (i, t(1), t(2).toLong, !t.drop(3).contains("#nostats"))
    }.toDF("position", "segment", "n_entries", "skippable")
  }

  /** Metadata-only `count(*)` — the Iceberg count pushdown: answered
    * from manifest row counts with ZERO data-file reads. Refuses when
    * the version carries delete sets (merge-on-read makes physical ≠
    * logical — a correct engine falls back to a scan, it does not
    * return the wrong number) or when any entry predates row counts.
    */
  def metadataCount(root: String, version: Int = -1): Long = {
    val v = if (version == -1) headOf(root, "main") else version
    require(deleteSets(root, v).isEmpty && posDeleteSets(root, v).isEmpty,
      s"v$v has merge-on-read delete sets: physical rows != logical rows")
    val counts = entries(root, v).map(rowsTokenOf)
    require(!counts.contains(-1L),
      s"v$v has pre-row-count manifest entries; scan instead")
    counts.sum
  }

  /** Partition TRANSFORMS (Iceberg's hidden partitioning, the two
    * workhorses): IDENTITY lays files out by the column value itself;
    * BUCKET by the portable md5-low-60 hash mod n — the transform that
    * partitions a high-cardinality key without minting a directory per
    * value. The spec is a WRITE-time layout choice ([[
    * appendPartitioned]]); queries never name partition values — the
    * reader derives the partition a literal lands in ([[valueFor]])
    * and prunes from manifest `#part:` tokens, which is exactly what
    * makes the partitioning "hidden".
    */
  sealed trait PartitionSpec {
    def column: String
    /** Manifest token name — carries the transform, not just the
      * column, so identity(source) and bucket(8, source) never
      * collide. */
    def tokenName: String
    /** The partition value expression evaluated per row at write. */
    def partExpr: org.apache.spark.sql.Column
    /** The partition value a point-lookup literal lands in —
      * driver-side, bit-identical to [[partExpr]]. */
    def valueFor(literal: String): String
  }

  case class IdentityPartition(column: String) extends PartitionSpec {
    def tokenName: String = column
    def partExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(column).cast("string")
    def valueFor(literal: String): String = literal
  }

  case class BucketPartition(column: String, n: Int) extends PartitionSpec {
    def tokenName: String = s"bucket${n}_$column"
    def partExpr: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      pmod(graft.operators.Winnowing.portableHash(
        col(column).cast("string")), lit(n.toLong)).cast("string")
    }
    def valueFor(literal: String): String = (md5Low60(literal) % n).toString
  }

  /** APPEND with a partitioned file layout: rows route to
    * `_p=<value>/` subdirectories of the version's data dir (one file
    * per partition value — the pre-shuffle clusters them), and every
    * manifest entry carries its `#part:<transform>=<value>` token.
    * Point lookups then prune to ONE partition's files from the
    * manifest alone ([[readPartitionPruned]]) — exact pruning, unlike
    * the probabilistic bloom skip. Carried-forward files from earlier
    * un-partitioned appends simply keep no token and are never
    * pruned. Same optimistic CAS/rebase as [[append]].
    */
  def appendPartitioned(df: DataFrame, root: String,
                        spec: PartitionSpec,
                        branch: String = "main"): Int = {
    import org.apache.spark.sql.functions.col
    val st = new Staged(root, Seq("data"))
    val dataDir = st.dir("data")
    df.withColumn("_p", spec.partExpr)
      .repartition(col("_p"))
      .write.partitionBy("_p").parquet(dataDir.toString)
    val byFile: Seq[(String, String)] = {
      val listing = Files.list(dataDir)
      try listing.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("_p="))
        .flatMap { pd =>
          // Spark Hive-escapes special characters in partition dir
          // names (: -> %3A, tab -> %09, newline -> %0A …); the
          // manifest token carries that ESCAPED spelling VERBATIM
          // (r16 review finding): un-escaping restored raw tabs and
          // newlines into a TSV line-oriented grammar — a tab split
          // the token into two fields (the literal compare silently
          // pruned the partition), a newline split the ENTRY in two
          // (the continuation parsed as a bogus path). The prune side
          // escapes its literal the same way; escaped-to-escaped
          // compares are exact for every value
          val value = pd.getFileName.toString.stripPrefix("_p=")
          val inner = Files.list(pd)
          try inner.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => f.toAbsolutePath.toString -> value).toSeq
          finally inner.close()
        }.toSeq.sortBy(_._1)
      finally listing.close()
    }
    val values = byFile.toMap
    val lines = entryLines(df.drop("_p"), byFile.map(_._1)).map { line =>
      val f = line.split('\t').head
      s"$line\t#part:${spec.tokenName}=${values(f)}"
    }
    casAppend(df, st, branch, lines)
  }

  /** Files of snapshot `v` in the partition a point-lookup literal
    * lands in, per the manifest `#part:` tokens — EXACT pruning (a
    * partition either is or is not the literal's home). Files without
    * the spec's token are kept.
    *
    * Exactness caveat (r17): the legacy-spelling tolerance below means
    * a literal whose RAW spelling coincides with ANOTHER value's
    * escaped token (possible only when the literal contains '%', e.g.
    * literal "a%3Ab" vs value "a:b") can over-KEEP that partition's
    * files. Bounded and safe — reads re-filter on the exact predicate
    * — but callers treating this count as an exact oracle (q178/q181
    * n_scanned) must keep their fixture values '%'-free, which the
    * gate corpora are. Under-pruning the literal's own home is
    * impossible in every generation.
    */
  def partitionPrunedFiles(root: String, version: Int, spec: PartitionSpec,
                           literal: String): Seq[String] =
    partitionPrunedFiles(root, version, Seq(spec), literal)

  /** PARTITION-SPEC EVOLUTION (r10, the Iceberg spec-id contract): a
    * long-lived table's layout changes over time — early commits
    * identity-partitioned, later ones bucketed, the oldest not
    * partitioned at all — and each FILE prunes under the spec IT was
    * written with (the token carries the transform, so specs never
    * collide). A file is pruned iff some passed spec's token is ON
    * the file and maps the literal to a DIFFERENT partition; a file
    * carrying none of the tokens (pre-partitioning commits) is always
    * scanned. All specs must address the same lookup column.
    */
  def partitionPrunedFiles(root: String, version: Int,
                           specs: Seq[PartitionSpec],
                           literal: String): Seq[String] =
    prunedWalk(root, bodyRefs(root, version), partitionPrune(specs, literal))

  private def partitionPrune(specs: Seq[PartitionSpec], literal: String): FilePrune = {
    require(specs.nonEmpty && specs.map(_.column).distinct.size == 1,
      s"point lookup needs >= 1 spec, all on one column: $specs")
    // the manifest token carries Spark's Hive-ESCAPED partition value
    // (TSV/line-grammar safety; see appendPartitioned) — but manifests
    // written BEFORE that fix stored the RAW value (r16 ADVICE), so a
    // pre-existing table with an escapable char in a partition value
    // (':' → %3A) would silently mis-prune under an escaped-only
    // compare. Accept BOTH spellings on read: a false KEEP is safe
    // (the exact predicate downstream re-filters — pruning is an
    // optimization), and a false PRUNE cannot happen (legacy tokens
    // match the raw spelling, current tokens the escaped one). When
    // the value needs no escaping the two spellings coincide.
    val wants = specs.map { s =>
      val raw = s.valueFor(literal)
      val esc = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(raw)
      (s"#part:${s.tokenName}=",
        Set(raw, esc).map(v => s"#part:${s.tokenName}=$v"),
        s"#partagg:${s.tokenName}=", Set(raw, esc))
    }
    FilePrune(
      // a pointer whose `#partagg:` summary for some spec's transform
      // covers EVERY entry and lacks the literal's home value cannot
      // contain a keepable file — sound because every entry then
      // carries that transform's token with a different value, i.e.
      // every entry prunes individually
      skipSegment = toks => wants.exists { case (_, _, aggPrefix, wantSet) =>
        toks.collectFirst { case t if t.startsWith(aggPrefix) =>
          // both spellings, same legacy tolerance as keepEntry. The
          // comma-split is sound for ANY literal — including one
          // containing ',' — because a summary is only ever WRITTEN
          // when every distinct value matches [A-Za-z0-9_.-]+
          // (segmentAggTokens, guard present since the token's
          // birth), so an existing summary PROVES the segment holds
          // no comma/percent-valued partition: skipping on a
          // no-fragment-match is then correct, never a false prune.
          !t.stripPrefix(aggPrefix).split(',').exists(wantSet.contains)
        }.getOrElse(false)
      },
      keepEntry = { line =>
        val parts = line.split('\t')
        !wants.exists { case (prefix, wantSet, _, _) =>
          parts.exists(_.startsWith(prefix)) && !parts.exists(wantSet.contains)
        }
      })
  }

  /** Partition-pruned point lookup: the manifest routes to one
    * partition's files, the exact predicate keeps correctness (same
    * duty split as [[readPruned]]/[[readBloomPruned]]).
    */
  def readPartitionPruned(spark: SparkSession, root: String, version: Int,
                          spec: PartitionSpec, literal: String): DataFrame =
    readPartitionPruned(spark, root, version, Seq(spec), literal)

  /** [[readPartitionPruned]] across an evolved spec history — each
    * file prunes under its own write-time spec.
    */
  def readPartitionPruned(spark: SparkSession, root: String, version: Int,
                          specs: Seq[PartitionSpec],
                          literal: String): DataFrame = {
    val prune = partitionPrune(specs, literal) // checks specs before .head
    prunedRead(spark, root, version, prune,
      org.apache.spark.sql.functions.col(specs.head.column).cast("string") === literal)
  }

  /** Files of snapshot `v` that MAY contain `value` in `column`, per
    * the manifest blooms: a file is skipped only when at least one of
    * the value's [[BloomHashes]] salted bits is absent from its bitset
    * — no false negatives (the bloom contract); a false positive
    * merely scans one extra file and the exact predicate in
    * [[readBloomPruned]] keeps correctness. Files without a bloom
    * token for `column` are kept. Pure manifest parsing — zero data
    * or footer I/O.
    */
  def bloomPrunedFiles(root: String, version: Int, column: String,
                       value: String): Seq[String] =
    prunedWalk(root, bodyRefs(root, version), bloomPrune(column, value))

  private def bloomPrune(column: String, value: String): FilePrune = {
    val bits = (0 until BloomHashes)
      .map(j => (md5Low60(value + "#" + j) % BloomBits).toInt)
    val token = s"#bloom:$column="
    FilePrune(
      // a pointer carries no bloom aggregate: every segment opens
      skipSegment = _ => false,
      keepEntry = _.split('\t').collectFirst {
        case t if t.startsWith(token) => t.stripPrefix(token)
      }.forall(hex => bits.forall(hexHasBit(hex, _))))
  }

  /** Bloom-pruned point lookup: scan only the bloom-surviving files,
    * then apply the exact equality predicate (blooms prune files;
    * the predicate keeps correctness — same split of duties as
    * [[readPruned]]).
    */
  def readBloomPruned(spark: SparkSession, root: String, version: Int,
                      column: String, value: String): DataFrame =
    prunedRead(spark, root, version, bloomPrune(column, value),
      org.apache.spark.sql.functions.col(column) === value)

  /** Stats-pruned time-travel read: scan ONLY the files whose footer
    * min/max overlap [lo, hi], then apply the exact row predicate
    * (stats prune files; the predicate keeps correctness — exactly a
    * lakehouse reader's split-planning contract). After a clustered
    * [[compact]] on `column`, a narrow range touches one file of N.
    */
  def readPruned(spark: SparkSession, root: String, version: Int,
                 column: String, lo: Long, hi: Long): DataFrame =
    prunedRead(spark, root, version, statsPrune(spark, root, version, column, lo, hi),
      org.apache.spark.sql.functions.col(column).between(lo, hi))

  /** THE pruned read: the files of snapshot `v` that `prune` keeps,
    * through the merge-on-read scan ([[mergeOnRead]]), then the exact
    * `predicate`. The body resolves once: its delete lines scope the
    * scan, and [[prunedWalk]] over it is the plain entry filter, which
    * keeps exactly the files the pointer-level walk keeps.
    */
  private def prunedRead(spark: SparkSession, root: String, v: Int,
                         prune: FilePrune,
                         predicate: org.apache.spark.sql.Column): DataFrame = {
    val lines = rawLines(root, v)
    mergeOnRead(spark, root, v, lines, prunedWalk(root, lines, prune),
      keepMeta = false).where(predicate)
  }

  /** Time-travel read of snapshot `v` (defaults to latest), under the
    * version's OWN committed schema: a widening append after `v` never
    * changes what `v` reads (its manifest pins both the file set and
    * the schema), and reading a post-evolution version null-fills the
    * new columns for rows in pre-evolution files (explicit-schema
    * parquet reads clip by name — no mergeSchema footer sweep over N
    * files at planning time). Delete sets in the manifest are MERGED
    * ON READ ([[mergeOnRead]]).
    */
  def read(spark: SparkSession, root: String, version: Int = -1): DataFrame = {
    val v = if (version == -1) headOf(root, "main") else version
    // ONE body resolve feeds the file list and both delete flavors
    val lines = rawLines(root, v)
    mergeOnRead(spark, root, v, lines, filesOf(entriesOf(lines)), keepMeta = false)
  }

  /** A plain scan of `paths` under snapshot `v`'s schema, no delete
    * applied: what [[mergeOnRead]] returns when no delete set outranks
    * a scanned file, and the scan of a commit's OWN new files (which
    * no delete in the commit or before it outranks). No paths is the
    * empty relation under that schema.
    */
  private def rawScan(spark: SparkSession, root: String, v: Int,
                      paths: Seq[String]): DataFrame = {
    val schema = schemaAt(spark, root, v)
    if (paths.isEmpty)
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  // reserved merge-on-read column names: the physical row identity
  // (the join keys of positional tombstones), the data file's
  // sequence number, and the delete side's keys and sequence number
  private val FileCol = "_gf_file"
  private val PosCol = "_gf_pos"
  private val SeqCol = "_gf_seq"
  private val DelKey = "_gf_dkey"
  private val DelFile = "_gf_dfile"
  private val DelPos = "_gf_dpos"
  private val DelSeq = "_gf_dseq"

  /** MERGE-ON-READ — the one scan behind every read of live rows:
    * `paths` of snapshot `v` (whose resolved body is `lines`) minus
    * the rows its delete sets kill, under the Iceberg v2 sequence
    * rule: a delete committed at version d applies ONLY to data files
    * committed before d. So a key re-inserted after its delete
    * survives, an update's post-image outlives its own commit's
    * tombstones, and time travel to a pre-delete version sees every
    * row. The plan's shape depends only on WHICH delete flavors and
    * equality-key columns outrank a scanned file, never on how many
    * versions or sets there are:
    *   - one scan of every file, each row tagged with its file's data
    *     sequence number — [[dataVersionOf]] on the driver, looked up
    *     per row by `_metadata.file_path` in a literal map;
    *   - per equality-key column, one scan of its delete files under
    *     the version schema's type for the column (sets written before
    *     an int → long widening read as long), each key tagged with
    *     its `#delete` version and reduced to max(seq), then one
    *     `left_anti` join on `key AND del.seq > data.seq` — a null key
    *     never matches;
    *   - one `left_anti` join on (file, pos) for the positional sets,
    *     with the same sequence condition.
    * When no delete set outranks a scanned file this is the plain
    * scan with no metadata columns. `keepMeta` keeps the (file, pos)
    * row identity for row-level DML; an empty file set then gets typed
    * null identity columns, so DML on an all-deleted version commits a
    * clean no-op instead of failing to resolve.
    */
  private def mergeOnRead(spark: SparkSession, root: String, v: Int,
                          lines: Seq[String], paths: Seq[String],
                          keepMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val oldest = paths.map(dataVersionOf).minOption.getOrElse(Int.MaxValue)
    val eqSets = deleteSetsOf(lines).filter(_._1._1 > oldest)
    val posSets = posDeleteSetsOf(lines).filter(_._1 > oldest)
    val base = rawScan(spark, root, v, paths)
    val filePath = col("_metadata.file_path")
    val identity = Seq(col("*"), filePath.as(FileCol), col("_metadata.row_index").as(PosCol))
    if (eqSets.isEmpty && posSets.isEmpty) {
      if (!keepMeta) base
      else if (paths.nonEmpty) base.select(identity: _*)
      else base.select(col("*"), lit(null).cast("string").as(FileCol),
        lit(null).cast("bigint").as(PosCol))
    } else {
      // the sequence number of the file a row came from: the driver's
      // number per file, keyed by the local path as `_metadata` spells
      // it (`file:` URI, escaped); a file missing from the map fails
      // loudly instead of silently escaping every delete
      def seqOf(bySeq: Seq[(Int, Seq[String])]): org.apache.spark.sql.Column = {
        val m = bySeq.flatMap { case (seq, fs) => fs.map(f =>
          new org.apache.hadoop.fs.Path("file", null, f).toUri.toString -> seq)
        }.toMap
        coalesce(element_at(typedLit(m), filePath),
          raise_error(concat(lit("file outside the snapshot's manifest: "), filePath)))
      }
      val data = base.select(
        identity :+ seqOf(paths.groupBy(dataVersionOf).toSeq).as(SeqCol): _*)
      val afterEq = eqSets.groupBy(_._1._2).toSeq.sortBy(_._1)
        .foldLeft(data) { case (df, (column, sets)) =>
          val keys = spark.read
            .schema(org.apache.spark.sql.types.StructType(Seq(base.schema(column))))
            .parquet(sets.flatMap(_._2): _*)
            .select(col(column).as(DelKey),
              seqOf(sets.map { case ((seq, _), fs) => seq -> fs }).as(DelSeq))
            .groupBy(DelKey).agg(max(DelSeq).as(DelSeq))
          df.join(keys, col(column) === col(DelKey) && col(DelSeq) > col(SeqCol),
            "left_anti")
        }
      val live =
        if (posSets.isEmpty) afterEq
        else afterEq.join(
          spark.read.parquet(posSets.flatMap(_._2): _*)
            .select(col("file_path").as(DelFile), col("pos").as(DelPos),
              seqOf(posSets).as(DelSeq))
            .groupBy(DelFile, DelPos).agg(max(DelSeq).as(DelSeq)),
          col(FileCol) === col(DelFile) && col(PosCol) === col(DelPos) &&
            col(DelSeq) > col(SeqCol), "left_anti")
      if (keepMeta) live.drop(SeqCol) else live.drop(SeqCol, FileCol, PosCol)
    }
  }

  /** Live rows of snapshot `v` with their physical (file, pos)
    * identity — what row-level DML tombstones and CDC resolves
    * positional preimages through — optionally restricted to the
    * files `keepFile` accepts.
    */
  private def identifiedRows(spark: SparkSession, root: String, v: Int,
                             keepFile: String => Boolean = _ => true): DataFrame = {
    val lines = rawLines(root, v)
    mergeOnRead(spark, root, v, lines, filesOf(entriesOf(lines)).filter(keepFile),
      keepMeta = true)
  }

  /** (file, pos) tombstones of positional delete files, as identity
    * columns to semi-join [[identifiedRows]] against.
    */
  private def tombstones(spark: SparkSession, delFiles: Seq[String]): DataFrame =
    spark.read.parquet(delFiles: _*).select(
      org.apache.spark.sql.functions.col("file_path").as(FileCol),
      org.apache.spark.sql.functions.col("pos").as(PosCol)).distinct()

  /** EQUALITY DELETE (merge-on-read, Iceberg v2 shape): commit a new
    * version whose manifest carries the previous entries PLUS a delete
    * set — the distinct `keys` values written as parquet, referenced by
    * `#delete` lines. NO data file is rewritten (the write cost is
    * O(|keys|), not O(table)); readers of this and later versions
    * anti-join the delete set against OLDER data files only; time
    * travel to any pre-delete version still sees every row; and the
    * next [[compact]] PURGES the tombstones (it rewrites what read()
    * returns and commits a delete-free manifest). Returns the new
    * version.
    */
  def deleteWhere(spark: SparkSession, root: String, column: String,
                  keys: DataFrame, branch: String = "main"): Int =
    deleteImpl(spark, root, column, keys, branch, Nil)

  /** CHECKED equality delete (r16 — closing the checked-DML surface's
    * delete gap: append/merge/update validated their writes, but a
    * delete could orphan keys a referencing table depends on).
    * Stages `keys` exactly like [[deleteWhere]], then validates the
    * POST-IMAGE — the branch head's live rows minus the staged key
    * set, derived from the WRITTEN delete bytes — against `checks`
    * BEFORE any publish attempt. Row removal cannot mint a
    * RowPredicate or Unique violation (those are write-side
    * concerns, enforced by the checked writes), so the check class
    * this path exists for is
    * [[graft.operators.QualityChecks.InboundRef]]: a parent-side
    * delete that would orphan a referencing table's keys refuses
    * with the violation named and counted. A refused delete changes
    * NOTHING: staged key files deleted, no version, no ref movement.
    *
    * Scale shape: the validation is QualityChecks' one-pass report
    * over the post-image — each InboundRef leg is an anti-join
    * shipping KEY COLUMNS only, so the cost is O(referencing keys +
    * table key column), not O(table width).
    *
    * Non-inbound checks in `checks` are SKIPPED here, not evaluated:
    * RowPredicate/Unique are write-side concerns enforced by the
    * checked writes, a delete cannot mint them, and running them over
    * the post-image would pay O(table width) to spuriously refuse on
    * any pre-existing row-local violation — callers may hand the
    * table's full declared check list and this path validates exactly
    * the legs a delete can break.
    *
    * Concurrency: the inbound legs ran against the entry head's
    * post-image, and there is no key-scoped revalidation that covers
    * "some other writer re-deleted around me" — so a concurrent
    * commit that can REMOVE keys (delete/merge/update) aborts with
    * [[java.util.ConcurrentModificationException]] (the
    * [[mergeChecked]] rule); the caller re-reads and re-runs.
    * Rewrites carry the same rows and appends only ADD keys —
    * InboundRef is monotone in the table's key set — so neither
    * costs liveness. Unchecked [[deleteWhere]] keeps its full rebase
    * liveness.
    */
  def deleteChecked(spark: SparkSession, root: String, column: String,
                    keys: DataFrame,
                    checks: Seq[graft.operators.QualityChecks.Check],
                    branch: String = "main"): Int = {
    require(checks.nonEmpty, "deleteChecked without checks is deleteWhere")
    deleteImpl(spark, root, column, keys, branch, checks)
  }

  private def deleteImpl(spark: SparkSession, root: String, column: String,
                         keys: DataFrame, branch: String,
                         checks: Seq[graft.operators.QualityChecks.Check]): Int = {
    import org.apache.spark.sql.functions.col
    // row removal cannot mint a RowPredicate or Unique violation —
    // those are write-side concerns, enforced when the rows were
    // WRITTEN (the scaladoc's scoping rule made executable, r16):
    // callers reuse the table's full declared check list, and running
    // the write-side legs here would (a) pay an O(table width) scan
    // the delete cannot fail legitimately and (b) spuriously refuse
    // every delete on a table holding a pre-existing row-local
    // violation committed before the check was declared. Only the
    // post-image-scoped inbound legs validate the delete.
    val inboundOnly = checks.filter(
      _.isInstanceOf[graft.operators.QualityChecks.InboundRef])
    val base0 = headOf(root, branch)
    require(base0 > 0, s"nothing to delete from under $root")
    val st = new Staged(root, Seq("delete"))
    val delFiles =
      writeStaged(keys.select(col(column)).distinct(), st.dir("delete"))
    // post-image from the WRITTEN key bytes (deterministic; never
    // recomputes `keys`) — the appendChecked validate-what-was-
    // written rule applied to a tombstone set
    if (inboundOnly.nonEmpty)
      validateStagedOrAbort(spark, st, Nil, inboundOnly,
        survivors = Some(read(spark, root, base0).join(
          if (delFiles.isEmpty) keys.select(col(column)).limit(0)
          else spark.read.parquet(delFiles: _*).select(col(column)),
          Seq(column), "left_anti")),
        op = "deleteChecked")
    commitLoop(st, branch) { (v, parent) =>
      // an equality delete is defined against "everything committed
      // before me", so rebasing onto a winner preserves its semantics
      // (the delete's sequence number moves up WITH the rebase) —
      // unless an inbound leg validated a basis the winner can
      // invalidate ([[basisInvalidated]]); no inbound check ⇒ nothing
      // validated ⇒ full rebase liveness
      if (basisInvalidated(root, inboundOnly, base0, parent))
        throw new java.util.ConcurrentModificationException(
          s"checked delete aborted: a concurrent commit in ($base0, " +
            s"$parent] invalidated its post-image validation basis — " +
            "re-read and re-run")
      val schema = schemaAt(spark, root, parent)
      if (!schema.fieldNames.contains(column))
        throw new IllegalArgumentException(
          s"delete key column '$column' is not in the table schema")
      () => Attempt(schema, carriedRefs(root, parent) ++
        delFiles.map(f => s"#delete\t$f\t$column\t$v"), Map("op" -> "delete"))
    }
  }

  /** POSITIONAL DELETE (merge-on-read, Iceberg v2's second delete
    * flavor): commit a new version whose manifest carries a
    * (file_path, pos) tombstone set for every LIVE row matching
    * `predicate` — resolved against the current view, so rows already
    * dead (equality- or position-deleted) are not re-tombstoned. This
    * is the delete that can separate DUPLICATES: an equality delete on
    * a key kills every copy; a positional tombstone kills the one
    * physical row it names. Write cost O(|matches|); readers anti-join
    * on the physical row identity, sequence-scoped like equality sets;
    * time travel and the next [[compact]]'s tombstone purge behave
    * identically.
    *
    * Concurrency: position tombstones name PHYSICAL files, so a
    * concurrent REWRITE commit (compaction) invalidates them — the
    * rows would resurrect under the rewritten paths. The commit
    * therefore validates its whole unseen window and ABORTS with
    * `ConcurrentModificationException` when a rewrite landed (the
    * Iceberg validateNoConflicting* rule for position deletes);
    * non-rewrite winners rebase like [[deleteWhere]].
    */
  def deleteWhereMatching(spark: SparkSession, root: String,
                          predicate: org.apache.spark.sql.Column,
                          branch: String = "main"): Int = {
    import org.apache.spark.sql.functions.col
    val base0 = headOf(root, branch)
    require(base0 > 0, s"nothing to delete from under $root")
    val st = new Staged(root, Seq("delete"))
    val delFiles = writeStaged(
      identifiedRows(spark, root, base0)
        .filter(predicate)
        .select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
        .distinct(), st.dir("delete"))
    commitLoop(st, branch) { (v, parent) =>
      abortIfRewritten(root, base0, parent, "positional delete")
      () => Attempt(schemaAt(spark, root, parent), carriedRefs(root, parent) ++
        delFiles.map(f => s"#posdelete\t$f\t$v"), Map("op" -> "delete"))
    }
  }

  /** ROW-LEVEL UPDATE (merge-on-read): ONE atomic commit that
    * position-tombstones every LIVE row matching `where` and appends
    * the same rows with `set` applied — Delta's UPDATE / Iceberg's
    * MoR row update, completing the DML surface beside append, MERGE
    * and the two delete flavors. Sequence scoping is the whole
    * construction, as in [[merge]]: the tombstones commit at v and
    * bind to files of versions < v, the updated images live AT v, so
    * they survive their own commit's delete — and a later update can
    * tombstone THEM (update-of-update), because by then they are
    * older files. Write cost O(|matches|), never O(table); readers,
    * time travel, compaction purge and CDC (tombstoned preimages as
    * typed deletes, new images as inserts — the Iceberg
    * incremental-scan spelling of a MoR update) all compose from the
    * existing machinery. Concurrency: a rewrite in the unseen window
    * aborts (positions would dangle), as for [[deleteWhereMatching]];
    * so does any concurrent commit that removed one of the rows this
    * update tombstones — a delete, another update or a merge of that
    * row — with [[java.util.ConcurrentModificationException]] and the
    * staged files deleted (the [[merge]] rule: rebasing would bring
    * the deleted row back as its updated image). Other winners rebase.
    */
  def updateWhere(spark: SparkSession, root: String,
                  where: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  branch: String = "main"): Int =
    updateImpl(spark, root, where, set, branch, Nil)

  /** CHECKED row update (r15 — the [[mergeChecked]] contract on the
    * UPDATE path): stage the tombstones and updated images exactly
    * like [[updateWhere]], validate the WRITTEN post-image bytes via
    * [[validateStagedOrAbort]] before any publish attempt — a SET
    * that nulls a NOT-NULL column, drives a value out of range, or
    * collides a unique key with an untouched row refuses with staged
    * files deleted and NOTHING published. Unique survivors are the
    * head's rows the predicate does NOT match (the updated rows'
    * preimages are being replaced, so an update that keeps its own
    * keys never false-refuses).
    */
  def updateChecked(spark: SparkSession, root: String,
                    where: org.apache.spark.sql.Column,
                    set: Map[String, org.apache.spark.sql.Column],
                    checks: Seq[graft.operators.QualityChecks.Check],
                    branch: String = "main"): Int = {
    require(checks.nonEmpty, "updateChecked without checks is updateWhere")
    updateImpl(spark, root, where, set, branch, checks)
  }

  /** CONTRACT: `where` must be DETERMINISTIC (r16). The matching set
    * is evaluated twice over immutable inputs — once to write the
    * (file, pos) tombstones, once to write the updated images — so a
    * non-deterministic predicate (rand()-based sampling, current
    * timestamp) would tombstone one row set and rewrite a different
    * one, silently losing or duplicating rows. Same inputs + same
    * deterministic predicate ⇒ identical row sets; Spark itself
    * makes the matching analysis assumption in its own DML.
    */
  private def updateImpl(spark: SparkSession, root: String,
                  where: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column],
                  branch: String,
                  checks: Seq[graft.operators.QualityChecks.Check]): Int = {
    import org.apache.spark.sql.functions.col
    val base0 = headOf(root, branch)
    require(base0 > 0, s"nothing to update under $root")
    require(set.nonEmpty, "update needs at least one SET column")
    val st = new Staged(root, Seq("data", "delete"))
    val matching = identifiedRows(spark, root, base0).filter(where)
    val delFiles = writeStaged(
      matching.select(col(FileCol).as("file_path"), col(PosCol).as("pos"))
        .distinct(), st.dir("delete"))
    // ONE select, not chained withColumn: SQL UPDATE evaluates every
    // SET right-hand side against the OLD row, so interdependent
    // assignments (SET a = b, b = a swaps) must not see each other's
    // new values — and must not depend on the Map's iteration order
    val preimage = matching.drop(FileCol, PosCol)
    set.keys.foreach { c =>
      if (!preimage.columns.contains(c)) {
        // the tombstones are already staged — a bad SET column must
        // not strand them until an age-guarded orphan sweep ("a
        // refused batch changes NOTHING" covers error paths, r16)
        st.drop()
        throw new IllegalArgumentException(s"SET names unknown column '$c'")
      }
    }
    val updated = preimage.select(preimage.columns.toIndexedSeq.map(c =>
      set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    val newFiles = writeStaged(updated, st.dir("data"))
    val dataLines = entryLines(updated, newFiles)
    if (checks.nonEmpty)
      // survivors = the head's rows the predicate does not match (a
      // NULL predicate row is unmatched and SURVIVES — coalesce keeps
      // it in the survivor leg; see updateChecked)
      validateStagedOrAbort(spark, st, newFiles, checks,
        survivors = Some(read(spark, root, base0)
          .filter(!org.apache.spark.sql.functions.coalesce(where,
            org.apache.spark.sql.functions.lit(false)))),
        op = "updateChecked")
    commitLoop(st, branch) { (v, parent) =>
      if (basisInvalidated(root, checks, base0, parent))
        throw new java.util.ConcurrentModificationException(
          s"checked update aborted: a concurrent commit in ($base0, " +
            s"$parent] invalidated its post-image validation basis — " +
            "re-read and re-run")
      abortIfRewritten(root, base0, parent, "row update")
      // merge's rule, not rebase: a row this update tombstones that a
      // commit in the unseen window deleted (or re-tombstoned) would
      // come back as its updated image — abort instead
      if (parent != base0 && delFiles.nonEmpty &&
          spark.read.parquet(delFiles.map(st.moved): _*)
            .join(identifiedRows(spark, root, parent, dataVersionOf(_) <= base0)
              .select(col(FileCol).as("file_path"), col(PosCol).as("pos")),
              Seq("file_path", "pos"), "left_anti").limit(1).count() > 0)
        throw new java.util.ConcurrentModificationException(
          s"row update aborted: a concurrent commit in ($base0, $parent] " +
            "deleted a row it updates — re-read and re-run")
      () => Attempt(widenedSchema(updated, root, parent),
        carriedRefs(root, parent) ++
          delFiles.map(f => s"#posdelete\t$f\t$v") ++ dataLines,
        Map("op" -> "update"))
    }
  }

  /** MERGE (upsert, merge-on-read): ONE atomic commit that both
    * tombstones every `column` key present in `source` and appends
    * `source`'s rows — matched keys are REPLACED, unmatched keys
    * INSERT, and a reader sees either the pre-merge table or the fully
    * merged one, never a half state (the manifest link is the commit).
    * Sequence scoping does the heavy lifting: the delete set commits at
    * version v and applies only to data files from versions < v, while
    * the source's own files live at v — so the merge's inserts survive
    * the merge's delete by construction, with no ordering flag. Write
    * cost is O(|source|), not O(table) (the Iceberg v2 merge-on-read
    * MERGE; copy-on-write would rewrite every touched file). Duplicate
    * keys in `source` are rejected up front — upsert semantics are
    * undefined when one target row matches two source rows (Delta's
    * "multiple source rows matched" error). Concurrency (r10,
    * SERIALIZABLE): on a CAS conflict the loser REVALIDATES before
    * rebasing — if any commit it did not see (its base exclusive to
    * the new latest, rewrite commits excepted: same rows, new bytes)
    * inserted or deleted one of the merge's own keys, the merge ABORTS
    * with [[java.util.ConcurrentModificationException]] and removes
    * its staged files; the caller re-reads and re-runs against the new
    * snapshot (the Iceberg validateNoConflicting* / Delta
    * ConcurrentWriteException contract). A conflict on DISJOINT keys
    * still rebases and retries automatically — the schedule is then
    * equivalent to the serial order (winner, this merge). Returns the
    * new version.
    */
  def merge(spark: SparkSession, root: String, column: String,
            source: DataFrame, branch: String = "main"): Int =
    mergeImpl(spark, root, column, source, branch, Nil)

  /** CHECKED merge (r15 — the [[appendChecked]] contract on the
    * upsert path, closing "constraints enforce on every write path"):
    * stage exactly like [[merge]], then validate the staged source
    * bytes via [[validateStagedOrAbort]] BEFORE any publish attempt —
    * row predicates and referential checks over the written batch,
    * Unique checks additionally against the POST-IMAGE's survivor
    * rows (the head minus the keys this merge replaces, so replacing
    * a key never false-refuses while colliding with an untouched row
    * on a SECONDARY unique column does). A refused merge changes
    * NOTHING: staged data and delete files deleted, no version, no
    * ref movement. A clean merge then runs the serializable CAS loop
    * with ONE stricter rule (r15): when UNIQUE checks are declared,
    * any concurrent NON-REWRITE commit — not only a key-touching one
    * — aborts with [[java.util.ConcurrentModificationException]],
    * because it invalidates the survivor basis the Unique validation
    * ran against (a disjoint-key append can still collide on a
    * SECONDARY unique column). Row-local checks are basis-free and a
    * rewrite carries the same rows, so neither costs liveness; an
    * unchecked [[merge]] keeps its full rebase liveness.
    */
  def mergeChecked(spark: SparkSession, root: String, column: String,
                   source: DataFrame,
                   checks: Seq[graft.operators.QualityChecks.Check],
                   branch: String = "main"): Int = {
    require(checks.nonEmpty, "mergeChecked without checks is merge")
    mergeImpl(spark, root, column, source, branch, checks)
  }

  private def mergeImpl(spark: SparkSession, root: String, column: String,
            source: DataFrame, branch: String,
            checks: Seq[graft.operators.QualityChecks.Check]): Int = {
    import org.apache.spark.sql.functions.{col, count, lit}
    // the snapshot this merge's row values were DERIVED against — the
    // base the serializability check validates (any commit landing
    // after this point was never read by this merge). Captured at
    // ENTRY, before the first Spark action, so a commit racing the
    // dup-check or the data write is validated too, not only one
    // racing the manifest CAS.
    val base0 = headOf(root, branch)
    require(base0 > 0, s"nothing to merge into under $root")
    require(source.columns.contains(column),
      s"merge key column '$column' is not in the source")
    val dup = source.groupBy(col(column)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge source has duplicate '$column' keys (e.g. ${dup.headOption})")
    val st = new Staged(root, Seq("data", "delete"))
    val newFiles = writeStaged(source, st.dir("data"))
    val dataLines = entryLines(source, newFiles)
    val delFiles = writeStaged(source.select(col(column)), st.dir("delete"))
    // the merge's own key set, read back from the already-written
    // delete files (deterministic — never recomputes `source`)
    def ownKeys =
      spark.read.parquet(delFiles.map(st.moved): _*).select(col(column))
    if (checks.nonEmpty)
      // survivors = the head's live rows minus the replaced keys: the
      // post-image complement of this staged batch (see mergeChecked)
      validateStagedOrAbort(spark, st, newFiles, checks,
        survivors = Some(read(spark, root, base0)
          .join(ownKeys, Seq(column), "left_anti")),
        op = "mergeChecked")
    commitLoop(st, branch) { (v, parent) =>
      // a checked merge's cross-batch Unique validation (and any
      // InboundRef post-image leg, r16) ran against base0's
      // survivors; a later commit could add a colliding row — or
      // delete a referenced key — on a basis the merge-key
      // serializability check does not cover — abort rather than
      // publish an unvalidated post-image (r15; same re-read-and-
      // re-run contract as a key conflict)
      if (basisInvalidated(root, checks, base0, parent))
        throw new java.util.ConcurrentModificationException(
          s"checked merge aborted: a concurrent commit in ($base0, " +
            s"$parent] invalidated its post-image validation basis — " +
            "re-read and re-run")
      // revalidate EVERY attempt's full unseen window — the branch
      // chain (base0, parent] — not only CAS losers': a commit landing
      // between entry and the first CAS succeeds at CAS yet was still
      // never read
      if (parent != base0 &&
          keysTouchedBetween(spark, root, base0, parent, column, ownKeys))
        throw new java.util.ConcurrentModificationException(
          s"serializable merge on '$column' aborted: a concurrent " +
            s"commit in ($base0, $parent] touched one of this merge's " +
            "keys — re-read the table and re-run the merge")
      () => Attempt(widenedSchema(source, root, parent),
        carriedRefs(root, parent) ++
          delFiles.map(f => s"#delete\t$f\t$column\t$v") ++ dataLines,
        Map("op" -> "merge"))
    }
  }

  /** True iff any commit in `(baseV, uptoV]` (rewrite commits excepted
    * — a [[compact]] carries the same rows) inserted data rows or
    * committed a delete set whose `column` values intersect `keys` —
    * the conflict test of a serializable [[merge]]. Cost is one
    * semi-join per concurrent commit against only ITS new files (the
    * O(|concurrent changes|) validation scan of the real systems, not
    * an O(table) read). Commits whose schema predates `column` cannot
    * carry it and are skipped.
    */
  private def keysTouchedBetween(spark: SparkSession, root: String,
                                 baseV: Int, uptoV: Int, column: String,
                                 keys: => DataFrame): Boolean = {
    import org.apache.spark.sql.functions.col
    lineageBetween(root, baseV, uptoV)
      .filterNot(w => propsOf(root, w).get("rewrite").contains("true"))
      .exists { w =>
        val newFiles = files(root, w).filter(f => dataVersionOf(f) == w)
        val dataHit = newFiles.nonEmpty &&
          schemaOf(root, w).forall(_.fieldNames.contains(column)) &&
          rawScan(spark, root, w, newFiles).select(col(column))
            .join(keys, Seq(column), "left_semi").limit(1).count() > 0
        def delHit = deleteSets(root, w).filter(_._1._1 == w).exists {
          case ((_, c), fs) => c == column &&
            spark.read.parquet(fs: _*).select(col(c))
              .join(keys, Seq(column), "left_semi").limit(1).count() > 0
        }
        // a positional tombstone's keys resolve through its preimage
        // rows (the CDC spelling) — only those carry the merge column;
        // a preimage on a pre-promotion schema lacking it cannot
        // conflict, same skip rule as the dataHit branch
        def posHit = posDeleteSets(root, w).filter(_._1 == w).exists {
          case (_, fs) =>
            val p = parentOf(root, w)
            schemaOf(root, p).forall(_.fieldNames.contains(column)) &&
            identifiedRows(spark, root, p)
              .join(tombstones(spark, fs), Seq(FileCol, PosCol), "left_semi")
              .select(col(column))
              .join(keys, Seq(column), "left_semi").limit(1).count() > 0
        }
        dataHit || delHit || posHit
      }
  }

  private def deleteTreeQuietly(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** CDC — row-level CHANGES committed in versions (fromV, toV], the
    * Delta Change-Data-Feed / Iceberg incremental-scan read path:
    * `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage beside `_commit_version`. Everything resolves
    * from MANIFESTS: a version's inserts are exactly its own
    * `data_v<w>` files (no diffing of row sets), its deletes are the
    * delete sets committed AT w semi-joined against the version-(w−1)
    * read, and a deleted key that the same commit re-inserts is an
    * UPDATE pair (the merge-on-read [[merge]] shape) — keys new to the
    * table stay plain inserts. Commits marked `rewrite=true`
    * ([[compact]]) are SKIPPED: same rows, new bytes, no change to
    * feed. Rows from pre-evolution versions null-fill columns added
    * later (unionByName over the per-version schemas). Per-version
    * plans are file scans + key joins — nothing driver-side beyond the
    * manifest lines, so a 100-version 100 TB history streams version
    * by version.
    */
  def changesBetween(spark: SparkSession, root: String,
                     fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV >= 0 && fromV < toV && toV <= latestVersion(root),
      s"need 0 <= from < to <= latest: ($fromV, $toV]")
    // BRANCH-AWARE (r11): the window is the parent-pointer chain, so
    // on a branched table the feed carries exactly the tailed ref's
    // commits — version numbers claimed by other branches are not in
    // the chain and never surface. Legacy linear tables walk the same
    // numeric range they always did.
    val parts = lineageBetween(root, fromV, toV)
      .filterNot(w => propsOf(root, w).get("rewrite").contains("true"))
      .flatMap { w =>
        val prevW = parentOf(root, w)
        val newFiles = files(root, w).filter(f => dataVersionOf(f) == w)
        val ins = if (newFiles.isEmpty) None
          else Some(rawScan(spark, root, w, newFiles))
        val delsAtW = deleteSets(root, w).filter(_._1._1 == w)
        require(delsAtW.size <= 1,
          s"CDC expects at most one delete set per commit, v$w has ${delsAtW.size}")
        // positional tombstones committed AT w: their preimages are the
        // parent-version rows at exactly those physical positions
        val posAtW = posDeleteSets(root, w).filter(_._1 == w)
        val posTyped: Seq[DataFrame] = posAtW.map { case (_, delFiles) =>
          identifiedRows(spark, root, prevW)
            .join(tombstones(spark, delFiles), Seq(FileCol, PosCol), "left_semi")
            .drop(FileCol, PosCol)
            .withColumn("_change_type", lit("delete"))
        }
        val typed0: Seq[DataFrame] = delsAtW.headOption match {
          case None =>
            ins.map(_.withColumn("_change_type", lit("insert"))).toSeq
          case Some(((_, column), delFiles)) =>
            val keys = spark.read.parquet(delFiles: _*)
              .select(col(column)).distinct()
            val pre = read(spark, root, prevW)
              .join(keys, Seq(column), "left_semi")
            ins match {
              case None =>
                Seq(pre.withColumn("_change_type", lit("delete")))
              case Some(insDf) =>
                val insKeys = insDf.select(col(column)).distinct()
                val liveKeys = pre.select(col(column)).distinct()
                Seq(
                  pre.join(insKeys, Seq(column), "left_semi")
                    .withColumn("_change_type", lit("update_preimage")),
                  pre.join(insKeys, Seq(column), "left_anti")
                    .withColumn("_change_type", lit("delete")),
                  insDf.join(liveKeys, Seq(column), "left_semi")
                    .withColumn("_change_type", lit("update_postimage")),
                  insDf.join(liveKeys, Seq(column), "left_anti")
                    .withColumn("_change_type", lit("insert")))
            }
        }
        (typed0 ++ posTyped).map(_.withColumn("_commit_version", lit(w)))
      }
    require(parts.nonEmpty,
      s"no data-changing commits in ($fromV, $toV] under $root")
    val all = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    // present in the target version's column order, change cols last
    schemaOf(root, toV) match {
      case Some(s) => all.select(
        (s.fieldNames.toSeq ++ Seq("_change_type", "_commit_version"))
          .map(col): _*)
      case None => all
    }
  }

  /** ORPHAN FILE CLEANUP (Iceberg's `remove_orphan_files`): delete
    * every parquet file under the table's `data_v*`/`delete_v*` dirs
    * that NO live manifest references — the debris of writers that
    * wrote data and died before their manifest CAS landed (the
    * optimistic protocol makes such debris NORMAL, not exceptional;
    * this is its janitor). Age-guarded like the real procedure: only
    * files older than `olderThanMillis` qualify, because an IN-FLIGHT
    * writer's staged files look orphaned until its commit lands — so
    * the age is a REQUIRED parameter (advisor r9: a 0 default on a
    * production-style call would delete a concurrent writer's staged
    * files at the moment before its CAS — data loss at commit time).
    * Pass 0 only as an explicit test/gate opt-in where no writer is in
    * flight; a production sweep passes hours. Scoped to `.parquet`
    * files — the referenced namespace — so committer markers are not
    * counted as orphans. Returns the number of files deleted;
    * idempotent.
    */
  def removeOrphans(root: String, olderThanMillis: Long): Int = {
    val rootP = Paths.get(root)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    // BRANCHED tables (r11) can hold unreachable MANIFESTS too: a
    // dropped branch's commits, or a crashed writer that linked its
    // manifest but died before the ref CAS. Reap those first — same
    // age guard, because an in-flight commit's manifest looks
    // unreachable until its CAS lands — then refcount data files over
    // the survivors. Never-branched tables have no unreachable
    // manifests (the manifest link IS the whole commit there).
    if (branched(root)) {
      val reachable = (branches(root).map(_._2) ++
        tags(root).map(_._2)).toSet.flatMap((h: Int) => lineage(root, h))
      (1 to latestVersion(root))
        .filterNot(reachable.contains)
        .map(v => manifestPath(rootP, v))
        .filter(p => Files.exists(p) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .foreach(Files.delete(_))
    }
    val liveVersions = (1 to latestVersion(root))
      .filter(v => Files.exists(manifestPath(rootP, v)))
    val referenced = liveVersions
      .flatMap(v => rawLines(root, v).map { l =>
        if (l.startsWith("#delete\t") || l.startsWith("#posdelete\t"))
          l.split('\t')(1)
        else l.split('\t').head
      }).toSet
    // orphaned SEGMENTS (r13): a crashed commit that published its
    // segment but never linked its list, or an unreachable manifest
    // reaped above, leaves `_seg_` files no surviving list names —
    // refcount them like data files, under the same age guard
    val referencedSegs = liveVersions.flatMap(segmentRefsOf(root, _)).toSet
    val segDirP = rootP.resolve("_manifests")
    if (Files.isDirectory(segDirP)) {
      val s = Files.list(segDirP)
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("_seg_") && !referencedSegs.contains(n) &&
            Files.getLastModifiedTime(p).toMillis <= cutoff
        }
        .toSeq
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
    val top = Files.list(rootP)
    val dataDirs = try top.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) &&
        (n.startsWith("data_v") || n.startsWith("delete_v"))
    }.toSeq finally top.close()
    var deleted = 0
    dataDirs.foreach { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !referenced.contains(p.toAbsolutePath.toString) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq // materialize before deleting under the walk stream
        .foreach { p => Files.delete(p); deleted += 1 }
      finally walk.close()
    }
    // crash debris: a writer that dies between staging `_tmp_*` and
    // its finally-delete leaves the tmp file forever (reads already
    // ignore them — refHead, the CDC tail and latestVersion all filter
    // the `_tmp_` prefix — but nothing else ever reaps them). Sweep
    // age-guarded tmp files in every directory that stages them:
    // `_refs/<name>/`, `_tags/`, `_manifests/`, and the table root
    // (`_tmp_latest_*`). Not counted in the return — the contract is
    // "data files deleted"; these are zero-cost marker bytes.
    val tmpDirs = {
      val refs = refsDir(rootP)
      val refSubdirs = if (Files.isDirectory(refs)) {
        val s = Files.list(refs)
        try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
        finally s.close()
      } else Nil
      refSubdirs ++ Seq(rootP.resolve("_tags"),
        rootP.resolve("_manifests"), rootP)
    }
    tmpDirs.filter(Files.isDirectory(_)).foreach { d =>
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("_tmp_") &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .toSeq
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
    deleted
  }

  /** Metadata-only MIN/MAX — the aggregate-pushdown companion of
    * [[metadataCount]], answered from manifest stats with zero file
    * I/O. Same refusal discipline: delete sets make the answer
    * unsound (a tombstoned row may BE the extreme — fall back to a
    * scan, never return a wrong number), and a pre-stats entry means
    * the manifest cannot answer. Files with no stats token for the
    * column hold only nulls there and are skipped; all-null columns
    * have no min/max to give.
    */
  def metadataMinMax(root: String, version: Int = -1,
                     column: String): (Long, Long) = {
    val v = if (version == -1) headOf(root, "main") else version
    requireStatsPrunable(root, v, column)
    require(deleteSets(root, v).isEmpty && posDeleteSets(root, v).isEmpty,
      s"v$v has merge-on-read delete sets: manifest extremes are unsound")
    val ranges = entries(root, v).map { line =>
      val parts = line.split('\t')
      require(parts.length > 1 && parts(1) == "#stats",
        s"v$v has pre-stats manifest entries; scan instead")
      parts.drop(2).collectFirst {
        case t if t.startsWith(column + "=") =>
          val b = t.substring(column.length + 1).split("\\.\\.")
          (b(0).toLong, b(1).toLong)
      }
    }
    val present = ranges.flatten
    require(present.nonEmpty, s"no stats for column '$column' at v$v")
    (present.map(_._1).min, present.map(_._2).max)
  }

  /** CONTENT DIFF between two versions — the complement of the change
    * feed: [[changesBetween]] replays HOW history unfolded (typed,
    * per-commit), `diffVersions` states only the NET difference of two
    * states ("what changed between the release snapshots", regression
    * checks, audit). Multiset semantics via exceptAll in both
    * directions (a duplicated row appearing once more is a real
    * difference), over the columns the two schemas share (evolution
    * may have widened one side). The plan is two full-row hash
    * anti-differences — each side shuffles once on all columns, the
    * correct distributed diff shape at any scale.
    */
  def diffVersions(spark: SparkSession, root: String,
                   va: Int, vb: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val a = read(spark, root, va)
    val b = read(spark, root, vb)
    val common = a.columns.filter(b.columns.contains).toSeq
    require(common.nonEmpty, s"v$va and v$vb share no columns")
    val ap = a.select(common.map(col): _*)
    val bp = b.select(common.map(col): _*)
    bp.exceptAll(ap).withColumn("_diff", lit("added"))
      .unionByName(ap.exceptAll(bp).withColumn("_diff", lit("removed")))
  }

  /** TAG a version with an immutable named ref (Iceberg tags): one
    * file per tag under `_tags/`, created with the hard-link CAS —
    * tags are immutable, re-tagging an existing name fails loudly
    * rather than silently moving a ref consumers pin to. The payoff
    * is in [[expire]]: retention honors tags, so `expire` never
    * collects a version a tag still names — the "keep the release
    * snapshot while GC-ing the nightly history" contract tags exist
    * for.
    */
  def tag(root: String, name: String, version: Int): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"illegal tag name: $name")
    val rootP = Paths.get(root)
    require(Files.exists(manifestPath(rootP, version)),
      s"cannot tag missing version $version under $root")
    val dir = rootP.resolve("_tags")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"_tmp_${name}_${newToken()}")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    try Files.createLink(dir.resolve(name), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new IllegalArgumentException(
        s"tag '$name' already exists (tags are immutable)") }
    finally Files.deleteIfExists(tmp)
  }

  /** The version a tag names; fails loudly on an unknown tag. */
  def tagVersion(root: String, name: String): Int = {
    val p = Paths.get(root).resolve("_tags").resolve(name)
    require(Files.exists(p), s"no tag '$name' under $root")
    Files.readAllLines(p).asScala.head.trim.toInt
  }

  /** All tags as (name, version). */
  def tags(root: String): Seq[(String, Int)] = {
    val dir = Paths.get(root).resolve("_tags")
    if (!Files.exists(dir)) return Nil
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("_tmp_"))
      .map(p => p.getFileName.toString ->
        Files.readAllLines(p).asScala.head.trim.toInt)
      .toSeq.sortBy(_._1)
    finally listing.close()
  }

  /** Time-travel read through a tag. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, tagVersion(root, name))

  // ------------------------------------------------------------------
  // REFS — writable branches (r11). Iceberg branch refs / the
  // Write-Audit-Publish workflow, reduced to two primitives the
  // filesystem gives us:
  //
  //   * the GLOBAL VERSION ALLOCATOR stays what it always was — the
  //     manifest-name link(2) CAS ([[commit]]): a version number is a
  //     table-wide snapshot id, claimed once, never branch-scoped
  //     (Iceberg snapshot ids are global too);
  //   * each ref's HEAD is an append-only chain of tiny files
  //     `_refs/<name>/<seq>.ref`, each holding one version number.
  //     Claiming `<seq+1>.ref` via the same link(2) EEXIST trick IS
  //     the head CAS — two writers racing the same branch serialize
  //     exactly like two writers racing the legacy single history.
  //
  // Every branched commit records `parent=<head>` and `branch=<name>`
  // in its manifest props, so a ref's history is the PARENT-POINTER
  // CHAIN from its head — not the numeric range — and two branches'
  // histories interleave version numbers without ever sharing a
  // commit. A manifest without a parent prop (pre-r11, or a
  // never-branched table) has the implicit parent v−1, which keeps
  // every legacy table a valid linear chain with zero migration.
  //
  // A committer that wins the manifest link but LOSES the head CAS
  // unlinks its own manifest before retrying (it was never reachable
  // from any ref, and no reader resolves versions except through a
  // ref or an explicit number handed out post-commit); a writer that
  // dies between the two leaves an unreachable manifest that
  // [[removeOrphans]] reaps under the same age guard as data-dir
  // debris. Branch creation itself must not race writers (it
  // materializes `_refs/main` from the legacy head — the one step a
  // real catalog serializes for us; documented admin op).
  // ------------------------------------------------------------------

  private def refsDir(rootP: Path): Path = rootP.resolve("_refs")
  private def refDir(rootP: Path, name: String): Path =
    refsDir(rootP).resolve(name)

  /** True once [[createBranch]] has materialized explicit refs; from
    * then on `main` is resolved through its ref chain, and the max
    * manifest number is ONLY the version allocator.
    */
  def branched(root: String): Boolean =
    Files.exists(refsDir(Paths.get(root)))

  /** (seq, version) at the head of a ref's chain; (0, -1) for a ref
    * with no dir, (0, 0)-seeded refs read back naturally.
    */
  private def refHead(root: String, name: String): (Int, Int) = {
    val dir = refDir(Paths.get(root), name)
    if (!Files.exists(dir)) return (0, -1)
    val listing = Files.list(dir)
    val maxSeq = try listing.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("\\d+\\.ref") =>
        s.stripSuffix(".ref").toInt }
      .maxOption.getOrElse(0)
    finally listing.close()
    if (maxSeq == 0) (0, -1)
    else (maxSeq, Files.readAllLines(dir.resolve(s"$maxSeq.ref"))
      .asScala.head.trim.toInt)
  }

  /** Atomically advance `name`'s head to `version` IF its chain is
    * still at `expectSeq` — link(2) EEXIST on the next seq file is the
    * compare-and-swap. Returns false when another writer got there.
    */
  private def casRef(rootP: Path, name: String, expectSeq: Int,
                     version: Int): Boolean = {
    val dir = refDir(rootP, name)
    // only the SEED step (expectSeq 0, branch creation) may mint the
    // dir: a writer advancing seq N whose ref dir vanished raced a
    // [[dropBranch]] — recreating the dir here would resurrect the
    // ref with a gap-toothed seq chain (breaking the CDC tail's
    // dense-seq invariant) and silently un-drop the branch. Fail
    // loudly instead; the already-linked manifest becomes an orphan
    // for [[removeOrphans]].
    if (expectSeq == 0) Files.createDirectories(dir)
    else require(Files.exists(dir),
      s"ref '$name' was dropped while a commit was in flight — " +
        "the commit is not on any ref")
    val tmp = dir.resolve(s"_tmp_${newToken()}")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    try { Files.createLink(dir.resolve(s"${expectSeq + 1}.ref"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The version a ref names. On a never-branched table only `main`
    * resolves — to [[latestVersion]], the legacy head. 0 means the
    * ref points at the empty table.
    */
  def headOf(root: String, ref: String = "main"): Int =
    if (!branched(root)) {
      require(ref == "main", s"table has no branches; unknown ref '$ref'")
      latestVersion(root)
    } else {
      val (_, v) = refHead(root, ref)
      require(v >= 0, s"no ref '$ref' under $root")
      v
    }

  /** Commit parent along the chain: the explicit `parent=` prop when
    * the commit was branch-aware, the numeric predecessor otherwise.
    */
  def parentOf(root: String, v: Int): Int =
    propsOf(root, v).get("parent").map(_.toInt).getOrElse(v - 1)

  /** Commit wall-clock of version `v`, epoch millis: the `ts` prop
    * [[commit]] stamps (strictly monotone along a lineage); a pre-r14
    * manifest without one falls back to the manifest file's mtime —
    * the same physical clock retention already trusts. NOTE the
    * fallback is RAW: mtimes can tie or invert along a legacy lineage
    * (copies, clock steps), so consumers needing the monotone premise
    * must clamp along the walk, as [[versionAsOf]] does.
    */
  def commitTimeOf(root: String, v: Int): Long =
    propsOf(root, v).get("ts").map(_.toLong).getOrElse(
      Files.getLastModifiedTime(manifestPath(Paths.get(root), v)).toMillis)

  /** TIMESTAMP time travel (Iceberg's `FOR SYSTEM_TIME AS OF` /
    * Delta's `timestampAsOf`): the LATEST commit on `ref`'s lineage
    * whose commit time is ≤ `tsMillis` — "the table as a reader at
    * that wall-clock instant saw it". Commit stamps are strictly
    * monotone along a lineage ([[commit]]), so the answer is unique;
    * resolution walks surviving metadata only (O(history) small file
    * reads on the driver, zero data I/O). Refuses a timestamp before
    * the ref's surviving history: there was no table to read then —
    * returning the oldest snapshot would silently misdate it.
    *
    * Pre-r14 history (r15, ADVICE): a legacy commit's mtime fallback
    * can tie with or invert against its neighbors, which would break
    * the uniqueness argument — so resolution clamps each commit's
    * time to the RUNNING MAX along the ascending lineage. Stamped
    * (r14+) commits are untouched by the clamp (already strictly
    * increasing); legacy stretches resolve best-effort but
    * DETERMINISTICALLY: the latest version whose clamped time is
    * ≤ the ask, never an arbitrary member of a tied set.
    */
  def versionAsOf(root: String, tsMillis: Long, ref: String = "main"): Int = {
    var run = Long.MinValue
    val at = lineage(root, headOf(root, ref)) // ascending
      .map { v => run = math.max(run, commitTimeOf(root, v)); (v, run) }
      .filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no commit on '$ref' at or before ts=$tsMillis under $root " +
        "(timestamp predates the ref's surviving history)")
    at.last._1
  }

  /** The branch a commit landed on (`main` for legacy manifests). */
  def branchOf(root: String, v: Int): String =
    propsOf(root, v).getOrElse("branch", "main")

  /** Ancestors of `head` (inclusive) by parent pointers, ascending.
    * The walk STOPS at the first expired (missing) manifest — history
    * before an expiration horizon is simply absent, as in
    * Delta/Iceberg. On a legacy table this is the numeric range down
    * to the horizon.
    */
  def lineage(root: String, head: Int): Seq[Int] = {
    val rootP = Paths.get(root)
    var v = head
    var acc = List.empty[Int]
    while (v > 0 && Files.exists(manifestPath(rootP, v))) {
      acc = v :: acc
      v = parentOf(root, v)
    }
    acc
  }

  /** Chain versions in `(from, to]`, ascending — the validation/CDC
    * window between two commits on ONE branch. Unlike [[lineage]] this
    * FAILS on a missing intermediate manifest (a correctness window
    * cannot silently skip history) and on `from` not being an ancestor
    * of `to` (diverged refs have no linear window). Public because the
    * streaming ref tail replays exactly this window per ref advance.
    */
  def lineageBetween(root: String, from: Int, to: Int): Seq[Int] = {
    var v = to
    var acc = List.empty[Int]
    while (v > from) {
      acc = v :: acc
      v = parentOf(root, v)
    }
    require(v == from,
      s"v$from is not an ancestor of v$to under $root (diverged refs?)")
    acc
  }

  /** Create branch `name` at `from` (default: the current main head).
    * The FIRST branch materializes `_refs/main` from the legacy head —
    * from that point every commit path resolves and advances refs.
    * Must not race concurrent writers (admin op; a real catalog's
    * metadata CAS serializes this step).
    */
  def createBranch(root: String, name: String, from: Int = -1): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"illegal branch name: $name")
    require(name != "main", "'main' always exists")
    val rootP = Paths.get(root)
    if (!branched(root)) {
      val cur = latestVersion(root)
      casRef(rootP, "main", 0, cur)
    }
    val v = if (from == -1) headOf(root, "main") else from
    require(v == 0 || Files.exists(manifestPath(rootP, v)),
      s"cannot branch from missing version $v under $root")
    require(refHead(root, name)._2 < 0 && casRef(rootP, name, 0, v),
      s"branch '$name' already exists")
  }

  /** Drop a branch ref. Its commits stay on disk as unreachable
    * manifests until [[removeOrphans]] (age-guarded) reaps them.
    * Like [[createBranch]], an admin op that must not race writers ON
    * THIS BRANCH: an in-flight commit loses its ref CAS loudly (its
    * manifest orphans), never resurrects the dropped ref.
    */
  def dropBranch(root: String, name: String): Unit = {
    require(name != "main", "cannot drop main")
    val dir = refDir(Paths.get(root), name)
    require(Files.exists(dir), s"no branch '$name' under $root")
    deleteTreeQuietly(dir)
  }

  /** All branches as (name, head version). Includes `main` once the
    * table is branched.
    */
  def branches(root: String): Seq[(String, Int)] = {
    val dir = refsDir(Paths.get(root))
    if (!Files.exists(dir)) return Nil
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
      .map(n => n -> refHead(root, n)._2)
      .filter(_._2 >= 0)
    finally listing.close()
  }

  /** FAST-FORWARD `target` to `source`'s head — the publish step of
    * Write-Audit-Publish: the audit branch's commits become `target`'s
    * history in one ref swap, no data or manifest I/O. Requires
    * `target`'s head to be an ancestor of (or equal to) `source`'s —
    * a diverged target needs a merge, not a fast-forward — and fails
    * on a concurrent `target` commit (the head CAS). Returns the new
    * shared head version.
    */
  def fastForward(root: String, target: String, source: String): Int = {
    require(branched(root), s"no refs under $root")
    val rootP = Paths.get(root)
    val (tSeq, tHead) = refHead(root, target)
    require(tHead >= 0, s"no ref '$target' under $root")
    val sHead = headOf(root, source)
    if (tHead == sHead) return sHead
    // ancestry check: walk source's chain down to target's head
    lineageBetween(root, tHead, sHead)
    require(casRef(rootP, target, tSeq, sHead),
      s"concurrent commit moved '$target' during fast-forward — re-run")
    sHead
  }

  /** CHERRY-PICK (Iceberg `cherrypick_snapshot`, append-only): replay
    * version `v`'s OWN change — the data files its commit added — onto
    * `target`'s head as a NEW commit, without moving `target` to `v`'s
    * whole lineage. This is the diverged-refs story [[fastForward]]
    * refuses: pull one audited commit from a branch whose other
    * history main does not want. Restricted to plain APPEND commits,
    * as in Iceberg — a delete/merge/update/rewrite delta is defined
    * against its parent's row set and cannot replay safely onto a
    * diverged head.
    *
    * SEQUENCE-NUMBER CORRECTNESS is the subtle half: reusing the
    * source entry lines verbatim would carry `data_v<v>` paths, and a
    * delete set committed on `target` at d > v would wrongly apply to
    * the replayed rows (they'd arrive "in the past" and tombstones
    * could kill them on arrival). The pick therefore HARD-LINKS the
    * source parquet files under a `data_v<w>` directory carrying the
    * NEW commit's number — zero data copy, the files get the sequence
    * number of the commit that (re)introduced them, and a re-insert
    * after a delete survives exactly as a fresh append would. Stats /
    * bloom / partition tokens ride the manifest lines unchanged (same
    * bytes, same footers). Returns the new version on `target`.
    */
  def cherryPick(spark: SparkSession, root: String, target: String,
                 v: Int): Int = {
    val rootP = Paths.get(root)
    require(branched(root), s"no refs under $root")
    require(Files.exists(manifestPath(rootP, v)),
      s"cannot cherry-pick missing version $v under $root")
    val op = propsOf(root, v).getOrElse("op", "unknown")
    require(op == "append",
      s"only append commits cherry-pick; v$v is '$op' (its delta is " +
        "defined against its own parent's row set)")
    val targetHist = lineage(root, headOf(root, target))
    require(!targetHist.contains(v) &&
      !targetHist.flatMap(h => propsOf(root, h).get("pickedFrom"))
        .contains(v.toString),
      s"v$v is already in '$target''s history — a second pick would " +
        "duplicate its rows")
    val own = rawLines(root, v).filter { l =>
      !l.startsWith("#delete\t") && !l.startsWith("#posdelete\t") &&
        dataVersionOf(l.split('\t').head) == v
    }
    require(own.nonEmpty, s"v$v added no data files; nothing to pick")
    val st = new Staged(root, Seq("data"))
    val rootAbs = rootP.toAbsolutePath
    val lines = own.map { line =>
      val parts = line.split('\t')
      val f = Paths.get(parts.head).toAbsolutePath
      val rel = rootAbs.relativize(f)
      // drop the source data dir's top segment, keep any partition
      // subdirs beneath it
      val sub = rel.subpath(1, rel.getNameCount)
      val out = st.dir("data").resolve(sub.toString)
      Files.createDirectories(out.getParent)
      if (!Files.exists(out)) Files.createLink(out, f)
      (out.toAbsolutePath.toString +: parts.tail.toSeq).mkString("\t")
    }
    val srcSchema = schemaAt(spark, root, v)
    commitLoop(st, target) { (_, parent) =>
      () => Attempt(promotedSchema(srcSchema, root, parent),
        carriedRefs(root, parent) ++ lines,
        Map("op" -> "append", "pickedFrom" -> v.toString))
    }
  }

  /** ROLLBACK (Iceberg `rollback_to_snapshot`): move a ref's head
    * back to one of its own ancestors — the undo story for a bad
    * commit, one ref swap, no data I/O. The abandoned suffix commits
    * stay on disk as unreachable manifests (time travel by explicit
    * version still reads them) until [[removeOrphans]]' age guard
    * reaps them; the next commit on the ref forks from the rollback
    * point. The CDC ref tail treats the rollback seq as carrying
    * nothing to apply (it does NOT retract the abandoned commits'
    * changes — a consumer needing exactness re-syncs, the Delta CDF
    * restore semantics) and post-rollback commits flow as ordinary
    * windows from the new head. Requires `to` to be in the
    * ref's current lineage — rolling "back" to an unrelated version
    * is a fork, not a rollback. Fails on a concurrent head move.
    */
  def rollback(root: String, ref: String, to: Int): Int = {
    require(branched(root),
      s"no refs under $root — createBranch first (rollback is a ref op)")
    val rootP = Paths.get(root)
    val (seq, head) = refHead(root, ref)
    require(head >= 0, s"no ref '$ref' under $root")
    require(to != head, s"'$ref' is already at v$to")
    require(lineage(root, head).contains(to),
      s"v$to is not an ancestor of '$ref''s head v$head — " +
        "that would be a fork, not a rollback")
    require(casRef(rootP, ref, seq, to),
      s"concurrent commit moved '$ref' during rollback — re-run")
    to
  }

  /** Read the table as a branch sees it. */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, headOf(root, name))

  /** True iff commit `v` recorded any row-level change — its own data
    * files or a delete set committed at `v`. A NO-CHANGE commit (an
    * append of an empty frame that produced no files) has nothing for
    * the CDC feed; the streaming tails skip it instead of crashing
    * [[changesBetween]]'s non-empty-window require on every restart.
    */
  def commitHasChanges(root: String, v: Int): Boolean =
    entries(root, v).exists(l => dataVersionOf(l.split('\t').head) == v) ||
      deleteSets(root, v).exists(_._1._1 == v) ||
      posDeleteSets(root, v).exists(_._1 == v)

  /** The refs metadata TABLE — Iceberg's `table.refs`: every branch
    * and tag with the version it names. Driver-side ref/tag files by
    * design, like every metadata table here.
    */
  def refsTable(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val bs = (if (branched(root)) branches(root)
              else Seq("main" -> latestVersion(root)))
      .map { case (n, v) => (n, "branch", v) }
    val ts = tags(root).map { case (n, v) => (n, "tag", v) }
    (bs ++ ts).toDF("name", "type", "version")
  }

  // ---- THE COMMIT PROTOCOL: one optimistic loop for every write path

  /** Test seam (SnapshotsSpec, SnapshotDmlPropertySpec): runs once in
    * [[commitLoop]], after a write path staged (and, when checked,
    * validated) its files and before its first commit attempt, so every
    * path's rebase, revalidate and abort branches are deterministically
    * exercisable. A no-op in production; a commit the seam itself makes
    * does not re-enter it. CONTRACT: single-threaded tests only — this
    * is module-global state on a production object, so a test that sets
    * it must restore it in a finally, and writes must not run
    * concurrently with a test holding it. @volatile so a restore is at
    * least visible across the suite's threads; the seam is deliberately
    * not per-call plumbing (production call sites carry no test
    * parameter).
    */
  @volatile private[sources] var afterCheckedValidation: () => Unit = () => ()

  /** A commit's staged dirs, `<kind>_v<v>_<token>` under the table root,
    * allocated at the next global version number and moved by
    * [[commitLoop]] to every reallocated one, so [[dataVersionOf]]
    * sequence scoping stays truthful. Paths write under [[dir]] and
    * may name their staged files by the first-allocation paths; the
    * loop [[moved]]s manifest lines to the attempt's number.
    */
  private final class Staged(val root: String, val kinds: Seq[String]) {
    val rootP: Path = Paths.get(root)
    Files.createDirectories(rootP.resolve("_manifests"))
    val token: String = newToken()
    private val v0 = latestVersion(root) + 1
    var v: Int = v0
    def dir(kind: String): Path = rootP.resolve(s"${kind}_v${v}_$token")
    def moved(line: String): String = kinds.foldLeft(line)((l, k) =>
      l.replace(s"${k}_v${v0}_$token", s"${k}_v${v}_$token"))
    def drop(): Unit = kinds.foreach(k => deleteTreeQuietly(dir(k)))
  }

  /** What one commit attempt publishes: the committed schema, the whole
    * manifest body (carried refs plus the commit's own lines) and the
    * commit props.
    */
  private final case class Attempt(schema: org.apache.spark.sql.types.StructType,
                                   lines: Seq[String], props: Map[String, String])

  /** THE optimistic commit loop: every write path commits through it
    * (Iceberg's `SnapshotProducer.commit` and Delta's
    * `OptimisticTransaction` each keep exactly one retry loop). Per
    * attempt at version v:
    *   1. resolve the branch basis ([[commitBasis]]); v at or below the
    *      parent is a stale pre-write allocation (another branch
    *      advanced) and reallocates — publishing it would invert the
    *      sequence order that delete scoping and lineage rely on;
    *   2. `attempt(v, parent)` runs the path's CHECK, which aborts by
    *      throwing — the staged dirs are deleted first, so a refused
    *      commit changes NOTHING — or revalidates, and returns what to
    *      publish;
    *   3. [[publish]]; a lost head CAS or a version number another
    *      writer claimed reallocates ([[reallocateStaged]]) and retries.
    * Staged dirs are deleted ONLY when the check throws, never when
    * commitBasis or publish throws: a linked manifest may already name
    * them. Returns the committed version.
    *
    * The per-path checks:
    *   - append, appendPartitioned, cherryPick: none (the rows are new);
    *   - appendChecked: an InboundRef basis move aborts
    *     ([[basisInvalidated]], CME); Unique legs revalidate against
    *     the new head (ISE on a collision);
    *   - deleteWhere: the key column missing from the parent's schema
    *     (IAE); deleteChecked: an InboundRef basis move (CME) first;
    *   - deleteWhereMatching: a rewrite in the window
    *     ([[abortIfRewritten]], CME); updateWhere: the same;
    *     updateChecked: a basis move (CME) first;
    *   - merge: a concurrent commit touching its keys
    *     ([[keysTouchedBetween]], CME); mergeChecked: a basis move
    *     (CME) first;
    *   - compact, compactManifests: any head move (ISE).
    */
  private def commitLoop(st: Staged, branch: String)(
      attempt: (Int, Int) => () => Attempt): Int = {
    // the test seam, once per commit; a commit it makes runs without it
    val seam = afterCheckedValidation
    afterCheckedValidation = () => ()
    try seam() finally afterCheckedValidation = seam
    var committed = -1
    while (committed < 0) {
      val (parent, seq) = commitBasis(st.root, branch, st.v)
      if (st.v > parent) {
        val publishable =
          try attempt(st.v, parent)
          catch { case scala.util.control.NonFatal(e) => st.drop(); throw e }
        val a = publishable()
        try {
          if (publish(st.rootP, branch, st.v, seq, parent, a.schema,
              a.lines.map(st.moved), a.props)) committed = st.v
        } catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
      if (committed < 0)
        st.v = reallocateStaged(st.rootP, st.root, st.v, st.token, st.kinds)
    }
    committed
  }

  /** The checked-DML basis rule, one predicate for every checked write:
    * did a commit in `(basis, parent]` invalidate a validation that ran
    * against `basis`'s post-image? Only post-image-scoped checks have a
    * basis (row-local checks validate the written bytes alone) and a
    * rewrite carries the same rows, so neither costs liveness. A Unique
    * basis falls to any other commit, since an append can add a
    * colliding key; an InboundRef basis only to one that can REMOVE a
    * key (delete/merge/update): appends only add keys, InboundRef is
    * monotone in the table's key set, and cherry-picks strip delete
    * lines, so op=append is purely additive everywhere (r16).
    *
    * Fail-SAFE under concurrent ref surgery (r16 review finding): a
    * concurrent rollback makes `basis` a non-ancestor of `parent`, and
    * [[lineageBetween]]'s divergence IllegalArgumentException must not
    * mask the documented ConcurrentModificationException — a window the
    * walker cannot even resolve is by definition invalidated.
    */
  private def basisInvalidated(root: String,
      checks: Seq[graft.operators.QualityChecks.Check],
      basis: Int, parent: Int): Boolean = {
    val hasU = checks.exists(_.isInstanceOf[graft.operators.QualityChecks.Unique])
    val hasI = checks.exists(_.isInstanceOf[graft.operators.QualityChecks.InboundRef])
    (hasU || hasI) && parent != basis &&
      (try lineageBetween(root, basis, parent).exists { w =>
        val p = propsOf(root, w)
        !p.get("rewrite").contains("true") &&
          (hasU || !p.get("op").contains("append"))
      } catch { case _: IllegalArgumentException => true })
  }

  /** Position tombstones name PHYSICAL files, so a rewrite anywhere in
    * the unseen window — the branch chain `(base, parent]` — moves
    * their rows to new paths: the tombstones would dangle and the rows
    * resurrect. Abort rather than corrupt (the Iceberg
    * validateNoConflicting* rule for position deletes).
    */
  private def abortIfRewritten(root: String, base: Int, parent: Int,
                               what: String): Unit =
    lineageBetween(root, base, parent)
      .find(w => propsOf(root, w).get("rewrite").contains("true"))
      .foreach { w => throw new java.util.ConcurrentModificationException(
        s"$what aborted: commit $w rewrote the data files these " +
          "tombstones name — re-read and re-run") }

  /** Resolve the basis of a commit on `branch`: (parent version, head
    * seq for the ref CAS). Legacy tables commit against the numeric
    * predecessor with no ref step (seq −1).
    */
  private def commitBasis(root: String, branch: String, v: Int): (Int, Int) =
    if (!branched(root)) {
      require(branch == "main",
        s"table has no branches; cannot commit to '$branch' " +
          "(createBranch first)")
      (v - 1, -1)
    } else {
      val (seq, head) = refHead(root, branch)
      require(head >= 0, s"no branch '$branch' under $root")
      (head, seq)
    }

  /** Pick the next attempt's version number and move the staged
    * `<kind>_v<v>_<token>` dirs under it — the ONE spelling of the
    * rebase/reallocation step [[commitLoop]] retries through. The
    * result exceeds BOTH the current global allocator state and the
    * previous attempt, so a version number never regresses across
    * retries.
    */
  private def reallocateStaged(rootP: Path, root: String, v: Int,
                               token: String, kinds: Seq[String]): Int = {
    val newV = math.max(latestVersion(root), v) + 1
    kinds.foreach { k =>
      val src = rootP.resolve(s"${k}_v${v}_$token")
      if (Files.exists(src))
        Files.move(src, rootP.resolve(s"${k}_v${newV}_$token"))
    }
    newV
  }

  /** Manifest link + (branched) ref CAS — the two-step publish of one
    * commit attempt. Returns true when the commit is durable on the
    * branch; false when the head CAS lost (own manifest unlinked —
    * caller re-resolves the head and retries). Propagates
    * [[java.nio.file.FileAlreadyExistsException]] when the VERSION
    * NUMBER was claimed by someone else (caller reallocates).
    */
  private def publish(rootP: Path, branch: String, v: Int,
                      seq: Int, parent: Int,
                      schema: org.apache.spark.sql.types.StructType,
                      lines: Seq[String],
                      props: Map[String, String]): Boolean = {
    val fullProps =
      if (seq < 0) props
      else props + ("parent" -> parent.toString) + ("branch" -> branch)
    commit(rootP, v, schema, lines, fullProps)
    if (seq < 0) true
    else if (casRef(rootP, branch, seq, v)) true
    else { Files.deleteIfExists(manifestPath(rootP, v)); false }
  }

  /** SNAPSHOT EXPIRATION — the garbage-collection half of the
    * compaction story (Iceberg `expire_snapshots` / Delta VACUUM):
    * drop every version < `keepFrom` and delete the data files no
    * retained manifest references. Until expiration runs, a compacted
    * table holds BOTH the original small files (for time travel) and
    * the rewritten ones; expire is the explicit, destructive decision
    * to give the history up. Retention is manifest-driven: a file
    * shared between an expired and a retained version survives
    * (appends reuse files across versions, so reference counting, not
    * version age, decides deletion). Time travel to any version ≥
    * `keepFrom` is untouched; reading an expired version fails loudly
    * at manifest resolution. Returns the number of data files deleted.
    */
  // reference-count DATA and DELETE files alike: a delete set is
  // reachable storage exactly as long as a retained manifest lists it
  private def storagePathsOf(root: String, v: Int): Seq[String] =
    rawLines(root, v).map { l =>
      if (l.startsWith("#delete\t") || l.startsWith("#posdelete\t"))
        l.split('\t')(1)
      else l.split('\t').head
    }

  // shared destructive tail of [[expire]]/[[expireRefs]]: delete the
  // data files no surviving manifest references, then the doomed
  // manifests — files first, so an interrupted run leaves a manifest
  // naming missing files (a LOUD read failure) rather than an orphaned
  // file set silently leaking disk
  private def reapVersions(root: String, doomed: Seq[Int]): Int = {
    val rootP = Paths.get(root)
    val doomedSet = doomed.toSet
    val retainedVs = (1 to latestVersion(root))
      .filter(v => !doomedSet.contains(v) &&
        Files.exists(manifestPath(rootP, v)))
    val retained = retainedVs.flatMap(storagePathsOf(root, _)).toSet
    val files = doomed.flatMap(storagePathsOf(root, _)).distinct
      .filterNot(retained.contains)
    // manifest SEGMENTS are reference-counted storage exactly like data
    // files (r13): a segment survives as long as any retained list
    // names it — resolve the doomed sets BEFORE their lists vanish
    val retainedSegs = retainedVs.flatMap(segmentRefsOf(root, _)).toSet
    val doomedSegs = doomed.flatMap(segmentRefsOf(root, _)).distinct
      .filterNot(retainedSegs.contains)
    files.foreach(f => Files.deleteIfExists(Paths.get(f)))
    doomed.foreach(v => Files.deleteIfExists(manifestPath(rootP, v)))
    doomedSegs.foreach(s =>
      Files.deleteIfExists(rootP.resolve("_manifests").resolve(s)))
    files.size
  }

  def expire(root: String, keepFrom: Int): Int = {
    val latest = latestVersion(root)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"keepFrom must be in [1, $latest]: $keepFrom")
    // retention honors TAGS (r9) and BRANCHES (r11): a tagged version
    // below the cutoff stays fully readable, and every version in a
    // non-main branch's lineage survives regardless of its number —
    // Iceberg's expire_snapshots ref-retention semantics. The cutoff
    // itself applies to MAIN's parent-pointer chain: on a branched
    // table "versions below keepFrom" means main-lineage versions, not
    // raw numbers (another branch's commit numbered below the cutoff
    // is that branch's business). Unreachable manifests (dropped
    // branches, crashed two-phase commits) are NOT expired here —
    // [[removeOrphans]] reaps them under its age guard, because a
    // just-linked manifest whose ref CAS is in flight looks
    // unreachable for a moment.
    val tagged = tags(root).map(_._2).toSet
    val branchKept =
      branches(root).filterNot(_._1 == "main")
        .flatMap { case (_, head) => lineage(root, head) }.toSet
    // no ref's CURRENT snapshot is ever expirable (Iceberg's rule) —
    // on a branched table `keepFrom` can legally exceed main's head
    // version number (the global allocator runs ahead of every ref),
    // and without this guard such a call would delete main's head
    // manifest and brick the ref
    val refHeads = (headOf(root, "main") +:
      branches(root).map(_._2)).toSet
    val mainChain = lineage(root, headOf(root, "main"))
    val expiredVersions = mainChain
      .filter(v => v < keepFrom && !tagged.contains(v) &&
        !branchKept.contains(v) && !refHeads.contains(v))
    reapVersions(root, expiredVersions)
  }

  /** PER-REF RETENTION — the branch-lifecycle knobs [[expire]] lacks
    * (Iceberg branch retention: `min-snapshots-to-keep` +
    * `max-snapshot-age-ms`): sweep `branch`'s OWN history by count and
    * age instead of main's version cutoff. A lineage snapshot is
    * expirable iff it is (a) more than `minSnapshotsToKeep` commits
    * behind the branch head AND (b) its manifest is older than
    * `maxAgeMillis` — pass 0 to retain purely by count — AND (c) no
    * OTHER retention rule owns it: tagged versions, every other
    * BRANCH's full lineage (main's chain included) and ref heads all
    * survive. A tag pins its own VERSION only, never its ancestry —
    * reading the tag keeps working, but a lineage walk from it stops
    * at the first expired parent (the same mid-chain truncation rule
    * as below; [[removeOrphans]]' reachability is the broader walk,
    * this op's protection set is deliberately version-scoped).
    * Expiring a mid-chain version truncates
    * the branch's [[lineage]] walk there (the same dangling-parent
    * stop [[expire]] already produces on main); the head and the
    * retained recent window stay fully readable, and protected older
    * versions remain reachable through their own refs. Data files are
    * reference-counted across ALL surviving manifests, never deleted
    * by version age. Returns the number of data files deleted.
    */
  def expireRefs(root: String, branch: String, minSnapshotsToKeep: Int,
                 maxAgeMillis: Long): Int = {
    require(minSnapshotsToKeep >= 1,
      s"a ref's head is never expirable: minSnapshotsToKeep must be >= 1, " +
        s"got $minSnapshotsToKeep")
    require(maxAgeMillis >= 0, s"maxAgeMillis must be >= 0: $maxAgeMillis")
    require(branched(root), s"$root has no refs to retain")
    val rootP = Paths.get(root)
    val chain = lineage(root, headOf(root, branch))   // ascending
    val cutoff = System.currentTimeMillis() - maxAgeMillis
    // tags protect their own VERSION, not its ancestry — the same rule
    // [[expire]] applies on main (tag time travel reads the tagged
    // manifest directly; its parent walk truncating is the documented
    // dangling-parent stop)
    val tagged = tags(root).map(_._2).toSet
    val otherKept = branches(root).filterNot(_._1 == branch).map(_._2)
      .flatMap(lineage(root, _)).toSet
    val refHeads = branches(root).map(_._2).toSet
    val doomed = chain.dropRight(minSnapshotsToKeep)
      .filter { v =>
        Files.getLastModifiedTime(manifestPath(rootP, v)).toMillis <= cutoff &&
          !tagged.contains(v) && !otherKept.contains(v) &&
          !refHeads.contains(v)
      }
    reapVersions(root, doomed)
  }
}

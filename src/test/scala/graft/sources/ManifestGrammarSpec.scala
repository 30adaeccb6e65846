package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The snapshot store's one manifest grammar: every line it writes
  * parses and renders back to the same bytes, a line or list lacking a
  * token every commit writes is refused by name, and partition pruning
  * compares the one (escaped) spelling it writes.
  */
class ManifestGrammarSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._
  import Snapshots._

  private def manifestFiles(root: String): Seq[Path] = {
    val s = Files.list(Paths.get(root, "_manifests"))
    try s.iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("_tmp_")).toSeq.sorted
    finally s.close()
  }

  private def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq

  private def listFile(root: String, v: Int): Path = Paths.get(root, "_manifests", s"$v.txt")

  private def rows(n: Int, from: Long = 0L) =
    (from until from + n).map(i => (i, s"s${i % 3}")).toDF("id", "s")

  test("every header, list and segment line round-trips through parse and render") {
    val root = Staging.tempDir("grammar_roundtrip").toString
    val spec = IdentityPartition("s")
    val bucket = BucketPartition("id", 4)
    append(rows(6), root, bloomCols = Seq("s"))
    appendPartitioned(rows(6, 10L), root, spec)
    appendPartitioned(rows(6, 20L), root, bucket)
    deleteWhere(spark, root, "id", Seq(1L).toDF("id"))
    deleteWhereMatching(spark, root, $"id" === 2L)
    val checks = Seq(graft.operators.QualityChecks.RowPredicate("id_not_null", $"id".isNull))
    updateChecked(spark, root, $"id" === 3L, Map("s" -> org.apache.spark.sql.functions.lit("u")),
      checks)
    mergeChecked(spark, root, "id", Seq((4L, "m"), (99L, "n")).toDF("id", "s"), checks)
    compact(spark, root, 2)
    append(rows(4, 40L), root)
    compactManifests(root)
    append(rows(4, 50L), root)
    compactManifests(root, clusterBy = Some("id"))
    rewriteManifests(spark, root, targetLines = 2)
    createBranch(root, "side")
    val picked = appendTo(rows(3, 60L), root, "side")
    cherryPick(spark, root, "main", picked)

    val parsed = manifestFiles(root).flatMap { p =>
      lines(p).map { l =>
        val line = parseLine(p.toString, l)
        assert(render(line) == l, s"$p: line does not round-trip")
        line
      }
    }
    // every line kind the store writes was exercised
    val kinds = parsed.map {
      case _: SchemaLine => "schema"
      case _: PropsLine => "props"
      case s: Segment => if (s.partAggs.nonEmpty) "segment+partagg" else "segment"
      case e: Entry =>
        if (e.blooms.nonEmpty) "entry+bloom" else if (e.parts.nonEmpty) "entry+part"
        else "entry"
      case _: Delete => "delete"
      case _: PosDelete => "posdelete"
    }.toSet
    assert(kinds == Set("schema", "props", "segment", "segment+partagg", "entry",
      "entry+bloom", "entry+part", "delete", "posdelete"), kinds)
  }

  /** Rewrite `p` line by line and expect reading it to refuse with an
    * IllegalStateException naming `p` and `token`.
    */
  private def assertRefused(p: Path, token: String)(edit: Seq[String] => Seq[String])
      (readIt: => Any): Unit = {
    Files.write(p, edit(lines(p)).mkString("\n").getBytes("UTF-8"))
    val err = intercept[IllegalStateException](readIt)
    assert(err.getMessage.contains(p.toString) && err.getMessage.contains(token),
      err.getMessage)
  }

  private def oneCommit(name: String): String = {
    val root = Staging.tempDir(name).toString
    append(rows(3), root)
    root
  }

  private def segmentOf(root: String): Path = {
    val segs = manifestFiles(root).filter(_.getFileName.toString.startsWith("_seg_"))
    assert(segs.size == 1)
    segs.head
  }

  test("a list without #schema is refused") {
    val root = oneCommit("grammar_no_schema")
    assertRefused(listFile(root, 1), "#schema")(_.filterNot(_.startsWith("#schema\t"))) {
      files(root, 1)
    }
  }

  test("a data entry without #stats or without #rows= is refused") {
    val root = oneCommit("grammar_no_rows")
    val seg = segmentOf(root)
    val before = lines(seg)
    assertRefused(seg, "#rows=")(_.map(_.split('\t').filterNot(_.startsWith("#rows="))
      .mkString("\t"))) { files(root, 1) }
    Files.write(seg, before.mkString("\n").getBytes("UTF-8"))
    // a path-only entry: no stats block at all
    assertRefused(seg, "#stats")(_.map(_.split('\t').head)) { files(root, 1) }
  }

  test("a commit without a ts stamp is refused") {
    val root = oneCommit("grammar_no_ts")
    assertRefused(listFile(root, 1), "ts")(_.map { l =>
      if (l.startsWith("#props\t")) l.split('\t').filterNot(_.startsWith("ts=")).mkString("\t")
      else l
    }) { commitTimeOf(root, 1) }
  }

  test("an inline entry in a committed list is refused") {
    val root = oneCommit("grammar_inline")
    val seg = segmentOf(root)
    val inline = lines(seg)
    assertRefused(listFile(root, 1), "#segment")(ls =>
      ls.filterNot(_.startsWith("#segment\t")) ++ inline) { files(root, 1) }
  }

  test("partition pruning is exact for values whose escaped spellings collide with raw ones") {
    val root = Staging.tempDir("grammar_exact").toString
    val spec = IdentityPartition("s")
    appendPartitioned(Seq((1L, "a:b"), (2L, "a%3Ab")).toDF("id", "s"), root, spec)
    // Spark writes a:b under _p=a%3Ab and a%3Ab under _p=a%253Ab
    val all = files(root, 1)
    val home = all.filter(_.contains("_p=a%253Ab"))
    assert(home.nonEmpty && home.size < all.size)
    assert(partitionPrunedFiles(root, 1, spec, "a%3Ab") == home)
    assert(partitionPrunedFiles(root, 1, spec, "a:b") == all.diff(home))
    assert(readPartitionPruned(spark, root, 1, spec, "a%3Ab").select($"id").as[Long]
      .collect().toSeq == Seq(2L))
  }
}

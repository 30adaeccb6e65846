package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The tokens() contract appears (inlined) in oracle SQL across six
  * modules; every copy must carry the ONE canonical spelling — a
  * tokenizer change that updates some oracles but not others would
  * fail gates in a way that looks like an engine bug.
  */
class OracleSqlContractSpec extends AnyFunSuite {

  test("every oracle's tokenizer inline matches the canonical spelling") {
    // the INVARIANT core: split on Java-\s over lower(col). The
    // len(x)>0 filter wrapper varies legitimately (some oracles fuse a
    // stopword predicate into the same lambda) — the split regex and
    // the lowercasing are what must never drift from tokens()
    val canon = """string_split_regex\(lower\(\w+\), '\\s\+'\)""".r
    val offenders = graft.SparkEntry.oracleSql.toSeq.flatMap { case (name, rawSql) =>
      // stripMargin line wraps are not drift — compare on collapsed
      // whitespace (the '\s+' LITERAL is backslash-s, untouched)
      val sql = rawSql.replaceAll("[ \t\r\n|]+", " ")
      val occurrences = "string_split_regex".r.findAllMatchIn(sql).size
      val canonical = canon.findAllMatchIn(sql).size
      if (occurrences != canonical) Some(s"$name ($canonical/$occurrences canonical)")
      else None
    }
    assert(offenders.isEmpty,
      s"non-canonical tokenizer spelling in: ${offenders.mkString(", ")}")
  }

  test("every registered query carries an oracle (1:1 minus explicit allowlist)") {
    // r18 verdict #4 (gate-harness review): a typo'd or duplicated
    // oracle key silently downgraded its query to the driver's weaker
    // rows-only check. oracleSql's assembly guard refuses drift; this
    // spec pins the CURRENT state — full coverage, empty allowlist —
    // so loosening either is a visible, reviewed decision.
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert(q == o, s"coverage drift — queries without oracle: " +
      s"${(q -- o).toSeq.sorted.mkString(",")}; orphan oracles: " +
      s"${(o -- q).toSeq.sorted.mkString(",")}")
    assert(graft.SparkEntry.rowsOnlyQueries.isEmpty,
      "rowsOnlyQueries gained an entry — confirm the op is genuinely " +
        "SQL-inexpressible before weakening its gate")
  }

  test("QUERIES.md stays in sync with the live registry") {
    val md = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("QUERIES.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val documented = """\| (q\d+\w*) \|""".r
      .findAllMatchIn(md).map(_.group(1)).toSet
    val registered = graft.SparkEntry.queries.keySet
    val missing = registered -- documented
    val stale = documented -- registered
    assert(missing.isEmpty && stale.isEmpty,
      s"QUERIES.md drift — missing: ${missing.toSeq.sorted.mkString(",")}; " +
        s"stale: ${stale.toSeq.sorted.mkString(",")} (regenerate via tools/QIndex)")
  }

  test("OracleSql.tokens renders the canonical spelling") {
    assert(OracleSql.tokens("text") ==
      """list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)""")
  }

  test("OracleSql.bucketSql renders the NULL-sentinel-exact spelling") {
    // mirrors Sampling.bucket INCLUDING the NULL-key coalesce (r17):
    // an oracle hashing a NULL key to NULL instead of the sentinel
    // diverges the moment a fixture carries one
    assert(OracleSql.bucketSql("user_id", "fold") ==
      "CAST('0x' || substr(md5(coalesce(CAST(user_id AS VARCHAR), " +
        "chr(0) || 'null') || chr(1) || 'fold'), 18, 15) AS BIGINT) % 1000000")
  }

  /** The float-gate rule (the q100/q125 red-row class): `round()` on a
    * double differs between engines AND across DuckDB versions at .5
    * boundaries (Spark HALF_UP on the shortest decimal repr vs binary
    * rounding), so a double may never be rounded STRAIGHT into an
    * integer gate column. The sanctioned spellings are
    * `floor(x·k + 0.5)` (same IEEE double → same floor on any engine)
    * or an exact integer rational `(2·num·k + den) div (2·den)`.
    * `round(x, d)` kept AS A DOUBLE (the clinical 6dp presentation
    * surface) is a different, 6-round-proven class and stays allowed.
    */
  test("no oracle rounds a double straight into an integer cast") {
    val forbidden = """CAST\s*\(\s*round\s*\(""".r
    val offenders = graft.SparkEntry.oracleSql.toSeq.flatMap { case (name, rawSql) =>
      val sql = rawSql.replaceAll("[ \t\r\n|]+", " ")
      if (forbidden.findFirstIn(sql).isDefined) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"round()->int-cast in oracle SQL of: ${offenders.sorted.mkString(", ")} " +
        "— use CAST(floor(x*k + 0.5) AS BIGINT) (see the float-gate rule)")
  }

  test("no Spark-side query rounds a double straight into an integer cast") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val forbidden = """[^\w]round\(.*\)\s*\.cast\("(long|int)"\)""".r
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if forbidden.findFirstIn(line).isDefined =>
            s"$p:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"round()->.cast(int) on the Spark side at: ${offenders.mkString(", ")} " +
        "— use floor(x*k + 0.5).cast(\"long\") (see the float-gate rule)")
  }

  test("query modules memoize through ArtifactStore, not hand-rolled concurrent maps") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val forbidden = """ConcurrentHashMap|computeIfAbsent""".r
    val walk = java.nio.file.Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if forbidden.findFirstIn(line).isDefined =>
            s"$p:${i + 1}"
        }
      }.toSeq
    finally walk.close()
    assert(offenders.isEmpty,
      s"hand-rolled memo at: ${offenders.mkString(", ")} — stage stores " +
        "with ArtifactStore.staged and memoize values with SessionMemo")
  }

  test("only operators.Materialize checkpoints or releases blocks") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = java.nio.file.Paths.get("src/main/scala/graft/operators/Materialize.scala")
    val forbidden = """localCheckpoint\(|\.unpersist\(""".r
    val walk = java.nio.file.Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != owner)
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if forbidden.findFirstIn(line).isDefined =>
            s"$p:${i + 1}"
        }
      }.toSeq
    finally walk.close()
    assert(offenders.isEmpty,
      s"raw checkpoint or release at: ${offenders.mkString(", ")} — use " +
        "Materialize.local / Materialize.release, or ArtifactStore.parquet for corpus-sized data")
  }
}

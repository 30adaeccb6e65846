package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings — local-iteration
    // filter (the driver always runs the full set)
    val keep: String => Boolean = if (args.length > 2) {
      val pats = args(2).split(",").toSeq
      name => pats.exists(name.contains)
    } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a failed guard or query must never leave a COMPARABLE artifact
    // (r15, ADVICE): with a reused outDir, a prior run's successful
    // parquet for the name would survive the stderr-only failure and
    // the downstream compare could silently pass on stale output
    def clearDump(name: String): Unit = {
      val d = Paths.get(outDir, name)
      if (Files.exists(d)) {
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally s.close()
      }
    }
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        clearDump(name)
        // cap preflight (r14): capped gates' oracles model the cap-free
        // ideal — a corpus crossing a bucket-df cap must fail HERE with
        // the cap named, not as an unexplained hash mismatch downstream
        SparkEntry.capGuards.get(name).foreach { guard =>
          val crossed = guard(spark, sfDir).filter(_._2 > 0)
          if (crossed.nonEmpty) throw new IllegalStateException(
            "gate corpus crosses bucket-df cap — oracle models the " +
              "cap-free ideal; offending caps: " + crossed.map {
                case (cap, n) => s"$cap ($n over-cap buckets)" }.mkString("; "))
        }
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        clearDump(name) // the write itself may have left partial output
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

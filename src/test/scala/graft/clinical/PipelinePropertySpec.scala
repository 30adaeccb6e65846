package graft.clinical

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import java.sql.Timestamp

/** Property-based invariants from SURVEY.md §5 item 4:
  *  - PSW constant per UID; TSW constant per treatment
  *  - WIR ≥ 1 for every surviving row with a non-null weigh-in
  *  - filters only remove rows
  *  - dedup idempotent
  *  - pipeline deterministic under input permutation (sort keys are
  *    unique in generated data apart from exact duplicate rows, so the
  *    total order is well-defined)
  * and the per-user metric pass equals the window formulation
  * ([[WindowMetrics]]) on full rows.
  */
class PipelinePropertySpec extends AnyFunSuite with SparkTestSession {

  /** scalatest-scalacheck bridge is not on the offline classpath; drive
    * the generator directly with deterministic seeds instead.
    */
  private def forAllSeeded(n: Int)(body: Fixture => Unit): Unit =
    (1 to n).foreach { i =>
      body(fixtureGen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }
  import spark.implicits._

  private val base = Timestamp.valueOf("2023-01-01 00:00:00").getTime

  /** users: (UID, gender, age, clinic); weighs: (UID, weight, minute,
    * updated?); treatments: (UID, type, start day).
    */
  case class Fixture(users: Seq[(Option[String], String, Long, Long)],
      weighs: Seq[(String, Option[Double], Long, Boolean)],
      treatments: Seq[(String, Long, Long)])

  /** Small random corpus: n users (a few with a null UID), each with
    * 0–6 weigh-ins at unique minute offsets and 0–2 treatments. Weights
    * are sometimes null or NaN, updated dates sometimes null, and a
    * weigh-in is sometimes duplicated whole (the dedup case).
    */
  private val fixtureGen: Gen[Fixture] = for {
    nUsers <- Gen.choose(1, 8)
    users <- Gen.sequence[Seq[(Option[String], String, Long, Long)], (Option[String], String, Long, Long)](
      (0 until nUsers).map { i =>
        for {
          nullUid <- Gen.frequency(1 -> true, 7 -> false)
          gender <- Gen.oneOf("Male", "Female")
          age <- Gen.choose(10L, 90L)
          clinic <- Gen.oneOf(5066L, 5067L)
        } yield (if (nullUid) None else Some(f"u$i%03d"), gender, age, clinic)
      })
    weighs <- Gen.sequence[Seq[Seq[(String, Option[Double], Long, Boolean)]], Seq[(String, Option[Double], Long, Boolean)]](
      (0 until nUsers).map { i =>
        for {
          k <- Gen.choose(0, 6)
          ws <- Gen.listOfN(k, Gen.frequency(
            8 -> Gen.choose(50.0, 150.0).map(w => Some(math.rint(w * 10) / 10)),
            1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN))))
          updated <- Gen.listOfN(k, Gen.frequency(4 -> true, 1 -> false))
          dup <- Gen.frequency(1 -> true, 4 -> false)
        } yield {
          val rows = ws.zip(updated).zipWithIndex.map { case ((w, u), j) =>
            (f"u$i%03d", w, j.toLong, u)
          }
          if (dup) rows ++ rows.take(1) else rows
        }
      })
    treatments <- Gen.sequence[Seq[Seq[(String, Long, Long)]], Seq[(String, Long, Long)]](
      (0 until nUsers).map { i =>
        for {
          n <- Gen.frequency(1 -> 0, 3 -> 1, 2 -> 2)
          starts <- Gen.listOfN(n, Gen.choose(0L, 20L))
        } yield starts.zipWithIndex.map { case (d, j) => (f"u$i%03d", j + 1L, d) }
      })
  } yield Fixture(users, weighs.flatten, treatments.flatten)

  private def toTables(fx: Fixture) = {
    val users = fx.users.map { case (uid, g, age, clinic) =>
      (uid.orNull, "N", "L", g, 1L, new Timestamp(base), age, 170L,
        new Timestamp(base), true, clinic, Option.empty[Double], true)
    }.toDF(Schemas.users.fieldNames: _*)
    val weights = fx.weighs.map { case (uid, w, j, updated) =>
      val ts = new Timestamp(base + j * 60000 + 86400000L)
      (uid, w, 25.0, 20.0, 55.0, 2.9, 9.7, 1500.0, 47.4, ts,
        if (updated) ts else null, true, false)
    }.toDF(Schemas.weights.fieldNames: _*)
    val treatments = fx.treatments.map { case (uid, tt, day) =>
      (uid, tt, new Timestamp(base + day * 86400000L))
    }.toDF(Schemas.treatments.fieldNames: _*)
    (users, weights, treatments)
  }

  private val wideCfg = PipelineConfig(minAge = 0, maxAge = 200, clinicId = 5066)

  test("PSW constant per UID; TSW constant per treatment; WIR >= 1") {
    forAllSeeded(8) { fx =>
      val (u, w, t) = toTables(fx)
      val out = Pipeline.run(u, w, t, wideCfg).cache()
      val pswCard = out.filter($"Weight".isNotNull)
        .groupBy($"UID").agg(countDistinct($"PSW").as("n"))
        .filter($"n" =!= 1).count()
      assert(pswCard == 0)
      val tswCard = out.filter($"Weight".isNotNull)
        .groupBy($"UID", $"TreatmentTypeID", $"Tmt_StartDate")
        .agg(countDistinct($"TSW").as("n")).filter($"n" =!= 1).count()
      assert(tswCard == 0)
      assert(out.filter($"Wts_UpdatedDate".isNotNull && $"WIR" < 1).count() == 0)
      out.unpersist()
    }
  }

  test("filters only remove rows; dedup idempotent") {
    forAllSeeded(8) { fx =>
      val (u, w, t) = toTables(fx)
      val all = Pipeline.run(u, w, t, wideCfg)
      val male = Pipeline.run(u, w, t, wideCfg.copy(gender = "Male"))
      assert(male.count() <= all.count())
      assert(all.dropDuplicates().count() == all.count())
    }
  }

  test("pipeline deterministic under input permutation") {
    forAllSeeded(6) { fx =>
      val (u, w, t) = toTables(fx)
      val shuffledWeights = w.orderBy(rand(seed = 7))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(canon(Pipeline.run(u, w, t, wideCfg)) ==
        canon(Pipeline.run(u, shuffledWeights, t, wideCfg)))
    }
  }

  /** Full rows, schema included: the pass against the window form.
    * Column metadata is compared by presence.
    */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    def shape(df: DataFrame) =
      df.schema.map(f => (f.name, f.dataType, f.nullable, f.metadata.json == "{}"))
    assert(shape(got) == shape(want), s"$what: schema")
    def canon(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(got) == canon(want), what)
  }

  /** The generated cases the equivalence specs must see at least once. */
  private def cases(fx: Fixture): Set[String] = {
    val uids = fx.users.flatMap(_._1).toSet
    def weighs(uid: String) = fx.weighs.count(_._1 == uid)
    def treatments(uid: String) = fx.treatments.count(_._1 == uid)
    Set(
      "null UID" -> fx.users.exists(_._1.isEmpty),
      "no weigh-ins" -> uids.exists(weighs(_) == 0),
      "no treatment" -> uids.exists(treatments(_) == 0),
      "two treatments" -> uids.exists(treatments(_) == 2),
      "null weight" -> fx.weighs.exists(_._2.isEmpty),
      "NaN weight" -> fx.weighs.exists(_._2.exists(_.isNaN)),
      "null update" -> fx.weighs.exists(!_._4),
      "duplicate row" -> (fx.weighs.distinct.size < fx.weighs.size)
    ).collect { case (name, true) => name }
  }
  private val allCases = Set("null UID", "no weigh-ins", "no treatment", "two treatments",
    "null weight", "NaN weight", "null update", "duplicate row")

  test("the per-user pass equals the window formulation (both modes, dedup on/off)") {
    val cohorts = Seq("week", "month", "ClinicID")
    var seen = Set.empty[String]
    forAllSeeded(6) { fx =>
      seen ++= cases(fx)
      val (u, w, t) = toTables(fx)
      for (strict <- Seq(true, false); dedup <- Seq(true, false)) {
        val cfg = wideCfg.copy(cohort = cohorts(fx.users.size % 3),
          strictCohorts = strict, dedup = dedup)
        assertSameRows(Pipeline.run(u, w, t, cfg),
          WindowMetrics.run(u, w, t, col(cfg.cohort), cfg.cohort, cfg), s"$fx $cfg")
      }
    }
    assert(seen == allCases, s"cases never generated: ${allCases -- seen}")
  }

  test("the per-user pass equals the window formulation on a non-monotone cohort") {
    // minute % 3 revisits cohorts 0, 1, 2 in sort order: a cohort's
    // rows are not contiguous within a user
    val cohort = pmod(minute(col("Wts_CreatedDate")), lit(3))
    forAllSeeded(4) { fx =>
      val (u, w, t) = toTables(fx)
      for (strict <- Seq(true, false)) {
        val cfg = wideCfg.copy(gender = "Male", strictCohorts = strict)
        assertSameRows(Pipeline.runWithCohortExpr(u, w, t, cohort, "m3", cfg),
          WindowMetrics.run(u, w, t, cohort, "m3", cfg), s"$fx $cfg")
      }
    }
  }

  /** `n` users u000… with alternating genders, Male first, so every
    * kept Male user's successor is a Female user that `gender = "Male"`
    * removes. Each has 1–3 weigh-ins (the first one null for every
    * seventh user, so some `_ufw` are null) and one treatment.
    */
  private def alternating(n: Int): Fixture = Fixture(
    users = (0 until n).map(i =>
      (Some(f"u$i%03d"), if (i % 2 == 0) "Male" else "Female", 30L, 5066L)),
    weighs = (0 until n).flatMap(i => (0 to i % 3).map(j =>
      (f"u$i%03d", if (i % 7 == 3 && j == 0) None else Some(60.0 + i + j * 0.5),
        j.toLong, j != 1))),
    treatments = (0 until n).map(i => (f"u$i%03d", 1L, (i % 5).toLong)))

  private def withShufflePartitions(n: Int)(body: => Unit): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def assertBugCompatible(fx: Fixture, cfg: PipelineConfig): Unit = {
    val (u, w, t) = toTables(fx)
    for (cohort <- Seq("week", "ClinicID")) {
      val c = cfg.copy(cohort = cohort, strictCohorts = false)
      assertSameRows(Pipeline.run(u, w, t, c),
        WindowMetrics.run(u, w, t, col(cohort), cohort, c), s"$c")
    }
  }

  test("bug-compatible pass at 7 partitions, users at every partition tail") {
    withShufflePartitions(7)(assertBugCompatible(alternating(60), wideCfg))
  }

  test("bug-compatible pass with more partitions than users (empty partitions)") {
    val fx = alternating(5)
    withShufflePartitions(16)(assertBugCompatible(
      fx.copy(users = fx.users :+ ((None, "Male", 30L, 5066L))), wideCfg))
  }

  test("bug-compatible pass: a partition-tail user whose successor the filter removes") {
    withShufflePartitions(7)(assertBugCompatible(alternating(60), wideCfg.copy(gender = "Male")))
  }
}

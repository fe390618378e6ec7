package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MinHash, SketchConfig}
import scala.util.Random

/** One sketch-table row; `abunds` may be null (scores as flat counts). */
final case class SigRow(filename: String, mins: Array[Long], abunds: Array[Long])

/** [[SignatureSearch]] without the reference fixtures: seeded sketch
  * tables, `linear` ≡ `indexed` ≡ a driver brute-force scan over the
  * `graft.core` kernels (filenames and scores), the loud failure paths,
  * and the plan of one indexed query. */
class SignatureSearchSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Modes = Seq("similarity", "containment", "abundance")

  private def cfgFor(num: Int): SketchConfig =
    if (num > 0) SketchConfig(num = num)
    else SketchConfig(num = 0, maxHash = Long.MaxValue / 4) // scaled: ~1/8 of the hash space

  /** Families of near-duplicates (a base hash set, then copies with
    * 0-60% of the hashes replaced) plus one row with empty mins. Every
    * third row has no abundances. */
  private def table(cfg: SketchConfig, rnd: Random): Seq[SigRow] = {
    val rows = for (f <- 0 until 10; (rate, v) <- Seq(0.0, 0.1, 0.3, 0.6).zipWithIndex) yield {
      val mins = MinHash.sketchHashes(mutate(base(f), rate, rnd), cfg)
      val abunds = if ((f + v) % 3 == 0) null else mins.map(_ => 1L + rnd.nextInt(4))
      SigRow(s"f$f-v$v", mins, abunds)
    }
    rows :+ SigRow("empty", Array.emptyLongArray, Array.emptyLongArray)
  }

  private def base(f: Int): Array[Long] = {
    val r = new Random(1000L + f)
    Array.fill(600)(r.nextLong())
  }

  private def mutate(hashes: Array[Long], rate: Double, rnd: Random): Array[Long] =
    hashes.map(h => if (rnd.nextDouble() < rate) rnd.nextLong() else h)

  /** `rows` as a parquet-backed table whose abundances sit in `abundCol`
    * ("abunds", "abundances", or none). */
  private def write(rows: Seq[SigRow], abundCol: Option[String]): DataFrame = {
    val dir = Files.createTempDirectory("sigsearch_db").toString + "/db.parquet"
    val df = rows.toDF()
    val shaped = abundCol match {
      case Some(name) => df.withColumnRenamed("abunds", name)
      case None => df.drop("abunds")
    }
    shaped.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def index(db: DataFrame): String = {
    val path = Files.createTempDirectory("sigsearch_idx").toString + "/idx.parquet"
    SignatureSearch.buildIndex(db, path)
    path
  }

  /** Driver scan over the `graft.core` kernels: filename → score > thr. */
  private def brute(rows: Seq[SigRow], withAbunds: Boolean, q: SigRow, cfg: SketchConfig,
      thr: Double, mode: String): Map[String, Double] =
    rows.map { r =>
      val s = mode match {
        case "similarity" => MinHash.compare(r.mins, q.mins, cfg)
        case "containment" => MinHash.containment(r.mins, q.mins)
        case "abundance" =>
          def flat(m: Array[Long]) = Array.fill(m.length)(1L)
          val a = if (withAbunds && r.abunds != null) r.abunds else flat(r.mins)
          val qa = if (q.abunds != null) q.abunds else flat(q.mins)
          MinHash.angularSimilarity(r.mins, a, q.mins, qa)
      }
      r.filename -> s
    }.filter(_._2 > thr).toMap

  private def scores(df: DataFrame): Map[String, Double] = {
    val out = df.select("filename", "score").collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(out.map(_._1).distinct.length === out.length, "a row came back twice")
    out.toMap
  }

  private def assertEquivalence(num: Int): Unit = {
    val cfg = cfgFor(num)
    val rnd = new Random(7L + num)
    val rows = table(cfg, rnd)
    val queries = Seq(
      rows.head, // a member, with abundances
      rows(5).copy(filename = "member-flat", abunds = null),
      { // a held-out near-duplicate of family 2
        val m = MinHash.sketchHashes(mutate(base(2), 0.2, rnd), cfg)
        SigRow("held-out", m, m.map(_ => 1L + rnd.nextInt(3)))
      },
      SigRow("empty-query", Array.emptyLongArray, Array.emptyLongArray))
    val tables = Seq(Some("abunds"), Some("abundances"), None).map(c => c -> write(rows, c))
    val idx = index(tables.last._2)
    var nonEmpty = 0
    for ((abundCol, db) <- tables; mode <- Modes
         if mode == "abundance" || abundCol.contains("abunds");
         q <- queries) {
      // fixed cuts plus one sitting exactly on a score: `>` is strict
      val onScore = brute(rows, abundCol.isDefined, q, cfg, 0.0, mode).values.toSeq.sorted
      val thresholds = Seq(0.05, 0.3, 0.8) ++ onScore.drop(onScore.length / 2).headOption
      for (thr <- thresholds) {
        val clue = s"num=$num table=${abundCol.getOrElse("no abundances")} $mode@$thr q=${q.filename}"
        val want = brute(rows, abundCol.isDefined, q, cfg, thr, mode)
        val qa = if (mode == "abundance") q.abunds else null
        assert(scores(SignatureSearch.linear(db, q.mins, cfg, thr, mode, qa)) === want, s"linear $clue")
        assert(scores(SignatureSearch.indexed(db, idx, q.mins, cfg, thr, mode, qa)) === want,
          s"indexed $clue")
        assert(!want.contains("empty"), clue)
        if (q.mins.isEmpty) assert(want.isEmpty, clue)
        if (want.nonEmpty) nonEmpty += 1
      }
    }
    assert(nonEmpty > 40, s"only $nonEmpty non-empty answers: the tables exercise too little")
  }

  test("linear == indexed == driver scan, all modes and thresholds, num=128") {
    assertEquivalence(128)
  }

  test("linear == indexed == driver scan, all modes and thresholds, num=0 (scaled)") {
    assertEquivalence(0)
  }

  /** Every message along `t`'s cause chain. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a null mins row fails linear and indexed search loudly") {
    val cfg = cfgFor(128)
    val db = write(Seq(SigRow("ok", Array(1L, 2L, 3L), null), SigRow("bad", null, null)), None)
    val idx = index(db)
    // the check runs before any kernel, so one mode per path covers it
    val lin = intercept[Exception](
      SignatureSearch.linear(db, Array(1L, 2L), cfg, 0.1, "similarity").collect())
    assert(messages(lin).contains("null mins"), messages(lin))
    val ind = intercept[Exception](
      SignatureSearch.indexed(db, idx, Array(1L, 2L), cfg, 0.1, "abundance").collect())
    assert(messages(ind).contains("null mins"), messages(ind))
  }

  test("an index without filename/h columns, or a missing index path, fails loudly") {
    val cfg = cfgFor(128)
    val db = write(Seq(SigRow("a", Array(1L, 2L, 3L), null)), None)
    val notIndex = Files.createTempDirectory("sigsearch_bad").toString + "/idx.parquet"
    Seq(("a", 1L), ("a", 2L)).toDF("name", "hash").write.parquet(notIndex)
    val e = intercept[IllegalArgumentException](
      SignatureSearch.indexed(db, notIndex, Array(1L, 2L), cfg, 0.1, "similarity"))
    assert(e.getMessage.contains("not a posting index"), e.getMessage)
    val missing = Files.createTempDirectory("sigsearch_missing").toString + "/nothing-here"
    intercept[Exception](
      SignatureSearch.indexed(db, missing, Array(1L, 2L), cfg, 0.1, "similarity").collect())
  }

  test("one indexed query: a broadcast semi-join, no shuffle, at most 2 actions and jobs") {
    val cfg = cfgFor(128)
    val rows = table(cfg, new Random(3))
    val db = write(rows, None)
    val idx = index(db)
    val q = rows(4)
    val df = SignatureSearch.indexed(db, idx, q.mins, cfg, 0.3, "similarity")
    val (got, execs, jobs) = SparkTestSession.actions(df.collect())
    assert(got.map(r => r.getAs[String]("filename") -> r.getAs[Double]("score")).toMap ===
      brute(rows, withAbunds = false, q, cfg, 0.3, "similarity"))
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: ShuffleExchangeExec => s }.isEmpty, plan.toString)
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.length === 1, plan.toString)
    assert(execs <= 2, s"$execs SQL executions")
    assert(jobs <= 2, s"$jobs jobs")
  }
}

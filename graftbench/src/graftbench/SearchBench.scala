package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{MinHash, SketchConfig}
import graft.functions.GraftFunctions
import graft.operators.{DedupConfig, SignatureSearch}

/** One row of the search input: a generated image and whether it is in
  * the collection (held-out rows only ever serve as queries). */
final case class SearchRow(filename: String, bytes: Array[Byte], fmt: String, member: Boolean)

/**
 * `search` workload: a collection of image sketches built in set-up, then
 * a closed loop with one client. One operation is one round: the same
 * query sent through `SignatureSearch.linear` and through
 * `SignatureSearch.indexed` (over the posting index that
 * `SignatureSearch.buildIndex` wrote in set-up), in alternating order.
 * Queries are drawn from collection members, from held-out near-duplicates
 * of members, and from held-out unrelated images. Each answer is checked
 * against a brute-force scan on the driver, so indexed and linear answers
 * also agree with each other.
 */
object SearchBench {

  val Threshold = 0.35
  val Mode = "similarity"
  val Paths: Seq[String] = Seq("linear", "indexed")

  final case class Query(filename: String, mins: Array[Long])

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val dcfg = DedupConfig()
    val cfg = SketchConfig(num = dcfg.imgSketch.num, ksize = dcfg.imgSketch.ksize)
    val plan = new Plan(a.seed, Workloads.search)
    val r = new Rng(Rng.mix(a.seed, 11))
    // held out: half the derived rows, and one family in twenty
    val member = Array.tabulate(plan.families) { f =>
      val heldFamily = r.nextInt(20) == 0
      (plan.famStart(f) until plan.famStart(f + 1)).map(i => !heldFamily && (plan.parent(i) < 0 || r.nextInt(2) == 0))
    }
    val rows = spark.range(0, plan.families, 1, a.cores * 2).as[Long].flatMap { f =>
      plan.genFamily(f.toInt).zip(member(f.toInt)).map { case (x, m) =>
        SearchRow(x.image_id, x.bytes, x.fmt, m)
      }
    }
    val sketched = rows.select(col("filename"), col("member"),
      GraftFunctions.imageMinhash(col("bytes"), col("fmt"), cfg, dcfg.imgStride).as("mins")).persist()
    val local = sketched.collect().map(x => (x.getString(0), x.getBoolean(1), x.getSeq[Long](2).toArray))
    val db = sketched.where(col("member")).select(col("filename"), col("mins")).persist()
    val size = db.count()
    sketched.unpersist(false)
    val coll = local.filter(_._2).map(x => (x._1, x._3))

    // query mix: half members, a quarter held-out derived rows, a quarter held-out unrelated
    val members = local.filter(_._2)
    val heldDup = local.filter(x => !x._2 && plan.parent(plan.indexOf(x._1)) >= 0)
    val heldNew = local.filter(x => !x._2 && plan.parent(plan.indexOf(x._1)) < 0)
    val queries = Array.tabulate(400) { k =>
      val pool = k % 4 match { case 0 | 2 => members; case 1 => heldDup; case _ => heldNew }
      val x = pool(r.nextInt(pool.length))
      Query(x._1, x._3)
    }

    val indexPath = s"${a.work}/index.parquet"
    val buildT = System.nanoTime()
    SignatureSearch.buildIndex(db, indexPath)
    val buildS = (System.nanoTime() - buildT) / 1e9

    val truth = scala.collection.mutable.Map.empty[String, Set[String]]
    def expected(q: Query): Set[String] = truth.getOrElseUpdate(q.filename,
      java.util.stream.IntStream.range(0, coll.length).parallel()
        .filter(i => MinHash.compare(coll(i)._2, q.mins, cfg) > Threshold)
        .toArray.map(coll(_)._1).toSet)
    def search(path: String, q: Query): DataFrame =
      if (path == "indexed") SignatureSearch.indexed(db, indexPath, q.mins, cfg, Threshold, Mode)
      else SignatureSearch.linear(db, q.mins, cfg, Threshold, Mode)

    var next = 0
    var hits, want, got = 0L
    val lat = Paths.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    /** One round: the next query through both paths. Returns the
      * seconds the two searches took (the truth check is not timed). */
    def round(record: Boolean, wrap: (String, => Set[String]) => Set[String]): Double = {
      val q = queries(next % queries.length)
      val order = if (next % 2 == 0) Paths else Paths.reverse
      next += 1
      val exp = expected(q)
      order.map { path =>
        val t = System.nanoTime()
        val found = wrap(path, search(path, q).select(col("filename")).collect().map(_.getString(0)).toSet)
        val s = (System.nanoTime() - t) / 1e9
        if (record) {
          lat(path) += s
          res.op(found == exp)
          hits += (found & exp).size; want += exp.size; got += found.size
        }
        s
      }.sum
    }
    val plainCall: (String, => Set[String]) => Set[String] = (_, body) => body
    (0 until 4).foreach(_ => round(record = false, plainCall)) // warm-up
    res.setupDone(a.trace)
    res.context ++= Seq("collection" -> size, "families" -> plan.families, "index_build_s" -> buildS)

    /** Rounds for about `seconds`; returns each round's search seconds. */
    def rounds(seconds: Double, minOps: Int, wrap: (String, => Set[String]) => Set[String]): Seq[Double] = {
      val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
      Timing.loop(seconds, minOps, gc = false) { walls += round(record = true, wrap) }
      walls.toSeq
    }

    if (!a.trace) {
      val walls = rounds(a.seconds, minOps = 10, plainCall)
      // both paths search the whole collection once per round
      res.put("rows_per_s", 2.0 * size / Main.median(walls), "rows/s")
      res.put("pair_recall", if (want == 0) 1.0 else hits.toDouble / want, "fraction")
      res.put("pair_precision", if (got == 0) 1.0 else hits.toDouble / got, "fraction")
      res.context ++= Seq("rounds" -> walls.length, "round_s" -> walls) ++ Paths.flatMap { p =>
        Seq(s"${p}_p50_ms" -> Main.median(lat(p).toSeq) * 1e3, s"${p}_p90_ms" -> Main.quantile(lat(p).toSeq, 0.9) * 1e3)
      }
    } else {
      val t0 = System.nanoTime()
      val sample = Kernels.sample(plan, 400)
      Kernels.run(sample._1, sample._2, budgetMs = 150, res)

      val ledger = Ledger.install(sc)
      val left = a.seconds - (System.nanoTime() - t0) / 1e9
      val gc0 = Ledger.gcMs
      val from = System.currentTimeMillis()
      val plain = rounds(left / 2, minOps = 5, plainCall)
      val to = System.currentTimeMillis()
      Ledger.drain(sc)
      SparkFigures.put(ledger, from, to, Ledger.gcMs - gc0, a.cores, res)
      Paths.foreach { p =>
        res.put(s"search.${p}_p50_ms", Main.median(lat(p).toSeq) * 1e3, "ms")
        res.put(s"search.${p}_p90_ms", Main.quantile(lat(p).toSeq, 0.9) * 1e3, "ms")
        lat(p).clear()
      }
      res.put("search.queries", plain.length, "count")

      ledger.reset()
      val tracer = new Tracer(sc, s"${a.workload}-${a.seed}")
      val found = Paths.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Int]).toMap
      val traced = rounds(a.seconds - (System.nanoTime() - t0) / 1e9, minOps = 5, (path, body) =>
        tracer(s"search.$path") { val f = body; found(path) += f.size; f })
      Ledger.drain(sc)
      Paths.foreach { p =>
        val g = ledger.total(_ == s"search.$p")
        res.put(s"search.${p}_jobs_per_query", g.jobs.toDouble / traced.length, "count")
        res.put(s"search.${p}_task_ms", g.taskMs.toDouble / traced.length, "ms")
      }
      res.put("search.matches_per_query", found("linear").sum.toDouble / traced.length, "count")
      // rows the exact kernel scores per indexed query: the posting-list
      // candidates (a linear query scores the whole collection)
      val candidates = tracer("search.candidates") {
        val sample = queries.take(8)
        sample.map { q =>
          spark.read.parquet(indexPath).join(broadcast(q.mins.toSeq.toDF("h")), "h")
            .select(col("filename")).distinct().count()
        }.sum.toDouble / sample.length
      }
      val indexBytes = dirBytes(new java.io.File(indexPath))
      res.put("search.candidates_per_query", candidates, "count")
      res.put("search.index_build_s", buildS, "s")
      res.put("search.index_mb", indexBytes / 1e6, "MB")
      res.put("search.index_mb_per_sketch_mb", indexBytes.toDouble / (size * cfg.num * 8L), "ratio")
      res.put("trace.overhead_frac", Main.median(traced) / Main.median(plain) - 1, "fraction")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/spans.json"), tracer.json)
      Units.idle(res, "op.", "funnel.", "confirm.")
    }
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}

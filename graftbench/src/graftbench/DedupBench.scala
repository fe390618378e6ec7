package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{CacheHandle, DedupConfig, DedupPipeline, Lsh}

/**
 * `dedup` workload: `DedupPipeline.clusters` (default config) over a
 * generated corpus written to parquet in set-up. One operation is one
 * batch job: read the parquet, cluster, write to the noop sink.
 */
object DedupBench {

  val Phases: Seq[String] = Seq("sketch", "exact", "band", "bucket", "confirm", "cluster")

  /** Order-free digest of a clustering output, observed on the timed write. */
  private def digestCols: Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(col("image_id"), col("cluster")).bitwiseAND(lit(0xffffffffL))).as("h"),
    sum(col("cluster_size")).as("sizes"),
    sum(when(col("image_id") === col("cluster") && col("cluster_size") >= 2, 1L)
      .otherwise(0L)).as("multi"))

  private def digest(o: Observation): (Long, Long, Long) = {
    val m = o.get
    (m("rows").asInstanceOf[Long], m("h").asInstanceOf[Long], m("sizes").asInstanceOf[Long])
  }

  def generate(spark: SparkSession, plan: Plan, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, plan.families, 1, parts).as[Long]
      .flatMap(f => plan.genFamily(f.toInt)).toDF()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Partition checks of a collected output plus truth scores. Returns
    * (valid, recall, precision, digest). */
  def check(plan: Plan, out: Array[Row]): (Boolean, Double, Double, (Long, Long, Long)) = {
    val label = new Array[String](plan.rows)
    var valid = out.length == plan.rows
    var h = 0L
    var sizes = 0L
    out.foreach { r =>
      scala.util.Try(plan.indexOf(r.getString(0))).toOption match {
        case Some(i) if label(i) == null => label(i) = r.getString(1)
        case _ => valid = false // an id not in the input, or twice
      }
      h += r.getLong(3)
      sizes += r.getLong(2)
    }
    if (valid && label.contains(null)) valid = false
    if (valid) {
      // each cluster is labelled by its least member and sized by its members
      val members = out.groupBy(_.getString(1))
      valid = members.forall { case (c, rs) =>
        rs.map(_.getString(0)).min == c && rs.forall(_.getLong(2) == rs.length)
      }
    }
    val (recall, precision) = if (valid) plan.score(label) else (0.0, 0.0)
    (valid, recall, precision, (out.length.toLong, h, sizes))
  }

  def run(spark: SparkSession, a: Args, shape: Shape, res: Result): Unit = {
    val cfg = DedupConfig()
    val parts = a.cores * 2
    val plan = new Plan(a.seed, shape)
    val path = s"${a.work}/corpus.parquet"
    val marks = scala.collection.mutable.ArrayBuffer("session" -> Main.sinceJvmStart)
    generate(spark, plan, parts).write.mode("overwrite").parquet(path)
    marks += "generate" -> Main.sinceJvmStart

    // checked pass over the real corpus, which also warms up JIT and
    // codegen; the timed passes must reproduce its digest
    val cache = new CacheHandle()
    val checked = DedupPipeline.clusters(spark.read.parquet(path), cfg, cache)
      .select(col("image_id"), col("cluster"), col("cluster_size"),
        xxhash64(col("image_id"), col("cluster")).bitwiseAND(lit(0xffffffffL)).as("h"))
      .collect()
    cache.release()
    val (valid, recall, precision, expected) = check(plan, checked)
    res.op(valid)
    marks += "checked" -> Main.sinceJvmStart

    val pass: () => Unit = () => {
      val cache = new CacheHandle()
      val obs = Observation()
      noop(DedupPipeline.clusters(spark.read.parquet(path), cfg, cache).observe(obs, digestCols.head, digestCols.tail: _*))
      cache.release()
      res.op(digest(obs) == expected)
    }
    // one more untimed pass: the passes right after a cold one still run
    // partly interpreted code (about 25% slower on a 4-core host)
    Timing.loop(0, minOps = 1)(pass())
    marks += "warm" -> Main.sinceJvmStart
    res.setupDone(a.trace)
    res.context ++= Seq("rows" -> plan.rows, "families" -> plan.families,
      "setup_marks_s" -> Json.Raw(Json.obj(marks.toSeq)))

    if (!a.trace) {
      val ops = Timing.loop(a.seconds, minOps = 2)(pass())
      val walls = ops.map(_.wall)
      res.put("rows_per_s", plan.rows / Main.median(walls), "rows/s")
      res.put("pair_recall", recall, "fraction")
      res.put("pair_precision", precision, "fraction")
      res.context ++= Seq("passes" -> walls.length, "pass_s" -> walls, "pass_cpu_s" -> ops.map(_.cpu))
    } else traced(spark, a, plan, path, cfg, pass, expected, res)
  }

  private def traced(spark: SparkSession, a: Args, plan: Plan, path: String, cfg: DedupConfig,
      pass: () => Unit, expected: (Long, Long, Long), res: Result): Unit = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val (rows, pairs) = Kernels.sample(plan, 400)
    Kernels.run(rows, pairs, budgetMs = 150, res)

    // untraced passes: the overhead baseline and the Spark runtime figures
    val ledger = Ledger.install(sc)
    val left = a.seconds - (System.nanoTime() - t0) / 1e9
    val gc0 = Ledger.gcMs
    val from = System.currentTimeMillis()
    val plain = Timing.loop(left * 0.4, minOps = 1)(pass()).map(_.wall)
    val to = System.currentTimeMillis()
    Ledger.drain(sc)
    SparkFigures.put(ledger, from, to, Ledger.gcMs - gc0, a.cores, res)

    // staged passes: each phase materialized on its own, one span per phase
    val runs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracer = new Tracer(sc, s"${a.workload}-${a.seed}")
    val stagedLeft = a.seconds - (System.nanoTime() - t0) / 1e9
    Timing.loop(stagedLeft, minOps = 1) {
      ledger.reset()
      runs += staged(spark, plan, path, cfg, tracer, ledger, expected, res)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/spans.json"), tracer.json)
    def med(k: String): Double = Main.median(runs.map(_(k)).toSeq)
    runs.head.keys.filter(_ != "traced_s").foreach(k => res.put(k, med(k), Units.of(k)))
    res.put("trace.overhead_frac", med("traced_s") / Main.median(plain) - 1, "fraction")
    Units.idle(res, "search.")
  }

  /** One staged pass. Returns the per-layer figures of this pass. */
  private def staged(spark: SparkSession, plan: Plan, path: String, cfg: DedupConfig,
      tr: Tracer, ledger: Ledger, expected: (Long, Long, Long), res: Result): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def keep(df: DataFrame): DataFrame = { val d = df.persist(); d.count(); d }
    val obs = Observation()
    var sk, tagged, reps, banded, cands, near: DataFrame = null
    tr("dedup.pass") {
      sk = tr("op.sketch")(keep(DedupPipeline.sketches(spark.read.parquet(path), cfg)))
      tagged = tr("op.exact")(keep(DedupPipeline.exactDedupWindowed(sk)))
      reps = tagged.where(col("image_id") === col("rep"))
      banded = tr("op.band")(keep(DedupPipeline.bandedAll(reps, cfg)))
      cands = tr("op.bucket")(keep(Lsh.candidatePairsCapped(banded)))
      near = tr("op.confirm")(keep(DedupPipeline.confirm(cands, reps, cfg)
        .select(col("a").as("src"), col("b").as("dst"))))
      val exactEdges = tagged.where(col("image_id") =!= col("rep"))
        .select(col("vid").as("src"), xxhash64(col("rep")).as("dst"))
      tr("op.cluster")(noop(DedupPipeline.clustersFromEdges(tagged.select(col("image_id"), col("vid")),
        exactEdges.union(near), cfg.ccMaxIter).observe(obs, digestCols.head, digestCols.tail: _*)))
    }
    res.op(digest(obs) == expected)
    out("traced_s") = last(tr, "dedup.pass").seconds

    // funnel counts, from the outputs of the public calls above
    tr("funnel") {
      val nRows = tagged.count()
      val nReps = reps.count()
      val bucket = banded.groupBy(col("bandKey")).agg(count(lit(1)).as("bn"), min(col("cap")).as("cap"))
        .agg(
          coalesce(sum(when(col("bn") > col("cap"), col("bn"))), lit(0L)),
          coalesce(sum(when(col("bn") > col("cap"), 1L)), lit(0L)),
          coalesce(max(col("bn")), lit(0L)))
        .head()
      val nCands = cands.count()
      val kept = DedupPipeline.prefilter(cands, reps, cfg).count()
      val nNear = near.count()
      out("funnel.rows") = nRows
      out("funnel.exact_reps") = nReps
      out("funnel.exact_edges") = nRows - nReps
      out("funnel.band_rows") = banded.count()
      out("funnel.band_rows_capped") = bucket.getLong(0)
      out("funnel.buckets_capped") = bucket.getLong(1)
      out("funnel.max_bucket") = bucket.getLong(2)
      out("funnel.candidates") = nCands
      out("funnel.prefilter_kept") = kept
      out("funnel.near_edges") = nNear
      out("funnel.clusters_multi") = obs.get("multi").asInstanceOf[Long]
      out("confirm.yield") = if (nCands == 0) 0.0 else nNear.toDouble / nCands
      out("confirm.prefilter_frac") = if (nCands == 0) 0.0 else kept.toDouble / nCands
    }
    Seq(sk, tagged, banded, cands, near).foreach(_.unpersist(false))

    Ledger.drain(spark.sparkContext)
    out("funnel.cluster_jobs") = ledger.total(_ == "op.cluster").jobs
    Phases.foreach { p =>
      val name = s"op.$p"
      val g = ledger.total(_ == name)
      out(s"$name.wall_s") = tr.selfSeconds(last(tr, name))
      out(s"$name.task_s") = g.taskMs / 1000.0
      out(s"$name.shuffle_mb") = g.shuffleBytes / 1e6
      out(s"$name.spill_mb") = g.spillBytes / 1e6
      out(s"$name.gc_s") = g.gcMs / 1000.0
      out(s"$name.skew") = g.skew
    }
    out.toMap
  }

  private def last(tr: Tracer, name: String): Span = tr.spans.filter(_.name == name).last
}

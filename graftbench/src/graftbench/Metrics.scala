package graftbench

/** Closed-loop timing of one operation. */
object Timing {

  /** One operation's wall and the CPU time the JVM spent meanwhile. */
  final case class Op(wall: Double, cpu: Double)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Runs `op` back to back for about `seconds`. A new operation starts
    * only while it is expected to end inside the window (judged by the
    * median wall so far); at least `minOps` run. */
  def loop(seconds: Double, minOps: Int, gc: Boolean = true)(op: => Unit): Seq[Op] = {
    val t0 = System.nanoTime()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (ops.length < minOps || elapsed + Main.median(ops.map(_.wall).toSeq) <= seconds) {
      val t = System.nanoTime()
      val c = cpuSeconds
      op
      ops += Op((System.nanoTime() - t) / 1e9, cpuSeconds - c)
      // let Spark's cleaner drop the finished operation's shuffle files and
      // checkpoint blocks, so each operation starts from the same state
      if (gc) System.gc()
    }
    ops.toSeq
  }
}

/** Spark runtime figures over a region of the run. */
object SparkFigures {
  def put(ledger: Ledger, fromMs: Long, toMs: Long, gcMs: Long, cores: Int, res: Result): Unit = {
    val all = ledger.total(_ => true)
    val wall = math.max(1L, toMs - fromMs) / 1000.0
    res.put("spark.jobs", all.jobs, "count")
    res.put("spark.tasks", all.tasks, "count")
    res.put("spark.task_s", all.taskMs / 1000.0, "s")
    res.put("spark.busy_frac", all.taskMs / 1000.0 / (cores * wall), "fraction")
    res.put("spark.job_gap_s", ledger.idleSeconds(fromMs, toMs), "s")
    res.put("spark.gc_s", gcMs / 1000.0, "s")
  }
}

/** Units of the per-layer metrics, and the layers each workload does not run. */
object Units {

  val perLayer: Seq[(String, String)] = Seq(
    "core.murmur3_ns" -> "ns", "core.jaccard_ns" -> "ns", "core.lcs_us" -> "us",
    "sources.decode_us" -> "us", "functions.image_minhash_us" -> "us",
    "functions.caption_minhash_us" -> "us", "functions.caption_simhash_us" -> "us") ++
    DedupBench.Phases.flatMap { p =>
      Seq(s"op.$p.wall_s" -> "s", s"op.$p.task_s" -> "s", s"op.$p.shuffle_mb" -> "MB",
        s"op.$p.spill_mb" -> "MB", s"op.$p.gc_s" -> "s", s"op.$p.skew" -> "ratio")
    } ++ Seq(
    "funnel.rows" -> "count", "funnel.exact_reps" -> "count", "funnel.exact_edges" -> "count",
    "funnel.band_rows" -> "count", "funnel.band_rows_capped" -> "count",
    "funnel.buckets_capped" -> "count", "funnel.max_bucket" -> "count",
    "funnel.candidates" -> "count", "funnel.prefilter_kept" -> "count",
    "funnel.near_edges" -> "count", "funnel.clusters_multi" -> "count",
    "funnel.cluster_jobs" -> "count", "confirm.yield" -> "fraction",
    "confirm.prefilter_frac" -> "fraction",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.busy_frac" -> "fraction", "spark.job_gap_s" -> "s", "spark.gc_s" -> "s",
    "search.linear_p50_ms" -> "ms", "search.linear_p90_ms" -> "ms",
    "search.indexed_p50_ms" -> "ms", "search.indexed_p90_ms" -> "ms", "search.queries" -> "count",
    "search.index_build_s" -> "s", "search.index_mb" -> "MB",
    "search.index_mb_per_sketch_mb" -> "ratio", "search.candidates_per_query" -> "count",
    "search.matches_per_query" -> "count", "search.linear_jobs_per_query" -> "count",
    "search.indexed_jobs_per_query" -> "count", "search.linear_task_ms" -> "ms",
    "search.indexed_task_ms" -> "ms",
    "trace.overhead_frac" -> "fraction")

  private lazy val unitOf = perLayer.toMap
  def of(name: String): String = unitOf(name)

  /** Layers a workload never calls did no work in the run: report 0. */
  def idle(res: Result, prefixes: String*): Unit =
    perLayer.foreach { case (k, u) =>
      if (prefixes.exists(k.startsWith) && !res.metrics.contains(k)) res.put(k, 0.0, u)
    }
}

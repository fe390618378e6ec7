package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, cores: Int)

/** What a run reports: named metrics plus operation counts. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0
  var failed = 0
  val context = mutable.LinkedHashMap.empty[String, Any]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Set-up ends: an end-to-end metric untraced, context when traced. */
  def setupDone(trace: Boolean): Unit =
    if (trace) context("setup_s") = Main.sinceJvmStart
    else put("setup_s", Main.sinceJvmStart, "s")
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def json: String = Json.obj(Seq(
    "correct" -> (attempted > 0 && failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
    })),
    "context" -> Json.Raw(Json.obj(context.toSeq))))
}

/**
 * Entry point of one benchmark run: starts the Spark session, runs the
 * named workload and writes its result JSON to `--out`.
 *
 * {{{
 * Main --workload dedup --seed 1 --seconds 15 --trace 0 \
 *      --work <scratch dir> --out <result.json> --cores 4
 * }}}
 */
object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), m("cores").toInt)
  }

  /** The session conf of `graft.Bench`'s query-surface part, with every
    * directory Spark writes to placed under the run's work directory. */
  def sessionConf(a: Args): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${a.cores}]",
    "spark.app.name" -> s"graftbench-${a.workload}",
    "spark.sql.shuffle.partitions" -> a.cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "33554432",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.local.dir" -> s"${a.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${a.work}/warehouse",
    "spark.hadoop.hadoop.tmp.dir" -> s"${a.work}/hadoop-tmp")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    val b = SparkSession.builder()
    sessionConf(a).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    res.context ++= Seq("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_conf" -> Json.Raw(Json.obj(sessionConf(a))))
    try {
      a.workload match {
        case "dedup" => DedupBench.run(spark, a, Workloads.dedup, res)
        case "search" => SearchBench.run(spark, a, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), res.json + "\n")
    } finally spark.stop()
  }

  /** Seconds since the JVM started: session start, generation, writes
    * and warm-up all fall inside it. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** The generated inputs of each workload. */
object Workloads {
  // mostly unique rows with 5% near-dups spread uniformly (the BASELINE
  // shape), plus 20% of rows in power-law families of up to 30 with dups
  // of dups; shared boilerplate captions and near-blank images make
  // buckets that exceed the caps
  val dedup = Shape(rows = 8000, sparseDups = 0.05, denseDups = 0.20, maxFamily = 30,
    boilerShare = 0.03, blankShare = 0.03)
  // the search collection plus held-out query rows
  val search = Shape(rows = 10000, sparseDups = 0.20, denseDups = 0.0, maxFamily = 2,
    boilerShare = 0.0, blankShare = 0.0)
}

/** Minimal JSON writer for flat records. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

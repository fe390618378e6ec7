package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Optimization-round profiling harness (guide §1: measure first) — NOT the
 * driver bench. Runs the named queries (args, or a default heavy set)
 * through the noop sink in the same session shape as [[Bench]], and for
 * each records:
 *   - wall seconds (same timing as Bench),
 *   - per-stage task-time totals with the dominant stages' names,
 *   - the EXECUTED plan (AQE-final) via explain codegen-less formatted.
 * Output: one text report per query under /tmp/graft_profile/.
 *
 * Usage: sbt "runMain graft.BenchExtra d02_ngram_jaccard e01_knn_bruteforce"
 * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
 * SPARK_GRAFT_CPUS defaults to the JVM's available processors;
 * SPARK_GRAFT_PLANS_ONLY=<dir> writes each query's formatted plan to
 * <dir>/<name>.txt and runs nothing.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Sessions.builder("graft-bench-extra", cpus)
      .master(s"local[$cpus]")
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) {
          val d = new java.io.File("/dev/shm/graft-spark"); d.mkdirs()
          d.getAbsolutePath
        } else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = if (args.nonEmpty) args.toSeq
      else Seq("d02_ngram_jaccard", "e01_knn_bruteforce", "m01_corpus_dedup_clusters",
        "d15_sketch_error_audit", "m03_checkpointed_lineage", "t13_cardinality_kmv")
    val outDir = java.nio.file.Paths.get("/tmp/graft_profile")
    java.nio.file.Files.createDirectories(outDir)

    // per-stage accounting: stageId -> (name, taskTimeMs, tasks, shuffleReadB, shuffleWriteB, inputB)
    final case class St(var name: String = "", var ms: Long = 0, var n: Int = 0,
      var sr: Long = 0, var sw: Long = 0, var in: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId, new St)
        s.name = e.stageInfo.name + " | " + e.stageInfo.details.linesIterator.take(1).mkString
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.getOrElseUpdate(e.stageId, new St)
        if (e.taskMetrics != null) {
          s.ms += e.taskMetrics.executorRunTime; s.n += 1
          s.sr += e.taskMetrics.shuffleReadMetrics.totalBytesRead
          s.sw += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          s.in += e.taskMetrics.inputMetrics.bytesRead
        }
      }
    })

    // PLANS_ONLY=dir: skip execution/metrics, write df.explain("formatted")
    // per query to <dir>/<name>.txt (for the plans/r06 before/after dumps)
    val plansOnly = sys.env.get("SPARK_GRAFT_PLANS_ONLY")
    for (name <- names) {
      if (plansOnly.isDefined) {
        val dir = java.nio.file.Paths.get(plansOnly.get)
        java.nio.file.Files.createDirectories(dir)
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(dir.resolve(s"$name.txt"), txt)
        println(s"[plan] $name -> $dir/$name.txt")
      } else {
      stages.clear()
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      try org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext, 10000)
      catch { case _: Throwable => () }
      val wall = (t1 - t0) / 1e9
      val planSec = (tPlan - t0) / 1e9
      val sb = new StringBuilder
      sb ++= f"==== $name wall=$wall%.3f s (build=$planSec%.3f) loadavg=${loadavg()}%.2f\n"
      val top = stages.toSeq.sortBy(-_._2.ms)
      sb ++= f"stages=${stages.size} taskSum=${top.map(_._2.ms).sum / 1000.0}%.1f s\n"
      for ((id, s) <- top.take(12))
        sb ++= f"  stage $id%4d ${s.ms / 1000.0}%7.2f s tasks=${s.n}%4d in=${mb(s.in)}%8s sr=${mb(s.sr)}%8s sw=${mb(s.sw)}%8s  ${s.name.take(160)}\n"
      sb ++= "\n---- executed plan (formatted) ----\n"
      sb ++= (try df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case _: Throwable => df.queryExecution.executedPlan.toString })
      val f = outDir.resolve(s"$name.txt")
      java.nio.file.Files.writeString(f, sb.toString)
      println(f"[profile] $name wall=$wall%.3f s -> $f")
      spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }

  private def mb(b: Long): String = if (b >= (10L << 20)) f"${b / 1048576.0}%.0fM"
    else if (b > 0) f"${b / 1024.0}%.0fK" else "0"
  private def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble catch { case _: Throwable => -1.0 }
}

package graft

import graft.operators.DedupPipeline
import graft.sources.SyntheticCorpus

/**
 * `spark-submit` entry point for the flagship near-duplicate clustering
 * job — the north rule's deployment shape ("the whole pipeline runs via
 * spark-submit ... at N and 4N executors"). Unlike [[Bench]] and
 * [[Smoke]], this main sets NO master and NO executor topology: it
 * inherits whatever `spark-submit --master` (or a real cluster manager)
 * provides, so the exact command line that evidences local[N] scaling in
 * the sandbox submits unchanged to YARN/k8s with `--num-executors`.
 *
 * Usage (jar from `sbt package`; Spark provides every dependency):
 *
 * {{{
 * /opt/spark/bin/spark-submit --class graft.SubmitFlagship \
 *   --master local[4] --driver-memory 8g \
 *   target/scala-2.13/sourmashrustspark_2.13-0.1.0.jar \
 *   600000 64
 * }}}
 *
 * args: `[rows=600000] [shuffleWidth=64]`. The shuffle width is sized to
 * the DATA and held constant across cluster sizes (the north rule scales
 * executors, not the job config). Prints ONE JSON line: rows, wall
 * seconds, images/sec, and the same task-sum/busy/gap/GC accounting the
 * Bench arms carry, so a run at `--master local[1]` vs `local[4]` yields
 * the scaling-efficiency evidence from the artifact alone.
 */
object SubmitFlagship {
  def main(args: Array[String]): Unit = {
    val rows = args.lift(0).map(_.toLong).getOrElse(600000L)
    val width = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = Sessions.builder("graft-flagship-submit", width).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT warmup at toy scale so the timed run measures the pipeline,
    // not first-call codegen compilation
    SyntheticCorpus.corpus(spark, 2000L).toDF()
      .write.format("noop").mode("overwrite").save()

    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gapMs = new java.util.concurrent.atomic.AtomicLong
    val lastJobEnd = new java.util.concurrent.atomic.AtomicLong(-1L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val prev = lastJobEnd.get
        if (prev > 0) gapMs.addAndGet(math.max(0L, e.time - prev))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        lastJobEnd.set(e.time)
    })
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gc0 = gcMs

    val cache = new graft.operators.CacheHandle()
    val t0 = System.nanoTime()
    DedupPipeline.clusters(
        SyntheticCorpus.corpus(spark, rows, partitions = 64).toDF(), cache = cache)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    cache.release()
    try org.apache.spark.sql.graft.Bridge.drainListeners(spark.sparkContext, 10000)
    catch { case _: Throwable => () }

    val master = spark.sparkContext.master
    val cores = spark.sparkContext.defaultParallelism
    println(f"""{"entry":"SubmitFlagship","master":"$master","cores":$cores,""" +
      f""""rows":$rows,"sec":$sec%.2f,"ips":${rows / sec}%.1f,""" +
      f""""task_sum_sec":${taskMs.get / 1000.0}%.1f,""" +
      f""""busy_pct":${taskMs.get / 10.0 / math.max(1, cores) / sec}%.0f,""" +
      f""""inter_job_gap_sec":${gapMs.get / 1000.0}%.1f,""" +
      f""""gc_sec":${(gcMs - gc0) / 1000.0}%.1f}""")
    spark.stop()
  }
}

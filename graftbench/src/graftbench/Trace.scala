package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call into a layer. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans open around calls into the program's
 * layers; each span also names the Spark job group of the jobs it
 * submits, so [[Ledger]] can charge task time, shuffle, spill, GC and
 * skew to it. Spans are written out once, when the run ends.
 */
final class Tracer(sc: SparkContext, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name, run, System.nanoTime())
    spans += s
    open ::= s
    sc.setJobGroup(name, name, false)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name, false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def json: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }.mkString("[", ",\n", "]")
}

/** Per job group totals, from task-end events. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L   // read + write
  var spillBytes = 0L     // memory + disk
  var gcMs = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max/median task time of the stage with the largest task-time sum. */
  def skew: Double = {
    if (stageTaskMs.isEmpty) 1.0
    else {
      val times = stageTaskMs.values.maxBy(_.sum).sorted
      val med = times(times.length / 2)
      if (med <= 0) 1.0 else times.last.toDouble / med
    }
  }
}

/** Spark listener keyed by job group; also keeps job intervals. */
final class Ledger extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val groups = mutable.Map.empty[String, GroupStats]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  private val jobStart = mutable.Map.empty[Int, Long]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    val s = stats(g)
    s.jobs += 1
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(Option(stageGroup.get(e.stageId)).getOrElse("-"))
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def reset(): Unit = synchronized {
    groups.clear(); jobIntervals.clear(); jobStart.clear()
  }

  /** Totals over groups whose name satisfies `p`. */
  def total(p: String => Boolean): GroupStats = synchronized {
    val t = new GroupStats
    groups.foreach { case (g, s) =>
      if (p(g)) {
        t.jobs += s.jobs; t.tasks += s.tasks; t.taskMs += s.taskMs
        t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes; t.gcMs += s.gcMs
        s.stageTaskMs.foreach { case (k, v) => t.stageTaskMs(k) = v }
      }
    }
    t
  }

  /** Seconds inside [fromMs, toMs] with no job running. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    var covered = 0L
    var reach = fromMs
    jobIntervals.sortBy(_._1).foreach { case (a0, b0) =>
      val a = math.max(a0, reach)
      val b = math.min(b0, toMs)
      if (b > a) { covered += b - a; reach = b }
    }
    math.max(0L, toMs - fromMs - covered) / 1000.0
  }
}

object Ledger {
  def install(sc: SparkContext): Ledger = {
    val l = new Ledger
    sc.addSparkListener(l)
    l
  }
  /** Listener events are delivered asynchronously; wait for them. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.sql.graft.Bridge.drainListeners(sc, 30000)

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
}

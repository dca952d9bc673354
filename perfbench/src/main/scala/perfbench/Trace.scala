package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM-wide garbage-collection time, in seconds. */
object Jvm {
  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use right after a full collection, in MB. Spark frees
    * cached and broadcast blocks on its own threads, after a collection
    * has cleared their weak references, so collect again until two
    * readings agree within 1 MB (at most ten times).
    */
  def heapAfterGcMb(): Double = {
    def collected() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collected()
    var cur = prev
    var rounds = 1
    do {
      Thread.sleep(250)
      prev = cur
      cur = collected()
      rounds += 1
    } while ((prev - cur).abs > 1.0 && rounds < 10)
    cur
  }
}

/** One recorded span: a call from the benchmark into one layer. `key`
  * names the batch or read it belongs to; `attrs` carries the counts
  * measured at the same boundary.
  */
final case class Span(id: Int, parent: Int, name: String, key: String,
                      startNs: Long, endNs: Long, gcS: Double,
                      attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job engine statistics gathered by [[JobListener]]. */
final case class JobStat(jobId: Int, spanId: Int, startMs: Long,
                         endMs: Long, stages: Int, tasks: Long,
                         taskRunS: Double, taskCpuS: Double, gcS: Double,
                         shuffleReadB: Long, shuffleWriteB: Long,
                         spillB: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans kept in memory and written out when the run ends. With tracing
  * off, [[span]] only runs its body: nothing is recorded and no listener
  * is registered.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  val listener: Option[JobListener] =
    if (!on) None else {
      val l = new JobListener
      sc.addSparkListener(l)
      Some(l)
    }

  /** Run `body` as a span. */
  def span[T](name: String, key: String)(body: => T): T =
    spanAttrs(name, key)(body)(_ => Map.empty)

  /** Run `body` as a span; `attrs` computes counts from its result. */
  def spanAttrs[T](name: String, key: String)(body: => T)
                  (attrs: T => Map[String, Double]): T =
    if (!on) body else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(JobListener.SpanProp, id.toString)
      val gc0 = Jvm.gcSeconds
      val t0 = System.nanoTime()
      try {
        val r = body
        spans += Span(id, parent, name, key, t0, System.nanoTime(),
          Jvm.gcSeconds - gc0, attrs(r))
        r
      } finally {
        open = open.tail
        sc.setLocalProperty(JobListener.SpanProp,
          open.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Span duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += (curE - curS).max(0L); curS = a; curE = b }
      else curE = curE.max(b)
    }
    covered += (curE - curS).max(0L)
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Ids of span `id` and every span below it. */
  private def subtree(id: Int): Set[Int] = {
    val ids = scala.collection.mutable.Set(id)
    spans.sortBy(_.id).foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  /** Spans called `name` below span `id`. */
  def under(id: Int, name: String): Seq[Span] = {
    val ids = subtree(id)
    spans.filter(s => s.name == name && s.id != id && ids.contains(s.id)).toSeq
  }

  /** Jobs started under span `id` or any span below it. */
  def jobsUnder(id: Int): Seq[JobStat] = {
    val ids = subtree(id)
    listener.toSeq.flatMap(_.jobs).filter(j => ids.contains(j.spanId))
  }

  /** Write every span, with the jobs it started, as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val jobs = listener.toSeq.flatMap(_.jobs).groupBy(_.spanId)
    val lines = spans.map { s =>
      val js = jobs.getOrElse(s.id, Nil)
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      Seq(s""""id":${s.id}""", s""""parent":${s.parent}""",
        s""""name":"${s.name}"""", s""""key":"${s.key}"""",
        s""""start_s":${Json.num(s.startNs / 1e9)}""",
        s""""dur_s":${Json.num(s.seconds)}""",
        s""""self_s":${Json.num(selfSeconds(s))}""",
        s""""gc_s":${Json.num(s.gcS)}""",
        s""""jobs":${js.size}""",
        s""""job_s":${Json.num(js.map(_.seconds).sum)}""",
        s""""tasks":${js.map(_.tasks).sum}""")
        .++(a).mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes)
  }
}

object JobListener { val SpanProp = "perfbench.span" }

/** Collects job, stage and task statistics, attributing each job to the
  * span that was open on the submitting thread when the job started.
  */
final class JobListener extends SparkListener {
  private final class Acc(val jobId: Int, val spanId: Int, val startMs: Long,
                          val stages: Seq[Int]) {
    @volatile var endMs = startMs
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shR = 0L; var shW = 0L; var spill = 0L
  }
  private val byJob = new ConcurrentHashMap[Int, Acc]()
  private val stageJob = new ConcurrentHashMap[Int, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobListener.SpanProp))).map(_.toInt).getOrElse(0)
    val a = new Acc(e.jobId, span, e.time, e.stageIds)
    byJob.put(e.jobId, a)
    e.stageIds.foreach(stageJob.put(_, a))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { a =>
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shR += m.shuffleReadMetrics.totalBytesRead
          a.shW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def jobs: Seq[JobStat] = byJob.values.asScala.toSeq.sortBy(_.jobId).map { a =>
    a.synchronized {
      JobStat(a.jobId, a.spanId, a.startMs, a.endMs, a.stages.size, a.tasks,
        a.runMs / 1e3, a.cpuNs / 1e9, a.gcMs / 1e3, a.shR, a.shW, a.spill)
    }
  }
}

package annobench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `parent` is 0 at the root; `key` names the doc or
  * batch the span worked on, when there is one.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long, key: String)

/** In-memory span recorder. Disabled, it only times (untraced runs must
  * not pay for recording); enabled, every [[timed]] call leaves a span,
  * nested under the span open on the calling thread.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  /** Called on the calling thread with its innermost open span whenever
    * that changes (to tag the Spark jobs the thread submits).
    */
  @volatile var onSpan: Long => Unit = _ => ()

  /** Wall clock ms → this tracer's nanoTime axis (Spark events carry ms). */
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def fromEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  /** A fresh span id, for spans whose children end before they do. */
  def reserve(): Long = ids.incrementAndGet()

  def record(name: String, parent: Long, startNs: Long, endNs: Long,
      key: String = "", id: Long = 0L): Unit =
    if (enabled) spans.add(Span(if (id == 0L) reserve() else id, parent, name, startNs, endNs, key))

  /** Runs `body`, returning its value and its duration in ns. */
  def timed[T](name: String, key: String = "")(body: => T): (T, Long) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val v = body
      (v, System.nanoTime() - t0)
    } else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      onSpan(id)
      val t0 = System.nanoTime()
      try {
        val v = body
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, name, t0, t1, key))
        (v, t1 - t0)
      } finally {
        open.set(parent)
        onSpan(parent)
      }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: count, total ns and self ns (total minus the part
    * of its interval that its children cover; children may overlap).
    */
  def summary: Seq[(String, Long, Long, Long)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def self(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var run: Option[(Long, Long)] = None // the merged interval being extended
      iv.foreach { case (a, b) =>
        run = run match {
          case Some((ra, rb)) if a <= rb => Some((ra, math.max(rb, b)))
          case Some((ra, rb))            => covered += rb - ra; Some((a, b))
          case None                      => Some((a, b))
        }
      }
      run.foreach { case (ra, rb) => covered += rb - ra }
      (s.endNs - s.startNs) - covered
    }
    ss.groupBy(_.name).toSeq.map { case (n, group) =>
      (n, group.length.toLong, group.map(s => s.endNs - s.startNs).sum, group.map(self).sum)
    }.sortBy(-_._3)
  }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"key":"${s.key}"}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark job, stage and task events as child spans of the span that
  * submitted them (read from the job's [[SparkSpans.Property]]
  * local property), plus the task metrics the layer table needs.
  */
final class SparkSpans(tracer: Tracer) extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val runMs = new AtomicLong()
  val gcMs = new AtomicLong()
  val cpuNs = new AtomicLong()

  private def stageId(stage: Int): Long =
    stages.computeIfAbsent(stage, _ => tracer.reserve())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SparkSpans.Property)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, (tracer.reserve(), parent, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { case (id, parent, t0) =>
      tracer.record("spark.job", parent, tracer.fromEpochMs(t0), tracer.fromEpochMs(e.time),
        s"job${e.jobId}", id)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val parent = Option(jobs.get(stageJob.getOrDefault(i.stageId, -1))).map(_._1).getOrElse(0L)
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      tracer.record("spark.stage", parent, tracer.fromEpochMs(t0), tracer.fromEpochMs(t1),
        s"stage${i.stageId}", stageId(i.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    tracer.record("spark.task", stageId(e.stageId), tracer.fromEpochMs(info.launchTime),
      tracer.fromEpochMs(info.finishTime), s"stage${e.stageId}.task${info.index}")
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
  }
}

object SparkSpans {
  /** Local property carrying the submitting span's id. */
  val Property = "annobench.span"
}

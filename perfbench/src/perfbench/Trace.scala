package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span on the
  * same thread (0 at top level); `req` is the benchmark operation the
  * call belongs to. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, endNs: Long)

/** Task-level counters the listener sums, globally and per span. */
final class ExecCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var inputRecords = 0L; var outputBytes = 0L
  var shuffleWriteBytes = 0L; var shuffleReadBytes = 0L; var spillBytes = 0L
  var slotWaitMs = 0L; var slotWaitJobs = 0L
}

/** Spans around the benchmark's own calls into each layer, plus a
  * SparkListener that attributes executor work to the span that was
  * open on the submitting thread (through a job-local property).
  *
  * While `enabled` is off, `span` is a plain call and no per-span
  * state is kept; the listener still sums global counters, which the
  * untraced run needs for `write_amp`. Spans stay in memory until
  * [[spansJson]] writes them at the end of the run. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val PropKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val spans = new ConcurrentLinkedQueue[Span]

  def span[T](name: String, req: Long)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get
      current.set(id)
      sc.setLocalProperty(PropKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, req, t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(PropKey, if (parent == 0L) null else parent.toString)
      }
    }

  /** The span open on this thread, for a thread it hands work to: a
    * thread that does not inherit thread-locals loses the job-local
    * property, so its jobs would count under no span. */
  def openSpan: String = sc.getLocalProperty(PropKey)
  def adopt(span: String): Unit = if (span != null) sc.setLocalProperty(PropKey, span)

  val total = new ExecCounts
  val perSpan = mutable.Map.empty[Long, ExecCounts]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSubmit = mutable.Map.empty[Int, Long]

  private def bump(span: Long)(f: ExecCounts => Unit): Unit = {
    f(total)
    if (enabled && span != 0L) f(perSpan.getOrElseUpdate(span, new ExecCounts))
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = span
      jobSubmit(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      bump(span)(_.jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val job = stageJob.get(e.stageInfo.stageId)
      bump(job.flatMap(jobSpan.get).getOrElse(0L))(_.stages += 1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      // slot wait: job submit until its first task gets a slot
      stageJob.get(e.stageId).foreach { job =>
        jobSubmit.remove(job).foreach { t =>
          val span = jobSpan.getOrElse(job, 0L)
          bump(span) { c => c.slotWaitMs += e.taskInfo.launchTime - t; c.slotWaitJobs += 1 }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val span = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(0L)
      bump(span) { c =>
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSubmit.remove(e.jobId)
      ()
    }
  }
  sc.addSparkListener(listener)

  /** Listener events arrive asynchronously; wait until the bus drains
    * so the counters cover every finished task. */
  def flush(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  def snapshot(): ExecCounts = synchronized {
    val c = new ExecCounts
    c.jobs = total.jobs; c.stages = total.stages; c.tasks = total.tasks
    c.taskRunMs = total.taskRunMs; c.taskCpuNs = total.taskCpuNs; c.gcMs = total.gcMs
    c.inputBytes = total.inputBytes; c.inputRecords = total.inputRecords
    c.outputBytes = total.outputBytes; c.shuffleWriteBytes = total.shuffleWriteBytes
    c.shuffleReadBytes = total.shuffleReadBytes; c.spillBytes = total.spillBytes
    c.slotWaitMs = total.slotWaitMs; c.slotWaitJobs = total.slotWaitJobs
    c
  }

  /** Sum of `counts` over every span whose name starts with `prefix`. */
  def countsUnder(prefix: String): ExecCounts = synchronized {
    val names = spansIterator.map(s => s.id -> s.name).toMap
    val c = new ExecCounts
    perSpan.foreach { case (id, x) =>
      if (names.get(id).exists(_.startsWith(prefix))) {
        c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks
        c.taskRunMs += x.taskRunMs; c.taskCpuNs += x.taskCpuNs; c.gcMs += x.gcMs
        c.inputBytes += x.inputBytes; c.inputRecords += x.inputRecords
        c.outputBytes += x.outputBytes; c.shuffleWriteBytes += x.shuffleWriteBytes
        c.shuffleReadBytes += x.shuffleReadBytes; c.spillBytes += x.spillBytes
        c.slotWaitMs += x.slotWaitMs; c.slotWaitJobs += x.slotWaitJobs
      }
    }
    c
  }

  def spansIterator: Iterator[Span] = {
    import scala.jdk.CollectionConverters._
    spans.iterator().asScala
  }

  /** Total and self milliseconds per span name: self time is a span's
    * duration minus that of its direct children. */
  def timesByName(): Map[String, (Double, Double, Int)] = {
    val all = spansIterator.toSeq
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.endNs - s.startNs)
    all.groupBy(_.name).map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum / 1e6
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6
      n -> (tot, self, ss.size)
    }
  }

  def spansJson(): String = spansIterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${s.req},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("\n")
}

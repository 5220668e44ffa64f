package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is 0 for a root;
  * spans of one query share `qid`. Times are System.nanoTime values. */
final case class Span(id: Long, parent: Long, qid: String, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. Recording is per thread and per operation:
  * `active` lets the traced run alternate traced and untraced
  * operations, so the tracing overhead is the difference between the
  * two halves of the same run. Nothing is recorded unless `enabled`. */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val parent = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val active = ThreadLocal.withInitial[java.lang.Boolean](() => enabled)

  /** Offset from epoch nanoseconds to System.nanoTime, for converting
    * listener timestamps (epoch ms) onto the span clock. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Called with the id of the span the current thread enters, and
    * with its parent's id (0 at the root) when it leaves: the run sets
    * it to tag the Spark jobs the span launches. */
  @volatile var onEnter: Long => Unit = _ => ()

  def isActive: Boolean = enabled && active.get()
  def currentId: Long = parent.get()

  def withActive[T](on: Boolean)(body: => T): T = {
    val prev = active.get()
    active.set(enabled && on)
    try body finally active.set(prev)
  }

  def span[T](name: String, qid: String)(body: => T): T =
    if (!isActive) body
    else {
      val id = ids.incrementAndGet()
      val up = parent.get()
      parent.set(id)
      onEnter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, up, qid, name, t0, System.nanoTime()))
        parent.set(up)
        onEnter(up)
      }
    }

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Self time per span name, in ms: each span's duration minus the
    * union of its children's intervals (clipped to the span). */
  def selfTimesMs: Map[String, Double] = {
    val all = spans.asScala.toVector
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + (b - math.max(a, reach)), b)
          }._1
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }
}

/** Spark listener for the `spark.*` layer: task, job and stage
  * accounting per job group (one group per query), the busy intervals
  * of the driver's job scheduler, and, when tracing, job and stage
  * spans parented to the action span that launched them. */
final class SparkStats(trace: Trace) extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var spill = 0L; var recordsRead = 0L
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, String, Long)]
  private var running = 0
  private var busySince = 0L
  private var busyNs = 0L
  @volatile private var lastEventNs = System.nanoTime()
  private val endedJobs = new AtomicLong(0L)
  private val startedJobs = new AtomicLong(0L)

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)
  private def ms2ns(ms: Long): Long = ms * 1000000L + trace.epochToNano

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    startedJobs.incrementAndGet()
    lastEventNs = System.nanoTime()
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(SparkStats.JobGroupKey))).getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
    if (running == 0) busySince = ms2ns(e.time)
    running += 1
    val parentSpan = props.flatMap(p => Option(p.getProperty(SparkStats.ParentKey)))
      .map(_.toLong)
    parentSpan.foreach { p =>
      val id = trace.newId()
      jobSpan(e.jobId) = (id, p, g, ms2ns(e.time))
      e.stageIds.foreach(s => stageParent(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    endedJobs.incrementAndGet()
    lastEventNs = System.nanoTime()
    running -= 1
    if (running == 0) busyNs += ms2ns(e.time) - busySince
    jobSpan.remove(e.jobId).foreach { case (id, p, g, start) =>
      trace.record(Span(id, p, g, "job", start, ms2ns(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val info = e.stageInfo
    for (p <- stageParent.remove(info.stageId); s <- info.submissionTime;
         c <- info.completionTime)
      trace.record(Span(trace.newId(), p, stageGroup.getOrElse(info.stageId, ""),
        "stage", ms2ns(s), ms2ns(c)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Block until every started job has ended and the bus has been quiet
    * for a moment, so the totals read next are complete. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (endedJobs.get() < startedJobs.get() ||
        System.nanoTime() - lastEventNs < 300L * 1000000L))
      Thread.sleep(20)
  }

  def snapshot(): SparkStats.Totals = synchronized {
    val all = byGroup.values
    SparkStats.Totals(
      jobs = all.map(_.jobs).sum, tasks = all.map(_.tasks).sum,
      runMs = all.map(_.runMs).sum, cpuNs = all.map(_.cpuNs).sum,
      shuffleWrite = all.map(_.shuffleWrite).sum, spill = all.map(_.spill).sum,
      recordsRead = all.map(_.recordsRead).sum,
      busyNs = busyNs + (if (running > 0) System.nanoTime() - busySince else 0L))
  }

  def group(g: String): SparkStats.Totals = synchronized {
    val a = byGroup.getOrElse(g, new Acc)
    SparkStats.Totals(a.jobs, a.tasks, a.runMs, a.cpuNs, a.shuffleWrite,
      a.spill, a.recordsRead, 0L)
  }
}

object SparkStats {
  val ParentKey = "graftbench.parent.span"
  // the property SparkContext.setJobGroup sets
  val JobGroupKey = "spark.jobGroup.id"

  final case class Totals(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long,
                          shuffleWrite: Long, spill: Long, recordsRead: Long,
                          busyNs: Long) {
    def minus(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks,
      runMs - o.runMs, cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite,
      spill - o.spill, recordsRead - o.recordsRead, busyNs - o.busyNs)
  }
}

object Trace {
  /** Span names whose self time the traced run reports. */
  val SelfNames: Seq[String] = Seq("query", "plan", "action", "job", "stage", "replay",
    "login", "schema", "http_plan", "ttfb", "drain", "local_scan", "decode", "encode",
    "frame", "materialize", "functions")

  /** Measured cost of recording one span, in ms. */
  def recordCostMs(): Double = {
    val t = new Trace(true)
    val n = 20000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { t.span("x", "q")(()); i += 1 }
    (System.nanoTime() - t0) / 1e6 / n
  }
}

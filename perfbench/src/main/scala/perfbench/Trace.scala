package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * `nanoTime` anchored once to `currentTimeMillis`, so benchmark spans line
  * up with the epoch-millisecond times Spark's listener events carry. */
object Clock {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed call. `parent` 0 marks an operation's root span; `phase`
  * spans come from Spark's own timings (planning tracker phases) and are
  * nested under the span that contains them when the trace is derived. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Double, end: Double, phase: Boolean = false)

/** One timed operation of a workload (a query, a delta, a serve, ...),
  * in measured pass `pass` (a traced run measures an untraced pass, 0,
  * then a traced one, 1). */
final case class Op(id: Long, kind: String, name: String, start: Double,
                    end: Double, ok: Boolean, rows: Long, pass: Int)

/** Operation timing (always on) plus, while `enabled`, spans around every
  * benchmark-side call into an engine layer. Spans stay in memory until
  * the run ends. While a span is open its id and its operation's id ride
  * on the thread's Spark local properties, so the job listener can
  * attribute each job to the span that caused it. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile var pass = 0
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val ops = new ConcurrentLinkedQueue[Op]()
  val errors = new ConcurrentLinkedQueue[String]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Time `body` as one operation. A throwing body counts as a failed
    * operation; the workload keeps going. */
  def op(kind: String, name: String, rows: Long = 0L)(body: => Unit): Op = {
    val id = ids.incrementAndGet()
    val t0 = Clock.nowMs
    val ok =
      try { within(id, id)(body); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          errors.add(s"$kind $name: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    val o = Op(id, kind, name, t0, Clock.nowMs, ok, rows, pass)
    ops.add(o)
    if (enabled) spans.add(Span(id, 0L, id, s"op.$kind", o.start, o.end))
    o
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, op) = stack.get.headOption.getOrElse((0L, 0L))
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try within(id, op)(body)
      finally spans.add(Span(id, parent, op, name, t0, Clock.nowMs))
    }

  /** Record Spark's planning phases of `df`'s last evaluation. */
  def phases(df: DataFrame): Unit = if (enabled) {
    val op = currentOp
    df.queryExecution.tracker.phases.foreach { case (name, p) =>
      spans.add(Span(ids.incrementAndGet(), 0L, op, s"plans.$name",
        p.startTimeMs.toDouble, p.endTimeMs.toDouble, phase = true))
    }
  }

  private def currentOp: Long = stack.get.headOption.map(_._2).getOrElse(0L)

  private def within[T](id: Long, op: Long)(body: => T): T = {
    val prev = stack.get
    stack.set((id, op) :: prev)
    if (enabled) tag(Some((id, op)))
    try body
    finally {
      stack.set(prev)
      if (enabled) tag(prev.headOption)
    }
  }

  private def tag(top: Option[(Long, Long)]): Unit = {
    sc.setLocalProperty("perfbench.span", top.map(_._1.toString).orNull)
    sc.setLocalProperty("perfbench.op", top.map(_._2.toString).orNull)
  }

  def opsJson: Seq[Seq[Any]] = ops.asScala.toSeq.sortBy(_.id).map(o =>
    Seq(o.id, o.kind, o.name, o.start, o.end, o.ok, o.rows, o.pass))

  def spansJson: Seq[Seq[Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Seq(s.id, s.parent, s.op, s.name, s.start, s.end, s.phase))
}

/** Per-job record kept by [[JobListener]]: the span and operation that
  * submitted it, its wall interval and its tasks' summed metrics. */
final class JobRecord(val id: Int, val span: Long, val op: Long, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The job/task bookkeeping the engine's `JobProfile` main does,
  * re-implemented for the benchmark: jobs keyed by id with their
  * submitting span, tasks folded into their job via the stage map. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  private def prop(e: SparkListenerJobStart, k: String): Long =
    Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new JobRecord(e.jobId, prop(e, "perfbench.span"),
      prop(e, "perfbench.op"), e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    j.foreach { r =>
      r.tasks += 1
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until the listener bus has delivered every job's end event and
    * has been quiet briefly (events arrive asynchronously). */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = jobs.values().asScala.exists(_.end < 0)
    while (System.currentTimeMillis() < deadline &&
      (pending || System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(50)
  }

  def json: Seq[Seq[Any]] = jobs.values().asScala.toSeq.sortBy(_.id).map(j =>
    Seq(j.id, j.span, j.op, j.start, j.end, j.tasks, j.cpuNs, j.inputBytes,
      j.shuffleWriteBytes, j.spillBytes))
}

/** Every `StreamingQueryProgress` as the engine reports it: trigger start,
  * `durationMs` phases, input rows, end offsets and state-operator
  * figures, plus the bytes still unread in the source at report time. */
final class ProgressListener(lagBytes: String => Long) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.map(_.endOffset).getOrElse("")
    val states = p.stateOperators.toSeq
    progress.add(Map(
      "query" -> p.name,
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "rows" -> p.numInputRows,
      "end_offset" -> end,
      "lag_bytes" -> lagBytes(end),
      "state_rows" -> states.map(_.numRowsTotal).sum,
      "state_memory_bytes" -> states.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> states.map(_.commitTimeMs).sum))
  }
}

/** JVM-wide figures: collector time and peak heap over the measured
  * window, and the process's peak resident set size. */
object JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Reset the process's peak resident set (VmHWM) to its current
    * resident set; a no-op where procfs does not allow it. */
  def resetRssPeak(): Unit = scala.util.Try {
    java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"),
      "5".getBytes("US-ASCII"))
  }

  /** VmHWM from /proc/self/status, in kB (0 where procfs is absent). */
  def rssPeakKb: Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    finally src.close()
  }.getOrElse(0L)
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed region: an op of the closed loop (a root span, which starts
  * a new trace) or a call into the library inside it. Times are epoch
  * nanoseconds. `batchId` is set on the spans of streaming micro-batches,
  * whose jobs carry Spark's batch-id property. */
final case class Span(id: Long, traceId: Long, parent: Long, name: String,
    start: Long, end: Long, batchId: Option[Long] = None) {
  def durationMs: Double = (end - start) / 1e6
}

/** What the tasks of one Spark job did. Job times are epoch millis, as
  * the listener bus reports them. */
final class JobStats(val jobId: Int, val span: Option[Long],
    val batchId: Option[Long], val startMs: Long, val sqlExecution: Option[Long] = None) {
  var endMs: Long = startMs
  var tasks = 0L
  var taskMs = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var sourcePartitions = 0L
}

/** Attributes Spark jobs (and through their stages, tasks) to the span
  * whose id was in the `perfbench.span` local property when the job was
  * submitted. Streaming jobs inherit that property from the thread that
  * started the query and also carry Spark's batch id. */
final class AttributionListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    val js = new JobStats(e.jobId, prop(Tracer.SpanKey).map(_.toLong),
      prop(Tracer.BatchKey).map(_.toLong), e.time, prop(Tracer.SqlKey).map(_.toLong))
    jobs(e.jobId) = js
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); js <- jobs.get(j)) {
      js.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        js.taskMs += m.executorRunTime
        js.recordsRead += m.inputMetrics.recordsRead
        js.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        js.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Partitions of data-source (DSv2) scans that actually ran: for the
    * `tmdb-pages` source, one partition is one page file. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    for (j <- stageJob.get(e.stageInfo.stageId); js <- jobs.get(j))
      js.sourcePartitions += e.stageInfo.rddInfos
        .filter(_.name == "DataSourceRDD").map(_.numPartitions.toLong).sum
  }

  def snapshot(): Seq[JobStats] = synchronized(jobs.values.toSeq)
}

/** Totals over the jobs of a span and its descendants; `sqlExecutions`
  * counts the distinct SQL executions those jobs ran for. */
final case class SpanCounters(jobs: Long, tasks: Long, taskMs: Long,
    recordsRead: Long, shuffleBytes: Long, outputBytes: Long,
    sourcePartitions: Long, driverMs: Double, sqlExecutions: Long = 0)

/** Records spans in memory. When disabled, `op` and `call` only run their
  * body: the untraced run sets no local property and registers no
  * listener. In a traced run, `active = false` makes the same calls run
  * untraced, which pairs traced and untraced runs of one op. The closed loop
  * has one client thread, so the open-span stack is a plain list. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  var active: Boolean = true
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var nextTrace = 1L
  private var stack: List[(Long, Long, String, Long)] = Nil // id, trace, name, start
  private val listener = new AttributionListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def nowNs(): Long = Tracer.epochNanos()

  private def fresh(): Long = { val i = nextId; nextId += 1; i }

  private def inSpan[T](name: String, traceId: Long)(f: => T): T =
    if (!enabled || !active) f
    else {
      val id = fresh()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      stack = (id, traceId, name, nowNs()) :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try f
      finally {
        val (_, tr, n, start) = stack.head
        stack = stack.tail
        spans += Span(id, tr, parent, n, start, nowNs())
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** A root span: one op of the closed loop, with its own trace id. */
  def op[T](name: String)(f: => T): T = {
    val t = nextTrace; nextTrace += 1
    inSpan(name, t)(f)
  }

  /** A call into the library, as a child of the innermost open span. */
  def call[T](name: String)(f: => T): T =
    inSpan(name, stack.headOption.map(_._2).getOrElse(0L))(f)

  /** The id of the innermost open span (0 outside any). */
  def current: Long = stack.headOption.map(_._1).getOrElse(0L)

  /** A span whose times come from elsewhere (a streaming progress
    * record), attached under `parent`. */
  def add(parent: Long, name: String, start: Long, end: Long,
          batchId: Option[Long]): Unit =
    if (enabled && active) {
      val tr = spans.find(_.id == parent).map(_.traceId)
        .orElse(stack.find(_._1 == parent).map(_._2)).getOrElse(0L)
      spans += Span(fresh(), tr, parent, name, start, end, batchId)
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Waits until the listener has seen every event posted so far. */
  def settle(): Unit =
    if (enabled) org.apache.spark.BusAccess.drain(spark.sparkContext)

  def jobs: Seq[JobStats] = listener.snapshot()

  def counters(): Map[Long, SpanCounters] = Tracer.counters(allSpans, jobs)
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** The local property Spark sets on every job of a micro-batch. */
  val BatchKey = "streaming.sql.batchId"
  /** The local property Spark sets on every job of a SQL execution. */
  val SqlKey = "spark.sql.execution.id"

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Wall-clock nanoseconds with nanoTime resolution, comparable with
    * the listener's epoch-millisecond job times. */
  def epochNanos(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  /** The span each job belongs to: a micro-batch span under the job's
    * span when one matches its batch id, else the job's span itself. */
  def owner(spans: Seq[Span], j: JobStats): Option[Long] = j.span.map { s =>
    j.batchId.flatMap(b => spans.find(x => x.parent == s && x.batchId.contains(b)))
      .map(_.id).getOrElse(s)
  }

  /** Per-span totals over the span's own jobs and its descendants'. */
  def counters(spans: Seq[Span], jobs: Seq[JobStats]): Map[Long, SpanCounters] = {
    val byOwner = jobs.groupBy(owner(spans, _)).collect { case (Some(s), js) => s -> js }
    val children = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] =
      id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    spans.map { sp =>
      val js = subtree(sp.id).flatMap(byOwner.getOrElse(_, Nil))
      val intervals = js.map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
      sp.id -> SpanCounters(js.size.toLong, js.map(_.tasks).sum,
        js.map(_.taskMs).sum, js.map(_.recordsRead).sum,
        js.map(_.shuffleBytes).sum, js.map(_.outputBytes).sum,
        js.map(_.sourcePartitions).sum,
        Stats.uncovered(sp.start, sp.end, intervals) / 1e6,
        js.flatMap(_.sqlExecution).distinct.size.toLong)
    }.toMap
  }

  /** Self time: the span's duration minus what its children cover. */
  def selfMs(span: Span, spans: Seq[Span]): Double =
    Stats.uncovered(span.start, span.end,
      spans.filter(_.parent == span.id).map(c => (c.start, c.end))) / 1e6

  /** Writes the spans as JSON lines, each with its self time and the
    * counters of its subtree's jobs. */
  def write(path: String, spans: Seq[Span], counters: Map[Long, SpanCounters]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.start).foreach { s =>
      val c = counters(s.id)
      w.println(s"""{"id": ${s.id}, "trace": ${s.traceId}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""batch": ${s.batchId.getOrElse("null")}, "self_ms": ${selfMs(s, spans)}, """ +
        s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "task_ms": ${c.taskMs}, """ +
        s""""driver_ms": ${c.driverMs}, "records_read": ${c.recordsRead}, """ +
        s""""shuffle_bytes": ${c.shuffleBytes}, "output_bytes": ${c.outputBytes}, """ +
        s""""sql_executions": ${c.sqlExecutions}}""")
    } finally w.close()
  }
}

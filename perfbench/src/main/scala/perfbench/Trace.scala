package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One span: times are nanoseconds since the trace origin. Spans of one gate
  * call share `call`; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
    start: Long, end: Long)

/** Task-level numbers of one finished task, kept raw and summed later. */
final case class TaskRec(stage: Int, launchMs: Long, runMs: Long, cpuNs: Long,
    spillBytes: Long, inBytes: Long, inRecords: Long, ok: Boolean)

/** One micro-batch progress event of a drain. */
final case class BatchRec(query: String, startMs: Long, inputRows: Long,
    durations: Map[String, Long], stateRows: Long, stateCommitMs: Long,
    stateMemBytes: Long)

/** Spans and Spark events of the traced gate calls, all kept in memory and
  * written out when the benchmark ends.
  *
  * The driver thread opens the call spans (`gate`, `queries.build`,
  * `plans.plan`, `exec.collect`) and tags every Spark job it starts with the
  * open span through a local property. A [[SparkListener]] turns jobs and
  * stages into child spans; a [[StreamingQueryListener]] turns each drain
  * into a span under the open span and each micro-batch into a span under
  * its drain. Listener times are epoch milliseconds, mapped onto the trace
  * clock through the origin pair taken at construction. */
final class Trace {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  @volatile private var openSpan = -1
  @volatile private var openCall = -1

  val tasks = ArrayBuffer.empty[TaskRec]
  val batches = ArrayBuffer.empty[BatchRec]
  /** Per job: seconds from job submit to its first task launch. */
  val schedWaits = ArrayBuffer.empty[Double]
  /** Job id -> (span id, submit ms, stage ids); filled on job start. */
  private val jobs = scala.collection.mutable.Map.empty[Int, (Int, Long, Seq[Int])]
  private val jobEnd = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stageTimes = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  private val drains = scala.collection.mutable.Map.empty[java.util.UUID, (Int, Int, Long)]
  private val drainEnd = scala.collection.mutable.Map.empty[java.util.UUID, Long]

  def now(): Long = System.nanoTime() - originNs
  private def fromMs(ms: Long): Long = (ms - originMs) * 1000000L

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private def add(s: Span): Unit = synchronized { spans += s }

  /** Run `body` inside a span named `name` under `parent` of gate call
    * `call`, tagging Spark jobs started meanwhile with the new span. */
  def span[T](sc: org.apache.spark.SparkContext, call: Int, parent: Int,
      name: String)(body: Int => T): T = {
    val id = newId()
    val prevSpan = openSpan
    val t0 = now()
    openSpan = id; openCall = call
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    try body(id)
    finally {
      add(Span(id, parent, call, name, t0, now()))
      openSpan = prevSpan
      sc.setLocalProperty(Trace.SpanKey,
        if (prevSpan < 0) null else prevSpan.toString)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = (span, e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stageTimes(i.stageId) = (s, c)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = Option(e.taskMetrics)
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        e.taskInfo.successful)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    // delivered synchronously on the thread that starts the query, so the
    // open span is the gate phase that started the drain
    override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
      drains(e.id) = (openSpan, openCall, now())
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches += BatchRec(p.id.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
        ops.map(_.memoryUsedBytes).sum)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      synchronized { drainEnd(e.id) = now() }
  }

  /** Turn the recorded Spark and streaming events into spans. Call after the
    * listener bus has drained. */
  def closeEvents(): Unit = synchronized {
    val firstLaunch = tasks.groupBy(t => stageJob.getOrElse(t.stage, -1))
      .map { case (j, ts) => j -> ts.map(_.launchMs).min }
    for ((job, (_, submit, _)) <- jobs; l <- firstLaunch.get(job))
      schedWaits += math.max(0L, l - submit) / 1e3
    for ((job, (parent, startMs, stageIds)) <- jobs;
         endMs <- jobEnd.get(job) if parent >= 0) {
      val call = spans.find(_.id == parent).map(_.call).getOrElse(-1)
      val jid = newId()
      spans += Span(jid, parent, call, "spark.job", fromMs(startMs),
        fromMs(endMs))
      for (s <- stageIds; (a, b) <- stageTimes.get(s))
        spans += Span(newId(), jid, call, "spark.stage", fromMs(a), fromMs(b))
    }
    for ((q, (parent, call, start)) <- drains; end <- drainEnd.get(q)
         if parent >= 0) {
      val did = newId()
      spans += Span(did, parent, call, "streaming.drain", start, end)
      for (b <- batches if b.query == q.toString) {
        val s = fromMs(b.startMs)
        val d = b.durations.getOrElse("triggerExecution", 0L) * 1000000L
        spans += Span(newId(), did, call, "streaming.batch", s, s + d)
      }
    }
    jobs.clear(); jobEnd.clear(); drains.clear(); drainEnd.clear()
  }

  def allSpans: Seq[Span] = synchronized { spans.toList }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Self time of each span: its duration minus the part of it covered by
    * its children (clipped to the span). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, (s.end - s.start) - covered)
    }.toMap
  }

  def toJson(spans: Seq[Span]): String = spans.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"call":${s.call},""" +
      s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
